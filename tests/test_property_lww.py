"""Property-based test: the engine's LWW fold == the pandas oracle on
arbitrary event interleavings (hypothesis-generated), not just the seeded
generator's distribution — through both sinks (MoR and CoW) for every
generated log."""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from milvus_cdc_spark.plans.apply import ReplicateJob, parquet_source
from milvus_cdc_spark.plans.metastore import Metastore
from tests.oracle import engine_hashes, expected_hashes

EV = (
    "partition_id int, event_seq long, event_type string, repo string, "
    "path string, commit string, lang string, content string, "
    "schema_change string, event_ts timestamp"
)

event_st = st.tuples(
    st.sampled_from(["insert", "update", "delete"]),
    st.integers(min_value=0, max_value=5),  # key id (small → collisions)
    st.text(alphabet="abc xyz", min_size=0, max_size=12),  # content
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(event_st, min_size=1, max_size=40), st.integers(2, 7))
def test_lww_fold_matches_oracle_on_arbitrary_logs(spark, tmp_path_factory, evs, bs):
    tmp = str(tmp_path_factory.mktemp("prop"))
    rows = [
        (
            k % 4,
            i,
            t,
            f"org{k}/r",
            f"p{k}",
            None if t == "delete" else f"c{i}",
            "py",
            None if t == "delete" else c,
            None,
            None,
        )
        for i, (t, k, c) in enumerate(evs)
    ]
    df = spark.createDataFrame(rows, EV)
    log = os.path.join(tmp, "log")
    df.write.parquet(log)
    for write_mode in ("mor", "cow"):
        job = ReplicateJob(
            spark=spark,
            source=parquet_source(log),
            table_root=os.path.join(tmp, write_mode, "tbl"),
            metastore=Metastore(os.path.join(tmp, write_mode, "meta")),
            batch_size=bs,
            num_buckets=4,
            log_partitions=4,
            write_mode=write_mode,
        )
        job.run(until_seq=len(rows) - 1)
        assert engine_hashes(job.table().read()) == expected_hashes(df.toPandas()), write_mode
