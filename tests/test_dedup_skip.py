"""Dedup-skip fast path (``ReplicateJob.dedup="auto"``).

The reference serializes per-channel applies and sorts within packs so
the LAST writer wins at the sink (``core/writer/replicate_message_manager.go:84-109``,
``core/reader/replicate_channel_manager.go:1451-1454``). This engine gets
the same guarantee from the sink's seq resolution: MoR reads
(``icebox._resolve``) and minor compaction, and the CoW merge's (seq,
side) ``max_by`` over old rows ∪ changes — so for a sink with ``seq_col``
fed by a unique-seq log (the O2 contract), the pre-merge ``max_by``
aggregation is a redundant second resolution. ``dedup="auto"`` therefore
skips it on both sinks: these tests pin (a) final-state equivalence with
the agg path, batch-by-batch, deletes included, and (b) the plan shape —
no pre-merge sort aggregation, and one exchange per batch.
"""

import os
import re

from pyspark.sql import functions as F

from milvus_cdc_spark.plans.apply import ReplicateJob, generated_source
from milvus_cdc_spark.plans.metastore import Metastore

N_EVENTS = 9000
N_KEYS = 700  # ~13 events/key: heavy duplication + deletes + re-inserts


def _run(spark, tmp, name, **kw):
    job = ReplicateJob(
        spark=spark,
        source=generated_source(num_keys=N_KEYS, content_repeat=2),
        table_root=os.path.join(tmp, name, "tbl"),
        metastore=Metastore(os.path.join(tmp, name, "meta")),
        batch_size=3000,
        num_buckets=4,
        log_max_seq=N_EVENTS - 1,
        **kw,
    )
    job.run(until_seq=N_EVENTS - 1)
    return job


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_skip_final_state_equals_agg(spark, tmp_base):
    """agg-dedup and auto (skip) must produce the identical final table
    on both sinks — every column of every row, content_sha256 included.
    A CoW batch hands its buckets to the merge, so it stages nothing
    (no ``*-chg`` directory) and rewrites each bucket as one file."""
    for mode in ("mor", "cow"):
        agg = _run(spark, tmp_base, f"agg-{mode}", dedup="agg", write_mode=mode)
        auto = _run(spark, tmp_base, f"auto-{mode}", dedup="auto", write_mode=mode)
        a = agg.table().read().orderBy("repo", "path").collect()
        b = auto.table().read().orderBy("repo", "path").collect()
        assert len(a) == len(b) > 0, mode
        assert a == b, mode
    data = os.path.join(auto.table_root, "data")
    assert not [d for d in os.listdir(data) if d.endswith("-chg")]
    assert all(len(fs) == 1 for fs in auto.table().snap.buckets.values())


def test_auto_resolves_by_write_mode(spark, tmp_base):
    """auto → skip on both sinks: no max_by / sort agg in the changes
    plan. MoR: the changes plan holds the one exchange (the delta write
    needs no other). CoW: the changes plan holds none; the merge's
    post-image plan (old rows ∪ changes) has exactly one exchange level,
    bucket-aligned on the keys, with the max_by only above it."""
    for mode in ("mor", "cow"):
        job = ReplicateJob(
            spark=spark,
            source=generated_source(num_keys=50, content_repeat=2),
            table_root=os.path.join(tmp_base, mode, "tbl"),
            metastore=Metastore(os.path.join(tmp_base, mode, "meta")),
            num_buckets=4,
            write_mode=mode,
        )
        job.run(until_seq=499)  # old rows for the CoW union
        dml = generated_source(num_keys=50, content_repeat=2)(
            spark, 499, 999
        ).filter(F.col("event_type").isin("insert", "update", "delete"))
        changes = job._build_changes(dml)
        plan = _plan(changes)
        assert "max_by" not in plan, (mode, plan)
        assert "SortAggregate" not in plan, (mode, plan)
        assert plan.count("Exchange") == (1 if mode == "mor" else 0), (mode, plan)

    table = job.table()
    post = _plan(table._cow_post_image(table.snap, [0, 1, 2, 3], changes, "__deleted"))
    assert post.count("Exchange") == 1, post
    assert re.search(r"Exchange hashpartitioning\(repo#\d+, path#\d+, 4\)", post), post
    above, below = post.split("Exchange", 1)
    assert "max_by" in above, post
    assert "max_by" not in below, post


def test_forced_skip_keeps_delete_markers(spark, tmp_base):
    """skip mode writes every event into the delta — the read must still
    fold a key whose LAST event is a delete to absent, and a re-inserted
    key back to present."""
    job = _run(spark, tmp_base, "skipdel", dedup="skip")
    table = job.table().read()
    # the generator's event mix contains deletes (FIXTURES.md §2): the
    # final table must be strictly smaller than the key universe and
    # carry no duplicate keys
    n = table.count()
    assert 0 < n < N_KEYS
    assert table.groupBy("repo", "path").count().filter("count > 1").count() == 0
