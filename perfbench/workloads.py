"""The benchmark's workloads. Each is a closed loop: the next batch,
epoch or query starts only after the previous one has finished.

Every workload returns a :class:`Outcome`: the timed operations, the
work they did, set-up time, and the result of its correctness gate. The
gate runs after the timed region and is never timed.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import logs
from common import Meter, median, work_dir

NUM_BUCKETS = 8
# tail_fanout measures one cycle of its periodic work after one warm-up
# step, so every run holds the same mix: a DDL barrier every CYCLE steps,
# and an inline minor compaction of the MoR replica every CYCLE steps (a
# bucket compacts when its (threshold + 1)th delta file lands; every
# epoch writes one delta per bucket, and the squashed delta left behind
# counts as one). A second cycle would add 12 s to every run and did not
# narrow the run-to-run spread, which comes from the host between runs.
CYCLE = logs.STEPS_PER_DDL
MOR_COMPACT_THRESHOLD = CYCLE
QUERY_SCALE = 1.0


@dataclass
class Outcome:
    ops: list[tuple[float, float]] = field(default_factory=list)  # (start, end) epoch s
    events: int = 0  # work items: change events applied, or queries run
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    meter: dict = field(default_factory=dict)
    jvm: dict = field(default_factory=dict)
    gate: dict = field(default_factory=dict)
    shape: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)
    # for the traced run's layer attribution: the log directory, and
    # each replica's table root with its write mode
    log_path: str | None = None
    tables: dict[str, str] = field(default_factory=dict)


def jvm_times(spark) -> dict[str, float]:
    """Cumulative JVM GC and JIT-compiler time, seconds."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    return {"gc_s": gc / 1000.0, "jit_s": jit / 1000.0}


def _jvm_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


@contextmanager
def _timed(ctx, out: Outcome):
    """The timed region: process-tree meter and JVM counters."""
    jvm0 = jvm_times(ctx.spark)
    meter = Meter()
    try:
        yield
    finally:
        out.meter = meter.stop()
        out.jvm = _jvm_delta(jvm0, jvm_times(ctx.spark))


def _enough(ctx, t_start: float, done: int, cycle: int) -> bool:
    return done > 0 and done % cycle == 0 and time.perf_counter() - t_start >= ctx.seconds


def _batch_id(meta, task_id: str) -> int:
    return int(meta.load_checkpoint(task_id).get("batch_id", -1))


def _reported(spark, meta, ranges: dict[str, tuple[int, int]]) -> dict:
    """The program's own per-batch counters, for each task's batch ids in
    (after, through]."""
    per_batch: dict[tuple[str, int], dict] = {}
    for r in meta.metrics_df(spark).collect():
        after, through = ranges.get(r["task_id"], (0, -1))
        if not after < r["batch_id"] <= through:
            continue
        b = per_batch.setdefault(
            (r["task_id"], r["batch_id"]), {"eps": r["events_per_sec"], "rows": 0})
        b["rows"] += r["rows_applied"] or 0
    eps = [b["eps"] for b in per_batch.values() if b["eps"] is not None]
    return {
        "reported_events_per_s": median(eps),
        "reported_rows_applied": median([b["rows"] for b in per_batch.values()]),
    }


# --------------------------------------------------------------- tail_fanout
def tail_fanout(ctx) -> Outcome:
    """One tailed log, two replicas. Each step lands the next log file in
    the source directory; a StreamingReplicator (MoR) applies it as one
    epoch, then a TaskManager task (CoW) applies the same range as one
    batch. A step ends when both replicas have committed it."""
    from milvus_cdc_spark.plans import Metastore, ReplicateJob, TaskManager
    from milvus_cdc_spark.plans.apply import parquet_source
    from milvus_cdc_spark.streaming.runner import StreamingReplicator

    out = Outcome()
    spark, per = ctx.spark, logs.EPOCH_EVENTS
    log_path, shape, files = logs.tail_log(spark, ctx.seed)
    out.shape = {
        **shape, "events_per_step": per, "num_buckets": NUM_BUCKETS,
        "stream": "MoR, processingTime 0 s, maxFilesPerTrigger=1, compact_threshold="
                  f"{MOR_COMPACT_THRESHOLD}",
        "task": "CoW, TaskManager.run(until_seq) per step, parquet_source (pushed-down range)",
    }
    root = os.path.join(ctx.run_dir, "tail")
    src, staging = os.path.join(root, "src"), os.path.join(root, "staging")
    os.makedirs(src)
    os.makedirs(staging)
    mor_root, cow_root = os.path.join(root, "mor"), os.path.join(root, "cow")
    out.log_path = src
    out.tables = {mor_root: "mor", cow_root: "cow"}
    meta = Metastore(os.path.join(root, "meta"))
    progress: list[dict] = []

    def feed(i: int) -> None:
        """Land log file i in the source directory atomically, with an
        mtime after every file before it."""
        tmp = os.path.join(staging, files[i])
        shutil.copyfile(os.path.join(log_path, files[i]), tmp)
        ts = logs.MTIME_BASE_NS + i * 10**9
        os.utime(tmp, ns=(ts, ts))
        os.rename(tmp, os.path.join(src, files[i]))

    def wait_epoch(q, last_id: int) -> dict:
        while True:
            p = q.lastProgress
            if p is not None and p["batchId"] > last_id and p["numInputRows"] > 0:
                return p
            if not q.isActive:
                raise RuntimeError(f"stream stopped: {q.exception()}")
            time.sleep(0.005)

    def step(i: int, last: dict | None) -> dict:
        feed(i)
        p = wait_epoch(q, last["batchId"] if last else -1)
        res = tm.run("cow", until_seq=(i + 1) * per - 1)
        if res["final_offset"] != (i + 1) * per - 1:
            raise RuntimeError(f"task stopped at {res['final_offset']}")
        return p

    t = time.perf_counter()
    job = ReplicateJob(
        spark=spark, source=parquet_source(src), table_root=mor_root,
        metastore=meta, task_id="stream", batch_size=per, num_buckets=NUM_BUCKETS,
        write_mode="mor", compact_threshold=MOR_COMPACT_THRESHOLD,
    )
    rep = StreamingReplicator(job, src, os.path.join(root, "checkpoint"))
    q = rep.start(available_now=False, processing_time="0 seconds", max_files_per_trigger=1)
    done = 0
    try:
        tm = TaskManager(spark, meta)
        tm.create("cow", src, cow_root, write_mode="cow",
                  batch_size=per, num_buckets=NUM_BUCKETS)
        with ctx.tracer.span("batch", warmup=True):
            last = step(0, None)
        done = 1
        out.setup_s = time.perf_counter() - t
        warm = {task: _batch_id(meta, task) for task in ("stream", "cow")}
        with _timed(ctx, out):
            while done < len(files):
                out.attempted += 1
                t0 = time.time()
                try:
                    with ctx.tracer.span("batch"):
                        last = step(done, last)
                except Exception as e:  # a failed step ends the loop, and the run fails
                    out.failed += 1
                    out.extra["error"] = repr(e)[:500]
                    break
                out.ops.append((t0, time.time()))
                progress.append(last)
                done += 1
                out.events += per
    finally:
        q.stop()
    through = done * per - 1
    out.extra["progress"] = [
        {"batchId": p["batchId"], "durationMs": p["durationMs"]} for p in progress
    ]
    out.extra["through_seq"] = through
    out.extra.update(_reported(spark, meta, {
        task: (warm[task], _batch_id(meta, task)) for task in warm
    }))
    out.gate = logs.gate_replay(spark, {"mor": mor_root, "cow": cow_root}, src, through)
    if not out.gate["ok"]:
        out.failed = out.attempted  # a wrong final state discredits every step
    return out


# --------------------------------------------------------------- query_suite
QUERY_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def query_data(seed: int) -> str:
    import querydata

    path = os.path.join(work_dir("cache"), f"qdata-seed{seed}-scale{QUERY_SCALE}")
    if not os.path.exists(os.path.join(path, "_done")):
        shutil.rmtree(path, ignore_errors=True)
        querydata.generate(path, seed, QUERY_SCALE)
        open(os.path.join(path, "_done"), "w").close()
    return path


def query_suite(ctx) -> Outcome:
    import __spark_entry__ as entry

    out = Outcome()
    spark = ctx.spark
    data = query_data(ctx.seed)
    # the oracle's derived constants (LSH plane counts) follow the corpus
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data
    queries = list(entry.queries().items())
    out.shape = {"seed": ctx.seed, "scale": QUERY_SCALE, "queries": len(queries),
                 "order": "queries() order, one at a time"}

    t = time.perf_counter()
    name0, fn0 = queries[0]
    with ctx.tracer.span("batch", warmup=True, query=name0):
        fn0(spark, data).collect()
    out.setup_s = time.perf_counter() - t

    results: dict[str, tuple[list[str], list[tuple]]] = {}
    per_query: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    with _timed(ctx, out):
        t_start = time.perf_counter()
        while not _enough(ctx, t_start, out.attempted, len(queries)):
            name, fn = queries[out.attempted % len(queries)]
            out.attempted += 1
            t0 = time.time()
            try:
                with ctx.tracer.span("batch", query=name):
                    df = fn(spark, data)
                    rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # one failing query must not hide the others
                errors[name] = repr(e)[:300]
                continue
            t1 = time.time()
            out.ops.append((t0, t1))
            per_query.setdefault(name, []).append(t1 - t0)
            results[name] = (df.columns, rows)
            out.events += 1
    out.extra["per_query_s"] = per_query
    out.gate = _gate_queries(entry, data, results, errors)
    out.failed = len(errors) + len(out.gate["mismatched"])
    return out


def _gate_queries(entry, data: str, results: dict, errors: dict) -> dict:
    """Compare every query's rows with its DuckDB oracle, as canonical
    order-insensitive row sets (tools/check_oracle.py)."""
    import duckdb
    from check_oracle import rowset

    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        mismatched = []
        oracles = entry.oracle_sql()
        for name in results:
            if name not in oracles:
                mismatched.append(name)  # no oracle: cannot be shown identical
                continue
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            scols, srows = results[name]
            if sorted(scols) != sorted(ocols) or rowset(scols, srows) != rowset(ocols, orows):
                mismatched.append(name)
    finally:
        con.close()
    missing = sorted(set(entry.queries()) - set(results) - set(errors))
    ok = not errors and not mismatched and not missing
    return {"ok": ok, "identical": len(results) - len(mismatched),
            "mismatched": mismatched, "errors": errors, "missing": missing}


WORKLOADS = {
    "tail_fanout": tail_fanout,
    "query_suite": query_suite,
}
