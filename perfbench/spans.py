"""Spans around the library's public calls, and per-layer metrics from
those spans joined with Spark's event log.

A traced run installs wrappers on the public methods listed in
``WRAPPED``. Each wrapper records a span (name, start, end, parent,
thread, attributes) in memory and tags every Spark job started inside it
with the span's job group, so the event log attributes each job, and so
each stage's executor time, shuffle and spill, to the innermost span.
Spans are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from common import median

GROUP_PREFIX = "perfbench-span-"
_GROUP_PROP = "spark.jobGroup.id"


def _wrapped_methods():
    from milvus_cdc_spark.plans.apply import ReplicateJob
    from milvus_cdc_spark.plans.metastore import Metastore
    from milvus_cdc_spark.plans.task import TaskManager
    from milvus_cdc_spark.sources.icebox import IceboxTable
    from milvus_cdc_spark.streaming.runner import StreamingReplicator

    return [
        (TaskManager, "run", "task.run"),
        (ReplicateJob, "apply_batch", "apply.batch"),
        (IceboxTable, "merge", "icebox.merge"),
        (IceboxTable, "add_column", "icebox.add_column"),
        (IceboxTable, "read", "icebox.read"),
        *[(Metastore, m, f"metastore.{m}") for m in (
            "load_checkpoint", "save_checkpoint", "append_lineage",
            "append_metrics", "load_task", "save_task", "list_tasks",
        )],
        # the one non-public hook: the per-epoch log-directory walk and
        # parquet-footer read that sets the streaming lag baseline
        (StreamingReplicator, "_max_available_seq", "streaming.footer_scan"),
    ]


class Tracer:
    """In-memory span recorder. Disabled, every call is a no-op."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.sc = spark.sparkContext if (enabled and spark is not None) else None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._originals: list[tuple[type, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        stack = self._stack()
        rec = {
            "id": sid, "name": name, "parent": stack[-1] if stack else None,
            "thread": threading.get_ident(), "t0": time.time(), "t1": None,
            "attrs": attrs,
        }
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty(_GROUP_PROP)
            self.sc.setLocalProperty(_GROUP_PROP, f"{GROUP_PREFIX}{sid}")
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(_GROUP_PROP, prev_group)
            rec["t1"] = time.time()
            self.spans.append(rec)

    def install(self) -> None:
        if not self.enabled:
            return
        for cls, attr, name in _wrapped_methods():
            orig = cls.__dict__.get(attr) or getattr(cls, attr)
            self._originals.append((cls, attr, cls.__dict__.get(attr)))
            setattr(cls, attr, self._wrap(orig, name))

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def uninstall(self) -> None:
        for cls, attr, own in reversed(self._originals):
            if own is None:
                delattr(cls, attr)
            else:
                setattr(cls, attr, own)
        self._originals.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------- event log
_FILES_READ = "size of files read"


def _plan_scans(node: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (scanned Location, metric name), for every
    file-scan node."""
    loc = (node.get("metadata") or {}).get("Location")
    if loc:
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = (loc, m["name"])
    for c in node.get("children", []):
        _plan_scans(c, out)


def parse_event_log(ev_dir: str) -> list[dict]:
    """Jobs with their group, wall interval and per-stage task metrics.
    Each stage lists the Locations of the file scans it ran; each job
    lists the bytes of files its SQL execution's scans selected
    (``scan_bytes``, on the execution's first job only). Task input
    metrics are not used for bytes: Spark's vectored parquet reads
    leave them far below the file sizes."""
    files = sorted(
        (os.path.join(dp, f) for dp, _d, fs in os.walk(ev_dir)
         for f in fs if f.startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    scan_acc: dict[int, tuple[str, str]] = {}
    files_read: dict[str, dict[int, int]] = {}  # execution id -> acc id -> bytes
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "id": jid, "t0": ev["Submission Time"] / 1000.0, "t1": None,
                        "group": props.get(_GROUP_PROP),
                        "execution": props.get("spark.sql.execution.id"),
                        "stages": [], "scan_bytes": [],
                    }
                    for s in ev["Stage IDs"]:
                        stage_job[s] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _plan_scans(ev["sparkPlanInfo"], scan_acc)
                elif kind.endswith("DriverAccumUpdates"):
                    for acc, value in ev["accumUpdates"]:
                        if scan_acc.get(acc, ("", ""))[1] == _FILES_READ:
                            files_read.setdefault(str(ev["executionId"]), {})[acc] = value
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["input_records"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    st["output_records"] += (tm.get("Output Metrics") or {}).get("Records Written", 0)
                    st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    st["shuffle_read"].append(
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], _new_stage())
                    st["scans"] = sorted({
                        scan_acc[a["ID"]][0] for a in si.get("Accumulables", [])
                        if a["ID"] in scan_acc
                    })
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid]["stages"].append(st)
    done = [j for j in sorted(jobs.values(), key=lambda j: j["t0"]) if j["t1"] is not None]
    seen: set[str] = set()
    for j in done:
        ex = j["execution"]
        if ex is not None and ex not in seen:
            seen.add(ex)
            j["scan_bytes"] = [(scan_acc[a][0], v) for a, v in files_read.get(ex, {}).items()]
    return done


def _new_stage() -> dict:
    return {"run_ms": 0, "input_records": 0, "output_records": 0,
            "shuffle_write": 0, "spill": 0, "shuffle_read": [], "scans": []}


# --------------------------------------------------------- layer metrics
def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _inside(t0: float, t1: float, outer: dict, slack: float = 0.005) -> bool:
    return t0 >= outer["t0"] - slack and t1 <= outer["t1"] + slack


def _reads(stage: dict, root: str) -> bool:
    return any(root in loc for loc in stage["scans"])


def layer_metrics(tracer: Tracer, jobs: list[dict], batches: list[dict],
                  log_path: str | None, tables: dict[str, str]) -> dict[str, float]:
    """Per-batch layer metrics over the timed ``batches`` spans.
    ``tables`` maps each replica's root to its write mode: a stage inside
    a merge that reads a CoW table is the CoW read of old buckets, one
    that reads a MoR table is inline compaction. Additive quantities are
    means per batch (totals / batches); walls are medians over batches."""
    spans = [s for s in tracer.spans if s["t1"] is not None]
    by_group = {f"{GROUP_PREFIX}{s['id']}": s for s in spans}
    n = max(len(batches), 1)
    tot: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        tot[key] = tot.get(key, 0.0) + v

    walls, driver, unattributed, jobs_per, task_self, skews = [], [], [], [], [], []
    for b in batches:
        bjobs = [j for j in jobs if _inside(j["t0"], j["t1"], b)]
        kids = [s for s in spans if s is not b and _inside(s["t0"], s["t1"], b)]
        merges = [s for s in kids if s["name"] == "icebox.merge"]

        def in_merge(j):
            g = by_group.get(j["group"])
            if g is not None and g["name"] == "icebox.merge":
                return g
            return next((m for m in merges if _inside(j["t0"], j["t1"], m)), None)

        job_iv = [(j["t0"], j["t1"]) for j in bjobs]
        walls.append(b["t1"] - b["t0"])
        jobs_per.append(len(bjobs))
        driver.append(b["t1"] - b["t0"] - _union(job_iv))
        top = [s for s in kids if s["name"] != "icebox.read"]
        unattributed.append(
            b["t1"] - b["t0"] - _union(job_iv + [(s["t0"], s["t1"]) for s in top])
        )
        for s in kids:
            if s["name"].startswith("metastore.") or s["name"] == "streaming.footer_scan":
                add(s["name"] + "_s", s["t1"] - s["t0"])
                add(s["name"] + "_calls", 1)
            if s["name"] == "task.run":
                child = [c for c in kids if c["parent"] == s["id"]]
                # self time: not covered by a child span, nor by a job
                # some other span started (jobs tagged with this span's
                # own group, the DDL position scan, count as its own)
                task_self.append(s["t1"] - s["t0"] - _union(
                    [(c["t0"], c["t1"]) for c in child]
                    + [(j["t0"], j["t1"]) for j in bjobs
                       if _inside(j["t0"], j["t1"], s) and by_group.get(j["group"]) is not s]))
        for m in merges:
            mjobs = [j for j in bjobs if in_merge(j) is m]
            add("icebox.merge_s", m["t1"] - m["t0"])
            add("icebox.write_s", _union([(j["t0"], j["t1"]) for j in mjobs]))
            if mjobs:
                add("icebox.commit_s", max(0.0, m["t1"] - max(j["t1"] for j in mjobs)))
            table_jobs = [j for j in mjobs if any(
                _reads(st, root) for st in j["stages"]
                for root, mode in tables.items() if mode == "mor")]
            if table_jobs:
                add("icebox.compact_s", _union([(j["t0"], j["t1"]) for j in table_jobs]))
                add("icebox.compactions", 1)
            first_write = next((st for j in mjobs for st in j["stages"]
                                if st["output_records"] > 0), None)
            if first_write is not None:
                add("hashing.rows", first_write["output_records"])
        for j in bjobs:
            merge = in_merge(j)
            for loc, nbytes in j["scan_bytes"]:
                if log_path and log_path in loc:
                    add("event_log.bytes_read", nbytes)
                elif merge is not None and "-chg" not in loc and any(
                        root in loc for root, mode in tables.items() if mode == "cow"):
                    add("icebox.cow_read_bytes", nbytes)
            for st in j["stages"]:
                add("apply.shuffle_write_bytes", st["shuffle_write"])
                add("apply.spill_bytes", st["spill"])
                reads = [x for x in st["shuffle_read"] if x > 0]
                if len(reads) >= 2:
                    skews.append(max(reads) / statistics.median(reads))
                if log_path and _reads(st, log_path):
                    if merge is not None:
                        add("event_log.read_s", st["run_ms"] / 1000.0)
                        add("operators.dedup_rows_in", st["input_records"])
                    else:
                        add("event_log.ddl_scan_s", st["run_ms"] / 1000.0)
    out = {k: v / n for k, v in tot.items()}
    out["operators.dedup_rows_out"] = out.get("hashing.rows", 0.0)
    out["apply.batch_s"] = median(walls)
    out["apply.driver_s"] = median(driver)
    out["apply.unattributed_s"] = median(unattributed)
    out["apply.jobs_per_batch"] = median(jobs_per)
    out["apply.shuffle_skew"] = median(skews)
    out["task.run_self_s"] = median(task_self)
    return out
