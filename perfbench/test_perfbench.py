"""Tests of the benchmark itself: the BENCHMARK.json contract, that every
metric the benchmark was specified with is emitted or recorded as
dropped, that the correctness gate fires on a corrupted table, and a
smoke run of every workload in both modes.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
with open(os.path.join(HERE, "dropped.json")) as _f:
    DROPPED = json.load(_f)

SPECIFIED_WORKLOADS = ["replay_bulk", "tail_batch_cow", "tail_stream_mor", "query_suite"]
SPECIFIED_END_TO_END = [
    "events_per_s", "events_per_cpu_s", "batch_p50_s", "batch_tail_s", "final_read_s",
    "bytes_written_per_event", "table_bytes_per_row", "queries_total_s",
    "queries_geomean_s", "peak_rss_mb", "setup_s", "failed_ratio",
]
SPECIFIED_PER_LAYER = [
    "event_log.read_s", "event_log.bytes_read", "event_log.ddl_scan_s",
    "hashing.rows", "operators.dedup_rows_in", "operators.dedup_rows_out",
    "apply.shuffle_write_bytes", "apply.shuffle_skew", "apply.spill_bytes",
    "apply.batch_s", "apply.driver_s", "apply.jobs_per_batch", "apply.unattributed_s",
    "apply.reported_events_per_s", "apply.reported_rows_applied",
    "icebox.merge_s", "icebox.write_s", "icebox.commit_s", "icebox.cow_read_bytes",
    "icebox.compact_s", "icebox.compactions", "icebox.files_written",
    "icebox.bytes_written", "icebox.live_files_per_bucket",
    *[f"metastore.{m}_{k}" for m in (
        "load_checkpoint", "save_checkpoint", "append_lineage", "append_metrics")
      for k in ("s", "calls")],
    "streaming.add_batch_s", "streaming.latest_offset_s", "streaming.wal_commit_s",
    "streaming.query_planning_s", "streaming.footer_scan_s",
    "jvm.gc_s", "jvm.jit_s", "cpu.user_s", "cpu.sys_s",
]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _names(key):
    return [m["name"] for m in SPEC[key]]


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert 1 <= len(SPEC["end_to_end"]) <= 16
    assert 1 <= len(SPEC["per_layer"]) <= 128
    names = [w["name"] for w in SPEC["workloads"]] + _names("end_to_end") + _names("per_layer")
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert len(json.dumps(SPEC)) <= 64 * 1024


def test_workloads_match_code():
    import workloads

    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}


def test_every_specified_name_is_kept_or_dropped_with_a_reason():
    dropped_w = {d["name"]: d["reason"] for d in DROPPED["workloads"]}
    dropped_m = {d["name"]: d["reason"] for d in DROPPED["metrics"]}
    assert all(dropped_w.values()) and all(dropped_m.values())
    kept_w = {w["name"] for w in SPEC["workloads"]}
    for w in SPECIFIED_WORKLOADS:
        assert w in kept_w or w in dropped_w, w
    # why the merged tail keeps MoR streaming: the recorded CoW defect
    why = {w["name"]: w["why"] for w in SPEC["workloads"]}
    assert "2,535 deleted keys" in why["tail_fanout"]
    kept_m = set(_names("end_to_end")) | set(_names("per_layer"))
    for m in SPECIFIED_END_TO_END + SPECIFIED_PER_LAYER:
        assert m in kept_m or m in dropped_m, m


def test_every_query_has_a_per_layer_metric():
    import __spark_entry__ as entry

    per_layer = set(_names("per_layer"))
    assert {f"query.{q}_s" for q in entry.queries()} <= per_layer


# ------------------------------------------------------------------ gate
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import common

    run_dir = str(tmp_path_factory.mktemp("perfbench-gate"))
    common.confine_temp_files(run_dir)
    s = common.start_spark(run_dir)
    yield s
    s.stop()
    common.stop_processes()


def test_gate_fires_on_a_corrupted_copy_of_a_final_table(spark, tmp_path):
    """Replay a small log with the CoW task, then corrupt copies of the
    final rows: one altered content, one delete never applied (the key
    is back), one row lost, one key duplicated. The untouched table
    passes."""
    import logs
    from milvus_cdc_spark.plans import Metastore, TaskManager
    from milvus_cdc_spark.sources import generate_events, write_event_log

    log = str(tmp_path / "log")
    write_event_log(generate_events(spark, 6000, num_keys=600, seed=5, ddl_every=2500), log)
    tm = TaskManager(spark, Metastore(str(tmp_path / "meta")))
    root = str(tmp_path / "tbl")
    tm.create("t", log, root, write_mode="cow", batch_size=2000, num_buckets=4)
    tm.run("t", until_seq=5999)

    clean = logs.gate_replay(spark, {"cow": root}, log, 5999)
    assert clean["ok"] and clean["cow"]["matched"] > 0
    assert clean["cow"]["missing"] == clean["cow"]["extra"] == clean["cow"]["mismatched"] == 0

    expected = logs.expected_state(log, 5999)
    table = logs.table_state(spark, root)

    altered = table.copy()
    altered.loc[0, "content"] += "x"
    assert logs.compare_state(altered, expected) == {
        **clean["cow"], "matched": clean["cow"]["matched"] - 1, "mismatched": 1}

    # a key whose last event is a delete, back as if the delete was dropped
    ev = spark.read.parquet(log).filter("event_type in ('insert', 'update', 'delete')")
    last = ev.groupBy("repo", "path").agg({"event_seq": "max"}).withColumnRenamed(
        "max(event_seq)", "event_seq")
    deleted = ev.join(last, ["repo", "path", "event_seq"]).filter(
        "event_type = 'delete'").select("repo", "path").first()
    ghost = table.iloc[[0]].assign(repo=deleted["repo"], path=deleted["path"])
    res = logs.compare_state(pd.concat([table, ghost], ignore_index=True), expected)
    assert (res["extra"], res["missing"], res["mismatched"]) == (1, 0, 0)

    res = logs.compare_state(table.drop(index=0), expected)
    assert (res["missing"], res["extra"], res["mismatched"]) == (1, 0, 0)

    res = logs.compare_state(pd.concat([table, table.iloc[[0]]], ignore_index=True), expected)
    assert res["extra"] == 1


# ----------------------------------------------------------------- smoke
def _survivors(sid: int) -> list[str]:
    """Processes still in session ``sid``, zombies included."""
    found = []
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rfind(b")") + 2:].split()
        if int(fields[3]) == sid:
            found.append(data[:data.rfind(b")") + 4].decode(errors="replace"))
    return found


def _run(args, cwd=ROOT):
    """Run the benchmark in a session of its own, with its output in
    files, so that nothing it leaves running can hold the test up; once
    it has exited, no process of that session may be left."""
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen(
            [sys.executable, "perfbench/run.py", *args], cwd=cwd,
            stdout=out, stderr=err, text=True, start_new_session=True,
        )
        proc.wait(timeout=600)
        assert _survivors(proc.pid) == []
        out.seek(0)
        err.seek(0)
        return subprocess.CompletedProcess(proc.args, proc.returncode, out.read(), err.read())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_emits_every_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "0",
              "--trace", str(trace)])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["attempted"] >= 1 and res["failed"] == 0
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0, m["name"]


def test_fails_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
              "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
