"""Tail logs and the replay correctness gate.

A tail log is a directory of parquet files, each holding one contiguous
``event_seq`` range (one micro-batch or one streaming epoch). It is made
once per (seed, shape) and reused by every later run in the checkout.
Each file's mtime is set explicitly in ``event_seq`` order, so a file
source that orders by mtime hands out the same epochs on every run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from common import work_dir

EPOCH_EVENTS = 20_000
STEPS_PER_DDL = 2
DDL_EVERY = STEPS_PER_DDL * EPOCH_EVENTS
# one warm-up step and one cycle: every run applies the same events
LOG_FILES = 1 + STEPS_PER_DDL
CONTENT_REPEAT = 8
MTIME_BASE_NS = 1_700_000_000 * 10**9
KEEP_LOGS = 24


def log_shape(seed: int) -> dict:
    n = EPOCH_EVENTS * LOG_FILES
    return {
        "seed": seed,
        "events": n,
        "files": LOG_FILES,
        "events_per_file": EPOCH_EVENTS,
        "num_keys": n // 10,
        "ddl_every": DDL_EVERY,
        "content_repeat": CONTENT_REPEAT,
    }


def _key(shape: dict) -> str:
    return "log-" + "-".join(f"{k}{shape[k]}" for k in sorted(shape))


def tail_log(spark, seed: int) -> tuple[str, dict, list[str]]:
    """(log dir, shape, files in event_seq order); generated if absent."""
    from milvus_cdc_spark.sources.event_log import generate_events

    shape = log_shape(seed)
    cache = work_dir("cache")
    path = os.path.join(cache, _key(shape))
    manifest = os.path.join(path, "_manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(path, ignore_errors=True)
        staging = path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        # spark.range splits [0, n) into equal contiguous slices, one per
        # partition, and the generator is a pure projection: partition i
        # is exactly file i's seq range
        seq = spark.range(
            0, shape["events"], numPartitions=shape["files"]
        ).withColumnRenamed("id", "event_seq")
        generate_events(
            spark, shape["events"], seq_df=seq, num_keys=shape["num_keys"],
            seed=seed, ddl_every=DDL_EVERY, content_repeat=CONTENT_REPEAT,
        ).write.parquet(staging)
        parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
        if len(parts) != shape["files"]:
            raise RuntimeError(f"expected {shape['files']} log files, got {len(parts)}")
        os.makedirs(path)
        files = []
        for i, part in enumerate(parts):
            name = f"epoch-{i:05d}.parquet"
            os.rename(os.path.join(staging, part), os.path.join(path, name))
            t = MTIME_BASE_NS + i * 10**9
            os.utime(os.path.join(path, name), ns=(t, t))
            files.append(name)
        shutil.rmtree(staging)
        _check_order(path, files, shape)
        with open(manifest, "w") as f:
            json.dump({"shape": shape, "files": files}, f)
        _evict_old_logs(cache)
    with open(manifest) as f:
        files = json.load(f)["files"]
    return path, shape, files


def _check_order(path: str, files: list[str], shape: dict) -> None:
    """Every file holds exactly its seq slice, and mtime order is seq order."""
    import pyarrow.parquet as pq

    per = shape["events_per_file"]
    prev_mtime = -1
    for i, name in enumerate(files):
        p = os.path.join(path, name)
        col = pq.read_table(p, columns=["event_seq"]).column(0)
        lo, hi = col[0].as_py(), col[len(col) - 1].as_py()
        if (lo, hi, len(col)) != (i * per, (i + 1) * per - 1, per):
            raise RuntimeError(f"{name} holds seqs [{lo}, {hi}] x{len(col)}")
        mtime = os.stat(p).st_mtime_ns
        if mtime <= prev_mtime:
            raise RuntimeError(f"{name} mtime not after its predecessor")
        prev_mtime = mtime


def _evict_old_logs(cache: str) -> None:
    logs = sorted(
        (os.stat(os.path.join(cache, d)).st_mtime, d)
        for d in os.listdir(cache) if d.startswith("log-")
    )
    for _mtime, d in logs[:-KEEP_LOGS]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


# ----------------------------------------------------------- correctness
def _sha256(text) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def expected_state(log_path: str, through_seq: int):
    """Independent fold of the log through ``through_seq``, in pandas:
    the latest DML event per (repo, path) by event_seq wins and a delete
    winner removes the key; sha256 of the winner's content. Shares no
    code with the engine's merge, compaction or read paths."""
    import pyarrow.dataset as ds

    table = ds.dataset(log_path, format="parquet").to_table(
        columns=["event_seq", "event_type", "repo", "path", "content"],
        filter=(ds.field("event_seq") <= through_seq)
        & ds.field("event_type").isin(["insert", "update", "delete"]),
    )
    df = table.to_pandas().sort_values("event_seq")
    df = df.drop_duplicates(["repo", "path"], keep="last")
    df = df[df["event_type"] != "delete"]
    return df.assign(sha=[_sha256(c) for c in df["content"]])[["repo", "path", "sha"]]


def table_state(spark, root: str):
    """A table's live rows as pandas, through the engine's public read."""
    from milvus_cdc_spark.sources.icebox import IceboxTable

    return IceboxTable(spark, root).read().select(
        "repo", "path", "content", "content_sha256").toPandas()


def compare_state(got, expected) -> dict[str, int]:
    """Full outer join of a table's rows against the expected state;
    counts matched, missing, extra and mismatched keys. A row matches
    when both the sha256 of its stored content and its stored
    content_sha256 equal the expected sha; a duplicated key is extra."""
    dups = int(got.duplicated(["repo", "path"]).sum())
    g = got.assign(gsha=[_sha256(c) for c in got["content"]])
    j = g.merge(expected, on=["repo", "path"], how="outer", indicator=True)
    both = j[j["_merge"] == "both"]
    same = (both["gsha"] == both["sha"]) & (both["content_sha256"] == both["sha"])
    return {
        "matched": int(same.sum()),
        "missing": int((j["_merge"] == "right_only").sum()),
        "extra": int((j["_merge"] == "left_only").sum()) + dups,
        "mismatched": int((~same).sum()),
    }


def gate_replay(spark, tables: dict[str, str], log_path: str, through_seq: int) -> dict:
    """Compare every table in ``tables`` (name -> root) with one fold of
    the log through ``through_seq``."""
    t = time.perf_counter()
    expected = expected_state(log_path, through_seq)
    res: dict = {"through_seq": through_seq, "ok": True}
    for name, root in tables.items():
        counts = compare_state(table_state(spark, root), expected)
        res[name] = counts
        res["ok"] = res["ok"] and not (
            counts["missing"] or counts["extra"] or counts["mismatched"])
    res["gate_s"] = time.perf_counter() - t
    return res
