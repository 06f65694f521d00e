"""The replication apply plan — the hot path (SURVEY.md §3.2).

One micro-batch = one Catalyst plan with ONE exchange:

    read offset range (pushed-down seq predicate)
      → scope + msg-type filters            (T1, T2)
      → salted repartition of hot repos     (skew rule, off by default)
      → sha256 / normalize                  (row transforms)
      → icebox MERGE INTO                   (K1: atomic snapshot commit)
          mor: repartition(num_buckets, repo, path) → per-bucket delta
               files; reads and minor compaction keep the max-seq row
          cow: ∪ old rows of the touched buckets → repartition(
               num_buckets, repo, path) → max_by(row, (seq, side))
               → one rewritten file per bucket
      → lineage + metrics + checkpoint      (K5, M1, M2)

Last-writer-wins per key (O1/O2/K4) is the sink's seq ordering on both
paths, so no pre-merge dedup runs (``ReplicateJob.dedup``). A CoW batch
first finds its touched buckets with a key-only pass over the same range
and hands them to the merge, which then stages nothing.

DDL events are applied transactionally BEFORE the data that needs them:
each micro-batch is capped at the first schema event in its range, the
DML prefix is merged, then the DDL is applied as its own commit — the
analog of the reference blocking data until a collection's create event
is processed (``replicate_channel_manager.go:1457-1468``) and of the
dedicated replicate channel ordering (``server/cdc_impl.go:990-1068``).

Exactly-once: the icebox snapshot carries ``(task_id, batch_id,
offset_end)`` properties; on resume, a data commit newer than the
checkpoint is detected and the checkpoint is fast-forwarded instead of
re-applied (batch-id fencing). Even without the fence, replaying a range
through the seq-resolved MERGE is idempotent — both layers are
tested (tests/test_resume.py).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark.functions.hashing import (
    content_sha256,
    content_sha256_builtin,
    normalize_content,
)
from milvus_cdc_spark.operators.dedup import lww_dedup
from milvus_cdc_spark.operators.filters import scope_filter, supported_dml
from milvus_cdc_spark.operators.salting import salted_repartition
from milvus_cdc_spark.plans.metastore import Metastore
from milvus_cdc_spark.sources.event_log import BARRIER_TYPES, EVENT_SCHEMA
from milvus_cdc_spark.sources.icebox import IceboxTable

# FIXTURES.md §3 — the target table's base schema.
TARGET_BASE_SCHEMA = (
    "repo string, path string, commit string, lang string, content string, "
    "content_sha256 string, last_event_seq bigint"
)
KEY_COLS = ["repo", "path"]

# log columns that feed same-named target columns
_PAYLOAD_COLS = ("repo", "path", "commit", "lang", "content")


@dataclass
class ReplicateJob:
    """One replication task: an event-log source applied to one icebox
    table. The analog of the reference's task + ReplicateEntity
    (``server/cdc_impl.go:749-850``)."""

    spark: SparkSession
    source: Callable[[SparkSession, int, int], DataFrame]  # (spark, lo, hi] -> events
    table_root: str
    metastore: Metastore
    task_id: str = "task0"
    batch_size: int = 100_000
    num_buckets: int = 32
    log_partitions: int = 8  # partition_id domain of the event log
    write_mode: str = "mor"  # "mor": O(batch) delta merges; "cow": bucket rewrite
    compact_threshold: int = 8  # mor: max delta files per bucket before compaction
    salt_factor: int = 0  # 0 = rely on AQE only; >0 = explicit hot-repo salting
    repo_pattern: str | None = None
    exclude_repos: list[str] | None = None
    # source→target repo rename applied on the way through (the analog of
    # the reference's db/collection name mapping,
    # core/writer/channel_writer.go:1208-1232). Scope filters match the
    # SOURCE name; the sink keys on the TARGET name.
    name_map: dict[str, str] | None = None
    normalize: bool = False
    # "builtin": JVM-side sha2 inside whole-stage codegen (default — no
    # Arrow round-trip on the hot path; ~2× faster per batch at 1 core).
    # "pandas": the vectorized Arrow UDF. Identical output (test-pinned).
    hash_impl: str = "builtin"
    # Pre-merge LWW dedup strategy. "auto" (default): SKIP the dedup
    # aggregation whenever the sink resolves winners by sequence — every
    # table this job creates carries ``seq_col``. MoR resolves the
    # max-seq winner per key on read and in minor compaction (delete
    # winners mask); the CoW merge resolves it with its own (seq, side)
    # ``max_by`` over old rows ∪ changes, which already picks the winner
    # among several change rows of one key. For a log with a unique
    # per-key event_seq (the O2 contract the event log enforces by
    # construction) a pre-merge ``max_by`` is a second copy of the same
    # resolution: max_by over a wide struct buffer plans as
    # SortAggregate, a full-width record sort, and skipping it leaves
    # one exchange per batch on either sink. The cost on MoR is
    # duplicate-key rows in the delta (resolved on read, squashed by the
    # next minor compaction — bounded write amplification, the standard
    # LSM trade); on CoW it is nothing, since the merge shuffles every
    # change row either way. A table without ``seq_col`` gets "agg".
    # Forced values: "agg" / "window" (always dedup, see
    # operators/dedup.py), "skip" (never — caller asserts unique seqs
    # and a ``seq_col`` sink).
    dedup: str = "auto"
    collect_metrics: bool = True
    log_max_seq: int | None = None  # for lag computation
    _table: IceboxTable | None = field(default=None, repr=False)

    # ------------------------------------------------------------ table
    def table(self) -> IceboxTable:
        if self._table is None:
            if not IceboxTable.exists(self.table_root):
                IceboxTable.create(
                    self.spark,
                    self.table_root,
                    TARGET_BASE_SCHEMA,
                    key_cols=KEY_COLS,
                    num_buckets=self.num_buckets,
                    properties={"task_id": self.task_id, "batch_id": -1, "offset_end": -1},
                    seq_col="last_event_seq",
                    write_mode=self.write_mode,
                )
            self._table = IceboxTable(self.spark, self.table_root)
        return self._table

    # -------------------------------------------------------------- run
    def run(self, until_seq: int, max_batches: int | None = None) -> dict:
        """Replay the log through ``until_seq`` (inclusive) in micro-batches,
        resuming from the checkpoint. Returns summary stats."""
        ckpt = self.metastore.load_checkpoint(self.task_id)
        if ckpt.get("dropped"):
            # drop_table already replayed: the pointer is tombstoned and
            # positions are frozen — resuming is a clean no-op, not an
            # AssertionError on a snapshotless handle
            return {
                "batches": 0, "events_applied": 0, "seconds": 0.0,
                "events_per_sec": None,
                "final_offset": int(ckpt.get("global_offset", -1)),
                "dropped": True,
            }
        table = self.table()
        lo = int(ckpt.get("global_offset", -1))
        batch_id = ckpt["batch_id"] + 1

        # batch-id fence: data commit landed but checkpoint write crashed →
        # fast-forward the checkpoint from snapshot properties, don't re-apply.
        props = table.properties
        if int(props.get("batch_id", -1)) >= batch_id and int(props.get("offset_end", -1)) > lo:
            lo = int(props["offset_end"])
            batch_id = int(props["batch_id"]) + 1
            self.metastore.save_checkpoint(
                self.task_id, batch_id - 1, {}, global_offset=lo
            )

        # The log is immutable: find every DDL event in the replay range
        # ONCE (column-pruned scan of three small columns) instead of
        # probing per batch — batch caps become driver-side arithmetic.
        # A source that declares itself DDL-free (``no_ddl`` attribute —
        # the lazy generator without ``ddl_every`` sets it) skips even
        # that one scan: a full pass over the range costs ~1-2 s per
        # run() at 1 core for provably zero rows.
        if getattr(self.source, "no_ddl", False):
            ddls: list[tuple[int, str, str | None]] = []
        else:
            ddls = self._scan_ddl_positions(lo, until_seq)

        batches = 0
        total_rows = 0
        t0 = time.time()
        while lo < until_seq and (max_batches is None or batches < max_batches):
            hi = min(lo + self.batch_size, until_seq)
            applied_hi, rows = self.apply_batch(batch_id, lo, hi, ddls=ddls)
            lo = applied_hi
            batch_id += 1
            batches += 1
            total_rows += rows
            if self.metastore.load_checkpoint(self.task_id).get("dropped"):
                break  # drop_table event: positions frozen, task ends
        dt = time.time() - t0
        # rows are counted by the merge-piggybacked Observation; without
        # it there is no row count to report — None, not a false 0
        observed = self.collect_metrics
        return {
            "batches": batches,
            "events_applied": total_rows if observed else None,
            "seconds": dt,
            "events_per_sec": (total_rows / dt) if (observed and dt > 0) else None,
            "final_offset": lo,
        }

    # ------------------------------------------------------ one batch
    def _scan_ddl_positions(
        self, lo: int, hi: int
    ) -> list[tuple[int, str, str | None]]:
        """Every DDL event in (lo, hi] as ``(event_seq, event_type,
        schema_change)``, sorted by seq — one column-pruned scan (the
        parquet reader touches three small columns; the generator
        evaluates three expressions) and no shuffle."""
        events = self.source(self.spark, lo, hi)
        is_ddl = F.col("event_type").isin(*BARRIER_TYPES)
        rows = events.filter(is_ddl).select(
            "event_seq", "event_type", "schema_change"
        ).collect()
        return sorted(((int(r[0]), r[1], r[2]) for r in rows), key=lambda d: d[0])

    def apply_batch(
        self,
        batch_id: int,
        lo: int,
        hi: int,
        ddls: list[tuple[int, str, str | None]] | None = None,
    ) -> tuple[int, int]:
        """Apply events in (lo, hi]; returns (offset applied through, rows in).

        If a DDL event sits inside the range, the batch is capped at it:
        DML prefix first, then the DDL as its own commit — DDL-before-DML.
        ``ddls`` (from :meth:`_scan_ddl_positions`) carries the DDL events
        themselves, so a batch issues no lookup of its own; pass None to
        scan this range directly.
        """
        # Scope filtering is DML-only: a DDL event may carry a repo the
        # scope excludes, but schema changes are table-level and must
        # still apply (the DDL scan reads the unfiltered source).
        events = scope_filter(
            self.source(self.spark, lo, hi), self.repo_pattern, self.exclude_repos
        )

        if ddls is None:
            ddls = self._scan_ddl_positions(lo, hi)
        ddl = next((d for d in ddls if lo < d[0] <= hi), None)
        data_hi = (ddl[0] - 1) if ddl is not None else hi

        rows_in = 0
        if data_hi > lo:
            # exact_range source + uncapped batch: events already span
            # exactly (lo, data_hi] — the re-slice filter would only add
            # two codegen-inlined literals that defeat plan reuse
            exact = bool(getattr(self.source, "exact_range", False)) and data_hi == hi
            rows_in = self._apply_dml(batch_id, lo, data_hi, events, exact=exact)

        applied_hi = data_hi
        if ddl is not None:
            seq, event_type, schema_change = ddl
            self._apply_ddl(event_type, schema_change, batch_id, event_seq=seq)
            applied_hi = seq
            self.metastore.save_checkpoint(
                self.task_id, batch_id, {}, global_offset=applied_hi
            )
        return applied_hi, rows_in

    def _stats_aggs(self) -> list:
        """Per-log-partition conditional aggregates for Observation —
        computed DURING the merge action (CollectMetrics node), replacing
        a dedicated stats pass (M1/M2/K5 bookkeeping for free).

        The 4×log_partitions Column expressions are pure functions of
        column NAMES, reusable across batches — built once and cached
        (expression building is py4j round trips, a measured slice of
        the per-batch fixed cost at high batch rates)."""
        cached = getattr(self, "_stats_aggs_cache", None)
        if cached is not None:
            return cached
        aggs = []
        for p in range(self.log_partitions):
            cond = F.col("partition_id") == p
            aggs += [
                F.count(F.when(cond, 1)).alias(f"rows_{p}"),
                F.min(F.when(cond, F.col("event_seq"))).alias(f"min_{p}"),
                F.max(F.when(cond, F.col("event_seq"))).alias(f"max_{p}"),
                F.sum(F.when(cond, F.octet_length("content"))).alias(f"bytes_{p}"),
            ]
        self._stats_aggs_cache = aggs
        return aggs

    def _apply_dml(
        self, batch_id: int, lo: int, hi: int, events: DataFrame, *,
        exact: bool = False,
    ) -> int:
        table = self.table()
        dml = supported_dml(events)
        if not exact:
            dml = dml.filter(
                (F.col("event_seq") > lo) & (F.col("event_seq") <= hi)
            )
        affected = None
        if table.snap.write_mode == "cow":
            # The touched buckets, from a key-only pass (the scan reads
            # the key and filter columns, no payload; the Observation is
            # attached below, so it sees only the merge's pass). Handing
            # them to the merge lets it skip staging the changes to
            # discover them.
            affected = table.buckets_of(self._renamed(dml).select(*KEY_COLS))
            if not affected:  # no DML row in range: nothing to merge
                self.metastore.save_checkpoint(
                    self.task_id, batch_id, {}, global_offset=hi
                )
                return 0
        # Hot-repo processing skew is structurally handled by the agg
        # dedup's MAP-SIDE combine (hot-key duplicates collapse before the
        # shuffle) + AQE skew splitting. Explicit salting is only worth an
        # extra shuffle when heavy pre-dedup per-row work exists (e.g.
        # normalize=True over a pathologically hot repo).
        if self.salt_factor > 1:
            shuffle_n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            dml = salted_repartition(dml, "repo", shuffle_n, self.salt_factor)

        obs = None
        if self.collect_metrics:
            obs = Observation(f"batch-{batch_id}")
            dml = dml.observe(obs, *self._stats_aggs())

        changes = self._build_changes(dml)
        t0 = time.time()
        snapshot_id = table.merge(
            changes,
            compact_threshold=self.compact_threshold,
            changes_partitioned=True,
            affected_buckets=affected,
            properties={
                "task_id": self.task_id,
                "batch_id": batch_id,
                "offset_start": lo,
                "offset_end": hi,
            },
        )
        dt = time.time() - t0

        rows_total = 0
        positions: dict[int, int] = {}
        if obs is not None:
            positions, rows_total = self._emit_observability(
                obs, batch_id, snapshot_id, dt
            )
        self.metastore.save_checkpoint(
            self.task_id, batch_id, positions, global_offset=hi
        )
        return rows_total

    def _emit_observability(
        self, obs: Observation, batch_id: int, snapshot_id: int, dt: float
    ) -> tuple[dict[int, int], int]:
        """Turn a finished batch's Observation into lineage + metrics rows
        (M1/M2) and per-partition positions (K5). Shared by the batch
        loop and the Structured Streaming foreachBatch body so both paths
        carry the same observability contract."""
        # An all-filtered-out plan can execute with ZERO tasks (empty
        # micro-batch partitions inside foreachBatch), leaving the
        # CollectMetrics accumulator untouched — getRow() then yields a
        # schemaless empty row that obs.get cannot convert. No tasks ⇒
        # no rows ⇒ nothing to record.
        if obs._jo.getRow().size() == 0:
            return {}, 0
        m = obs.get  # available: the merge action executed the plan
        stats = [
            {
                "partition_id": p,
                "rows_in": m[f"rows_{p}"],
                "min_seq": m[f"min_{p}"],
                "max_seq": m[f"max_{p}"],
                "bytes": m[f"bytes_{p}"],
            }
            for p in range(self.log_partitions)
            if m[f"rows_{p}"]
        ]
        now = time.time()
        positions = {int(r["partition_id"]): int(r["max_seq"]) for r in stats}
        rows_total = int(sum(r["rows_in"] for r in stats))
        self.metastore.append_lineage(
            [
                {
                    "task_id": self.task_id,
                    "batch_id": batch_id,
                    "partition_id": int(r["partition_id"]),
                    "offset_start": int(r["min_seq"]),
                    "offset_end": int(r["max_seq"]),
                    "snapshot_id": snapshot_id,
                    "committed_ts": now,
                }
                for r in stats
            ]
        )
        lag_base = self.log_max_seq
        self.metastore.append_metrics(
            [
                {
                    "task_id": self.task_id,
                    "batch_id": batch_id,
                    "partition_id": int(r["partition_id"]),
                    "rows_in": int(r["rows_in"]),
                    "rows_applied": int(r["rows_in"]),
                    "bytes": int(r["bytes"] or 0),
                    "events_per_sec": (rows_total / dt) if dt > 0 else None,
                    "lag_events": (lag_base - int(r["max_seq"])) if lag_base is not None else None,
                }
                for r in stats
            ]
        )
        return positions, rows_total

    def _renamed(self, dml: DataFrame) -> DataFrame:
        """Apply ``name_map`` to the repo column (once per plan: chained
        renames make the projection non-idempotent)."""
        if not self.name_map:
            return dml
        # literal-map projection: zero shuffle, zero join — right for
        # the small rename dims this mirrors (a broadcast-join dim is
        # the swap-in if a deployment ever carries >10^4 renames)
        mapping = F.create_map(
            *[F.lit(x) for kv in self.name_map.items() for x in kv]
        )
        return dml.withColumn("repo", F.coalesce(mapping[F.col("repo")], F.col("repo")))

    def _build_changes(self, dml: DataFrame) -> DataFrame:
        """LWW dedup (when the sink needs it) + payload transforms →
        merge-ready changes.

        MoR: the one exchange is pinned to num_buckets partitions on the
        merge key, so the changes are ALREADY bucket-aligned and the delta
        write adds no second exchange. CoW (skip): the changes plan has no
        exchange at all — the merge unions them with the old rows and
        makes its single exchange there."""
        dml = self._renamed(dml)
        snap = self.table().snap
        mode = self.dedup
        if mode == "auto":
            mode = "skip" if snap.seq_col else "agg"
        if mode == "skip":
            # winner resolution is the sink's max-by-seq: the MoR read and
            # minor compaction (icebox._resolve / _compact_buckets), or the
            # CoW merge — see the ``dedup`` field docstring for the
            # contract. MoR co-locates by key here (partition index ==
            # bucket id, the single shuffle of the delta write).
            deduped = dml
            if snap.write_mode == "mor":
                deduped = deduped.repartition(self.num_buckets, *KEY_COLS)
            deduped = deduped.withColumn(
                "__deleted", F.col("event_type") == F.lit("delete")
            )
        else:
            deduped = lww_dedup(
                dml, KEY_COLS, impl=mode, num_partitions=self.num_buckets
            )
        content = F.col("content")
        if self.normalize:
            content = normalize_content(content)
        # The select list depends only on the target schema (which can
        # evolve mid-stream) and the normalize/hash flags — cache it
        # keyed on the schema so steady-state batches skip the
        # expression rebuild (py4j round trips; fixed-cost slice).
        target = self.table().schema
        schema_key = tuple((f.name, f.dataType.simpleString()) for f in target.fields)
        cached = getattr(self, "_changes_cols_cache", None)
        if cached is not None and cached[0] == schema_key:
            cols = cached[1]
        else:
            hasher = (
                content_sha256 if self.hash_impl == "pandas" else content_sha256_builtin
            )
            cols = []
            for fld in target.fields:
                if fld.name == "content_sha256":
                    cols.append(hasher(content).alias("content_sha256"))
                elif fld.name == "content":
                    cols.append(content.alias("content"))
                elif fld.name == "last_event_seq":
                    cols.append(F.col("event_seq").cast("bigint").alias("last_event_seq"))
                elif fld.name in _PAYLOAD_COLS:
                    cols.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
                else:  # evolved column the log payload doesn't carry
                    cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
            self._changes_cols_cache = (schema_key, cols)
        return deduped.select(*cols, F.col("__deleted"))

    # -------------------------------------------------------------- DDL
    def _apply_ddl(
        self,
        event_type: str,
        schema_change: str | None,
        batch_id: int = 0,
        event_seq: int = 0,
    ) -> None:
        """Apply one barrier event (schema DDL or bulk import). All
        operations are idempotent-by-check, mirroring the reference's
        describe-before-create DDL handlers
        (``core/writer/milvus_handler.go:114-593``)."""
        table = self.table()
        payload = json.loads(schema_change) if schema_change else {}
        if event_type == "create_table":
            IceboxTable.create(
                self.spark, self.table_root, TARGET_BASE_SCHEMA, KEY_COLS,
                num_buckets=self.num_buckets, if_not_exists=True,
            )
        elif event_type == "add_column":
            table.add_column(payload["name"], payload.get("type", "string"))
        elif event_type == "type_widen":
            table.widen_column(payload["name"], payload["type"])
        elif event_type == "drop_table":
            table.drop()
            self.metastore.save_checkpoint(self.task_id, batch_id, {}, dropped=True)
        elif event_type == "import":
            self._apply_import(payload, batch_id, event_seq)
        else:
            raise ValueError(f"unknown DDL event {event_type}")

    def _apply_import(
        self, payload: dict, batch_id: int, event_seq: int
    ) -> None:
        """Bulk load — the Import msg type
        (``core/reader/replicate_channel_manager.go:1447,1699,1899``):
        ``schema_change`` carries ``{"op": "import", "path": <parquet>,
        "mode": "append"|"overwrite"}``. The file set flows through the
        SAME dedup → sha256 pipeline as DML, stamped with the import
        event's seq, so later DML (higher seq) wins over imported rows
        and a replayed import is a structural no-op under MoR seq
        resolution. ``overwrite`` bootstraps the table wholesale (INSERT
        OVERWRITE); ``append`` merges (upsert semantics).
        """
        table = self.table()
        src = self.spark.read.parquet(payload["path"])
        shaped = src.select(
            *[
                (F.col(c) if c in src.columns else F.lit(None).cast("string")).alias(c)
                for c in _PAYLOAD_COLS
            ],
            F.lit(event_seq).cast("long").alias("event_seq"),
            F.lit("insert").alias("event_type"),
        )
        changes = self._build_changes(
            scope_filter(shaped, self.repo_pattern, self.exclude_repos)
        )
        props = {
            "task_id": self.task_id,
            "batch_id": batch_id,
            "offset_start": event_seq,
            "offset_end": event_seq,
        }
        if payload.get("mode", "append") == "overwrite":
            table.overwrite(changes.drop("__deleted"), properties=props)
        else:
            table.merge(
                changes,
                compact_threshold=self.compact_threshold,
                changes_partitioned=True,
                properties=props,
            )

def parquet_source(log_path: str) -> Callable[[SparkSession, int, int], DataFrame]:
    """Event source over a materialized parquet log — range predicate is
    pushed to the scan (seek analog)."""

    def read(spark: SparkSession, lo: int, hi: int) -> DataFrame:
        df = spark.read.schema(EVENT_SCHEMA).parquet(log_path)
        return df.filter((F.col("event_seq") > lo) & (F.col("event_seq") <= hi))

    return read


def generated_source(
    stable_max_batch: int | None = None, gen_slices: int | None = None,
    **gen_kwargs
) -> Callable[[SparkSession, int, int], DataFrame]:
    """Lazy generator source: every column is a pure function of
    event_seq, so slicing by seq range IS the seek — nothing materialized.
    This is how the benchmark replays 10^8+ events.

    ``stable_max_batch``: when set, windows are built with
    :func:`stable_seq_range` — the batch bounds travel as a broadcast
    one-row relation instead of codegen-inlined literals, so every batch
    of the job shares ONE compiled plan (prepared-statement batching; the
    per-batch Janino + JVM-JIT warm-up, ~8-12 s of compiler CPU, is paid
    once instead of per batch). Pass the job's batch_size. Storage-backed
    sources (``parquet_source``) keep literal bounds on purpose: there the
    literals reach the scan as pushed filters, worth far more than a
    cached plan.

    ``gen_slices``: Range task count for the generation stage (see
    :func:`stable_seq_range`) — size it to 4-8× the executor core count
    so the stage barrier's tail is one small task, not a full quarter
    of the stage. None keeps Spark's defaultParallelism.
    """
    from milvus_cdc_spark.sources.event_log import generate_events, stable_seq_range

    def read(spark: SparkSession, lo: int, hi: int) -> DataFrame:
        if stable_max_batch is not None and hi - lo <= stable_max_batch:
            seq = stable_seq_range(spark, lo, hi, stable_max_batch, gen_slices)
            return generate_events(spark, hi - lo, seq_df=seq, **gen_kwargs)
        return generate_events(spark, hi - lo, start_seq=lo + 1, **gen_kwargs)

    # without ddl_every the generator emits DML only — advertise it so
    # run() can skip the per-run DDL position scan entirely
    read.no_ddl = not gen_kwargs.get("ddl_every")
    # the window IS the data: (lo, hi] exactly, so the per-batch re-slice
    # filter in _apply_dml is redundant (and its literals would defeat
    # the stable plan)
    read.exact_range = True
    return read
