"""icebox — a minimal snapshot-committed lake table format on parquet.

No Iceberg/Delta jars ship in this image, so the engine provides its own
stand-in with the four Iceberg properties the north rule depends on:

1. **Atomic commits**: a snapshot is a JSON manifest listing, per hash
   bucket, the parquet files that make up the table; the live snapshot is
   chosen by a single pointer file swapped with ``os.replace`` (atomic on
   POSIX). Readers never see a partial commit — exactly the property the
   reference gets from Milvus's ts-based visibility and we need for
   exactly-once (`SURVEY.md §3.4`).
2. **Snapshot ids for lineage**: every commit returns an id recorded in
   the lineage table (analog of ``TargetPositions``,
   ``/root/reference/server/model/meta/task.go:113-115``).
3. **Schema evolution without rewrite**: the manifest carries a schema
   per *schema version*; add-column / type-widen bump the version and
   rewrite zero data files; readers upcast old files on read (Iceberg
   semantics: add-column fills null, widen upcasts).
4. **Copy-on-write MERGE with bucket pruning**: the table is
   hash-bucketed on the merge key; a merge rewrites ONLY the buckets that
   contain changed keys and re-links every other bucket's files
   unchanged. At 100 TB / 4096 buckets a batch touching 1% of keys
   rewrites ~1% of the table — the same file-pruning story Iceberg's
   merge-on-read/copy-on-write gives.

One replicate task per table is the intended topology, matching the
reference's duplicate-task guard (``server/cdc_impl.go:328-406``) — but
commits themselves are safe under concurrency: an optimistic pointer
check turns a lost race into ``CommitConflictError`` (retried with a
rebuild against the winner), and the commit critical section holds a
per-table thread mutex plus a cross-process ``fcntl.flock`` so racing
writers in separate processes serialize instead of corrupting.

Layout::

    root/
      _current                 # {"snapshot_id": N}  (atomic os.replace)
      snapshots/v{N}.json      # manifest (see Snapshot)
      data/snap-{N}/__bucket=K/part-*.parquet
"""

from __future__ import annotations

import fcntl
import functools
import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from milvus_cdc_spark.functions.hashing import placement_expr

_BUCKET_COL = "__bucket"
_DELETED_COL = "__deleted"


class CommitConflictError(RuntimeError):
    """Another writer committed since this table handle loaded its snapshot."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    schema_versions: list[dict[str, Any]]  # [{"version": i, "schema": ddl_string}]
    current_schema_version: int
    # bucket -> list of {"path": ..., "schema_version": i, "kind": "base"|"delta"}
    buckets: dict[str, list[dict[str, Any]]]
    num_buckets: int
    key_cols: list[str]
    properties: dict[str, Any] = field(default_factory=dict)
    committed_ts: float = 0.0
    # merge-on-read support: seq_col orders versions of a key; write_mode
    # "mor" appends delta files per merge, "cow" rewrites buckets.
    seq_col: str | None = None
    write_mode: str = "cow"
    # bucket-placement formula; manifests written before the field
    # existed default to the same murmur3 formula (the only one 2-key
    # tables ever used). "timehash:<day|month>" places a coarse time
    # unit of key_cols[0] ABOVE the hash (Iceberg days(ts)+bucket(N)
    # shape) so time-local batches prune old data at file level.
    # Writers REFUSE unknown values instead of silently placing keys
    # with the wrong formula (functions/hashing.py:placement_expr).
    bucket_formula: str = "murmur3"

    def schema(self, version: int | None = None) -> T.StructType:
        v = self.current_schema_version if version is None else version
        return _parse_schema(self.schema_versions[v]["schema"])


class IceboxTable:
    """Handle to one icebox table. Cheap to construct; re-reads the
    pointer on :meth:`refresh`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.snap: Snapshot | None = None
        self.refresh()

    # ------------------------------------------------------------- meta
    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "_current"))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType | str,
        key_cols: list[str],
        num_buckets: int = 32,
        properties: dict[str, Any] | None = None,
        if_not_exists: bool = False,
        seq_col: str | None = None,
        write_mode: str = "cow",
        bucket_formula: str = "murmur3",
    ) -> "IceboxTable":
        """CREATE TABLE. Idempotent under ``if_not_exists`` — the analog of
        the reference's describe-before-create DDL guard
        (``core/writer/milvus_handler.go:127-129``).

        ``write_mode="mor"`` (requires ``seq_col``): merges append compact
        delta files and reads resolve the max-seq winner per key — O(batch)
        writes for sustained upsert throughput, with per-bucket compaction
        (the LSM/Milvus-segment shape). ``"cow"``: merges rewrite affected
        buckets — zero read amplification.
        """
        if write_mode == "mor" and not seq_col:
            raise ValueError("write_mode='mor' requires seq_col")
        # fail fast on an unknown/misconfigured formula at CREATE, not on
        # the first merge (placement_expr raises on unknown names)
        placement_expr(bucket_formula, key_cols, num_buckets)
        if bucket_formula.startswith("timehash:"):
            sch = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
            t0 = sch[key_cols[0]].dataType.simpleString()
            if t0 not in ("timestamp", "timestamp_ntz", "date"):
                raise ValueError(
                    f"timehash placement needs a time-typed leading key; "
                    f"{key_cols[0]!r} is {t0}"
                )
        if cls.exists(root):
            if if_not_exists:
                return cls(spark, root)
            raise FileExistsError(root)
        if isinstance(schema, T.StructType):
            schema_ddl = schema.toDDL()
        else:
            schema_ddl = schema
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            schema_versions=[{"version": 0, "schema": schema_ddl}],
            current_schema_version=0,
            buckets={},
            num_buckets=num_buckets,
            key_cols=list(key_cols),
            properties=dict(properties or {}),
            committed_ts=time.time(),
            seq_col=seq_col,
            write_mode=write_mode,
            bucket_formula=bucket_formula,
        )
        _write_snapshot_exclusive(root, snap, expect=None)
        _swap_pointer(root, 0, expect=None)
        return cls(spark, root)

    def refresh(self) -> None:
        cur = os.path.join(self.root, "_current")
        if not os.path.exists(cur):
            self.snap = None
            return
        with open(cur) as f:
            sid = json.load(f)["snapshot_id"]
        self.snap = _read_snapshot(self.root, sid)

    def snapshots(self) -> list[int]:
        d = os.path.join(self.root, "snapshots")
        return sorted(
            int(n[1:-5]) for n in os.listdir(d) if n.startswith("v") and n.endswith(".json")
        )

    @property
    def schema(self) -> T.StructType:
        assert self.snap is not None
        return self.snap.schema()

    @property
    def properties(self) -> dict[str, Any]:
        assert self.snap is not None
        return self.snap.properties

    # ------------------------------------------------------------- read
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Read the live (or a historical) snapshot as a DataFrame.

        Old-schema-version files are upcast to the current schema on read
        (missing column → null, widened type → cast) — zero-rewrite schema
        evolution, same contract as Iceberg. In MoR tables, delta files
        are resolved here: per key, the max-seq row wins and delete rows
        drop out (Iceberg merge-on-read / Milvus segment+delete-mark
        semantics).
        """
        snap = self.snap if snapshot_id is None else _read_snapshot(self.root, snapshot_id)
        assert snap is not None
        return self.read_buckets(snap, None)

    def read_buckets(self, snap: Snapshot, bucket_ids: list[int] | None) -> DataFrame:
        """Read selected buckets. Only DIRTY buckets (those holding delta
        files) pay the winner-resolution shuffle; clean buckets are a
        plain parquet scan unioned in — a full-table read after steady
        compaction shuffles only the small dirty fraction, not 100 TB."""
        if bucket_ids is None:
            selected = list(snap.buckets.keys())
        else:
            selected = [str(b) for b in bucket_ids if str(b) in snap.buckets]
        dirty = [
            b for b in selected
            if any(f.get("kind", "base") == "delta" for f in snap.buckets[b])
        ]
        clean = [b for b in selected if b not in set(dirty)]
        clean_df = self._read_files(
            snap, [f for b in clean for f in snap.buckets[b]], with_deleted=False
        )
        if not dirty:
            return clean_df
        dirty_files = [f for b in dirty for f in snap.buckets[b]]
        bases = [f for f in dirty_files if f.get("kind", "base") == "base"]
        deltas = [f for f in dirty_files if f.get("kind", "base") == "delta"]
        base_df = self._read_files(snap, bases, with_deleted=False)
        delta_df = self._read_files(snap, deltas, with_deleted=True)
        resolved = self._resolve(
            snap,
            base_df.withColumn(_DELETED_COL, F.lit(False)).withColumn("__d", F.lit(0)),
            delta_df.withColumn("__d", F.lit(1)),
        )
        return clean_df.unionByName(resolved)

    def _resolve(self, snap: Snapshot, base: DataFrame, deltas: DataFrame) -> DataFrame:
        """max_by winner per key over base ∪ deltas, ordered by (seq,
        delta-ness); delete winners drop out."""
        keys = snap.key_cols
        seq = snap.seq_col
        assert seq, "delta files require seq_col"
        both = base.unionByName(deltas)
        payload_cols = [c for c in both.columns if c not in keys]
        payload = F.struct(*[F.col(c).alias(c) for c in payload_cols])
        priority = F.struct(F.col(seq).alias("s"), F.col("__d").alias("d"))
        winners = both.groupBy(*keys).agg(F.max_by(payload, priority).alias("__w"))
        return (
            winners.select(*keys, *[F.col(f"__w.{c}").alias(c) for c in payload_cols])
            .filter(~F.col(_DELETED_COL))
            .drop(_DELETED_COL, "__d")
        )

    def _read_files(
        self, snap: Snapshot, files: list[dict[str, Any]], with_deleted: bool = False
    ) -> DataFrame:
        target = snap.schema()
        if with_deleted:
            target = T.StructType(
                target.fields + [T.StructField(_DELETED_COL, T.BooleanType(), False)]
            )
        if not files:
            return self.spark.createDataFrame([], target)
        parts: list[DataFrame] = []
        by_version: dict[int, list[str]] = {}
        for f in files:
            by_version.setdefault(f["schema_version"], []).append(f["path"])
        for version, paths in sorted(by_version.items()):
            vschema = snap.schema(version)
            if with_deleted:
                vschema = T.StructType(
                    vschema.fields + [T.StructField(_DELETED_COL, T.BooleanType(), False)]
                )
            df = self.spark.read.schema(vschema).parquet(*paths)
            if vschema == target:
                parts.append(df)  # current-version files need no upcast
                continue
            # upcast to current schema: add missing columns as null, widen types
            cols = []
            have = {fld.name: fld for fld in vschema.fields}
            for fld in target.fields:
                if fld.name in have:
                    cols.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
                else:
                    cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def buckets_of(self, keys: DataFrame) -> list[int]:
        """Sorted distinct bucket ids of the rows of ``keys``, a DataFrame
        holding the table's key columns — the ``affected_buckets`` a CoW
        caller passes to :meth:`merge`. Select only the key columns
        upstream: the pass then reads nothing else."""
        snap = self.snap
        assert snap is not None, "table does not exist"
        b = _placement(snap, snap.key_cols, snap.num_buckets).alias(_BUCKET_COL)
        return sorted(r[0] for r in keys.select(b).distinct().collect())

    # ------------------------------------------------------------ write
    def merge(
        self,
        changes: DataFrame,
        *,
        delete_col: str = _DELETED_COL,
        properties: dict[str, Any] | None = None,
        compact_threshold: int = 8,
        changes_partitioned: bool = False,
        affected_buckets: list[int] | None = None,
        complete: bool = False,
    ) -> int:
        """MERGE INTO: upsert-or-delete ``changes`` by the table's key.

        ``changes`` must carry the table's current columns plus a boolean
        ``delete_col``. On a table with ``seq_col`` it may hold SEVERAL
        rows per key: the highest sequence wins, exactly as between old
        and new rows (so the caller needs no pre-merge dedup when each
        key's sequences are unique). Without ``seq_col`` there is nothing
        to order them by, and ``changes`` must have AT MOST ONE ROW PER
        KEY (enforce upstream with the LWW dedup —
        ``operators/dedup.py``). Semantics:

            WHEN MATCHED AND __deleted THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND NOT __deleted THEN INSERT *

        Physical plans:

        - **cow** (write_mode="cow"): old rows of the affected buckets and
          the changes are unioned, exchanged ONCE (on the keys into
          ``num_buckets`` partitions, so partition index == bucket id),
          and the per-key winner picked by ``max_by(payload, (seq,
          side))`` on that partitioning — the write that follows adds no
          exchange and writes one file per rewritten bucket. With the
          table's ``seq_col`` set, the higher sequence wins regardless of
          side, making a replayed stale change a structural no-op (the
          reference's ts-based visibility, SURVEY.md §3.4); changes win
          ties. Untouched buckets' files carry over into the new
          snapshot. Callers that know the touched buckets pass
          ``affected_buckets`` (``ReplicateJob`` gets them from a key-only
          pass over the batch, :meth:`buckets_of`); otherwise the changes
          are first staged as bucket-partitioned parquet, whose
          directories reveal the buckets, and read back into the union.
        - **mor** (write_mode="mor"): the changes (including delete
          markers) are appended as per-bucket DELTA files —
          O(batch) write cost regardless of table size, the property
          that sustains upsert throughput at 10^10 events. Reads resolve
          winners by seq; buckets whose delta-file count exceeds
          ``compact_threshold`` are compacted (resolved → rewritten as
          base) inside the same commit, bounding read amplification.

        ``complete=True`` (CoW + ``affected_buckets`` only): the caller
        asserts ``changes`` is the COMPLETE post-image of the affected
        buckets — every surviving row, one row per key. The merge then
        skips its own read of the old buckets and the winner-resolution
        shuffle and just writes the rows (still delete-filtered and
        stray-bucket-validated). Right for read-modify-write callers
        (the rollup) that already joined old state in: without it the
        affected buckets are read twice and shuffled once more per
        batch for no information gain.

        Returns the new snapshot id.
        """
        assert self.snap is not None, "table does not exist"
        snap = self.snap
        keys = snap.key_cols
        target_schema = snap.schema()

        if complete and snap.write_mode != "cow":
            # MoR merges append deltas + seq resolution; treating the rows
            # as a post-image would silently keep omitted keys alive and
            # let lower-seq rows lose — refuse instead of degrading.
            raise ValueError(
                "merge(complete=True) asserts post-image semantics, which "
                f"only write_mode='cow' implements (table is {snap.write_mode!r})"
            )

        # placement_expr raises on a formula this writer doesn't speak —
        # never silently mis-place keys
        bucket = _placement(snap, keys, snap.num_buckets)
        changes = changes.withColumn(_BUCKET_COL, bucket)
        if snap.bucket_formula != "murmur3":
            # the partition-index==bucket-id identity below is a murmur3
            # property (repartition uses pmod(hash, n)); other formulas
            # must co-locate on the bucket column explicitly
            changes_partitioned = False

        new_id = snap.snapshot_id + 1
        staging = os.path.join(self.root, "data", f"snap-{new_id}-{uuid.uuid4().hex[:8]}")

        if snap.write_mode == "mor":
            # No pre-discovery pass: the partitionBy write itself reveals
            # the affected buckets (one pass over changes total — the
            # property that keeps a delta merge O(batch)).
            delta = changes.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target_schema.fields],
                F.col(delete_col).alias(_DELETED_COL),
                F.col(_BUCKET_COL),
            )
            if not changes_partitioned:
                # caller did not pre-cluster by key → co-locate buckets here
                delta = delta.repartition(
                    min(snap.num_buckets, 64), F.col(_BUCKET_COL)
                )
            # with changes_partitioned=True the upstream dedup shuffle used
            # repartition(num_buckets, *keys): partition index == bucket id
            # (same pmod(hash, n) formula) → each task writes exactly one
            # bucket dir; the whole merge has ONE shuffle.
            delta.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(staging)
            staged = _list_bucket_files(staging)
            if not staged:
                return snap.snapshot_id  # empty batch → no new snapshot
            staged_version = snap.current_schema_version

            def build(cur: Snapshot) -> Snapshot | None:
                # Rebuild against the CURRENT snapshot: staged delta files
                # are parent-independent, so a lost commit race re-attaches
                # them to the winner's buckets instead of clobbering it.
                nb = {b: list(fs) for b, fs in cur.buckets.items()}
                for b, p in staged:
                    nb.setdefault(str(b), []).append(
                        {"path": p, "schema_version": staged_version,
                         "kind": "delta"}
                    )
                nb = self._compact_buckets(
                    cur, nb, cur.snapshot_id + 1, compact_threshold
                )
                return self._child_snapshot(cur, nb, properties)

            return self._commit_retrying(build)
        else:
            # Without affected_buckets, stage the changes ONCE,
            # partitioned by bucket: the staged dirs reveal the affected
            # buckets (the pruning step that makes CoW merges O(touched
            # data)) AND the winner resolution below re-reads the cheap
            # staged parquet — the expensive upstream pipeline (dedup +
            # Arrow UDFs) executes exactly one time instead of once for
            # discovery and again for the write.
            if affected_buckets is not None:
                # the caller already knows the touched buckets (the rollup
                # from its partials, ReplicateJob from a key-only pass) —
                # skip the discovery staging write; changes execute once,
                # inside the rewrite below
                affected = sorted(set(affected_buckets))
                if not affected:
                    return snap.snapshot_id
                staged_changes = changes.select(
                    *[F.col(f.name).cast(f.dataType).alias(f.name)
                      for f in target_schema.fields],
                    F.col(delete_col).cast("boolean").alias(delete_col),
                )
            else:
                chg_staging = staging + "-chg"
                changes.select(
                    *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target_schema.fields],
                    F.col(delete_col).cast("boolean").alias(delete_col),
                    F.col(_BUCKET_COL),
                ).write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(chg_staging)
                staged_chg = _list_bucket_files(chg_staging)
                if not staged_chg:
                    return snap.snapshot_id
                affected = sorted({b for b, _ in staged_chg})
                chg_schema = T.StructType(
                    target_schema.fields
                    + [T.StructField(delete_col, T.BooleanType(), False)]
                )
                staged_changes = self.spark.read.schema(chg_schema).parquet(
                    *[p for _, p in staged_chg]
                )
            if complete:
                # caller-supplied post-image: no old read, no winner
                # shuffle — the rows ARE the new bucket contents
                if affected_buckets is None:
                    raise ValueError("complete=True requires affected_buckets")
                new_data = (
                    staged_changes.filter(~F.col(delete_col))
                    .drop(delete_col)
                    .withColumn(_BUCKET_COL, bucket)
                    .repartition(max(len(affected), 1), F.col(_BUCKET_COL))
                )
            else:
                new_data = self._cow_post_image(snap, affected, staged_changes, delete_col)
            new_data.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(staging)
            staged_cow = _list_bucket_files(staging)
            # The rewrite may only land inside `affected` — a change row
            # hashing OUTSIDE the caller-supplied set would be APPENDED to
            # an uncleared bucket without merging against its keys (silent
            # duplicates). Cheap check (a directory listing), loud failure.
            stray = sorted({b for b, _ in staged_cow} - {int(b) for b in affected})
            if stray:
                raise ValueError(
                    f"merge changes landed in buckets {stray} outside the "
                    f"caller-supplied affected_buckets — refusing to commit "
                    "(would duplicate keys in unmerged buckets)"
                )
            staged_version = snap.current_schema_version
            base_view = {str(b): snap.buckets.get(str(b)) for b in affected}

            def build(cur: Snapshot) -> Snapshot | None:
                # CoW rewrote the affected buckets against a point-in-time
                # read; a concurrent commit that touched ANY of them makes
                # the rewrite stale — refuse the rebuild (None → the
                # conflict propagates). Commits to other buckets are safe
                # to rebase over.
                for b in affected:
                    if cur.buckets.get(str(b)) != base_view[str(b)]:
                        return None
                nb = dict(cur.buckets)
                for b in affected:
                    nb[str(b)] = []
                for b, p in staged_cow:
                    nb.setdefault(str(b), []).append(
                        {"path": p, "schema_version": staged_version,
                         "kind": "base"}
                    )
                for b in affected:  # bucket emptied entirely by deletes
                    if not nb[str(b)]:
                        del nb[str(b)]
                return self._child_snapshot(cur, nb, properties)

            return self._commit_retrying(build)

    def _cow_post_image(
        self, snap: Snapshot, affected: list[int], changes: DataFrame, delete_col: str
    ) -> DataFrame:
        """The new contents of the ``affected`` CoW buckets, ready for the
        bucket-partitioned write: old rows ∪ changes, ONE exchange, then
        the per-key winner by ``max_by(payload, (seq, side))`` on that
        partitioning. Under murmur3 the exchange is on the keys with
        ``num_buckets`` partitions (``pmod(hash(keys), n)`` is Spark's
        HashPartitioning formula, so partition index == bucket id); other
        formulas exchange on the bucket column. Either way the grouping
        keys include every partitioning column, so the aggregation and
        the write add no second exchange, and each bucket is written by
        one task (one file per rewritten bucket)."""
        keys = snap.key_cols
        data_cols = [f.name for f in snap.schema().fields]
        bucket = _placement(snap, keys, snap.num_buckets).alias(_BUCKET_COL)
        old = self.read_buckets(snap, affected).select(
            *data_cols, F.lit(False).alias(delete_col), F.lit(0).alias("__src"), bucket
        )
        new = changes.select(*data_cols, delete_col, F.lit(1).alias("__src"), bucket)
        both = old.unionByName(new)
        if snap.bucket_formula == "murmur3":
            both = both.repartition(snap.num_buckets, *keys)
        else:
            both = both.repartition(max(len(affected), 1), F.col(_BUCKET_COL))
        values = [c for c in data_cols if c not in keys]
        payload = F.struct(*[F.col(c).alias(c) for c in values + [delete_col]])
        if snap.seq_col:
            priority = F.struct(F.col(snap.seq_col).alias("s"), F.col("__src").alias("c"))
        else:
            priority = F.struct(F.col("__src").alias("c"))
        # bucket leads the grouping so the aggregate's output ordering
        # already satisfies the partitioned write's sort
        winners = both.groupBy(_BUCKET_COL, *keys).agg(
            F.max_by(payload, priority).alias("__w")
        )
        return winners.filter(~F.col(f"__w.{delete_col}")).select(
            *keys, *[F.col(f"__w.{c}").alias(c) for c in values], _BUCKET_COL
        )

    def _child_snapshot(
        self,
        cur: Snapshot,
        buckets: dict[str, list[dict[str, Any]]],
        properties: dict[str, Any] | None,
    ) -> Snapshot:
        return Snapshot(
            snapshot_id=cur.snapshot_id + 1,
            parent_id=cur.snapshot_id,
            schema_versions=cur.schema_versions,
            current_schema_version=cur.current_schema_version,
            buckets=buckets,
            num_buckets=cur.num_buckets,
            key_cols=cur.key_cols,
            properties={**cur.properties, **(properties or {})},
            committed_ts=time.time(),
            seq_col=cur.seq_col,
            write_mode=cur.write_mode,
            bucket_formula=cur.bucket_formula,
        )

    def _commit_retrying(
        self,
        build,
        attempts: int = 5,
        backoff: float = 0.05,
    ) -> int:
        """Optimistic-concurrency commit loop — the analog of the
        reference wrapping every external call in ``retry.Do``
        (``core/writer/milvus_handler.go:83-112``).

        ``build(current_snapshot)`` returns the child snapshot to commit,
        or None when rebasing over the winner is impossible (CoW whose
        affected buckets were concurrently modified). On
        ``CommitConflictError`` the table is refreshed to the winner and
        the commit REBUILT against it — never blindly re-swapped, which
        would clobber the concurrent writer's buckets — with exponential
        backoff between attempts.
        """
        last: CommitConflictError | None = None
        for attempt in range(attempts):
            new_snap = build(self.snap)
            if new_snap is None:
                raise last or CommitConflictError(
                    "concurrent commit touched the rewritten buckets"
                )
            try:
                self._commit(new_snap)
                return new_snap.snapshot_id
            except CommitConflictError as e:
                last = e
                if attempt == attempts - 1:
                    raise
                time.sleep(backoff * (2 ** attempt))
                self.refresh()
        raise last  # unreachable; satisfies the type checker

    def _compact_buckets(
        self,
        snap: Snapshot,
        buckets: dict[str, list[dict[str, Any]]],
        new_id: int,
        threshold: int,
        mode: str = "minor",
    ) -> dict[str, list[dict[str, Any]]]:
        """Compact buckets whose delta count exceeds ``threshold``.

        - **minor** (the inline default): squash each due bucket's DELTA
          files into ONE delta file — resolution among deltas only, delete
          markers kept (they must still mask base rows). Cost is
          O(delta bytes), independent of table size — the property that
          keeps sustained 10^10-event throughput from decaying as the
          table grows (LSM minor compaction / Milvus segment merge).
        - **major**: fully resolve base+deltas into one base file per
          bucket, dropping tombstones — O(bucket); run as an explicit
          maintenance op (:meth:`compact`, the Flush/compaction analog of
          the reference's op channel).

        One Spark job covers all due buckets.
        """
        due = [
            b
            for b, fs in buckets.items()
            if sum(1 for f in fs if f.get("kind", "base") == "delta") > threshold
        ]
        if not due:
            return buckets
        keys = snap.key_cols
        seq = snap.seq_col
        bucket = _placement(snap, keys, snap.num_buckets)
        staging = os.path.join(
            self.root, "data", f"compact-{new_id}-{uuid.uuid4().hex[:8]}"
        )
        if mode == "minor":
            delta_files = [
                f for b in due for f in buckets[b] if f.get("kind", "base") == "delta"
            ]
            deltas = self._read_files(snap, delta_files, with_deleted=True)
            payload_cols = [c for c in deltas.columns if c not in keys]
            payload = F.struct(*[F.col(c).alias(c) for c in payload_cols])
            squashed = (
                deltas.groupBy(*keys)
                .agg(F.max_by(payload, F.col(seq)).alias("__w"))
                .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in payload_cols])
            )
            out_kind = "delta"
            resolved = squashed
        else:
            tmp_snap = Snapshot(**{**snap.__dict__, "buckets": buckets})
            resolved = self.read_buckets(tmp_snap, [int(b) for b in due])
            out_kind = "base"
        (
            resolved.withColumn(_BUCKET_COL, bucket)
            .repartition(len(due), F.col(_BUCKET_COL))
            .write.partitionBy(_BUCKET_COL)
            .mode("overwrite")
            .parquet(staging)
        )
        for b in due:
            if mode == "minor":
                buckets[b] = [
                    f for f in buckets[b] if f.get("kind", "base") == "base"
                ]
            else:
                buckets[b] = []
        for b, p in _list_bucket_files(staging):
            buckets.setdefault(str(b), []).append(
                {"path": p, "schema_version": snap.current_schema_version,
                 "kind": out_kind}
            )
        for b in due:
            if not buckets[b]:
                del buckets[b]
        return buckets

    def rebucket(self, new_num_buckets: int) -> int:
        """Change the table's bucket count — the N↔M channel-remap analog
        (``core/util/channel_mapping.go``; SURVEY §2.4 O6). One shuffle:
        resolve the current state, repartition by the new bucket formula,
        rewrite as base files. Run as maintenance when a table outgrows
        its bucket count (bucket size should stay ~file-sized at scale)."""
        assert self.snap is not None
        snap = self.snap
        data = self.read()
        keys = snap.key_cols
        new_id = snap.snapshot_id + 1
        bucket = _placement(snap, keys, new_num_buckets)
        staging = os.path.join(
            self.root, "data", f"rebucket-{new_id}-{uuid.uuid4().hex[:8]}"
        )
        (
            data.withColumn(_BUCKET_COL, bucket)
            # cluster on the bucket VALUE (not the raw keys) so one task
            # writes one bucket dir under any placement formula
            .repartition(new_num_buckets, F.col(_BUCKET_COL))
            .write.partitionBy(_BUCKET_COL)
            .mode("overwrite")
            .parquet(staging)
        )
        buckets: dict[str, list[dict[str, Any]]] = {}
        for b, p in _list_bucket_files(staging):
            buckets.setdefault(str(b), []).append(
                {"path": p, "schema_version": snap.current_schema_version,
                 "kind": "base"}
            )
        new_snap = Snapshot(
            **{
                **snap.__dict__,
                "snapshot_id": new_id,
                "parent_id": snap.snapshot_id,
                "buckets": buckets,
                "num_buckets": new_num_buckets,
                "committed_ts": time.time(),
            }
        )
        self._commit(new_snap)
        return new_id

    def compact(self, threshold: int = 0, mode: str = "major") -> int:
        """Maintenance compaction of all buckets with more than
        ``threshold`` delta files; returns the new snapshot id (or current
        if nothing due). ``mode="major"`` resolves into base files and
        drops tombstones; ``mode="minor"`` squashes deltas only."""
        assert self.snap is not None
        snap = self.snap
        new_id = snap.snapshot_id + 1
        buckets = self._compact_buckets(
            snap, {b: list(fs) for b, fs in snap.buckets.items()}, new_id, threshold,
            mode=mode,
        )
        if buckets == snap.buckets:
            return snap.snapshot_id
        new_snap = Snapshot(
            **{
                **snap.__dict__,
                "snapshot_id": new_id,
                "parent_id": snap.snapshot_id,
                "buckets": buckets,
                "committed_ts": time.time(),
            }
        )
        self._commit(new_snap)
        return new_id

    def expire_snapshots(
        self, keep_last: int = 10, orphan_grace_seconds: float = 3600.0
    ) -> dict[str, int]:
        """Maintenance GC — the Iceberg ``expire_snapshots`` +
        ``remove_orphan_files`` analog, with Iceberg's safety split:

        - **expire**: delete manifests older than the newest ``keep_last``
          and every data file referenced ONLY by those removed snapshots.
          Such files were committed once, so they can never be the staged
          output of an in-flight merge — always safe.
        - **orphan GC**: files referenced by NO manifest (crashed writers'
          staging leftovers) are deleted only when older than
          ``orphan_grace_seconds`` (mtime). A merge racing this call in
          another thread has young staged files — the grace window keeps
          GC from deleting them before their commit (the same min-age
          guard Iceberg's remove_orphan_files carries). The per-table
          commit lock is held throughout so the manifest set is a
          consistent cut.

        Without GC a table fed 10^10 events accumulates superseded
        base/delta files forever — compaction re-links data into new
        files but never deletes old ones, so storage grows O(total bytes
        ever written), not O(live). Time travel shrinks to the kept
        window. Driver-side file ops: manifests are tiny and data-file
        counts are O(buckets × files per bucket), never O(rows).
        """
        assert self.snap is not None
        with _commit_lock(self.root):
            snaps = self.snapshots()
            keep = set(snaps[-keep_last:]) | {self.snap.snapshot_id}

            def refs(sids) -> set[str]:
                out: set[str] = set()
                for sid in sids:
                    s = _read_snapshot(self.root, sid)
                    assert s is not None
                    for files in s.buckets.values():
                        for f in files:
                            out.add(os.path.abspath(f["path"]))
                return out

            kept_refs = refs(keep)
            removed_refs = refs([s for s in snaps if s not in keep])
            removed_snaps = 0
            for sid in snaps:
                if sid not in keep:
                    os.remove(os.path.join(self.root, "snapshots", f"v{sid}.json"))
                    removed_snaps += 1
            removed_files = 0
            removed_orphans = 0
            now = time.time()
            data_root = os.path.join(self.root, "data")
            for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
                for fn in filenames:
                    p = os.path.abspath(os.path.join(dirpath, fn))
                    gc_able = (
                        fn.endswith(".parquet")
                        or fn.startswith("_SUCCESS")
                        or fn.startswith(".")
                    )
                    if not gc_able or p in kept_refs:
                        continue
                    if p in removed_refs:
                        os.remove(p)  # expired: committed once, now unreachable
                        removed_files += 1
                    else:
                        # orphan (never committed): only past the grace
                        # window — young files may be an in-flight merge's
                        # staging output
                        try:
                            if now - os.path.getmtime(p) > orphan_grace_seconds:
                                os.remove(p)
                                removed_orphans += 1
                        except FileNotFoundError:
                            pass  # concurrent writer moved/cleaned it
                # empty-dir cleanup honors the same grace window: a young
                # empty dir may be an in-flight write's just-created
                # staging/_temporary tree
                try:
                    if (
                        dirpath != data_root
                        and not os.listdir(dirpath)
                        and now - os.path.getmtime(dirpath) > orphan_grace_seconds
                    ):
                        os.rmdir(dirpath)
                except (FileNotFoundError, OSError):
                    pass  # concurrent writer repopulated or removed it
        return {
            "removed_snapshots": removed_snaps,
            "removed_files": removed_files,
            "removed_orphans": removed_orphans,
        }

    def overwrite(self, df: DataFrame, properties: dict[str, Any] | None = None) -> int:
        """Full rewrite (INSERT OVERWRITE) — used for bootstrap loads."""
        assert self.snap is not None
        snap = self.snap
        keys = snap.key_cols
        bucket = _placement(snap, keys, snap.num_buckets)
        new_id = snap.snapshot_id + 1
        staging = os.path.join(self.root, "data", f"snap-{new_id}-{uuid.uuid4().hex[:8]}")
        target_schema = snap.schema()
        (
            df.select(*[F.col(f.name).cast(f.dataType) for f in target_schema.fields])
            .withColumn(_BUCKET_COL, bucket)
            .repartition(snap.num_buckets, F.col(_BUCKET_COL))
            .write.partitionBy(_BUCKET_COL)
            .mode("overwrite")
            .parquet(staging)
        )
        buckets: dict[str, list[dict[str, Any]]] = {}
        for b, p in _list_bucket_files(staging):
            buckets.setdefault(str(b), []).append(
                {"path": p, "schema_version": snap.current_schema_version, "kind": "base"}
            )
        # INSERT OVERWRITE replaces the table wholesale, so rebasing over
        # a concurrent commit is trivially safe: the staged buckets win.
        return self._commit_retrying(
            lambda cur: self._child_snapshot(cur, buckets, properties)
        )

    # -------------------------------------------------- schema evolution
    def add_column(self, name: str, dtype: str, if_not_exists: bool = True) -> int:
        """ALTER TABLE ADD COLUMN — metadata-only commit, no data rewrite.
        Old files read the new column as null (Iceberg semantics)."""
        assert self.snap is not None
        cur = self.snap.schema()
        if name in cur.fieldNames():
            if if_not_exists:
                return self.snap.snapshot_id
            raise ValueError(f"column {name} exists")
        new_schema = T.StructType(cur.fields + [T.StructField(name, _parse_type(dtype), True)])
        return self._evolve_schema(new_schema, {"ddl": f"add_column {name} {dtype}"})

    def widen_column(self, name: str, dtype: str) -> int:
        """ALTER TABLE ALTER COLUMN TYPE — int→long, float→double,
        int→double etc. Metadata-only; old files upcast on read."""
        assert self.snap is not None
        cur = self.snap.schema()
        if name not in cur.fieldNames():
            raise ValueError(f"no column {name}")
        new_t = _parse_type(dtype)
        fields = [
            T.StructField(f.name, new_t if f.name == name else f.dataType, f.nullable)
            for f in cur.fields
        ]
        if cur[name].dataType == new_t:
            return self.snap.snapshot_id  # idempotent replay of a widen event
        if not _is_widening(cur[name].dataType, new_t):
            raise ValueError(f"non-widening type change {cur[name].dataType} -> {new_t}")
        return self._evolve_schema(T.StructType(fields), {"ddl": f"type_widen {name} {dtype}"})

    def _evolve_schema(self, new_schema: T.StructType, props: dict[str, Any]) -> int:
        assert self.snap is not None
        snap = self.snap
        versions = snap.schema_versions + [
            {"version": len(snap.schema_versions), "schema": new_schema.toDDL()}
        ]
        new_snap = Snapshot(
            snapshot_id=snap.snapshot_id + 1,
            parent_id=snap.snapshot_id,
            schema_versions=versions,
            current_schema_version=len(versions) - 1,
            buckets=snap.buckets,
            num_buckets=snap.num_buckets,
            key_cols=snap.key_cols,
            properties={**snap.properties, **props},
            committed_ts=time.time(),
            seq_col=snap.seq_col,
            write_mode=snap.write_mode,
            bucket_formula=snap.bucket_formula,
        )
        self._commit(new_snap)
        return new_snap.snapshot_id

    def drop(self) -> None:
        """DROP TABLE — tombstone the pointer (files kept for time travel,
        like Iceberg's drop with purge=false)."""
        _swap_pointer(self.root, -1, expect=self.snap.snapshot_id if self.snap else None)
        self.snap = None

    # ------------------------------------------------------------ commit
    def _commit(self, new_snap: Snapshot) -> None:
        """Two-phase optimistic commit. The snapshot-id namespace is the
        lock: ``v{id}.json`` is created EXCLUSIVELY (os.link, atomic on
        POSIX), so a losing writer can never clobber the winner's
        already-committed snapshot file — it gets CommitConflictError
        before touching anything the pointer can reach. ``_commit_lock``
        serializes the write-and-swap across threads of one driver (a
        per-table mutex) AND across processes (``fcntl.flock`` on
        ``<root>/_lock``), so the orphan-replace branch of
        ``_write_snapshot_exclusive`` can never interleave with a live
        racer in another process.
        """
        with _commit_lock(self.root):
            expect = self.snap.snapshot_id if self.snap else None
            _write_snapshot_exclusive(self.root, new_snap, expect)
            _swap_pointer(self.root, new_snap.snapshot_id, expect=expect)
        self.snap = new_snap


# ---------------------------------------------------------------- helpers


def _placement(snap: Snapshot, key_cols: list, num_buckets: int):
    """The table's bucket expression with every key column CAST to its
    schema type first, and the leading key's TYPE resolved from the
    current schema — timehash placement is computed differently for
    instants (UTC epoch arithmetic) vs zone-free date/ntz calendar
    fields (``functions/hashing.py:placement_expr`` documents why), and
    murmur3 hashes int/bigint (or ntz/instant) encodings of the same
    value differently. merge() computes placement on the PRE-cast
    changes (the target-schema cast happens later in the write select),
    so without this cast a caller whose column types differ from the
    table's would mis-place or fail analysis (ADVICE r4 #1). Catalyst
    removes the cast when types already match (every read-side caller)."""
    sch = snap.schema()
    cols = [
        F.col(c).cast(sch[c].dataType) if isinstance(c, str) else c
        for c in key_cols
    ]
    tt = None
    if snap.bucket_formula.startswith("timehash:"):
        tt = sch[key_cols[0]].dataType.simpleString()
    return placement_expr(snap.bucket_formula, cols, num_buckets, time_type=tt)


_COMMIT_LOCKS: dict[str, threading.Lock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


@contextmanager
def _commit_lock(root: str):
    """Per-table commit mutex: an in-process ``threading.Lock`` (threads
    of one driver) PLUS an ``fcntl.flock`` on ``<root>/_lock`` (writers in
    other processes). The flock closes the cross-process window in
    ``_write_snapshot_exclusive``'s orphan-replace branch: without it, two
    processes racing the same snapshot id can interleave so the loser
    reads the pointer before the winner swaps it and replaces the
    winner's just-committed manifest (lost update). The lock file is a
    separate stable inode — flocking ``_current`` itself would be wrong
    because ``os.replace`` swaps its inode out from under the lock.
    Advisory flock suffices: every writer goes through this function
    (single-format discipline, as with Iceberg's catalog lock)."""
    with _COMMIT_LOCKS_GUARD:
        tlock = _COMMIT_LOCKS.setdefault(os.path.abspath(root), threading.Lock())
    with tlock:
        fd = os.open(os.path.join(root, "_lock"), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)


def _write_snapshot_exclusive(root: str, snap: Snapshot, expect: int | None) -> None:
    p = os.path.join(root, "snapshots", f"v{snap.snapshot_id}.json")
    tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(snap.__dict__, f)
    try:
        os.link(tmp, p)  # atomic create-if-absent
    except FileExistsError:
        # A v{id}.json already exists. If the pointer still reads
        # `expect`, nobody committed it — it is an orphan of a writer
        # that crashed between snapshot write and pointer swap (the
        # commit lock — thread mutex + cross-process flock — rules out a
        # live racer) — safe to replace. Otherwise a concurrent writer
        # won the id: conflict.
        cur = os.path.join(root, "_current")
        with open(cur) as f:
            actual = json.load(f)["snapshot_id"]
        if expect is not None and actual != expect:
            os.unlink(tmp)
            raise CommitConflictError(
                f"snapshot v{snap.snapshot_id} already committed "
                f"(pointer at {actual}, expected {expect})"
            )
        os.replace(tmp, p)
        return
    os.unlink(tmp)


def _read_snapshot(root: str, sid: int) -> Snapshot | None:
    if sid < 0:
        return None
    with open(os.path.join(root, "snapshots", f"v{sid}.json")) as f:
        return Snapshot(**json.load(f))


def _swap_pointer(root: str, sid: int, expect: int | None) -> None:
    cur = os.path.join(root, "_current")
    if expect is not None:
        with open(cur) as f:
            actual = json.load(f)["snapshot_id"]
        if actual != expect:
            raise CommitConflictError(f"expected snapshot {expect}, found {actual}")
    tmp = cur + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"snapshot_id": sid}, f)
    os.replace(tmp, cur)  # atomic on POSIX


def _list_bucket_files(staging: str) -> list[tuple[int, str]]:
    out = []
    for entry in os.listdir(staging):
        if not entry.startswith(f"{_BUCKET_COL}="):
            continue
        b = int(entry.split("=", 1)[1])
        d = os.path.join(staging, entry)
        for fn in os.listdir(d):
            if fn.endswith(".parquet"):
                out.append((b, os.path.join(d, fn)))
    return out


@functools.lru_cache(maxsize=256)
def _parse_schema(ddl: str) -> T.StructType:
    """Parse a manifest schema. The parse is a JVM round trip and a merge
    asks for the same schema several times, so parses are memoized;
    callers must treat the result as read-only."""
    return T.StructType.fromDDL(ddl)


def _parse_type(dtype: str) -> T.DataType:
    return T.StructType.fromDDL(f"x {dtype}")[0].dataType


_WIDEN_OK = {
    ("int", "bigint"), ("int", "double"), ("bigint", "double"),
    ("float", "double"), ("smallint", "int"), ("smallint", "bigint"),
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
}


def _is_widening(old: T.DataType, new: T.DataType) -> bool:
    return (old.simpleString(), new.simpleString()) in _WIDEN_OK
