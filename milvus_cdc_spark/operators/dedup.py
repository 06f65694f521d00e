"""Last-writer-wins dedup over the event sequence — the semantic core.

Replaces three reference mechanisms at once (SURVEY.md §2.4):

- intra-pack sort with Delete-before-Insert tie break
  (``core/reader/replicate_channel_manager.go:1451-1454``),
- per-target-channel serialized apply
  (``core/writer/replicate_message_manager.go:84-109``),
- ts-monotonicity rewrite (``:1846-1913``) — impossible to need here
  because ``event_seq`` is a total order per key by log construction.

Two implementations, identical semantics (cross-checked in tests):

- ``agg`` (default): ``groupBy(key).agg(max_by(struct(*), priority))`` —
  a hash aggregation with MAP-SIDE PARTIAL combine, so intra-partition
  duplicates collapse before the shuffle. On skewed logs (one hot repo
  updated constantly) the shuffle carries one row per key per map task
  instead of every event — the decisive scale property.
- ``window``: ``row_number() over (partition by key order by seq desc)``
  — the textbook form; sorts each group, shuffles every event.

Ties (impossible when the log carries a global event_seq): the priority
struct prefers the non-delete, reproducing the reference's
Delete-before-Insert apply order at equal timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(
    events: DataFrame,
    key_cols: list[str],
    seq_col: str = "event_seq",
    type_col: str = "event_type",
    delete_type: str = "delete",
    impl: str = "agg",
    num_partitions: int | None = None,
) -> DataFrame:
    """Keep the winning (max-seq) event per key; adds ``__deleted``.

    Output has exactly one row per key — the contract
    :meth:`IceboxTable.merge` requires of a table without ``seq_col``
    (one with ``seq_col`` resolves several change rows per key itself).

    ``num_partitions`` pins the shuffle to an explicit
    ``repartition(n, *key_cols)``; the groupBy/window reuses that
    clustering (no second exchange), and because Spark's hash
    partitioning is ``pmod(hash(keys), n)`` — the same formula as
    ``stable_bucket`` — partition index == table bucket id, so a
    downstream bucket-partitioned write needs no exchange either.
    """
    if num_partitions:
        events = events.repartition(num_partitions, *key_cols)
    is_delete = F.col(type_col) == delete_type
    if impl == "window":
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(seq_col).desc(), F.when(is_delete, 1).otherwise(0).asc()
        )
        return (
            events.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__deleted", is_delete)
        )
    other_cols = [c for c in events.columns if c not in key_cols]
    priority = F.struct(
        F.col(seq_col).alias("s"),
        F.when(is_delete, 0).otherwise(1).alias("d"),  # non-delete wins ties
    )
    payload = F.struct(*[F.col(c).alias(c) for c in other_cols])
    won = events.groupBy(*key_cols).agg(F.max_by(payload, priority).alias("__w"))
    return won.select(
        *key_cols, *[F.col(f"__w.{c}").alias(c) for c in other_cols]
    ).withColumn("__deleted", is_delete)
