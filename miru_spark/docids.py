"""Dense doc-id ("prime order") assignment.

The reference gives every document a dense int id equal to its
insertion/time position inside a partition ("prime ordering",
enterstudio/miru README.md:6; ids handed out by the writer cursor,
``miru-writer/.../AmzaPartitionIdProvider.java:118-138``). Scoring,
latest/first semantics and the (score desc, docint desc) tie-break all
depend on that ordering.

Here the stable identity is ``(conv_id, turn_idx)`` and ``docint`` is the
dense rank of that pair under lexicographic ordering. A naive global
``row_number() OVER (ORDER BY conv_id, turn_idx)`` collapses to a single
partition — fine for tests, fatal at 10^12 turns. The dense rank
decomposes into::

    docint = (#turns of all conversations with conv_id' < conv_id)
             + rank of turn_idx within the conversation

(on contiguous transcripts — turn_idx = 0..n-1, the usual invariant —
the within-conv rank equals ``turn_idx``; computing the rank keeps ids
dense and collision-free when turns have been filtered or expunged)

so the global sort is only over the *conversations* table (1000-10000×
smaller than turns), and the per-turn work is an equi-join on conv_id —
shuffle on a high-cardinality key, no global sort of turns. This is the
same trick as the reference's per-partition id cursor, computed
declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from miru_spark.session import local_df

#: conv relations up to this many conversations (~90 B a row at a dozen
#: turns: well under the session's 64 MiB broadcast threshold) are
#: broadcast explicitly — see with_docint
BROADCAST_MAX_CONVS = 500_000

# DuckDB twin used by oracle_sql() strings; {src} is the transcripts relation.
DUCKDB_DOCINT = """
SELECT t.*,
       (COALESCE(o.off, 0)
        + ROW_NUMBER() OVER (PARTITION BY t.conv_id ORDER BY t.turn_idx)
        - 1)::BIGINT AS docint
FROM {src} t
JOIN (
    SELECT conv_id,
           SUM(n) OVER (ORDER BY conv_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off
    FROM (SELECT conv_id, COUNT(*) AS n FROM {src} GROUP BY conv_id)
) o USING (conv_id)
"""


def with_docint(
    turns: DataFrame, by: str | None = None, start: dict | None = None
) -> DataFrame:
    """Add a dense ``docint`` column = rank of (conv_id, turn_idx).

    Deterministic and parallelism-independent, with NO unpartitioned
    window at any size: a two-level prefix sum. Range-partition the
    convs table by conv_id, per-partition local prefix (a window WITH a
    partition spec — pure JVM), then add per-partition base offsets
    (one tiny collect of P partition totals, cumulated driver-side,
    broadcast back). The docint values are independent of where the
    range boundaries fall, so sampling-based range partitioning cannot
    perturb them; the ranged convs relation is persisted across its two
    uses so the sampled partitioning is computed once (eviction replays
    the same lineage, which is safe). The global-sort fraction of the
    job is the convs relation — 3-4 orders of magnitude smaller than
    turns — and even that is spread over P tasks. The persisted
    relation rides on the result; :func:`release_docint` frees it once
    the result has been written or cached.

    ``by`` names a column that is constant per conversation (a store's
    shard): the ranks then restart at each of its values, and a value
    ``v``'s docints are dense from ``start[v]`` (0 when absent) — one
    pass gives every shard the ids a separate call per shard would.
    The result's ``_docint_rows`` maps each ``by`` value (None without
    ``by``) to its row count, read from the same totals collect.

    Duplicate ``(conv_id, turn_idx)`` keys fail the call (the conv-level
    aggregate raises while the totals are collected — no extra job):
    they would otherwise alias one docint.
    """
    spark = turns.sparkSession
    keys = [by] if by else []
    start = start or {}
    tix = F.sort_array(F.collect_list("turn_idx"))
    convs = turns.groupBy(*keys, "conv_id").agg(
        F.when(
            F.size(tix) != F.size(F.array_distinct(tix)),
            F.raise_error(
                F.concat(
                    F.lit("duplicate (conv_id, turn_idx) key in conv_id "),
                    F.col("conv_id").cast("string"),
                )
            ),
        )
        .otherwise(F.count(F.lit(1)))
        .alias("_n"),
        tix.alias("_tix"),
    )
    p = max(spark.sparkContext.defaultParallelism, 2)
    local = (
        convs.repartitionByRange(p, *keys, "conv_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    w = (
        Window.partitionBy("_pid", *keys)
        .orderBy("conv_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    try:
        totals = local.groupBy("_pid", *keys).agg(
            F.sum("_n").alias("_t"), F.count(F.lit(1)).alias("_c")
        ).collect()
    except Exception:
        local.unpersist()
        raise
    # a key's partitions hold ascending conv_id ranges, so its base in
    # partition i is its start plus its row totals in partitions < i
    acc: dict = {}
    bases = []
    for r in sorted(totals, key=lambda r: r["_pid"]):
        k = r[by] if by else None
        a = acc.get(k, start.get(k, 0))
        bases.append((int(r["_pid"]), *([k] if by else []), a))
        acc[k] = a + int(r["_t"])
    key_schema = f", {by} {turns.schema[by].dataType.simpleString()}" if by else ""
    base_df = F.broadcast(
        local_df(
            spark,
            bases or [(0, *([0] if by else []), 0)],
            f"_pid int{key_schema}, _base long",
        )
    )
    offsets = (
        local.withColumn("_loff", F.coalesce(F.sum("_n").over(w), F.lit(0)))
        .join(base_df, ["_pid", *keys])
        .select(
            *keys,
            "conv_id",
            (F.col("_loff") + F.col("_base")).alias("_off"),
            "_tix",
        )
    )
    # Within-conv rank instead of raw turn_idx: identical on contiguous
    # transcripts (turn_idx = 0..n-1), and collision-free when turns
    # have been filtered/expunged (gappy turn_idx would otherwise spill
    # past the conversation's counted offset into the next conv's id
    # range). The rank is looked up in the conv's SORTED turn_idx array
    # (carried on the tiny conv-level relation from the same agg) — a
    # per-row array_position, NOT a window: the former
    # row_number() OVER (PARTITION BY conv_id) shuffled EVERY turn row,
    # text included, purely to rank ~12 ints per group (round-5 paired
    # harness attributed ~4 s of the 8-core build wall to it). With the
    # conv relation under the broadcast threshold the turns side of
    # this join is completely exchange-free; above it, Catalyst falls
    # back to the same conv_id hash shuffle the window needed anyway —
    # never worse. The broadcast is explicit when the conv count (known
    # from the totals) is small: left to the adaptive planner, the same
    # store append on the same input wrote 1 or 3 files per table from
    # run to run, and the size-tiered merge plan (which reads unit
    # bytes) changed with it. With the hint the turns always keep their
    # own partitioning.
    if sum(int(r["_c"]) for r in totals) <= BROADCAST_MAX_CONVS:
        offsets = F.broadcast(offsets)
    out = (
        turns.join(offsets, [*keys, "conv_id"])
        .withColumn(
            "docint",
            (
                F.col("_off")
                + F.expr("array_position(_tix, turn_idx)")
                - F.lit(1)
            ).cast("long"),
        )
        .drop("_off", "_tix")
    )
    out._docint_convs = local
    out._docint_rows = {k: n - start.get(k, 0) for k, n in acc.items()}
    return out


def release_docint(df: DataFrame) -> None:
    """Unpersist the conv relation :func:`with_docint` persisted for
    ``df`` (a no-op for any other frame). Call it once ``df``'s docints
    are written or cached; a later re-read would replay the lineage."""
    convs = getattr(df, "_docint_convs", None)
    if convs is not None:
        convs.unpersist()
