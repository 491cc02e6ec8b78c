"""Frontier primitives: deterministic sequencing, upsert-merge, routing.

The reference's frontier is "Mongo docs where the flag is false"
(Borges/spiders/ECS/metadata.py:35, Elsevier/paper_xml.py:203); its
global ordering is cursor insertion order. Here both become explicit:
an Iceberg/Parquet `frontier` table plus a *total, parallelism-invariant
discovery order* (`discovered_seq`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# HTTP statuses retried with backoff; every other non-200 status is
# permanent
TRANSIENT_STATUSES = (429, 500, 502, 503)


def add_sequence_with_total(
    df: DataFrame, order_cols: list, col_name: str, start: int = 0
) -> tuple[DataFrame, int]:
    """Assign a dense global sequence in `order_cols` order, distributed
    and Arrow-only (no per-row Python, no single-partition window).

    Two passes over a pinned global range-sort:
      1. count rows per sorted partition (tiny collect: one row per
         partition) -> cumulative offsets, broadcast;
      2. mapInPandas assigns offset[pid] + within-partition position,
         accumulated across the partition's Arrow batches.

    The assigned numbers depend only on the total order of the rows —
    not on partition boundaries or core count — so the sequence is
    identical at local[8] and local[32] (and N vs 4N executors), which
    the determinism contract requires. localCheckpoint pins the range
    boundaries so both passes see the same partitioning.

    Returns (df_with_seq, total_rows) — the total falls out of pass 1
    for free, saving callers a separate count() job.
    """
    spark = df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    sorted_df = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {r["_pid"]: r["cnt"] for r in sorted_df.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    total = acc - start
    bc = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        [f for f in sorted_df.schema.fields if f.name != "_pid"]
        + [T.StructField(col_name, T.LongType(), False)]
    )

    def assign(it):
        pos = 0
        base = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if base is None:
                base = bc.value[int(pdf["_pid"].iloc[0])]
            import numpy as np

            seqs = base + pos + np.arange(len(pdf), dtype="int64")
            pos += len(pdf)
            out = pdf.drop(columns=["_pid"]).copy()
            out[col_name] = seqs
            yield out

    return sorted_df.mapInPandas(assign, out_schema), total


def _bucketed_counts(counts: DataFrame, group_col: str, dtype) -> DataFrame:
    """Attach a `_gb` bucket id that is a MONOTONE non-decreasing
    function of the group key in its ASC sort order — the property that
    lets a global cumsum decompose into (per-bucket cumsum) + (cumsum
    over bucket totals) without changing any assigned number.

    Non-negative numeric keys bucket by floor(g / 4096) (value-derived,
    job-free). String keys derive boundaries FROM THE DATA: the counts
    frame range-partitions on the key (Spark's range partitioner samples
    the actual keys), and `_gb` is the resulting partition id — ordered
    across partitions by construction, and ~balanced REGARDLESS of the
    key distribution. A key-slice bucket (e.g. an 8-char prefix, the
    round-3 implementation) collapses to ONE fat bucket when every host
    shares a long prefix (`shard-00001.bigsite.com`, ...), re-creating
    exactly the unbounded single-task cumsum this decomposition exists
    to kill. The decomposed offsets are IDENTICAL for any monotone
    bucketing, so sampled (even nondeterministic) boundaries never
    change an assigned sequence number — determinism of the output
    needs no determinism of the boundaries."""
    if dtype.simpleString() != "string":
        return counts.withColumn("_gb", F.floor(F.col(group_col) / F.lit(4096)))
    n_ranges = max(counts.sparkSession.sparkContext.defaultParallelism, 2)
    return counts.repartitionByRange(n_ranges, F.col(group_col).asc()).withColumn(
        "_gb", F.spark_partition_id().cast("long")
    )


def add_group_sequence(
    df: DataFrame,
    group_col: str,
    order_within: list | None,
    col_name: str,
    start: int = 0,
    existing_rank_col: str | None = None,
    caches: list | None = None,
    need_total: bool = True,
) -> tuple[DataFrame, int]:
    """Dense global sequence in (group_col ASC, order_within) order —
    the scale-path replacement for `add_sequence_with_total` when the
    total order is group-major (host-major selection ranks, parent-major
    discovery seqs).

    Instead of a global range sort (sampling pass + range shuffle +
    eager checkpoint), this decomposes the order:

      1. row_number within each group (one keyed shuffle — or free when
         `existing_rank_col` already holds a 1-based within-group rank,
         e.g. the politeness window's host_rank);
      2. per-group counts (map-side-combined aggregation -> n_groups
         rows, orders of magnitude smaller than the data);
      3. cumulative offsets over the counts in group order, decomposed
         AGAIN over monotone key buckets: per-bucket cumsum (parallel
         tasks) + a cumsum over bucket totals (one task over n_buckets
         rows). No single task ever sorts all n_groups rows — at 10^8
         distinct hosts per round the flat window was one fat task;
      4. broadcast-join offsets back: seq = start + offset + rank - 1.

    The assigned numbers are a pure function of the row data — never of
    partition count — so N-core and 4N-core runs agree bit-for-bit.

    Caller should persist `df` first: it is consumed by both the counts
    aggregation and the final join (one materialization, two cheap reads).
    Returns (df_with_seq, total_rows); the total falls out of the counts
    UNLESS need_total=False, which skips that driver action entirely
    (returns -1) — callers that already count the output fold the two
    jobs into one.
    """
    from pyspark.sql import Window

    if existing_rank_col is None:
        w = Window.partitionBy(group_col).orderBy(*order_within)
        df = df.withColumn("_grank", F.row_number().over(w))
        rank = "_grank"
    else:
        rank = existing_rank_col
    counts = df.groupBy(group_col).agg(F.count("*").alias("_gcnt"))
    counts = _bucketed_counts(counts, group_col, df.schema[group_col].dataType)
    w_in = (
        Window.partitionBy("_gb")
        .orderBy(F.col(group_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("_gcnt").over(w_in), F.lit(0))
    bucket_totals = counts.groupBy("_gb").agg(F.sum("_gcnt").alias("_bt"))
    w_b = Window.orderBy(F.col("_gb").asc()).rowsBetween(Window.unboundedPreceding, -1)
    bucket_offs = bucket_totals.select(
        "_gb", F.coalesce(F.sum("_bt").over(w_b), F.lit(0)).alias("_boff")
    )
    offsets = (
        counts.withColumn("_woff", within)
        .join(F.broadcast(bucket_offs), "_gb")
        .select(group_col, (F.col("_boff") + F.col("_woff")).alias("_goff"), "_gcnt")
        .persist()
    )
    if caches is not None:
        caches.append(offsets)
    total = -1
    if need_total:
        total_row = offsets.agg(F.max(F.col("_goff") + F.col("_gcnt")).alias("t")).first()
        total = int(total_row["t"]) if total_row and total_row["t"] is not None else 0
    out = (
        df.join(F.broadcast(offsets.drop("_gcnt")), group_col)
        .withColumn(col_name, (F.lit(start) + F.col("_goff") + F.col(rank) - 1).cast("long"))
        .drop("_goff")
    )
    if existing_rank_col is None:
        out = out.drop("_grank")
    return out, total


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    broadcast_updates: bool = False,
    repartition_to: int | None = None,
) -> DataFrame:
    """MERGE INTO emulation: rows in `updates` replace same-key rows in
    `target`; unmatched update rows are inserted.

    With Iceberg on the cluster this is a real `MERGE INTO` (SURVEY.md
    §1.4); on vanilla Parquet it is the standard anti-join + union.

    broadcast_updates=True is THE scale path when `updates` is bounded
    (a politeness-budgeted round's Σk rows) and `target` is the huge
    side (a 10^10-row frontier): the anti-join becomes a broadcast-hash
    LeftAnti streamed over the target scan — the target NEVER shuffles,
    matching what Iceberg MERGE's storage-partitioned write would do.
    Only the update KEY column is broadcast (8 bytes/row), not the rows.
    Default False: with unbounded updates the keyed shuffle join is the
    minimal plan.

    repartition_to (shuffle path only): pre-partition BOTH join sides to
    exactly this many hash partitions on the key, so the join reuses the
    partitioning (no extra exchange) and the output lands ALREADY in a
    bucketed store's layout — one pass instead of join-then-repartition.
    """
    if not broadcast_updates and repartition_to:
        target = target.repartition(repartition_to, key)
        updates = updates.repartition(repartition_to, key)
        # keys project from the repartitioned frame, so the anti-join
        # sees both sides hash-partitioned (key, N) — no added exchange —
        # and the union (untouched + updates) is uniformly N-partitioned
    keys = updates.select(key)
    if broadcast_updates:
        keys = F.broadcast(keys)
    untouched = target.join(keys, key, "left_anti")
    return untouched.unionByName(updates.select(*target.columns))


def route_fetch_outcomes(
    fetched: DataFrame,
    round_no: int,
    max_attempts: int = 3,
    retry_backoff_rounds: int = 1,
    n_stages: int = 1,
) -> DataFrame:
    """Classify fetch results into next frontier states.

    Models the reference's error routing: bounded 3-attempt retry with
    backoff and transient-vs-permanent classes
    (Borges/spiders/Elsevier/paper_xml.py:79-90,141-173) and terminal
    failure states (ECS/paper_html.py:61 'Server Issue').

    n_stages > 1 (requires a `stage` column) models the reference's
    CHAINED crawls natively — the ECS metadata pass whose successes
    become the full-HTML pass's frontier (`{Scraped: True,
    Paper_HTML_Scraped: False}`, ECS/paper_html.py:43): a row fetched at
    stage s < n_stages-1 re-enters the frontier pending at stage s+1
    with FRESH attempts (each reference script carries its own retry
    budget), eligible from the next round.

    Input columns: frontier columns + `status` int.
    Output: frontier columns with updated state/attempts/
    next_allowed_round (and stage when multi-stage).
    """
    is_ok = F.col("status") == 200
    is_transient = F.col("status").isin(*TRANSIENT_STATUSES)
    attempts_next = F.col("attempts") + 1
    retry = (~is_ok) & is_transient & (attempts_next < max_attempts)
    promote = (
        is_ok & (F.col("stage") < F.lit(n_stages - 1))
        if n_stages > 1 and "stage" in fetched.columns
        else F.lit(False)
    )
    state = (
        F.when(promote, F.lit("pending"))  # next-tier re-entry
        .when(is_ok, F.lit("fetched"))
        # 'error' rows go back to pending after a cooldown; model the
        # quota-stall wait (AIP/paper_index.py:84-99) as round backoff
        .when(retry, F.lit("pending"))
        .otherwise(F.lit("dead"))
    )
    next_allowed = (
        F.when(promote, F.lit(round_no + 1))
        .when(retry, F.lit(round_no + 1 + retry_backoff_rounds))
        .otherwise(F.col("next_allowed_round"))
    )
    out = (
        fetched.withColumn(
            "attempts", F.when(promote, F.lit(0)).otherwise(attempts_next).cast("int")
        )
        .withColumn("next_allowed_round", next_allowed.cast("int"))
        .withColumn("state", state)
    )
    if n_stages > 1 and "stage" in fetched.columns:
        out = out.withColumn(
            "stage", F.when(promote, F.col("stage") + 1).otherwise(F.col("stage")).cast("int")
        )
    return out


def error_class_col() -> F.Column:
    """Crawl-log error class from HTTP status (Elsevier/paper_xml.py:79-90)."""
    return (
        F.when(F.col("status") == 200, F.lit(None).cast("string"))
        .when(F.col("status").isin(*TRANSIENT_STATUSES), F.lit("transient"))
        .otherwise(F.lit("permanent"))
    )
