"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data pipeline operators; oracle_sql()
gives the DuckDB-runnable equivalent for every SQL-expressible one.
Column names/aliases match exactly between the two sides (the driver
sorts columns by name before value-hashing).

Float discipline: aggregates that sum doubles are computed over
DECIMAL casts (exact) in BOTH engines and cast to double at the end;
ratio outputs use integer arithmetic (DIV) so no cross-engine
rounding-mode drift can flip a value.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from borges_spark.functions import text as X
from borges_spark.operators import dedup as D
from borges_spark.operators import similarity as S

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _input_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a table in BYTES of parquet (single file or a
    directory of part files), not rows — the scale statistic for
    adaptive plan choices."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _dn, fn in os.walk(path)
                for f in fn
            )
        return os.path.getsize(path)
    except OSError:
        return 1 << 62  # unknown -> assume big (the scale-safe plan)


def _dec(c, scale: int = 4):
    return c.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one politeness-scheduled frontier round over sf0.001 —
    derive a URL frontier from `orders`, drop already-seen URLs
    (anti-join seen set), rank by priority per host under a k=2 budget
    (the W1 window operator), exactly the engine's round-selection plan
    (SURVEY.md §7 step 2)."""
    return q_frontier_round(spark, SF_DEFAULT)


# ---------------------------------------------------------------------------
# crawl-shaped relational queries (frontier/seen/politeness semantics
# expressed over the TPC-H-ish tables so DuckDB can oracle them)


def q_frontier_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: the URL strings are injective in (hostnum, orderkey) — the
    # host digit alphabet cannot collide with the fixed separators — so
    # the anti-join keys on the two INTS and the ~40-char URL string is
    # built only for surviving rows (guide §2.3: shuffle/broadcast
    # narrower types). The former `.distinct()` on the seen side is
    # dropped outright: a left-anti join is insensitive to right-side
    # duplicates, and the aggregate was a full extra Exchange over the
    # biggest table in the query (guide §2.4).
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    frontier = orders.filter(F.col("o_orderstatus") == "O").select(
        F.pmod("o_custkey", F.lit(50)).alias("hostnum"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("priority"),
    )
    # seen set: orders that already have a shipped lineitem
    seen = lineitem.filter(F.col("l_linestatus") == "F").select(
        F.pmod("l_suppkey", F.lit(50)).alias("hostnum"),
        F.col("l_orderkey").alias("seq"),
    )
    unseen = frontier.join(seen, ["hostnum", "seq"], "left_anti")
    w = Window.partitionBy("hostnum").orderBy(F.col("priority").desc(), F.col("seq").asc())
    return (
        unseen.withColumn("rank_in_round", F.row_number().over(w))
        .filter(F.col("rank_in_round") <= 2)
        .select(
            F.concat(
                F.lit("https://h"), F.col("hostnum").cast("string"),
                F.lit(".example.com/o/"), F.col("seq").cast("string"),
            ).alias("url"),
            F.concat(F.lit("h"), F.col("hostnum").cast("string")).alias("host"),
            "seq",
            "rank_in_round",
        )
    )


_FRONTIER_ROUND_SQL = """
WITH frontier AS (
  SELECT 'https://h' || CAST(o_custkey % 50 AS VARCHAR) || '.example.com/o/' || CAST(o_orderkey AS VARCHAR) AS url,
         'h' || CAST(o_custkey % 50 AS VARCHAR) AS host,
         o_orderkey AS seq,
         o_totalprice AS priority
  FROM orders WHERE o_orderstatus = 'O'
), seen AS (
  SELECT DISTINCT 'https://h' || CAST(l_suppkey % 50 AS VARCHAR) || '.example.com/o/' || CAST(l_orderkey AS VARCHAR) AS url
  FROM lineitem WHERE l_linestatus = 'F'
), unseen AS (
  SELECT f.* FROM frontier f ANTI JOIN seen s ON f.url = s.url
), ranked AS (
  SELECT url, host, seq,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, seq ASC) AS rank_in_round
  FROM unseen
)
SELECT url, host, seq, rank_in_round FROM ranked WHERE rank_in_round <= 2
"""


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the dedup-probe-before-insert operator (insert_jl.py:28-38):
    candidate part URLs minus the already-seen set."""
    # r6: the URL is injective in l_partkey, so the distinct and the
    # anti-join run on the 8-byte key and the string is built only for
    # the surviving rows (guide §2.3 — the distinct formerly shuffled
    # every lineitem row as a ~30-char string)
    part = _t(spark, sf_dir, "part")
    lineitem = _t(spark, sf_dir, "lineitem")
    candidates = lineitem.select(F.col("l_partkey").alias("k")).distinct()
    seen = part.filter(F.col("p_size") > 25).select(F.col("p_partkey").alias("k"))
    return candidates.join(seen, "k", "left_anti").select(
        F.concat(F.lit("https://p"), F.pmod("k", F.lit(20)).cast("string"),
                 F.lit("/item/"), F.col("k").cast("string")).alias("url")
    )


_SEEN_ANTIJOIN_SQL = """
WITH candidates AS (
  SELECT DISTINCT 'https://p' || CAST(l_partkey % 20 AS VARCHAR) || '/item/' || CAST(l_partkey AS VARCHAR) AS url
  FROM lineitem
), seen AS (
  SELECT 'https://p' || CAST(p_partkey % 20 AS VARCHAR) || '/item/' || CAST(p_partkey AS VARCHAR) AS url
  FROM part WHERE p_size > 25
)
SELECT url FROM candidates ANTI JOIN seen USING (url)
"""


def q_retry_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/ST4 — quota/error-state routing (AIP/paper_index.py:84-108):
    events routed into ok / retry / quota_wait classes."""
    events = _t(spark, sf_dir, "events")
    state = (
        F.when(F.col("event_type") == "error", F.lit("retry"))
        .when(F.col("value") >= 150, F.lit("quota_wait"))
        .otherwise(F.lit("ok"))
    )
    return (
        events.withColumn("state", state)
        .groupBy("state")
        .agg(F.count("*").alias("n"), F.max("value").alias("max_value"))
    )


_RETRY_ROUTING_SQL = """
SELECT CASE WHEN event_type = 'error' THEN 'retry'
            WHEN value >= 150 THEN 'quota_wait'
            ELSE 'ok' END AS state,
       count(*) AS n, max(value) AS max_value
FROM events GROUP BY 1
"""


def q_time_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/ST5/F13 — time-of-day crawl window (ECS/paper_html.py:39-42):
    events inside the 18:00-07:00 window or on weekends."""
    events = _t(spark, sf_dir, "events")
    hour = F.hour("ts")
    wd = F.weekday("ts")  # 0=Monday
    gated = events.filter((hour >= 18) | (hour < 7) | (wd >= 5))
    return gated.groupBy("event_type").agg(F.count("*").alias("n_in_window"))


_TIME_GATE_SQL = """
SELECT event_type, count(*) AS n_in_window
FROM events
WHERE hour(ts) >= 18 OR hour(ts) < 7 OR (isodow(ts) - 1) >= 5
GROUP BY event_type
"""


def q_seed_enumeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/F3 — deterministic seed URL generation, journal x volume x
    issue with zfill(3) (RSC/start_url_gen.py:24-35)."""
    region = _t(spark, sf_dir, "region")
    vols = spark.range(1, 4).select(F.col("id").alias("vol"))
    issues = spark.range(1, 3).select(F.col("id").alias("iss"))
    return (
        region.crossJoin(vols).crossJoin(issues)
        .select(
            F.concat(
                F.lit("https://journals.example.com/"), F.lower("r_name"),
                F.lit("/"), X.zfill3_col(F.col("vol")),
                X.zfill3_col(F.col("iss")),
            ).alias("seed_url")
        )
    )


_SEED_ENUM_SQL = """
SELECT 'https://journals.example.com/' || lower(r_name) || '/' ||
       lpad(CAST(v.range AS VARCHAR), 3, '0') || lpad(CAST(i.range AS VARCHAR), 3, '0') AS seed_url
FROM region, range(1, 4) v, range(1, 3) i
"""


def q_lineage_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — per-(journal, year) lineage counters
    (Elsevier/paper_index.py:150-266): indexed vs missed per group."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("year"), F.col("o_orderpriority").alias("priority_class")
        )
        .agg(
            F.count("*").alias("indexed_doc_num"),
            F.sum(F.when(F.col("o_totalprice") < 5000, 1).otherwise(0)).alias("missed_doc_num"),
        )
    )


_LINEAGE_SQL = """
SELECT year(o_orderdate) AS year, o_orderpriority AS priority_class,
       count(*) AS indexed_doc_num,
       CAST(sum(CASE WHEN o_totalprice < 5000 THEN 1 ELSE 0 END) AS BIGINT) AS missed_doc_num
FROM orders GROUP BY 1, 2
"""


def q_exists_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — existence-any aggregate (journal_scripts.py:20-36): nations
    with no high-balance customer at all ('unindexed journals')."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    flags = customer.groupBy("c_nationkey").agg(
        F.max((F.col("c_acctbal") > 9700).cast("int")).alias("has_rich")
    )
    return (
        nation.join(flags, nation.n_nationkey == flags.c_nationkey, "left")
        .filter(F.coalesce("has_rich", F.lit(0)) == 0)
        .select(F.col("n_name").alias("unindexed_nation"))
    )


_EXISTS_ANY_SQL = """
WITH flags AS (
  SELECT c_nationkey, max(CASE WHEN c_acctbal > 9700 THEN 1 ELSE 0 END) AS has_rich
  FROM customer GROUP BY c_nationkey
)
SELECT n_name AS unindexed_nation
FROM nation LEFT JOIN flags ON n_nationkey = c_nationkey
WHERE coalesce(has_rich, 0) = 0
"""


def q_pagination_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — pagination-until-count (AIP/paper_index.py:74-131): pages of
    20 per group, integer math only."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority_class"))
        .agg(F.count("*").alias("n_docs"))
        .withColumn("n_pages", F.expr("CAST((n_docs + 19) DIV 20 AS BIGINT)"))
    )


_PAGINATION_SQL = """
SELECT o_orderpriority AS priority_class, count(*) AS n_docs,
       (count(*) + 19) // 20 AS n_pages
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# classic relational operators (scan/agg/join/window/sort/set)


def q_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A6 — TPC-H Q1-style scan-aggregate; decimal-exact sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(_dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(18,4)") - _dec(F.col("l_discount"))))
            .cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


_SCAN_AGG_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5 — broadcast small-dim joins: revenue per region."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


_BROADCAST_JOIN_SQL = """
SELECT r_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — already-crawled skip as semi/anti joins: customers with >=1
    order, counted per segment."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_with_orders"))
    )


_SEMI_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_customers_with_orders
FROM customer SEMI JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/L3 — top-k per group window (the politeness selector shape)."""
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        customer.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rnk")
    )


_TOPK_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal, rnk FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer
) WHERE rnk <= 3
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — running aggregate frame (engine extension; no reference
    counterpart, SURVEY.md §2.5). Decimal-exact running sum."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec(F.col("o_totalprice"))).over(w).cast("double").alias("running_spend"),
    )


_WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
"""


def q_union_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1 — union of seed lists (RSC format-1 ∪ format-2)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    a = region.select(F.lower("r_name").alias("seed_label"))
    b = nation.select(F.lower("n_name").alias("seed_label"))
    return a.unionByName(b).distinct()


_UNION_SQL = """
SELECT DISTINCT seed_label FROM (
  SELECT lower(r_name) AS seed_label FROM region
  UNION ALL SELECT lower(n_name) FROM nation
)
"""


def q_top_n_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L2 — deterministic limit sample (create_dummy_col.py:26-34)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


_TOP_N_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_schema_migrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema migration as one projection (operators/migrate.py; ref
    aggregate_results.py:27-36 + add_paper_scraped_flag.py:28-32):
    rename, drop, conditional move, backfill — single scan, no shuffle."""
    from borges_spark.operators.migrate import (
        backfill,
        conditional_move,
        migrate,
        rename_columns,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority", "o_orderdate"
    )
    out = migrate(orders, [
        (rename_columns, {"o_orderpriority": "priority_class"}),
        # Paper_HTML -> Paper_HTML_content only when crawled (:33-35)
        (conditional_move, "o_orderdate", "date_when_open", F.col("o_orderstatus") == "O"),
        # backfill a flag with a default (:29-30)
        (backfill, "price_band", F.when(F.col("o_totalprice") >= 100000, "high").otherwise("low")),
    ])
    return out.select("o_orderkey", "priority_class", "date_when_open", "price_band")


_SCHEMA_MIGRATE_SQL = """
SELECT o_orderkey,
       o_orderpriority AS priority_class,
       CASE WHEN o_orderstatus = 'O' THEN o_orderdate END AS date_when_open,
       CASE WHEN o_totalprice >= 100000 THEN 'high' ELSE 'low' END AS price_band
FROM orders
"""


def q_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — SEEDED random sample matching the reference's
    $sample-with-randomize semantics (create_dummy_col.py:26-31): a
    deterministic pseudo-random order from a seeded cross-engine hash of
    the key, then top-n. Parallelism-invariant (pure function of rows)
    and cheap at scale: orderBy+limit compiles to TakeOrderedAndProject
    (per-partition top-k heaps + a k-row driver merge, no global sort)."""
    orders = _t(spark, sf_dir, "orders")
    key = X.hash60_col(F.concat(F.col("o_orderkey").cast("string"), F.lit(":seed42")))
    # r6: materialize the key as a column BEFORE the TakeOrdered — an
    # ordering EXPRESSION is re-evaluated inside the top-k heap's
    # comparator (several md5+conv per row); a projected column is
    # computed once per row (guide §1.2 per-task work). Same key, same
    # tiebreak, same 100 rows.
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", key.alias("_rk"))
        .orderBy(F.col("_rk").asc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_RANDOM_SAMPLE_SQL = f"""
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY {X.hash60_sql("CAST(o_orderkey AS VARCHAR) || ':seed42'")} ASC, o_orderkey ASC
LIMIT 100
"""


def q_explode_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/F2 — zip()-style positional alignment via explode with index
    (Elsevier/journals.py:62-70)."""
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return (
        part.filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(words)),
                    lambda i: F.struct(i.alias("pos"), F.element_at(words, i).alias("word")),
                )
            ).alias("pw"),
        )
        .select("p_partkey", F.col("pw.pos").alias("pos"), F.col("pw.word").alias("word"))
    )


_EXPLODE_SQL = """
SELECT p_partkey, CAST(i.range AS INT) AS pos,
       list_element(string_split(p_name, ' '), CAST(i.range AS INT)) AS word
FROM part, range(1, 100) i
WHERE p_partkey <= 200 AND i.range <= len(string_split(p_name, ' '))
"""


def q_scalar_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F5 — split/substring parsing + 'Last, First' reorder."""
    supplier = _t(spark, sf_dir, "supplier")
    author = F.concat(F.lit("Supplier, "), F.element_at(F.split(F.col("s_name"), "#"), 2))
    return supplier.select(
        "s_suppkey",
        X.reorder_author_col(author).alias("author_name"),
        F.element_at(F.split(F.col("s_name"), "#"), 2).alias("id_str"),
    )


_SCALAR_SQL = """
SELECT s_suppkey,
       list_element(string_split('Supplier, ' || list_element(string_split(s_name, '#'), 2), ', '), 2)
         || ' ' ||
       list_element(string_split('Supplier, ' || list_element(string_split(s_name, '#'), 2), ', '), 1)
         AS author_name,
       list_element(string_split(s_name, '#'), 2) AS id_str
FROM supplier
"""


def q_json_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 — JSON field access (Elsevier/paper_index.py:198-199)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k_value")
        )
        .filter(F.col("k_value") > 50)
    )


_JSON_SQL = """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — sessionization via lag-gap (engine extension): sessions
    split at 30-minute inactivity gaps, counted per user."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ -> epoch (session UTC)
    gap = epoch - F.lag(epoch).over(w)
    flagged = events.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return flagged.groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"))


_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions FROM g GROUP BY user_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J7 family; Spark lacks a native one): each 'error'
    event matched to the same user's latest 'purchase' at-or-before it.
    Spark plan: union both sides, ONE window pass carrying the last
    purchase forward — no range-explode, no per-row Python, a single
    shuffle on the key. The DuckDB oracle is the textbook
    row_number-over-range-join form."""
    events = _t(spark, sf_dir, "events")
    ts_l = F.col("ts").cast("timestamp").cast("long")
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", ts_l.alias("ts_s"), F.col("event_id").alias("error_id")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", ts_l.alias("ts_s"), F.col("event_id").alias("purchase_id")
    )
    left = errors.select("user_id", "ts_s", "error_id", F.lit(None).cast("long").alias("purchase_id"))
    right = purchases.select("user_id", "ts_s", F.lit(None).cast("long").alias("error_id"), "purchase_id")
    both = left.unionByName(right)
    # purchases sort before errors at identical ts so an equal-timestamp
    # purchase is visible ("at or before")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_s").asc(), F.col("error_id").isNotNull().cast("int").asc(), F.col("purchase_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = both.withColumn("last_purchase", F.last("purchase_id", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("error_id").isNotNull())
        .select("user_id", "error_id", F.col("last_purchase").alias("asof_purchase_id"))
    )


_ASOF_SQL = """
WITH err AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id AS error_id
  FROM events WHERE event_type = 'error'
), pur AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
), ranked AS (
  SELECT e.user_id, e.error_id, p.purchase_id,
         row_number() OVER (PARTITION BY e.error_id ORDER BY p.ts_s DESC, p.purchase_id DESC) AS rn
  FROM err e LEFT JOIN pur p ON e.user_id = p.user_id AND p.ts_s <= e.ts_s
)
SELECT user_id, error_id, purchase_id AS asof_purchase_id
FROM ranked WHERE rn = 1
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension — rollup grouping sets with subtotal rows."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select("l_returnflag", "l_linestatus", "n")
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot — per-priority order counts spread over status columns."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority_class"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "priority_class",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


_PIVOT_SQL = """
SELECT o_orderpriority AS priority_class,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM orders GROUP BY 1
"""


def q_intersect_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO3 — intersect: customer nations that also supply."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    a = customer.select(F.col("c_nationkey").alias("nationkey"))
    b = supplier.select(F.col("s_nationkey").alias("nationkey"))
    return a.intersect(b)


_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / text analysis / similarity


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.dedup_exact(docs)


_DEDUP_EXACT_SQL = f"""
SELECT min(doc_id) AS doc_id,
       {X.fingerprint_sql('text')} AS fp,
       count(*) AS n_dups
FROM documents GROUP BY 2
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: one Python pass computes both counts (token_counts_frame) —
    # was two JVM regex passes per doc; values pinned identical by the
    # DuckDB oracle + the edge-semantics tests. The worker path carries
    # ~0.2 s of fixed Arrow/worker spawn cost, so the plan is chosen by
    # input size (scale-adaptive, like AQE — NOT a constant tuned to one
    # bench size): below 3 MB of parquet bytes (compressed on-disk size,
    # not a row count: sf0.1 `documents` is ~0.6 MB and takes the JVM
    # path, sf1.0 takes the worker) the JVM expression path is strictly
    # cheaper, above it the per-doc regex cost dominates and the worker
    # wins severalfold. Both paths are parity-locked by
    # tests/test_text_functions.py::test_token_counts_frame_matches_jvm_columns.
    docs = _t(spark, sf_dir, "documents")
    if _input_bytes(sf_dir, "documents") < 3 * 1024 * 1024:
        return docs.select(
            "doc_id",
            X.token_count_col(F.col("text")).alias("n_tokens"),
            X.bpe_ish_token_count_col(F.col("text")).alias("n_subword_tokens"),
        )
    return X.token_counts_frame(docs).select("doc_id", "n_tokens", "n_subword_tokens")


_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       {X.token_count_sql('text')} AS n_tokens,
       {X.bpe_ish_token_count_sql('text')} AS n_subword_tokens
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # the marker-bank argmax is the expensive map here; spread it past
    # the source's row-group granularity (single-row-group parquet would
    # otherwise pin the whole job to one task)
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return docs.select("doc_id", X.lang_id_col(F.col("text")).alias("lang_pred"))


_LANG_ID_SQL = f"SELECT doc_id, {X.lang_id_sql('text')} AS lang_pred FROM documents"


def q_quality_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal counts in pure integer arithmetic (cross-engine
    exact); the float quality score composes these (tested in pytest)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        X.token_count_col(F.col("text")).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0)).alias("n_punct"),
        F.size(F.filter(toks, lambda t: t.isin(*X.STOPWORDS))).alias("n_stopwords"),
        F.expr("length(text) * 1000 DIV greatest(length(text), 1)").alias("len_ratio_milli"),
    )


_QUALITY_SQL = f"""
SELECT doc_id,
       length(text) AS n_chars,
       {X.token_count_sql('text')} AS n_tokens,
       len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
       len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       t -> t IN ({', '.join(f"'{s}'" for s in X.STOPWORDS)}))) AS n_stopwords,
       length(text) * 1000 // greatest(length(text), 1) AS len_ratio_milli
FROM documents
"""


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, Appendix A) as
    per-doc int flags + combined keep — the standard pre-training
    corpus filter, integer-exact across engines."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return docs.select("doc_id", *X.gopher_flag_cols(F.col("text")))


_GOPHER_SQL = f"SELECT doc_id, {X.gopher_flag_sql('text')} FROM documents"


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-removal rules (Rae et al. 2021 Appendix A):
    duplicate-line occurrence/character fractions, top-2-gram character
    fraction, duplicated-5-gram coverage fraction — pure-integer counts
    + cross-multiplied keep flags, value-exact vs DuckDB (semantics
    pinned in functions/text.repetition_stats_frame)."""
    docs = _t(spark, sf_dir, "documents")
    return X.repetition_stats_frame(docs)


_GOPHER_REPETITION_SQL = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln FROM docs),
line_stats AS (
  SELECT doc_id, count(*) AS n_lines, sum(length(ln)) AS line_chars
  FROM lines GROUP BY doc_id
),
line_counts AS (SELECT doc_id, ln, count(*) AS c FROM lines GROUP BY 1, 2),
dup_lines AS (
  SELECT doc_id,
         coalesce(sum(c - 1) FILTER (WHERE c >= 2), 0) AS dup_line_extra,
         coalesce(sum(length(ln) * (c - 1)) FILTER (WHERE c >= 2), 0) AS dup_line_chars_extra
  FROM line_counts GROUP BY doc_id
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ws
  FROM docs
),
word_stats AS (
  SELECT doc_id,
         coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS n_word_chars
  FROM toks
),
g2 AS (
  SELECT doc_id, array_to_string(list_slice(ws, CAST(i AS INT), CAST(i + 1 AS INT)), ' ') AS g
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks WHERE len(ws) >= 2)
),
g2_counts AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
top2 AS (
  SELECT doc_id, c AS top2_count, length(g) AS top2_chars
  FROM (SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
        FROM g2_counts)
  WHERE rn = 1
),
g5 AS (
  SELECT doc_id, i, array_to_string(list_slice(ws, CAST(i AS INT), CAST(i + 4 AS INT)), ' ') AS g
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i FROM toks WHERE len(ws) >= 5)
),
g5_dup AS (SELECT doc_id, g FROM g5 GROUP BY doc_id, g HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT doc_id, p FROM (
    SELECT s.doc_id, unnest(range(s.i, s.i + 5)) AS p
    FROM g5 s SEMI JOIN g5_dup d ON s.doc_id = d.doc_id AND s.g = d.g)
),
dup5 AS (
  SELECT c.doc_id, sum(length(t.ws[CAST(c.p AS INT)])) AS dup5_chars
  FROM cov c JOIN toks t USING (doc_id) GROUP BY c.doc_id
)
SELECT d.doc_id,
       CAST(ls.n_lines AS BIGINT) AS n_lines,
       CAST(coalesce(dl.dup_line_extra, 0) AS BIGINT) AS dup_line_extra,
       CAST(ls.line_chars AS BIGINT) AS line_chars,
       CAST(coalesce(dl.dup_line_chars_extra, 0) AS BIGINT) AS dup_line_chars_extra,
       CAST(coalesce(t2.top2_count, 0) AS BIGINT) AS top2_count,
       CAST(coalesce(t2.top2_chars, 0) AS BIGINT) AS top2_chars,
       CAST(coalesce(d5.dup5_chars, 0) AS BIGINT) AS dup5_chars,
       CAST(ws.n_word_chars AS BIGINT) AS n_word_chars,
       CAST(CASE WHEN coalesce(dl.dup_line_extra, 0) * 10 <= 3 * ls.n_lines THEN 1 ELSE 0 END AS INT) AS ok_dup_lines,
       CAST(CASE WHEN coalesce(dl.dup_line_chars_extra, 0) * 10 <= 2 * ls.line_chars THEN 1 ELSE 0 END AS INT) AS ok_dup_line_chars,
       CAST(CASE WHEN coalesce(t2.top2_count, 0) * coalesce(t2.top2_chars, 0) * 5 <= ws.n_word_chars THEN 1 ELSE 0 END AS INT) AS ok_top2gram,
       CAST(CASE WHEN coalesce(d5.dup5_chars, 0) * 20 <= 3 * ws.n_word_chars THEN 1 ELSE 0 END AS INT) AS ok_dup5gram,
       CAST(CASE WHEN coalesce(dl.dup_line_extra, 0) * 10 <= 3 * ls.n_lines
                  AND coalesce(dl.dup_line_chars_extra, 0) * 10 <= 2 * ls.line_chars
                  AND coalesce(t2.top2_count, 0) * coalesce(t2.top2_chars, 0) * 5 <= ws.n_word_chars
                  AND coalesce(d5.dup5_chars, 0) * 20 <= 3 * ws.n_word_chars
            THEN 1 ELSE 0 END AS INT) AS keep
FROM docs d
JOIN line_stats ls USING (doc_id)
LEFT JOIN dup_lines dl USING (doc_id)
JOIN word_stats ws USING (doc_id)
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN dup5 d5 USING (doc_id)
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint_col(F.col("text")).alias("fp"))


_FINGERPRINT_SQL = f"SELECT doc_id, {X.fingerprint_sql('text')} AS fp FROM documents"


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_table(docs)


_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM documents
), h AS (
  SELECT doc_id, {X.hash60_sql('t')} AS hv FROM tok
), votes AS (
  SELECT doc_id, b.range AS b,
         sum(CASE WHEN (hv >> CAST(b.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, range(0, {X.SIMHASH_BITS}) b
  GROUP BY doc_id, b.range
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via the Hamming block trick (pairs within
    distance d < n_blocks must agree on >= 1 of the 4 15-bit blocks ->
    equi-join per block, exact Hamming verify)."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_neardup_pairs(docs, max_hamming=3, n_blocks=4).withColumn(
        "hamming", F.col("hamming").cast("long")
    )


_SIMHASH_PAIRS_SQL = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM documents
), h AS (
  SELECT doc_id, {X.hash60_sql('t')} AS hv FROM tok
), votes AS (
  SELECT doc_id, b.range AS b,
         sum(CASE WHEN (hv >> CAST(b.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, range(0, {X.SIMHASH_BITS}) b
  GROUP BY doc_id, b.range
), sh AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
), blocks AS (
  SELECT doc_id, simhash, CAST(k.range AS INT) AS block,
         (simhash >> (CAST(k.range AS INT) * 15)) & 32767 AS key
  FROM sh, range(0, 4) k
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
  FROM blocks a JOIN blocks b ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_signature(docs)


_MINHASH_SQL = f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt FROM documents
), sh AS (
  SELECT doc_id, substr(nt, CAST(i.range AS INT), {X.SHINGLE_LEN}) AS sh
  FROM norm, range(1, 2000) i
  WHERE i.range <= greatest(length(nt) - {X.SHINGLE_LEN - 1}, 1)
), xs AS (
  SELECT doc_id, {X.hash60_sql("sh")} % {X.MINHASH_X_MOD} AS x FROM sh
)
SELECT doc_id, CAST(p.perm AS INT) AS perm,
       min((p.a * xs.x + p.b) % {X.MINHASH_P}) AS minhash
FROM xs, (VALUES {X.minhash_values_sql()}) p(perm, a, b)
GROUP BY doc_id, p.perm
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs)


def q_minhash_lsh_fast_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production hash path: same banded-LSH plan, xxhash64 instead of
    the md5 oracle-parity hash (~5-10x cheaper per shingle). DuckDB has
    no xxhash64, so this raw form has no SQL oracle — bench.py times it
    directly; the DRIVER gate is q_minhash_lsh_fast's cross-
    implementation diff below."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, hash_mode="fast")


def _minhash_pairs_naive(docs: DataFrame) -> DataFrame:
    """Independent NAIVE formulation of the banded-minhash spec — the
    textbook long-form plan (explode shingles x perms, min per
    (doc, perm), band hash over a sorted collect) with none of the
    production path's one-pass-wide/no-collect optimizations. Exists
    only as the comparison arm of the q_minhash_lsh_fast diff gate.
    SCOPE (like the e2e gates' shared parser): both arms consume the
    same shingle-hash primitive (shingle_hash_frame) and the same
    per-(perm, shingle) hash definition; what the gate proves is the
    equivalence of the PLANS built on top of them."""
    from borges_spark.functions.text import MINHASH_PERMS
    from borges_spark.operators.dedup import shingle_hash_frame

    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")
    ex = shingle_hash_frame(docs).select("doc_id", F.explode("hs").alias("sh"))
    perms = ex.select(
        "doc_id", "sh",
        F.explode(
            F.sequence(F.lit(0).cast("int"), F.lit(MINHASH_PERMS - 1).cast("int"))
        ).alias("perm"),
    )
    sig = (
        perms.select(
            "doc_id", "perm",
            F.shiftrightunsigned(F.xxhash64(F.col("perm"), F.col("sh")), 4).alias("h"),
        )
        .groupBy("doc_id", "perm")
        .agg(F.min("h").alias("minhash"))
    )
    bands = (
        sig.withColumn("band", F.floor(F.col("perm") / 2).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("perm", "minhash"))),
                        lambda s: s["minhash"].cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash")
        )
    )
    a = bands.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    b = bands.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def q_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash LSH, driver-gated EXACTLY (VERDICT r3 item 2):
    symmetric difference between the optimized one-pass-wide fast-path
    pair set and an independent naive long-form computation of the same
    spec (same xxhash64 hash, different plan and band-hash assembly).
    Must return ZERO rows — the trivially-empty SQL oracle makes the
    cross-implementation equivalence a driver-visible value gate."""
    docs = _t(spark, sf_dir, "documents")
    fast = D.minhash_lsh_pairs(docs, hash_mode="fast")
    naive = _minhash_pairs_naive(docs)
    return fast.exceptAll(naive).unionByName(naive.exceptAll(fast))


_PAIR_DIFF_SQL = """
SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b WHERE FALSE
"""


def q_simhash_fast_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production hash path for the simhash table (see
    q_minhash_lsh_fast_raw) — timed by bench.py; driver-gated via the
    q_simhash_fast diff."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_table(docs, hash_mode="fast")


def q_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash simhash, gated EXACTLY by a zero-row oracle: the
    production numpy vote fold (impl='np', what q_simhash_fast_raw
    times) vs the independent JVM SQL-expression bit algebra
    (impl='expr'), both over the same xxhash64 token hashes. Symmetric
    diff must return ZERO rows."""
    docs = _t(spark, sf_dir, "documents")
    expr_path = D.simhash_table(docs, hash_mode="fast", impl="expr")
    np_path = D.simhash_table(docs, hash_mode="fast", impl="np")
    return expr_path.exceptAll(np_path).unionByName(np_path.exceptAll(expr_path))


_SIMHASH_DIFF_SQL = """
SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS simhash WHERE FALSE
"""


_MINHASH_PAIRS_SQL = f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt FROM documents
), sh AS (
  SELECT doc_id, substr(nt, CAST(i.range AS INT), {X.SHINGLE_LEN}) AS sh
  FROM norm, range(1, 2000) i
  WHERE i.range <= greatest(length(nt) - {X.SHINGLE_LEN - 1}, 1)
), xs AS (
  SELECT doc_id, {X.hash60_sql("sh")} % {X.MINHASH_X_MOD} AS x FROM sh
), sig AS (
  SELECT doc_id, CAST(p.perm AS INT) AS perm,
         min((p.a * xs.x + p.b) % {X.MINHASH_P}) AS minhash
  FROM xs, (VALUES {X.minhash_values_sql()}) p(perm, a, b)
  GROUP BY doc_id, p.perm
), bands AS (
  SELECT doc_id, perm // 2 AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS band_hash
  FROM sig GROUP BY doc_id, perm // 2
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dups with rare-shingle candidate generation
    (df <= 20 bounds the self-join linearly — see
    dedup.ngram_candidate_counts); integer outputs + integer threshold
    (n_inter*10 >= 8*union) so no float crosses engines. Counts stay
    identical to the string-keyed DuckDB oracle barring 2^-64-scale
    hash collisions (byte-window == char-window shingles on this ASCII
    corpus — see shingle_hash_frame's docstring)."""
    c = D.ngram_candidate_counts(_t(spark, sf_dir, "documents"), max_df=20)
    union = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    return c.filter(F.col("n_inter") * 10 >= union * 8)


_NGRAM_JACCARD_SQL = f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt FROM documents
), sh AS (
  SELECT DISTINCT doc_id, substr(nt, CAST(i.range AS INT), {X.SHINGLE_LEN}) AS sh
  FROM norm, range(1, 2000) i
  WHERE i.range <= greatest(length(nt) - {X.SHINGLE_LEN - 1}, 1)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), rare AS (
  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh) WHERE df <= 20
), rare_sh AS (
  SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rare_sh a JOIN rare_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  SEMI JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter * 10 >= (sa.sz + sb.sz - n_inter) * 8
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at 8-token window granularity (Lee et al.
    2022's duplicated training-data spans, Spark-native): maximal spans
    of windows whose normalized token sequence occurs >= 2 times in the
    corpus. Oracle hash mode — windows keyed by md5 of the joined token
    string, value-exact vs DuckDB. Reference dedup analog:
    Borges/db_scripts/insert_jl.py:28-38 (doc-level keyed probe; this
    extends it to within-doc span granularity for corpus construction)."""
    docs = _t(spark, sf_dir, "documents")
    return D.duplicated_spans(docs, hash_mode="oracle")


# shared CTE chain: normalized tokens -> w-token md5 windows -> windows
# occurring >= 2x anywhere -> gaps-and-islands grouping of duplicated
# positions; both span-level and clean-text oracles select from it
_SPAN_CTES = f"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ts
  FROM documents
), idx AS (
  SELECT doc_id, ts, unnest(range(1, len(ts) - {D.SPAN_WINDOW} + 2)) AS i
  FROM toks WHERE len(ts) >= {D.SPAN_WINDOW}
), wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(list_slice(ts, CAST(i AS INT), CAST(i + {D.SPAN_WINDOW - 1} AS INT)), ' ')) AS win
  FROM idx
), dups AS (
  SELECT win FROM wins GROUP BY win HAVING count(*) >= 2
), hits AS (
  SELECT w.doc_id, w.pos FROM wins w SEMI JOIN dups d ON w.win = d.win
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {D.SPAN_WINDOW}
              THEN 0 ELSE 1 END AS brk
  FROM hits
), islands AS (
  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM marked
)"""

_SUBSTRING_DEDUP_SQL = f"""
WITH {_SPAN_CTES}
SELECT doc_id, min(pos) AS span_start,
       max(pos) + {D.SPAN_WINDOW} - 1 AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM islands GROUP BY doc_id, isl
"""


def q_substring_dedup_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production hash path: same span plan, windows keyed by the
    vectorized 64-bit rolling hash over per-token crc64 (mapInPandas,
    no string windows ever materialize). DuckDB has no equivalent hash,
    so the raw form has no SQL oracle — bench.py times it directly; the
    DRIVER gate is q_substring_dedup_fast's cross-hash diff below."""
    docs = _t(spark, sf_dir, "documents")
    return D.duplicated_spans(docs, hash_mode="fast")


def q_substring_dedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash substring dedup, driver-gated EXACTLY: symmetric
    difference between the rolling-hash span set and the md5
    string-window span set (same tokenization, independent window keys
    AND independent window production — numpy mapInPandas vs JVM
    higher-order expressions). Must return ZERO rows."""
    docs = _t(spark, sf_dir, "documents")
    fast = D.duplicated_spans(docs, hash_mode="fast")
    oracle = D.duplicated_spans(docs, hash_mode="oracle")
    return fast.exceptAll(oracle).unionByName(oracle.exceptAll(fast))


_SPAN_DIFF_SQL = """
SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS span_start,
       CAST(NULL AS BIGINT) AS span_end, CAST(NULL AS BIGINT) AS n_windows
WHERE FALSE
"""


def q_substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned corpus — ExactSubstr removal applied: every token
    covered by a duplicated span removed from every occurrence, kept
    tokens rejoined. Doc-level output (doc_id, clean_text, n_removed),
    value-exact vs DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return D.remove_duplicated_spans(docs, hash_mode="oracle")


_SUBSTRING_CLEAN_SQL = f"""
WITH {_SPAN_CTES}, spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + {D.SPAN_WINDOW} - 1 AS span_end
  FROM islands GROUP BY doc_id, isl
), tok_rows AS (
  SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts) + 1)) AS i
  FROM toks
), kept AS (
  SELECT t.doc_id, t.tok, t.i
  FROM tok_rows t
  ANTI JOIN spans s
    ON t.doc_id = s.doc_id AND t.i >= s.span_start AND t.i <= s.span_end
), agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(a.clean_text, '') END AS clean_text,
       CAST(CASE WHEN d.text IS NULL THEN 0
                 ELSE coalesce(len(t.ts), 0) - coalesce(a.n_kept, 0) END AS BIGINT) AS n_removed
FROM documents d
LEFT JOIN toks t USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash-LSH candidate edges: each doc
    labeled with the min reachable doc_id (iterative label propagation
    on Spark; recursive-CTE reachability in the DuckDB oracle)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs)
    return D.duplicate_groups(docs.select("doc_id"), pairs)


_DUP_GROUPS_SQL = f"""
WITH RECURSIVE norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt FROM documents
), sh AS (
  SELECT doc_id, substr(nt, CAST(i.range AS INT), {X.SHINGLE_LEN}) AS sh
  FROM norm, range(1, 2000) i
  WHERE i.range <= greatest(length(nt) - {X.SHINGLE_LEN - 1}, 1)
), xs AS (
  SELECT doc_id, {X.hash60_sql("sh")} % {X.MINHASH_X_MOD} AS x FROM sh
), sig AS (
  SELECT doc_id, CAST(p.perm AS INT) AS perm,
         min((p.a * xs.x + p.b) % {X.MINHASH_P}) AS minhash
  FROM xs, (VALUES {X.minhash_values_sql()}) p(perm, a, b)
  GROUP BY doc_id, p.perm
), bands AS (
  SELECT doc_id, perm // 2 AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS band_hash
  FROM sig GROUP BY doc_id, perm // 2
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach (id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dups within label buckets; ids only (the
    float similarity is engine-internal)."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_neardup_pairs(emb, threshold=0.4).select("id_a", "id_b")


_EMB_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), z -> z[1] * z[2]))
      / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x * x)))
         * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x * x))))
      >= 0.4
"""


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first 5 vectors as queries."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return S.brute_force_topk(corpus, queries, k=5).select("query_id", "vec_id", "rank")


_ANN_BF_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_sum(list_transform(list_zip(qv, cv), z -> z[1] * z[2]))
         / (sqrt(list_sum(list_transform(qv, x -> x * x))) * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos,
  FROM q, c
), ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 5
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN: corpus and queries bucketed by the sign
    pattern of 8 deterministic sin-based hyperplanes; candidates only
    within the query's bucket, exact cosine rank inside. The bucket is
    pure column algebra (JVM) and SQL-expressible, so the whole
    approximate path gets an exact oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return S.lsh_bucketed_topk(corpus, queries, k=5, n_planes=8).select(
        "query_id", "vec_id", "rank", "bucket"
    )


_ANN_LSH_SQL = """
WITH src AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         CAST(list_sum(list_transform(range(0, 8), p ->
           CASE WHEN list_sum(list_transform(range(0, len(embedding)), d ->
                  embedding[CAST(d AS INT) + 1]::DOUBLE * sin((p + 1)::DOUBLE * (d + 1)::DOUBLE))) > 0
                THEN pow(2.0, p::DOUBLE) ELSE 0.0 END)) AS INT) AS bucket
  FROM embeddings
), q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM src WHERE vec_id < 5),
c AS (SELECT vec_id, v AS cv, bucket FROM src WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, c.vec_id, c.bucket,
         round(list_sum(list_transform(list_zip(qv, cv), z -> z[1] * z[2]))
         / (sqrt(list_sum(list_transform(qv, x -> x * x))) * sqrt(list_sum(list_transform(cv, x -> x * x)))), 6) AS cos
  FROM q JOIN c ON q.bucket = c.bucket
), ranked AS (
  SELECT query_id, vec_id, bucket,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank, bucket FROM ranked WHERE rank <= 5
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: corpus assigned to its nearest of 3 fixed
    centroids (vec_ids 0-2), queries (vec_ids 3-7) probe their 2
    nearest centroid lists, exact cosine rank within."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 8)
    return S.ivf_style_topk(corpus, queries, centroids, k=5, n_probe=2).select(
        "query_id", "vec_id", "rank"
    )


_ANN_IVF_SQL = """
WITH cts AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS ctv FROM embeddings WHERE vec_id < 3
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id >= 3 AND vec_id < 8
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 8
), cos_cq AS (
  SELECT c.vec_id, cts.centroid_id, cv,
         list_sum(list_transform(list_zip(cv, ctv), z -> z[1] * z[2]))
         / (sqrt(list_sum(list_transform(cv, x -> x * x))) * sqrt(list_sum(list_transform(ctv, x -> x * x)))) AS s
  FROM c, cts
), c_assigned AS (
  SELECT vec_id, centroid_id, cv FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id ASC) AS rn FROM cos_cq
  ) WHERE rn = 1
), cos_qc AS (
  SELECT q.query_id, cts.centroid_id, qv,
         list_sum(list_transform(list_zip(qv, ctv), z -> z[1] * z[2]))
         / (sqrt(list_sum(list_transform(qv, x -> x * x))) * sqrt(list_sum(list_transform(ctv, x -> x * x)))) AS s
  FROM q, cts
), q_probes AS (
  SELECT query_id, centroid_id, qv FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, centroid_id ASC) AS rn FROM cos_qc
  ) WHERE rn <= 2
), scored AS (
  SELECT p.query_id, a.vec_id,
         list_sum(list_transform(list_zip(p.qv, a.cv), z -> z[1] * z[2]))
         / (sqrt(list_sum(list_transform(p.qv, x -> x * x))) * sqrt(list_sum(list_transform(a.cv, x -> x * x)))) AS cos
  FROM q_probes p JOIN c_assigned a ON p.centroid_id = a.centroid_id
)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# non-SQL-expressible: crawl engine e2e, multimodal, streaming
# (rows-only checks — the driver records a weaker gate; full semantics
# are pytest-verified against the reference simulator)


def q_crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine: 5 politeness-budgeted rounds over a deterministic
    400-page synthetic web; returns the crawl log (ordering oracle).
    Verified against the single-process reference simulator in
    tests/test_engine_e2e.py (crawl order + seen set + byte-identical
    text)."""
    import os
    import shutil
    import tempfile

    from borges_spark.operators.politeness import PolitenessConfig
    from borges_spark.plans.checkpoint import SnapshotStore
    from borges_spark.plans.engine import CrawlConfig, CrawlEngine
    from borges_spark.sources.synthetic_web import WebConfig, gen_pages, gen_seeds

    web = WebConfig(n_pages=400, n_hosts=6, out_degree=3, n_seeds=4)
    cfg = CrawlConfig(
        max_rounds=5, order_mode="fifo", use_bloom=True,
        politeness=PolitenessConfig(default_delay_s=5.0, round_budget_s=60.0),
    )
    # a UNIQUE store per invocation (the caller reads the returned
    # crawl-log lazily, so the store must outlive this function and must
    # not be clobbered by a later invocation or a concurrent process);
    # atexit bounds the leak to the process lifetime
    import atexit

    store_root = tempfile.mkdtemp(prefix="borges_crawl_e2e_")
    atexit.register(shutil.rmtree, store_root, ignore_errors=True)
    store = SnapshotStore(store_root)
    engine = CrawlEngine(spark, gen_pages(spark, web), gen_seeds(spark, web), store, cfg)
    engine.run(resume=False)
    return engine.crawl_log().orderBy("round", "rank_in_round")


def _crawl_diff(spark: SparkSession, cfg_kwargs: dict, sim_kwargs: dict) -> DataFrame:
    """Symmetric difference between the ENGINE's crawl log and the
    single-process reference SIMULATOR's, over the same deterministic
    synthetic web: engine ∖ sim ∪ sim ∖ engine on
    (round, rank, url, status, stage, text). 0 rows == exact
    equivalence — crawl ordering, status routing, tier transitions, and
    byte-identical extracted text all fold into the compared tuples —
    which turns the flagship e2e into a DRIVER-VISIBLE exact gate with
    a trivially-empty DuckDB oracle.

    Honest scope note: the simulator imports the ENGINE's parse
    functions (plans/simulator.py), so text equality in this diff is by
    construction; the diff's real signal is ordering / status / stage /
    seen-set equivalence. Parser TEXT semantics are pinned
    independently by the golden fixtures in tests/test_publishers.py
    and the generator roundtrip in tests/test_synthetic_web.py."""
    import atexit
    import shutil
    import tempfile

    from borges_spark.operators.politeness import PolitenessConfig
    from borges_spark.plans.checkpoint import SnapshotStore
    from borges_spark.plans.engine import CrawlConfig, CrawlEngine
    from borges_spark.plans.simulator import simulate_crawl
    from borges_spark.sources.synthetic_web import WebConfig, gen_pages, gen_seeds

    web = WebConfig(n_pages=400, n_hosts=6, out_degree=3, n_seeds=4)
    pages, seeds = gen_pages(spark, web), gen_seeds(spark, web)
    pol = PolitenessConfig(default_delay_s=5.0, round_budget_s=60.0)
    cfg = CrawlConfig(politeness=pol, **cfg_kwargs)
    store_root = tempfile.mkdtemp(prefix="borges_crawl_diff_")
    atexit.register(shutil.rmtree, store_root, ignore_errors=True)
    engine = CrawlEngine(spark, pages, seeds, SnapshotStore(store_root), cfg)
    engine.run(resume=False)
    elog = engine.crawl_log().select(
        F.col("round").cast("int").alias("rno"),
        F.col("rank_in_round").cast("int").alias("rnk"),
        "url",
        "status",
        F.col("stage").cast("int").alias("stage"),
        F.coalesce("text", F.lit("")).alias("body"),
    )
    pages_d = {r["url"]: bytes(r["html"]) for r in pages.select("url", "html").collect()}
    seed_rows = [(r["url"], r["seq"]) for r in seeds.collect()]
    seen_urls = [r["url"] for r in engine.frontier().select("url").collect()]
    hdf = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    hashes = {r["url"]: r["h"] for r in hdf.withColumn("h", F.xxhash64("url")).collect()}
    sim = simulate_crawl(pages_d, seed_rows, hashes, politeness=pol, **sim_kwargs)
    slog = spark.createDataFrame(
        [(t[0], t[1], t[2], t[3], t[5], t[4] or "") for t in sim.crawl_log],
        "rno int, rnk int, url string, status int, stage int, body string",
    )
    return elog.exceptAll(slog).unionByName(slog.exceptAll(elog))


def q_crawl_e2e_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship crawl, driver-gated exactly (VERDICT r2 item 4):
    same web/config as q_crawl_e2e, compared tuple-for-tuple against the
    reference simulator. Must return ZERO rows."""
    return _crawl_diff(
        spark,
        dict(max_rounds=5, order_mode="fifo", use_bloom=True),
        dict(order_mode="fifo", max_rounds=5),
    )


def q_two_tier_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained two-tier crawl (ECS metadata pass -> full-HTML pass,
    ECS/paper_html.py:43, with the :39-42 hour gate on tier 1), driver-
    gated exactly via the engine-vs-simulator diff. Must return ZERO
    rows."""
    stages = dict(n_stages=2, stage_windows=(None, (2, 23)))
    return _crawl_diff(
        spark,
        dict(max_rounds=8, order_mode="fifo", use_bloom=True, **stages),
        dict(order_mode="fifo", max_rounds=8, **stages),
    )


_CRAWL_DIFF_SQL = """
SELECT CAST(NULL AS INTEGER) AS rno, CAST(NULL AS INTEGER) AS rnk,
       CAST(NULL AS VARCHAR) AS url, CAST(NULL AS INTEGER) AS status,
       CAST(NULL AS INTEGER) AS stage, CAST(NULL AS VARCHAR) AS body
WHERE FALSE
"""


def q_publisher_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-publisher extraction (F9/F10): JATS XML + ECS HTML fixtures
    through the Arrow-batched parser; golden-value tests live in
    tests/test_publishers.py."""
    from borges_spark.functions.publishers import parse_documents

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    # wrap each document's text in a deterministic JATS envelope
    xml = F.concat(
        F.lit("<article><front><article-meta>"
              "<article-id pub-id-type=\"doi\">10.5555/doc."),
        F.col("doc_id").cast("string"),
        F.lit("</article-id><title-group><article-title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</article-title></title-group>"
              "<pub-date pub-type=\"ppub\"><year>2021</year></pub-date>"
              "<abstract><p>"),
        F.col("text"),
        F.lit("</p></abstract></article-meta></front><body><p>"),
        F.col("text"),
        F.lit("</p></body></article>"),
    )
    wrapped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("SYN").alias("publisher"),
        F.lit("jats_xml").alias("fmt"),
        F.encode(xml, "UTF-8").alias("body"),
    )
    # RSC envelope over docs 50-79 (extract_rsc_html; ref RSC/metadata.py:86-118)
    rsc_docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 50) & (F.col("doc_id") < 80)
    )
    rsc_html = F.concat(
        F.lit('<div id="tabissues"><div class="h--heading4">Volume 1 2023, Issue 07</div></div>'
              '<span class="capsule__context">Paper</span>'
              '<div class="article__title"><h2 class="capsule__title">RSC Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</h2></div><div class="capsule__text">'),
        F.col("text"),
        F.lit('</div><dl><dd class="c__24"><a class="text--small">https://doi.org/10.1039/D'),
        F.col("doc_id").cast("string"),
        F.lit("</a></dd></dl>"),
    )
    rsc_wrapped = rsc_docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("RSC").alias("publisher"),
        F.lit("rsc_html").alias("fmt"),
        F.encode(rsc_html, "UTF-8").alias("body"),
    )
    return parse_documents(wrapped.unionByName(rsc_wrapped)).select(
        "doc_id", "doi", "title", "published_year", "contains_body"
    )


# the synthetic envelope makes the parse output SQL-predictable, so the
# extractor gets a real value-hash oracle, not just a rows-only check
_PUBLISHER_PARSE_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '10.5555/doc.' || CAST(doc_id AS VARCHAR) AS doi,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       2021 AS published_year,
       trim(regexp_replace(text, '\\s+', ' ', 'g')) <> '' AS contains_body
FROM documents WHERE doc_id < 50
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '10.1039/D' || CAST(doc_id AS VARCHAR) AS doi,
       'RSC Doc ' || CAST(doc_id AS VARCHAR) AS title,
       2023 AS published_year,
       FALSE AS contains_body
FROM documents WHERE doc_id >= 50 AND doc_id < 80
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing over the synthetic media table. The
    payloads are deterministic (repeating id bytes), so the checked
    outputs (byte length, routing kind, decode_ok) get a literal SQL
    oracle over range(64) — an exact driver gate (VERDICT r3 item 2),
    not a rows-only check."""
    from borges_spark.operators.multimodal import extract_features, gen_media

    return extract_features(gen_media(spark, 64)).select(
        "media_id", "kind", "n_bytes", "decode_ok"
    )


_MULTIMODAL_FEATURES_SQL = """
SELECT 'm' || CAST(i.range AS VARCHAR) AS media_id,
       CASE i.range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(32 * (4 + length(CAST(i.range AS VARCHAR))) AS BIGINT) AS n_bytes,
       TRUE AS decode_ok
FROM range(0, 64) i
"""


def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing with an EXACT oracle: documents' text bytes as
    opaque image payloads through the Arrow decode pipeline; the checked
    outputs are the integer-exact feature components (byte-length mod,
    first/last byte) — exactly representable in float32, so the value
    hash is deterministic cross-engine. The float mean stays pytest-only."""
    from borges_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast(
            "struct<width:int,height:int,duration_ms:bigint,sample_rate:int>"
        ).alias("meta"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.element_at("feature", 1).cast("double").alias("f_lenmod"),
        F.element_at("feature", 3).cast("double").alias("f_first_byte"),
        F.element_at("feature", 4).cast("double").alias("f_last_byte"),
        "decode_ok",
    )


_MULTIMODAL_SQL = """
SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 251 AS DOUBLE) AS f_lenmod,
       CAST(ord(substr(text, 1, 1)) AS DOUBLE) AS f_first_byte,
       CAST(ord(substr(text, length(text), 1)) AS DOUBLE) AS f_last_byte,
       octet_length(encode(text)) > 0 AS decode_ok
FROM documents WHERE doc_id < 100
"""


def q_multimodal_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode with an EXACT oracle: deterministic BMP / PNG
    (stdlib zlib inflate + per-row unfilter) / GIF (real LZW) / JPEG
    (baseline Huffman + dequant + IDCT; even-gray fixtures make the
    lossy codec bit-exact) images, PCM WAVs and Y4M video streams built
    from index math, decoded by the pure-numpy codec parsers
    (operators/codecs) inside the Arrow pipeline. The checked outputs
    are the exactly-representable feature components (dims,
    constant-plane luma, sample-count duration, frame counts), so the
    value hash is deterministic cross-engine while the decode
    underneath is genuine header/plane/sample/bitstream parsing. WebP
    rows go through the full VP8L decoder (RIFF walk, LSB-first prefix
    codes). Only genuinely codec-bound formats (MP4 video / lossy VP8)
    keep the documented deterministic fallback."""
    import numpy as np

    from borges_spark.operators import codecs as C
    from borges_spark.operators.multimodal import extract_features

    rows = []
    for i in range(30):  # constant-value BMPs: mean==v, std==0, grid==v
        w, h, v = 4 + i % 3, 2 + i % 2, i % 200
        img = np.full((h, w, 3), v, dtype=np.uint8)
        rows.append((f"img{i}", "image", "image/bmp", bytearray(C.encode_bmp(img)), None))
    for i in range(20):  # silent PCM: duration exactly i ms at 8 kHz
        wav = C.encode_wav(np.zeros((8 * i + 8, 1), dtype=np.float32), 8000)
        rows.append((f"aud{i}", "audio", "audio/wav", bytearray(wav), None))
    for i in range(10):  # 3 constant frames, sampled every 2nd -> 2 kept
        v = 10 + i
        y4m = C.encode_y4m([np.full((2, 4), v, dtype=np.uint8)] * 3)
        rows.append((f"vid{i}", "video", "video/x-y4m", bytearray(y4m), None))
    for i in range(15):  # constant-color PNGs through zlib inflate + unfilter
        w, h, v = 3 + i % 4, 2 + i % 3, (7 * i) % 256
        img = np.full((h, w, 3), v, dtype=np.uint8)
        png = C.encode_png(img, filter_type=2 if i % 2 else 0)
        rows.append((f"png{i}", "image", "image/png", bytearray(png), None))
    for i in range(15):  # single-color GIFs through the real LZW decoder
        w, h, v = 5 + i % 3, 3 + i % 2, (11 * i) % 256
        pal = np.array([[v, v, v], [0, 0, 0]], dtype=np.uint8)
        gif = C.encode_gif(np.zeros((h, w), dtype=np.uint8), pal)
        rows.append((f"gif{i}", "image", "image/gif", bytearray(gif), None))
    for i in range(15):  # constant-gray JPEGs through baseline Huffman+IDCT
        # v EVEN => the luma DC (8*(v-128)) quantizes exactly by 16 and
        # chroma is exactly 128 (DC 0), so decode reproduces v exactly
        # and the feature hash is deterministic despite the lossy codec
        w, h, v = 8 + i % 5, 6 + i % 4, (14 * i) % 256
        img = np.full((h, w, 3), v, dtype=np.uint8)
        rows.append((f"jpg{i}", "image", "image/jpeg", bytearray(C.encode_jpeg(img)), None))
    for i in range(15):  # constant-color WebPs through the VP8L decoder
        # (RIFF walk + LSB bitstream + canonical prefix codes), lossless
        w, h, v = 4 + i % 6, 3 + i % 3, (23 * i) % 256
        img = np.full((h, w, 3), v, dtype=np.uint8)
        rows.append((f"webp{i}", "image", "image/webp",
                     bytearray(C.encode_webp_lossless(img)), None))
    media = spark.createDataFrame(
        rows,
        "media_id string, kind string, mime string, payload binary, "
        "meta struct<width:int,height:int,duration_ms:bigint,sample_rate:int>",
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        F.element_at("feature", 1).cast("double").alias("f0"),
        F.element_at("feature", 2).cast("double").alias("f1"),
        F.element_at("feature", 3).cast("double").alias("f2"),
        F.element_at("feature", 4).cast("double").alias("f3"),
    )


_MULTIMODAL_CODECS_SQL = """
SELECT 'img' || CAST(i.range AS VARCHAR) AS media_id, 'image' AS kind,
       CAST(4 + i.range % 3 AS DOUBLE) AS f0,
       CAST(2 + i.range % 2 AS DOUBLE) AS f1,
       CAST(i.range % 200 AS DOUBLE) AS f2,
       CAST(0 AS DOUBLE) AS f3
FROM range(0, 30) i
UNION ALL
SELECT 'aud' || CAST(i.range AS VARCHAR), 'audio',
       CAST(i.range + 1 AS DOUBLE),  -- (8i+8) samples @8kHz == i+1 ms
       CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
FROM range(0, 20) i
UNION ALL
SELECT 'vid' || CAST(i.range AS VARCHAR), 'video',
       CAST(4 AS DOUBLE),  -- W
       CAST(2 AS DOUBLE),  -- H
       CAST(2 AS DOUBLE),  -- frames kept (every 2nd of 3)
       CAST(10 + i.range AS DOUBLE)  -- first sampled frame's luma mean
FROM range(0, 10) i
UNION ALL
SELECT 'png' || CAST(i.range AS VARCHAR), 'image',
       CAST(3 + i.range % 4 AS DOUBLE),   -- W
       CAST(2 + i.range % 3 AS DOUBLE),   -- H
       CAST((7 * i.range) % 256 AS DOUBLE),  -- constant luma mean
       CAST(0 AS DOUBLE)                  -- std of a constant plane
FROM range(0, 15) i
UNION ALL
SELECT 'gif' || CAST(i.range AS VARCHAR), 'image',
       CAST(5 + i.range % 3 AS DOUBLE),
       CAST(3 + i.range % 2 AS DOUBLE),
       CAST((11 * i.range) % 256 AS DOUBLE),
       CAST(0 AS DOUBLE)
FROM range(0, 15) i
UNION ALL
SELECT 'jpg' || CAST(i.range AS VARCHAR), 'image',
       CAST(8 + i.range % 5 AS DOUBLE),
       CAST(6 + i.range % 4 AS DOUBLE),
       CAST((14 * i.range) % 256 AS DOUBLE),
       CAST(0 AS DOUBLE)
FROM range(0, 15) i
UNION ALL
SELECT 'webp' || CAST(i.range AS VARCHAR), 'image',
       CAST(4 + i.range % 6 AS DOUBLE),
       CAST(3 + i.range % 3 AS DOUBLE),
       CAST((23 * i.range) % 256 AS DOUBLE),
       CAST(0 AS DOUBLE)
FROM range(0, 15) i
"""


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermarked window agg over the events
    parquet, drained synchronously in COMPLETE mode — at drain time the
    result equals the batch aggregation, so the streaming path gets an
    EXACT DuckDB oracle (append mode stays the deployment default and is
    pytest-covered). The sum accumulates in decimal: order-independent,
    hence parallelism-invariant and cross-engine exact."""
    from borges_spark.streaming.stream_crawl import windowed_event_counts

    return windowed_event_counts(spark, f"{sf_dir}/events.parquet", output_mode="complete")


_STREAMING_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def q_streaming_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked windows with real late data (VERDICT r3
    item 8): a three-file stream drained with maxFilesPerTrigger=1 so
    the watermark advances between batches. File 0 carries 160 on-time
    events in hours 0-7 plus a sentinel at hour 10 (advancing the
    watermark to hour 8); file 1 is a lone keep-alive row at 10:30
    (Spark's two-watermark semantics, SPARK-24634: LATE-ROW FILTERING
    uses the PREVIOUS batch's watermark while state eviction uses the
    current one, so late data is only provably dropped when it arrives
    two batches after the events that advanced the watermark); file 2
    carries 40 LATE events back in hours 0-1 — far beyond the 2h
    watermark, so the engine must DROP them — plus a sentinel at hour
    12. Append output is exactly the closed windows (hours 0-7) over
    the on-time rows only; the late rows carry a poison value (999) so
    any leak flips the value hash. The open sentinel windows (ends
    11h/13h > final watermark 10h) must not appear. The oracle
    recomputes the surviving aggregation literally."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile

    from borges_spark.streaming.stream_crawl import windowed_event_counts

    base = 1704067200  # 2024-01-01T00:00:00Z
    i = F.col("id")
    etype = F.element_at(
        F.array(F.lit("click"), F.lit("view"), F.lit("buy")), (F.pmod(i, F.lit(3)) + 1).cast("int")
    )
    ontime = spark.range(160).select(
        i.alias("event_id"),
        F.timestamp_seconds(
            F.lit(base) + F.pmod(i, F.lit(8)) * 3600 + F.pmod(i * 37, F.lit(3600))
        ).alias("ts"),
        F.pmod(i, F.lit(20)).alias("user_id"),
        etype.alias("event_type"),
        (i * F.lit(0.25)).alias("value"),
        F.lit(None).cast("string").alias("props"),
    ).unionByName(
        spark.range(1).select(
            F.lit(10_000).cast("long").alias("event_id"),
            F.timestamp_seconds(F.lit(base + 10 * 3600)).alias("ts"),
            F.lit(0).cast("long").alias("user_id"),
            F.lit("click").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )
    keepalive = spark.range(1).select(
        F.lit(10_002).cast("long").alias("event_id"),
        F.timestamp_seconds(F.lit(base + 10 * 3600 + 1800)).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    late = spark.range(40).select(
        (i + 1000).alias("event_id"),
        F.timestamp_seconds(
            F.lit(base) + F.pmod(i, F.lit(2)) * 3600 + F.pmod(i * 53, F.lit(3600))
        ).alias("ts"),
        F.pmod(i, F.lit(20)).alias("user_id"),
        etype.alias("event_type"),
        F.lit(999.0).alias("value"),  # poison: must be watermark-dropped
        F.lit(None).cast("string").alias("props"),
    ).unionByName(
        spark.range(1).select(
            F.lit(10_001).cast("long").alias("event_id"),
            F.timestamp_seconds(F.lit(base + 12 * 3600)).alias("ts"),
            F.lit(0).cast("long").alias("user_id"),
            F.lit("click").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )
    root = tempfile.mkdtemp(prefix="borges_stream_append_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    stream_dir = os.path.join(root, "stream")
    os.makedirs(stream_dir)
    now = None
    for k, df in enumerate((ontime, keepalive, late)):
        tmp = os.path.join(root, f"tmp{k}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"b{k}.parquet")
        shutil.move(part, dst)
        if now is None:
            now = os.path.getmtime(dst)
        # strictly increasing mod times pin the file-stream batch order
        os.utime(dst, (now + 10 * k, now + 10 * k))
    return windowed_event_counts(
        spark, stream_dir, output_mode="append", max_files_per_trigger=1,
        query_name="borges_stream_append",
    )


_STREAMING_APPEND_SQL = """
SELECT TIMESTAMP '2024-01-01 00:00:00' + to_hours(i.range % 8) AS window_start,
       CASE i.range % 3 WHEN 0 THEN 'click' WHEN 1 THEN 'view' ELSE 'buy' END AS event_type,
       count(*) AS n,
       CAST(sum(CAST(i.range * 0.25 AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM range(0, 160) i GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # crawl-shaped operators
        "frontier_round": q_frontier_round,
        "seen_antijoin": q_seen_antijoin,
        "retry_routing": q_retry_routing,
        "time_gate": q_time_gate,
        "seed_enumeration": q_seed_enumeration,
        "lineage_counters": q_lineage_counters,
        "exists_any": q_exists_any,
        "pagination_math": q_pagination_math,
        # classic relational
        "scan_agg": q_scan_agg,
        "broadcast_join": q_broadcast_join,
        "semi_join": q_semi_join,
        "topk_per_group": q_topk_per_group,
        "window_running": q_window_running,
        "union_seeds": q_union_seeds,
        "top_n_sample": q_top_n_sample,
        "random_sample": q_random_sample,
        "schema_migrate": q_schema_migrate,
        "explode_positions": q_explode_positions,
        "scalar_parsing": q_scalar_parsing,
        "json_access": q_json_access,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "rollup_counts": q_rollup_counts,
        "pivot_status": q_pivot_status,
        "intersect_hosts": q_intersect_hosts,
        # training-data pipeline
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "lang_id": q_lang_id,
        "quality_counts": q_quality_counts,
        "gopher_filter": q_gopher_filter,
        "gopher_repetition": q_gopher_repetition,
        "fingerprint": q_fingerprint,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "minhash_signature": q_minhash_signature,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_lsh_fast": q_minhash_lsh_fast,
        "simhash_fast": q_simhash_fast,
        "ngram_jaccard": q_ngram_jaccard,
        "substring_dedup": q_substring_dedup,
        "substring_dedup_fast": q_substring_dedup_fast,
        "substring_dedup_clean": q_substring_dedup_clean,
        "dup_groups": q_dup_groups,
        "embedding_neardup": q_embedding_neardup,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_ivf": q_ann_ivf,
        "ann_lsh": q_ann_lsh,
        # engine e2e — crawl_e2e stays rows-only (the raw log); the two
        # diff queries carry EXACT oracles (0 rows == engine≡simulator)
        "publisher_parse": q_publisher_parse,
        "crawl_e2e": q_crawl_e2e,
        "crawl_e2e_diff": q_crawl_e2e_diff,
        "two_tier_crawl": q_two_tier_crawl,
        "multimodal_features": q_multimodal_features,
        "multimodal_pipeline": q_multimodal_pipeline,
        "multimodal_codecs": q_multimodal_codecs,
        "streaming_window": q_streaming_window,
        "streaming_append": q_streaming_append,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "frontier_round": _FRONTIER_ROUND_SQL,
        "seen_antijoin": _SEEN_ANTIJOIN_SQL,
        "retry_routing": _RETRY_ROUTING_SQL,
        "time_gate": _TIME_GATE_SQL,
        "seed_enumeration": _SEED_ENUM_SQL,
        "lineage_counters": _LINEAGE_SQL,
        "exists_any": _EXISTS_ANY_SQL,
        "pagination_math": _PAGINATION_SQL,
        "scan_agg": _SCAN_AGG_SQL,
        "broadcast_join": _BROADCAST_JOIN_SQL,
        "semi_join": _SEMI_JOIN_SQL,
        "topk_per_group": _TOPK_SQL,
        "window_running": _WINDOW_RUNNING_SQL,
        "union_seeds": _UNION_SQL,
        "top_n_sample": _TOP_N_SQL,
        "random_sample": _RANDOM_SAMPLE_SQL,
        "schema_migrate": _SCHEMA_MIGRATE_SQL,
        "multimodal_features": _MULTIMODAL_FEATURES_SQL,
        "multimodal_pipeline": _MULTIMODAL_SQL,
        "multimodal_codecs": _MULTIMODAL_CODECS_SQL,
        "streaming_window": _STREAMING_WINDOW_SQL,
        "streaming_append": _STREAMING_APPEND_SQL,
        "explode_positions": _EXPLODE_SQL,
        "scalar_parsing": _SCALAR_SQL,
        "json_access": _JSON_SQL,
        "sessionize": _SESSIONIZE_SQL,
        "asof_join": _ASOF_SQL,
        "rollup_counts": _ROLLUP_SQL,
        "pivot_status": _PIVOT_SQL,
        "intersect_hosts": _INTERSECT_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "token_count": _TOKEN_COUNT_SQL,
        "lang_id": _LANG_ID_SQL,
        "quality_counts": _QUALITY_SQL,
        "gopher_filter": _GOPHER_SQL,
        "gopher_repetition": _GOPHER_REPETITION_SQL,
        "fingerprint": _FINGERPRINT_SQL,
        "simhash": _SIMHASH_SQL,
        "simhash_pairs": _SIMHASH_PAIRS_SQL,
        "simhash_fast": _SIMHASH_DIFF_SQL,
        "minhash_signature": _MINHASH_SQL,
        "minhash_lsh_pairs": _MINHASH_PAIRS_SQL,
        "minhash_lsh_fast": _PAIR_DIFF_SQL,
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        "substring_dedup": _SUBSTRING_DEDUP_SQL,
        "substring_dedup_fast": _SPAN_DIFF_SQL,
        "substring_dedup_clean": _SUBSTRING_CLEAN_SQL,
        "dup_groups": _DUP_GROUPS_SQL,
        "embedding_neardup": _EMB_NEARDUP_SQL,
        "ann_bruteforce": _ANN_BF_SQL,
        "ann_ivf": _ANN_IVF_SQL,
        "ann_lsh": _ANN_LSH_SQL,
        "publisher_parse": _PUBLISHER_PARSE_SQL,
        "crawl_e2e_diff": _CRAWL_DIFF_SQL,
        "two_tier_crawl": _CRAWL_DIFF_SQL,
        # crawl_e2e: rows-only by nature (the raw log; its semantics are
        # gated exactly by crawl_e2e_diff's 0-row oracle)
    }
