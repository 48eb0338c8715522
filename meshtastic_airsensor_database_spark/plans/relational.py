"""Relational core queries (SURVEY.md §2.3, §2.4, §2.6, §2.7).

Joins / aggregations / set ops / sorts / top-k over the TPC-H-ish
testdata. The reference has no GROUP BY and one implicit join (a dict
lookup); this module is the declared query surface those capabilities
generalize to, expressed so Catalyst picks broadcast joins for the
small dimensions and partial (map-side) aggregation everywhere.

Scale posture: region/nation/supplier/customer are dimension-sized ->
broadcast (no shuffle of the fact side); all aggregates are hash
aggregates with partial combine; top-k compiles to
TakeOrderedAndProject (no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io_utils import load
from ..operators.entity import blocked_fuzzy_match
from .base import Query, r, sql_query


# --- Q1-style pricing summary (agg showcase: 8 aggregates, 2 keys) ---------

PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(CAST(SUM(l_quantity) AS DECIMAL(38,9)), 2) AS DOUBLE)                                   AS sum_qty,
       CAST(ROUND(CAST(SUM(l_extendedprice) AS DECIMAL(38,9)), 2) AS DOUBLE)                              AS sum_base_price,
       CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,9)), 2) AS DOUBLE)           AS sum_disc_price,
       CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_charge,
       CAST(ROUND(CAST(AVG(l_quantity) AS DECIMAL(38,9)), 2) AS DOUBLE)                                   AS avg_qty,
       CAST(ROUND(CAST(AVG(l_extendedprice) AS DECIMAL(38,9)), 2) AS DOUBLE)                              AS avg_price,
       CAST(ROUND(CAST(AVG(l_discount) AS DECIMAL(38,9)), 4) AS DOUBLE)                                   AS avg_disc,
       COUNT(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-style: 3-way join + agg + deterministic top-k -----------------------

TOP_ORDERS_BY_REVENUE_SQL = """
SELECT /*+ BROADCAST(customer) */ o_orderkey, o_orderdate, o_orderpriority,
       CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,9)), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# --- Q5-style: 6-way join through the star schema ---------------------------

REGION_SUPPLIER_REVENUE_SQL = """
SELECT /*+ BROADCAST(customer, supplier, nation, region) */ n_name, CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,9)), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


# --- fact -> dim snowflake enrich (node_dim_enrich generalization) ----------

FACT_DIM_JOIN_SQL = """
SELECT /*+ BROADCAST(customer, nation, region) */ r_name,
       COUNT(*) AS n_orders,
       CAST(ROUND(CAST(SUM(o_totalprice) AS DECIMAL(38,9)), 2) AS DOUBLE) AS total_price,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation   ON c_nationkey = n_nationkey
LEFT JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- semi / anti joins -------------------------------------------------------

def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS) — customers having >=1 URGENT order, per nation."""
    cust = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


CUSTOMERS_WITH_URGENT_ORDERS_SQL = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


CUSTOMERS_WITHOUT_URGENT_ORDERS_SQL = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


# --- set operations (SURVEY §2.7) -------------------------------------------

NATION_KEYS_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


NATION_KEYS_EXCEPT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
"""


UNION_ORDER_SLICES_SQL = """
WITH u AS (
  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_totalprice >= 200000
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_totalprice < 50000
)
SELECT o_orderstatus, COUNT(*) AS n, CAST(ROUND(CAST(AVG(o_totalprice) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_price
FROM u GROUP BY o_orderstatus
"""


# --- grouping variants: rollup / cube / pivot --------------------------------

ROLLUP_LINEITEM_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(CAST(SUM(l_quantity) AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_qty, COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


CUBE_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (stays a single hash aggregate)."""
    orders = load(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .count()
        .na.fill(0)
    )
    return piv.select(
        "o_orderstatus",
        F.col("1-URGENT").alias("urgent"),
        F.col("2-HIGH").alias("high"),
        F.col("3-MEDIUM").alias("medium"),
    )


PIVOT_PRIORITY_BY_STATUS_SQL = """
SELECT o_orderstatus,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH')   AS high,
       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium
FROM orders GROUP BY o_orderstatus
"""


# --- sorts / top-k / distinct -------------------------------------------------

TOPK_EXPENSIVE_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


TOP3_ORDERS_PER_SEGMENT_SQL = """
SELECT c_mktsegment, rank_in_segment, o_orderkey, o_totalprice
FROM (SELECT /*+ BROADCAST(customer) */ c_mktsegment, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY c_mktsegment
                          ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_segment
      FROM orders JOIN customer ON o_custkey = c_custkey)
WHERE rank_in_segment <= 3
"""


DISTINCT_MKTSEGMENTS_SQL = "SELECT DISTINCT c_mktsegment FROM customer"


def line_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.6 line_numbering (QuerryGenerator.py:11-16): stable
    0-based sequence over an explicit total order.

    Two-pass partition-offset zipWithIndex (SURVEY §2.6's prescribed
    scale form) instead of a global ``Window.orderBy`` — the old plan
    moved the whole table through ONE partition. Pass 1 range-partitions
    on the total order and counts rows per partition (map-side partial
    -> one row per partition, bounded driver collect). Pass 2 re-runs
    the same deterministic range shuffle and numbers rows narrowly:
    ``monotonically_increasing_id`` encodes (partition id << 33 | row
    index within partition), and because rows are sorted within each
    range partition the within-partition index IS the local rank, so
    line_number = broadcast_offset[pid] + local_index. No Window, no
    single-partition exchange; the only movement of the table is the one
    range shuffle of a two-column projection.

    The ranged frame is materialized ONCE (``localCheckpoint(eager)``)
    before the counts pass: ``repartitionByRange`` draws its boundaries
    by reservoir sampling seeded from the RDD id, so re-executing the
    shuffle for pass 2 could draw DIFFERENT boundaries and the offsets
    would no longer describe the partitions being numbered (duplicate /
    missing line numbers at scale). Checkpointing pins one concrete
    partitioning that both passes read — the same discipline
    ``mmr_rerank`` and ``erase_key`` use for their iterative frames.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_parts = max(int(spark.sparkContext.defaultParallelism), 1)
    ranged = docs.repartitionByRange(
        n_parts, F.col("n_chars"), F.col("doc_id")
    ).sortWithinPartitions("n_chars", "doc_id").localCheckpoint(eager=True)
    # Pass 1: per-partition counts. groupBy(spark_partition_id) partials
    # to exactly one row per partition before the exchange; the collect
    # is bounded by the partition count, never the row count.
    counts = {
        r["_pid"]: r["_cnt"]
        for r in ranged.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):  # range partitions are ordered by key
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
    )
    # Pass 2: narrow numbering over the same deterministic shuffle.
    mid = F.monotonically_increasing_id()
    local_idx = mid.bitwiseAND(F.lit((1 << 33) - 1))
    pid = F.shiftright(mid, 33).cast("int")
    return ranged.select(
        "doc_id",
        (F.element_at(off_map, pid) + local_idx).cast("long").alias("line_number"),
    )


LINE_NUMBERING_SQL = """
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS line_number
FROM documents
"""


GROUPING_SETS_REVENUE_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,9)), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def priority_order_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by keyed on the UNIQUE o_orderkey (deterministic —
    arg-extremes on a tied key like o_totalprice would be
    engine-dependent): first/last order's price per priority."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
        F.min_by("o_totalprice", "o_orderkey").alias("first_order_price"),
        r(F.max("o_totalprice"), 2).alias("max_price"),
        F.count("*").alias("n_orders"),
    )


PRIORITY_ORDER_EXTREMES_SQL = """
SELECT o_orderpriority,
       arg_max(o_totalprice, o_orderkey) AS last_order_price,
       arg_min(o_totalprice, o_orderkey) AS first_order_price,
       CAST(ROUND(CAST(MAX(o_totalprice) AS DECIMAL(38,9)), 2) AS DOUBLE) AS max_price,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


MONTHLY_ORDER_TREND_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       COUNT(*) AS n_orders,
       CAST(ROUND(CAST(SUM(o_totalprice) AS DECIMAL(38,9)), 2) AS DOUBLE) AS total_price
FROM orders GROUP BY 1
"""


PARTS_ABOVE_AVG_PRICE_SQL = """
SELECT p_partkey, p_brand, p_retailprice
FROM part
WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
"""


PRIORITY_MULTISET_INTERSECT_SQL = """
WITH o AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
     f AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
     both_ms AS (SELECT o_orderpriority, COUNT(*) AS n_shared
                 FROM (SELECT * FROM o INTERSECT ALL SELECT * FROM f)
                 GROUP BY 1),
     only_o AS (SELECT o_orderpriority, COUNT(*) AS n_only_open
                FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM f)
                GROUP BY 1)
SELECT COALESCE(b.o_orderpriority, x.o_orderpriority) AS o_orderpriority,
       COALESCE(n_shared, 0) AS n_shared,
       COALESCE(n_only_open, 0) AS n_only_open
FROM both_ms b FULL JOIN only_o x USING (o_orderpriority)
"""


ORDER_VALUE_QUARTILES_SQL = """
SELECT o_orderpriority, quartile, COUNT(*) AS n,
       CAST(ROUND(CAST(MIN(o_totalprice) AS DECIMAL(38,9)), 2) AS DOUBLE) AS min_price,
       CAST(ROUND(CAST(MAX(o_totalprice) AS DECIMAL(38,9)), 2) AS DOUBLE) AS max_price
FROM (SELECT o_orderpriority, o_totalprice,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders)
GROUP BY o_orderpriority, quartile
"""


# --- salted skew join (scale toolkit: key salting) ---------------------------

SKEW_SALT_N = 8


def salted_brand_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem x part through ``operators/skew.py::salted_join`` (fact
    side salted, build side replicated 8x, equi-join on key+salt), then
    per-brand totals. The oracle is the PLAIN join — a hash match
    proves salting is semantics-invariant, which is the whole point:
    it may be dropped in wherever one hot key serializes a stage.
    ``test_plans.py`` separately pins the salted exchange shape with
    broadcast disabled."""
    from ..operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_orderkey", "l_quantity"
    )
    pt = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    joined = salted_join(
        li, pt, on=["partkey"], salt_n=SKEW_SALT_N,
        salt_on=["l_orderkey", "partkey"],
    )
    return joined.groupBy("p_brand").agg(
        r(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SALTED_BRAND_QUANTITIES_SQL = """
SELECT p_brand,
       CAST(ROUND(CAST(SUM(l_quantity) AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


# --- blocked fuzzy entity matching (operators/entity.py) ----------------------

FUZZY_MAX_DISTANCE = 6
FUZZY_BLOCK_WIDTH = 10


def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution across the customer and supplier registries:
    names share the layout '<Role>#<9 digits>', so the blocking key is
    the digit suffix's decade (floor(digits / 10)) — derived from the
    dirty field itself, as real ER blocking does — and candidates
    within a block are verified with Levenshtein <= 6 (the two role
    prefixes differ by exactly 5 substitutions, so the budget admits
    at most one digit of drift). Equi-join on the block key + codegen
    Levenshtein only inside blocks: O(n * block) not O(n * m).
    """
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")

    def block(name: str):
        return F.expr(f"CAST(substring({name}, 10, 9) AS BIGINT) DIV {FUZZY_BLOCK_WIDTH}")

    pairs = blocked_fuzzy_match(
        cust,
        supp,
        left_key=F.col("c_custkey"),
        right_key=F.col("s_suppkey"),
        left_block=block("c_name"),
        right_block=block("s_name"),
        left_name=F.col("c_name"),
        right_name=F.col("s_name"),
        max_distance=FUZZY_MAX_DISTANCE,
    )
    return pairs.select(
        F.col("left_key").alias("c_custkey"),
        F.col("right_key").alias("s_suppkey"),
        F.col("distance").cast("long").alias("distance"),
        r("similarity", 4).alias("similarity"),
    )


FUZZY_NAME_MATCHES_SQL = f"""
SELECT c_custkey, s_suppkey,
       CAST(levenshtein(c_name, s_name) AS BIGINT) AS distance,
       CAST(ROUND(CAST(
         1 - levenshtein(c_name, s_name)
             / CAST(greatest(length(c_name), length(s_name)) AS DOUBLE)
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS similarity
FROM customer JOIN supplier
  ON CAST(substr(c_name, 10, 9) AS BIGINT) // {FUZZY_BLOCK_WIDTH}
   = CAST(substr(s_name, 10, 9) AS BIGINT) // {FUZZY_BLOCK_WIDTH}
WHERE levenshtein(c_name, s_name) <= {FUZZY_MAX_DISTANCE}
"""


# --- unpivot (wide -> long reshape) -------------------------------------------

UNPIVOT_METRICS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def unpivot_metric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape + per-metric stats: ``unpivot`` compiles
    to ONE scan with an Expand node (each row fans to 4 metric rows
    in-memory), where the naive formulation is 4 UNION'd scans of the
    same table — at 100 TB that is a 4x scan saving. The long shape is
    then a plain hash agg.
    """
    li = load(spark, sf_dir, "lineitem")
    long_ = li.unpivot(
        ids=[],
        values=list(UNPIVOT_METRICS),
        variableColumnName="metric",
        valueColumnName="v",
    )
    return long_.groupBy("metric").agg(
        r(F.avg("v"), 4).alias("avg_v"),
        r(F.min("v"), 4).alias("min_v"),
        r(F.max("v"), 4).alias("max_v"),
        F.count("v").cast("long").alias("n"),
    )


_UNPIVOT_ARMS = "\n  UNION ALL ".join(
    f"SELECT '{m}' AS metric, {m} AS v FROM lineitem" for m in UNPIVOT_METRICS
)
UNPIVOT_METRIC_STATS_SQL = f"""
WITH long_ AS (
  {_UNPIVOT_ARMS}
)
SELECT metric,
       CAST(ROUND(CAST(AVG(v) AS DECIMAL(38,9)), 4) AS DOUBLE) AS avg_v,
       CAST(ROUND(CAST(MIN(v) AS DECIMAL(38,9)), 4) AS DOUBLE) AS min_v,
       CAST(ROUND(CAST(MAX(v) AS DECIMAL(38,9)), 4) AS DOUBLE) AS max_v,
       CAST(COUNT(v) AS BIGINT) AS n
FROM long_
GROUP BY metric
"""


# --- snapshot reconciliation (CDC-style keyed diff) ---------------------------

SNAP_OLD_BEFORE = "1996-01-01 00:00:00"
SNAP_NEW_FROM = "1994-01-01 00:00:00"


SNAPSHOT_DIFF_CUSTOMERS_SQL = f"""
WITH old_ AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(ROUND(CAST(SUM(o_totalprice) AS DECIMAL(38,9)), 2) AS DOUBLE)
           AS total
  FROM orders WHERE o_orderdate < TIMESTAMP '{SNAP_OLD_BEFORE}'
  GROUP BY 1
),
new_ AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(ROUND(CAST(SUM(o_totalprice) AS DECIMAL(38,9)), 2) AS DOUBLE)
           AS total
  FROM orders WHERE o_orderdate >= TIMESTAMP '{SNAP_NEW_FROM}'
  GROUP BY 1
)
SELECT COALESCE(o.o_custkey, n.o_custkey) AS o_custkey,
       CASE WHEN o.o_custkey IS NULL THEN 'added'
            WHEN n.o_custkey IS NULL THEN 'removed'
            WHEN o.n_orders IS DISTINCT FROM n.n_orders
              OR o.total IS DISTINCT FROM n.total THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.n_orders AS old_n_orders, o.total AS old_total,
       n.n_orders AS new_n_orders, n.total AS new_total
FROM old_ o FULL OUTER JOIN new_ n ON o.o_custkey = n.o_custkey
"""


# --- declarative data-quality constraint report (Deequ-style) -----------------


def table_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One audit frame for a whole table family: per-row domain rules
    (single aggregation pass per table, violations = FALSE or NULL),
    key-uniqueness checks (hash agg carrying counts only), and
    FK referential integrity (left-anti equi-joins — broadcast or
    shuffled by AQE from runtime sizes). operators/quality.py.

    The reference validates nothing beyond a connection probe
    (AIRWISEv0.py:315-327); this is the declared-gate replacement a
    100-TB ingest needs, and every rule is an exact SQL aggregate so
    the whole report is oracle-checkable.
    """
    from ..operators.quality import (
        combine_reports,
        referential_check,
        row_checks,
        uniqueness_check,
    )

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    return combine_reports(
        row_checks(
            orders,
            {
                "orders.totalprice_positive": F.col("o_totalprice") > 0,
                "orders.status_domain": F.col("o_orderstatus").isin(
                    "O", "F", "P"
                ),
                "orders.priority_format": F.col("o_orderpriority").rlike(
                    "^[1-5]-"
                ),
                "orders.orderdate_not_null": F.col("o_orderdate").isNotNull(),
            },
        ),
        row_checks(
            li,
            {
                "lineitem.quantity_range": (F.col("l_quantity") >= 1)
                & (F.col("l_quantity") <= 50),
                "lineitem.discount_range": (F.col("l_discount") >= 0)
                & (F.col("l_discount") <= 0.1),
            },
        ),
        uniqueness_check(orders, ["o_orderkey"]),
        uniqueness_check(li, ["l_orderkey", "l_linenumber"]),
        referential_check(li, "l_orderkey", orders, "o_orderkey"),
        referential_check(orders, "o_custkey", cust, "c_custkey"),
    )


TABLE_CONSTRAINT_REPORT_SQL = """
WITH rep AS (
  SELECT 'orders.totalprice_positive' AS rule, COUNT(*) AS n_rows,
         SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS n_bad
  FROM orders
  UNION ALL
  SELECT 'orders.status_domain', COUNT(*),
         SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
  FROM orders
  UNION ALL
  SELECT 'orders.priority_format', COUNT(*),
         SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
             THEN 0 ELSE 1 END)
  FROM orders
  UNION ALL
  SELECT 'orders.orderdate_not_null', COUNT(*),
         SUM(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END)
  FROM orders
  UNION ALL
  SELECT 'lineitem.quantity_range', COUNT(*),
         SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.discount_range', COUNT(*),
         SUM(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END)
  FROM lineitem
  UNION ALL
  SELECT 'unique(o_orderkey)', COALESCE(SUM(c), 0),
         COALESCE(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0)
  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'unique(l_orderkey,l_linenumber)', COALESCE(SUM(c), 0),
         COALESCE(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0)
  FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
  UNION ALL
  SELECT 'ref(l_orderkey->o_orderkey)',
         (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'ref(o_custkey->c_custkey)',
         (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL),
         (SELECT COUNT(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
)
SELECT rule AS "constraint",
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_bad AS BIGINT) AS n_bad,
       CASE WHEN n_rows > 0
            THEN CAST(ROUND(CAST(1 - n_bad / CAST(n_rows AS DOUBLE)
                 AS DECIMAL(38,9)), 4) AS DOUBLE)
            ELSE 1.0 END AS pass_rate
FROM rep
"""


def table_checksum_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive cross-engine content checksums: per table, the
    row count plus the bit_xor of an md5-derived 63-bit integer over a
    canonical '|'-joined rendering of the row. The replication /
    migration integrity check: two copies of a table match iff their
    (n_rows, checksum) pairs match, with NO sorting and NO row
    transfer — each side computes one aggregate locally.

    Scale shape: one scan per table into a map-side-partialed two-value
    aggregate (xor is commutative/associative, so partition partials
    combine freely); the exchange carries one row per table. Columns
    are restricted to integer/varchar (cross-engine decimal/timestamp
    TEXT rendering is not contractual; integers and strings are).
    """
    from ..operators.profile import table_content_checksum as chk

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        chk(orders, "orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                               "o_orderpriority"])
        .unionAll(chk(customer, "customer",
                      ["c_custkey", "c_name", "c_mktsegment"]))
        .unionAll(chk(nation, "nation", ["n_nationkey", "n_name"]))
    )


def _checksum_sql(table: str, cols: list[str]) -> str:
    # canonical form mirrors operators/profile.py::table_content_checksum:
    # chr(2)+value / chr(1) for NULL, chr(31)-joined — NULL-safe and
    # boundary-unambiguous (a plain '|' join would diverge on NULLs)
    canon = " || chr(31) || ".join(
        f"COALESCE(chr(2) || CAST({c} AS VARCHAR), chr(1))" for c in cols
    )
    return f"""SELECT '{table}' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(CAST(concat('0x', substr(md5({canon}), 1, 15)) AS BIGINT)) AS BIGINT) AS checksum
FROM {table}"""


TABLE_CHECKSUM_REPORT_SQL = "\nUNION ALL\n".join([
    _checksum_sql("orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                             "o_orderpriority"]),
    _checksum_sql("customer", ["c_custkey", "c_name", "c_mktsegment"]),
    _checksum_sql("nation", ["n_nationkey", "n_name"]),
])


# --- Benford first-digit audit ---------------------------------------------------


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law — the classic forensic/data-quality screen for
    fabricated or truncated monetary columns (here it correctly FLAGS
    the synthetic generator: uniform totals are not Benford).

    Scale shape: digit extraction is a narrow string expression (the
    value routes through DECIMAL(18,2) first so both engines render
    the identical plain decimal string — raw DOUBLE formatting
    diverges), one 9-wide hash agg, total via a full-frame window over
    the 9 aggregated rows, chi2 contribution as per-row algebra.
    """
    orders = load(spark, sf_dir, "orders")
    digit = F.regexp_extract(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        "[1-9]",
        0,
    ).cast("int")
    # A total with no digit 1-9 at all (0.00, NaN renders) yields a NULL
    # digit — drop it on BOTH engines identically rather than let Spark
    # carry a NULL group while DuckDB's CAST('' AS INTEGER) hard-errors.
    g = (
        orders.select(digit.alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.sum("n_obs").over(w_all)
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    exp_n = benford * tot
    return g.select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        r(F.col("n_obs").cast("double") * 100.0 / tot, 4).alias("obs_pct"),
        r(benford * 100.0, 4).alias("benford_pct"),
        r(
            (F.col("n_obs") - exp_n) * (F.col("n_obs") - exp_n) / exp_n, 4
        ).alias("chi2_contrib"),
    )


BENFORD_DIGIT_AUDIT_SQL = """
WITH d AS (
  SELECT TRY_CAST(regexp_extract(
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '[1-9]')
         AS INTEGER) AS digit
  FROM orders
), g AS (
  SELECT digit, COUNT(*) AS n_obs
  FROM d WHERE digit IS NOT NULL GROUP BY 1
)
SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
       CAST(ROUND(CAST(CAST(n_obs AS DOUBLE) * 100.0 / SUM(n_obs) OVER ()
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS obs_pct,
       CAST(ROUND(CAST(log10(1.0 + 1.0 / digit) * 100.0
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS benford_pct,
       CAST(ROUND(CAST(
         (n_obs - log10(1.0 + 1.0 / digit) * SUM(n_obs) OVER ())
         * (n_obs - log10(1.0 + 1.0 / digit) * SUM(n_obs) OVER ())
         / (log10(1.0 + 1.0 / digit) * SUM(n_obs) OVER ())
       AS DECIMAL(38,9)), 4) AS DOUBLE) AS chi2_contrib
FROM g
"""


# --- count-of-counts distribution (TPC-H Q13 shape) ---------------------------


ORDERS_PER_CUSTOMER_HISTOGRAM_SQL = """
WITH per AS (
  SELECT o_custkey, COUNT(*) AS n
  FROM orders
  WHERE o_orderpriority <> '5-LOW'
  GROUP BY 1
)
SELECT CAST(COALESCE(per.n, 0) AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM customer c LEFT JOIN per ON c.c_custkey = per.o_custkey
GROUP BY 1
"""


QUERIES: list[Query] = [
    sql_query("pricing_summary", PRICING_SUMMARY_SQL,
              ("per_node_stats", "column_projection"), "TPC-H Q1-style 8-agg hash aggregate"),
    sql_query("top_orders_by_revenue", TOP_ORDERS_BY_REVENUE_SQL,
              ("fact_dim_join", "time_sort"), "3-way join + agg + deterministic top-k"),
    sql_query("region_supplier_revenue", REGION_SUPPLIER_REVENUE_SQL,
              ("node_dim_enrich",), "6-way snowflake join, dims broadcast"),
    sql_query("fact_dim_join", FACT_DIM_JOIN_SQL,
              ("node_dim_enrich",), "left broadcast enrich through 3 dims + agg"),
    Query("customers_with_urgent_orders", customers_with_urgent_orders,
          CUSTOMERS_WITH_URGENT_ORDERS_SQL, ("node_dim_enrich",), "left semi join (EXISTS)"),
    sql_query("customers_without_urgent_orders", CUSTOMERS_WITHOUT_URGENT_ORDERS_SQL,
              ("node_dim_enrich",), "left anti join (NOT EXISTS)"),
    sql_query("nation_keys_intersect", NATION_KEYS_INTERSECT_SQL,
              ("multi_file_union",), "INTERSECT set op"),
    sql_query("nation_keys_except", NATION_KEYS_EXCEPT_SQL,
              ("multi_file_union",), "EXCEPT set op"),
    sql_query("union_order_slices", UNION_ORDER_SLICES_SQL,
              ("multi_file_union",), "same-schema union + agg (pd.concat dual)"),
    sql_query("rollup_lineitem", ROLLUP_LINEITEM_SQL,
              ("per_node_stats",), "ROLLUP grouping sets"),
    sql_query("cube_orders", CUBE_ORDERS_SQL,
              ("per_node_stats",), "CUBE grouping sets"),
    Query("pivot_priority_by_status", pivot_priority_by_status, PIVOT_PRIORITY_BY_STATUS_SQL,
          ("stream_route_multiplex",), "pivot with explicit values"),
    sql_query("topk_expensive_orders", TOPK_EXPENSIVE_ORDERS_SQL,
              ("time_sort",), "global top-k (TakeOrderedAndProject)"),
    sql_query("top3_orders_per_segment", TOP3_ORDERS_PER_SEGMENT_SQL,
              ("latest_reading_per_node", "time_sort"), "rank window top-3 per group"),
    sql_query("distinct_mktsegments", DISTINCT_MKTSEGMENTS_SQL,
              ("per_node_stats",), "DISTINCT"),
    Query("line_numbering", line_numbering, LINE_NUMBERING_SQL,
          ("line_numbering", "text_line_source"), "stable 0-based line numbers"),
    sql_query("grouping_sets_revenue", GROUPING_SETS_REVENUE_SQL,
              ("per_node_stats",), "explicit GROUPING SETS in one pass"),
    Query("priority_order_extremes", priority_order_extremes, PRIORITY_ORDER_EXTREMES_SQL,
          ("per_node_stats", "latest_reading_per_node"), "max_by/min_by arg-extremes"),
    sql_query("monthly_order_trend", MONTHLY_ORDER_TREND_SQL,
              ("per_node_stats", "epoch_to_timestamp"), "date_trunc monthly trend"),
    sql_query("parts_above_avg_price", PARTS_ABOVE_AVG_PRICE_SQL,
              ("node_equality_filter",), "scalar-subquery predicate"),
    sql_query("priority_multiset_intersect", PRIORITY_MULTISET_INTERSECT_SQL,
              ("multi_file_union",),
              "INTERSECT ALL / EXCEPT ALL multiset ops"),
    sql_query("order_value_quartiles", ORDER_VALUE_QUARTILES_SQL,
              ("latest_reading_per_node", "time_sort"),
              "NTILE quartile ranking window"),
    Query("salted_brand_quantities", salted_brand_quantities,
          SALTED_BRAND_QUANTITIES_SQL, ("node_dim_enrich",),
          "skew-salted equi-join == plain join (semantics-invariant salting)"),
    Query("fuzzy_name_matches", fuzzy_name_matches, FUZZY_NAME_MATCHES_SQL,
          ("node_dim_enrich", "near_dedup"),
          "blocked fuzzy entity matching: derive-block equi-join + "
          "in-block Levenshtein verify"),
    Query("table_constraint_report", table_constraint_report,
          TABLE_CONSTRAINT_REPORT_SQL, ("ddl_bootstrap", "jdbc_healthcheck"),
          "Deequ-style declarative quality gates: one-pass row rules, "
          "uniqueness, FK referential integrity"),
    Query("table_checksum_report", table_checksum_report,
          TABLE_CHECKSUM_REPORT_SQL, ("ddl_bootstrap", "jdbc_healthcheck"),
          "order-insensitive md5-xor content checksums per table "
          "(replication/migration integrity, no sort, no row transfer)"),
    sql_query("snapshot_diff_customers", SNAPSHOT_DIFF_CUSTOMERS_SQL, ("dim_upsert_from_stream",),
              "CDC-style snapshot reconciliation: keyed full-outer diff "
              "with null-safe change detection"),
    Query("unpivot_metric_stats", unpivot_metric_stats,
          UNPIVOT_METRIC_STATS_SQL, ("column_projection", "per_node_stats"),
          "wide-to-long unpivot (single-scan Expand vs 4 unioned "
          "scans) + per-metric hash agg"),
    sql_query("orders_per_customer_histogram", ORDERS_PER_CUSTOMER_HISTOGRAM_SQL,
              ("node_dim_enrich", "per_node_stats"),
              "TPC-H Q13 count-of-counts: aggregate-before-join left join "
              "keeping zero-order customers, then histogram re-agg"),
    Query("benford_digit_audit", benford_digit_audit,
          BENFORD_DIGIT_AUDIT_SQL,
          ("per_node_stats", "numeric_coercion"),
          "Benford first-digit forensic audit of order totals "
          "(decimal-routed digit extraction, 9-wide agg)"),
]
