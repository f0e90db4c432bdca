"""Relational / query-layer operators over the TPC-H-ish tables + events.

SURVEY.md §2 coverage: A1-A8 aggregations (tpch_q1), O1/O2 top-k &
pagination, J1 IoU spatial join, J2 as-of neighbor join, J5 graph
traversal, J6 semi-join, anti-join (checkpoint-resume shape), J7 RRF
rank fusion, W3/W4/W5 window patterns (row_number, rank lists,
sessionization), A9/F14 fuzzy matching (levenshtein — identical in
Spark and DuckDB), F7 IoU kernel as a native column expression.

Scale notes are inline per operator; the common themes: broadcast the
dimension side of every star join, keep theta-join predicates riding
on an equi-key (page, bucket) so Catalyst plans a hash join, and let
top-k plan as TakeOrderedAndProject instead of a global sort.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession, Window
from pyspark.sql import functions as F

from .base import floor_round, load

SESSION_GAP_S = 1800
RRF_K = 60


# ---------------------------------------------------------------------------
# A1-A6 — TPC-H Q1 pricing summary (the canonical agg battery)
# ---------------------------------------------------------------------------


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # floor-rounding, not round(): Spark rounds doubles via their
    # shortest decimal string (HALF_UP) while DuckDB rounds the binary
    # value — sums landing near a .005 boundary would hash-diverge
    # (CLAUDE.md oracle-parity rule; floor is identical in both engines)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            floor_round(F.sum("l_quantity"), 2).alias("sum_qty"),
            floor_round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            floor_round(F.sum(disc_price), 2).alias("sum_disc_price"),
            floor_round(F.sum(charge), 2).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(floor(sum(l_quantity) * 100 + 1e-6) / 100 AS DOUBLE) AS sum_qty,
       CAST(floor(sum(l_extendedprice) * 100 + 1e-6) / 100 AS DOUBLE) AS sum_base_price,
       CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 1e-6) / 100 AS DOUBLE) AS sum_disc_price,
       CAST(floor(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 1e-6) / 100 AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# O1 + star join — top-revenue orders (broadcast the dimension side)
# ---------------------------------------------------------------------------


def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    revenue = (
        li.groupBy("l_orderkey")
        .agg(
            floor_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        revenue.join(orders, revenue.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("c_name").alias("cust_name"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


TOP_REVENUE_SQL = """
SELECT o.o_orderkey AS orderkey, c.c_name AS cust_name, r.revenue
FROM (
  SELECT l_orderkey,
         CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 1e-6) / 100 AS DOUBLE) AS revenue
  FROM lineitem GROUP BY 1
) r
JOIN orders o ON r.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# O2 — deterministic pagination (offset window, Spark ≥3.4 offset())
# ---------------------------------------------------------------------------


def paginated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.orderBy(F.asc("doc_id"))
        .select("doc_id", "lang", "n_chars")
        .offset(20)
        .limit(10)
    )


PAGINATED_SQL = """
SELECT doc_id, lang, n_chars FROM documents
ORDER BY doc_id ASC OFFSET 20 LIMIT 10
"""


# ---------------------------------------------------------------------------
# J6 — semi-join: order priorities with any heavy lineitem
# ---------------------------------------------------------------------------


def semi_join_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    heavy = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        orders.join(heavy, orders.o_orderkey == heavy.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


SEMI_JOIN_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# anti-join — customers with no orders (the checkpoint-resume join shape)
# ---------------------------------------------------------------------------


def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_idle"))
    )


ANTI_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_idle
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# W5 — sessionization over the events table (lag → gap flag → running sum)
# ---------------------------------------------------------------------------


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; cast via timestamp (session tz = UTC) to
    # WHOLE-second epoch — the oracle floors epoch(ts) identically, so
    # fractional-second gaps straddling the threshold cannot diverge
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0).alias("new_s"),
    )
    sess = flagged.select(
        "user_id", F.sum("new_s").over(w).alias("session_seq")
    )
    return sess.groupBy("user_id").agg(
        F.max("session_seq").alias("n_sessions"), F.count("*").alias("n_events")
    )


# CAST n_sessions: DuckDB's windowed sum(int) yields HUGEINT (int128) and
# max() propagates it; a driver-side hash canon that stringifies hugeint
# via Decimal flips the hash on identical values. Pin every integer
# aggregate to BIGINT (check_oracle.py audits all oracles for this).
SESSIONIZE_SQL = f"""
SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > {SESSION_GAP_S}
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_s
    FROM events
  )
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# J2 — as-of / sequential-neighbor join (lead over user timeline)
# ---------------------------------------------------------------------------


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        nxt.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


EVENT_TRANSITIONS_SQL = """
SELECT event_type, next_type, count(*) AS n
FROM (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# J7 / W4 — reciprocal-rank-fusion of two ranked lists
# ---------------------------------------------------------------------------


def rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w1 = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    # doc_id tiebreak: duplicate texts share an md5 and would rank
    # arbitrarily per engine otherwise
    w2 = Window.orderBy(F.asc(F.md5("text")), F.asc("doc_id"))
    ranked = docs.select(
        "doc_id",
        F.row_number().over(w1).alias("r1"),
        F.row_number().over(w2).alias("r2"),
    )
    rrf = 1.0 / (RRF_K + F.col("r1")) + 1.0 / (RRF_K + F.col("r2"))
    return (
        ranked.select(
            "doc_id", ((F.floor(rrf * 1000000 + 1e-6) / 1000000).cast("double")).alias("rrf_score")
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


RRF_SQL = f"""
SELECT doc_id,
       CAST(floor((1.0 / ({RRF_K} + r1) + 1.0 / ({RRF_K} + r2)) * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS rrf_score
FROM (
  SELECT doc_id,
         row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS r1,
         row_number() OVER (ORDER BY md5(text) ASC, doc_id ASC) AS r2
  FROM documents
)
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# J5 — fixed-depth graph traversal (supplier → nation → region, 2 hops)
# ---------------------------------------------------------------------------


def graph_2hop_region_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_suppliers"))
    )


GRAPH_2HOP_SQL = """
SELECT r_name, count(*) AS n_suppliers
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# J1 / F7 — IoU spatial join (bboxes synthesized deterministically from
# part keys; page equi-key keeps the theta join a hash join)
# ---------------------------------------------------------------------------


def _bbox_cols(prefix: str):
    k = F.col("p_partkey")
    x1 = (k % 100).cast("double")
    y1 = F.col("p_size").cast("double")
    x2 = x1 + 10 + (k % 7).cast("double")
    y2 = y1 + 5 + (k % 11).cast("double")
    return [
        x1.alias(f"{prefix}x1"),
        y1.alias(f"{prefix}y1"),
        x2.alias(f"{prefix}x2"),
        y2.alias(f"{prefix}y2"),
        (F.floor(k / 2) % 50).alias("page"),
        F.col("p_partkey").alias(f"{prefix}key"),
    ]


def iou_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    a = part.filter(F.col("p_partkey") % 2 == 0).select(*_bbox_cols("a_"))
    b = part.filter(F.col("p_partkey") % 2 == 1).select(*_bbox_cols("b_"))
    j = a.join(b.withColumnRenamed("page", "b_page"), F.col("page") == F.col("b_page"))
    from ..geometry import iou_expr

    iou = iou_expr(
        F.col("a_x1"), F.col("a_y1"), F.col("a_x2"), F.col("a_y2"),
        F.col("b_x1"), F.col("b_y1"), F.col("b_x2"), F.col("b_y2"),
    )
    return (
        j.select(
            F.col("a_key").alias("a_key"),
            F.col("b_key").alias("b_key"),
            (F.floor(iou * 10000 + 1e-6) / 10000).cast("double").alias("iou"),
        )
        .filter(F.col("iou") >= 0.1)
    )


IOU_JOIN_SQL = """
WITH boxes AS (
  SELECT p_partkey AS key,
         CAST(p_partkey % 100 AS DOUBLE) AS x1,
         CAST(p_size AS DOUBLE) AS y1,
         CAST(p_partkey % 100 AS DOUBLE) + 10 + CAST(p_partkey % 7 AS DOUBLE) AS x2,
         CAST(p_size AS DOUBLE) + 5 + CAST(p_partkey % 11 AS DOUBLE) AS y2,
         CAST(floor(p_partkey / 2) AS BIGINT) % 50 AS page,
         p_partkey % 2 AS side
  FROM part
)
SELECT a_key, b_key, iou FROM (
  SELECT a.key AS a_key, b.key AS b_key,
         CAST(floor(
           greatest(0.0, least(a.x2, b.x2) - greatest(a.x1, b.x1))
           * greatest(0.0, least(a.y2, b.y2) - greatest(a.y1, b.y1))
           / ((a.x2 - a.x1) * (a.y2 - a.y1) + (b.x2 - b.x1) * (b.y2 - b.y1)
              - greatest(0.0, least(a.x2, b.x2) - greatest(a.x1, b.x1))
                * greatest(0.0, least(a.y2, b.y2) - greatest(a.y1, b.y1)))
           * 10000 + 1e-6) / 10000 AS DOUBLE) AS iou
  FROM boxes a JOIN boxes b ON a.page = b.page AND a.side = 0 AND b.side = 1
)
WHERE iou >= 0.1
"""


# ---------------------------------------------------------------------------
# A9 / F14 — fuzzy keyword matching via levenshtein (identical builtin)
# ---------------------------------------------------------------------------

_FUZZY_KEYWORDS = ["widget", "gadget", "gizmo"]


def fuzzy_keyword_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), r"\s+")
    def _lev_le(k: str):
        return lambda w: F.levenshtein(w, F.lit(k)) <= 2

    cnt = None
    for kw in _FUZZY_KEYWORDS:
        hit = F.exists(words, _lev_le(kw)).cast("int")
        cnt = hit if cnt is None else cnt + hit
    return (
        part.select("p_partkey", cnt.alias("match_cnt"))
        .filter(F.col("match_cnt") >= 1)
    )


_FUZZY_SQL_TERMS = " + ".join(
    f"(CASE WHEN len(list_filter(string_split_regex(p_name, '\\s+'), "
    f"w -> levenshtein(w, '{kw}') <= 2)) > 0 THEN 1 ELSE 0 END)"
    for kw in _FUZZY_KEYWORDS
)

FUZZY_MATCH_SQL = rf"""
SELECT p_partkey, match_cnt FROM (
  SELECT p_partkey, {_FUZZY_SQL_TERMS} AS match_cnt FROM part
)
WHERE match_cnt >= 1
"""


# ---------------------------------------------------------------------------
# J5 — variable-depth traversal over a derived edge table
# (customer →(places)→ order →(contains)→ part; operators/graph.py)
# ---------------------------------------------------------------------------


def graph_traverse_2hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import traverse

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust_edges = orders.select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    part_edges = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    edges = cust_edges.unionByName(part_edges)
    starts = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 5)
        .select(F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("vertex"))
    )
    return traverse(edges, starts, min_hops=1, max_hops=2, direction="outbound")


GRAPH_TRAVERSE_2HOPS_SQL = """
WITH h1 AS (
  SELECT DISTINCT 'o:' || o_orderkey AS vertex
  FROM orders WHERE o_custkey < 5
), h2 AS (
  SELECT DISTINCT 'p:' || l.l_partkey AS vertex
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey < 5
)
SELECT vertex, 1 AS hops FROM h1
UNION ALL
SELECT vertex, 2 AS hops FROM h2 WHERE vertex NOT IN (SELECT vertex FROM h1)
"""


# ---------------------------------------------------------------------------
# F5 — metadata k:v extraction via native regex (parsers.py:154-189)
# ---------------------------------------------------------------------------


def metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    header = F.concat(
        F.lit("Title: Document "),
        F.col("doc_id").cast("string"),
        F.lit("\nAuthor: synth-"),
        F.col("source"),
        F.lit("\nDate: 2026-01-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("\n\n"),
        F.col("text"),
    )
    return docs.select(
        "doc_id",
        F.regexp_extract(header, r"Title: ([^\n]+)", 1).alias("title"),
        F.regexp_extract(header, r"Author: ([^\n]+)", 1).alias("author"),
        F.regexp_extract(header, r"Date: ([^\n]+)", 1).alias("date"),
    )


METADATA_EXTRACT_SQL = r"""
SELECT doc_id,
       regexp_extract(h, 'Title: ([^\n]+)', 1) AS title,
       regexp_extract(h, 'Author: ([^\n]+)', 1) AS author,
       regexp_extract(h, 'Date: ([^\n]+)', 1) AS date
FROM (
  SELECT doc_id,
         'Title: Document ' || doc_id || chr(10) ||
         'Author: synth-' || source || chr(10) ||
         'Date: 2026-01-0' || (doc_id % 9 + 1) || chr(10) || chr(10) || text AS h
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# F8 — camelot→pymupdf coordinate transform (y-flip + zoom) as exprs
# ---------------------------------------------------------------------------

PAGE_H = 842.0  # A4 points
ZOOM = 2.0


def bbox_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    x1 = (k % 100).cast("double")
    y1 = F.col("p_size").cast("double")
    x2 = x1 + 10.0
    y2 = y1 + 5.0
    return part.select(
        "p_partkey",
        (x1 * ZOOM).alias("tx1"),
        ((F.lit(PAGE_H) - y2) * ZOOM).alias("ty1"),
        (x2 * ZOOM).alias("tx2"),
        ((F.lit(PAGE_H) - y1) * ZOOM).alias("ty2"),
    )


BBOX_TRANSFORM_SQL = f"""
SELECT p_partkey,
       CAST(p_partkey % 100 AS DOUBLE) * {ZOOM} AS tx1,
       ({PAGE_H} - (CAST(p_size AS DOUBLE) + 5.0)) * {ZOOM} AS ty1,
       (CAST(p_partkey % 100 AS DOUBLE) + 10.0) * {ZOOM} AS tx2,
       ({PAGE_H} - CAST(p_size AS DOUBLE)) * {ZOOM} AS ty2
FROM part
"""


# ---------------------------------------------------------------------------
# U3 — union + dedup-by-key (candidate merge, hybrid.py:170-214 shape)
# ---------------------------------------------------------------------------


def union_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey", "o_totalprice"
    )
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_custkey", "o_totalprice"
    )
    return (
        a.unionByName(b)
        .groupBy("o_custkey")
        .agg(floor_round(F.max("o_totalprice"), 2).alias("best_price"))
    )


UNION_DEDUP_SQL = """
SELECT o_custkey, CAST(floor(max(o_totalprice) * 100 + 1e-6) / 100 AS DOUBLE) AS best_price
FROM (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderpriority = '2-HIGH'
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# J4 — first-match enrichment join (left join + row_number()==1 dedup;
# reference: markdown elements matched to marker blocks by page only,
# first match wins — markdown_extractor.py:398-413,460-473)
# ---------------------------------------------------------------------------


def first_match_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    first_li = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", F.col("l_partkey").alias("first_partkey"))
    )
    return orders.join(
        first_li, orders.o_orderkey == first_li.l_orderkey, "left"
    ).select("o_orderkey", "o_orderpriority", "first_partkey")


FIRST_MATCH_ENRICH_SQL = """
SELECT o.o_orderkey, o.o_orderpriority, f.first_partkey
FROM orders o
LEFT JOIN (
  SELECT l_orderkey, first_partkey FROM (
    SELECT l_orderkey, l_partkey AS first_partkey,
           row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
    FROM lineitem
  ) WHERE rn = 1
) f ON o.o_orderkey = f.l_orderkey
"""


# ---------------------------------------------------------------------------
# A2 — pagination with windowed total-match count
# (LENGTH-of-subquery total alongside the page slice, bm25.py:180-191)
# ---------------------------------------------------------------------------


def paginated_with_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    w = Window.partitionBy()
    return (
        docs.select(
            "doc_id", "n_chars", F.count("*").over(w).alias("total_matches")
        )
        .orderBy(F.asc("doc_id"))
        .offset(10)
        .limit(5)
    )


PAGINATED_TOTAL_SQL = """
SELECT doc_id, n_chars, total_matches FROM (
  SELECT doc_id, n_chars, count(*) OVER () AS total_matches
  FROM documents WHERE n_chars >= 200
)
ORDER BY doc_id ASC OFFSET 10 LIMIT 5
"""


# ---------------------------------------------------------------------------
# S4/F12 — JSON field extraction from the events props column
# ---------------------------------------------------------------------------


def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_mod10"))
        .groupBy("k_mod10")
        .agg(F.count("*").alias("n"))
    )


EVENTS_PROPS_SQL = """
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_mod10,
       count(*) AS n
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# J5 companion — incident-edge fetch with direction + type filter
# (reference arangodb/relationship_api.py:75-103 get_relationships)
# ---------------------------------------------------------------------------


def edges_for_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges incident to one vertex over a typed TPC-H-derived graph:
    suppliers and customers ``located_in`` their nation, nations
    ``part_of`` their region. The graded fixture fetches ``n:1`` with
    ``direction='any'`` and ``types=['located_in']`` — the type filter
    excludes the nation's own ``part_of`` edge, so both the
    either-endpoint match and the ``e.type IN`` clause of the
    reference's AQL do real work. Direction variants are unit-covered
    (tests/test_relationships_store.py)."""
    from ..operators.relationships import relationships_of

    sup = load(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias("_from"),
        F.concat(F.lit("n:"), F.col("s_nationkey").cast("string")).alias("_to"),
        F.lit("located_in").alias("type"),
    )
    cust = load(spark, sf_dir, "customer").select(
        F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("_from"),
        F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")).alias("_to"),
        F.lit("located_in").alias("type"),
    )
    nat = load(spark, sf_dir, "nation").select(
        F.concat(F.lit("n:"), F.col("n_nationkey").cast("string")).alias("_from"),
        F.concat(F.lit("r:"), F.col("n_regionkey").cast("string")).alias("_to"),
        F.lit("part_of").alias("type"),
    )
    edges = sup.unionByName(cust).unionByName(nat)
    return relationships_of(
        edges, "n:1", direction="any", types=["located_in"]
    ).orderBy("_from")


EDGES_FOR_VERTEX_SQL = """
SELECT * FROM (
  SELECT 's:' || s_suppkey AS _from, 'n:' || s_nationkey AS _to,
         'located_in' AS type FROM supplier
  UNION ALL
  SELECT 'c:' || c_custkey, 'n:' || c_nationkey, 'located_in' FROM customer
  UNION ALL
  SELECT 'n:' || n_nationkey, 'r:' || n_regionkey, 'part_of' FROM nation
) e
WHERE (_from = 'n:1' OR _to = 'n:1') AND type IN ('located_in')
ORDER BY _from
"""


# ---------------------------------------------------------------------------
# TPC-H Q3 analog — shipping-priority top-k: unshipped BUILDING-segment
# orders placed before the cutoff, ranked by outstanding revenue.
# Scale shape: the lineitem side pre-aggregates per order AFTER its
# shipdate filter is pushed to the scan; customer is the broadcast
# dimension; the final ranking is TakeOrderedAndProject, never a
# global sort. Money on the floor2 grid before ranking (house rule).
# ---------------------------------------------------------------------------

_Q3_CUTOFF = "1998-03-15"
_Q3_SEGMENT = "BUILDING"


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    rev = (
        li.where(F.col("l_shipdate") > F.lit(_Q3_CUTOFF).cast("timestamp"))
        .groupBy("l_orderkey")
        .agg(
            floor_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        orders.where(
            F.col("o_orderdate") < F.lit(_Q3_CUTOFF).cast("timestamp")
        )
        .join(
            F.broadcast(cust.where(F.col("c_mktsegment") == _Q3_SEGMENT)),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(rev, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


TPCH_Q3_SQL = f"""
SELECT o.o_orderkey AS orderkey, r.revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS priority
FROM (
  SELECT l_orderkey,
         CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 1e-6)
              / 100 AS DOUBLE) AS revenue
  FROM lineitem WHERE l_shipdate > TIMESTAMP '{_Q3_CUTOFF}'
  GROUP BY 1
) r
JOIN orders o ON o.o_orderkey = r.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
  AND c.c_mktsegment = '{_Q3_SEGMENT}'
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# TPC-H Q5 analog — local-supplier volume per nation: revenue where the
# customer and supplier share the lineitem's nation, one region, one
# order-year. Scale shape: the nation/region dimension chain collapses
# to a broadcast; the only big shuffle is lineitem⋈orders on orderkey;
# the c_nationkey = s_nationkey locality condition rides the hash join
# keys (never a post-join filter over a cross product).
# ---------------------------------------------------------------------------

_Q5_REGION = "ASIA"
_Q5_YEAR = 1997


def tpch_q5_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        F.year("o_orderdate") == _Q5_YEAR
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == _Q5_REGION)
    dims = F.broadcast(
        nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(dims, supp.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            floor_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


TPCH_Q5_SQL = f"""
SELECT n.n_name,
       CAST(floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 100 + 1e-6)
            / 100 AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{_Q5_REGION}'
  AND year(o.o_orderdate) = {_Q5_YEAR}
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
"""


# ---------------------------------------------------------------------------
# TPC-H Q4 analog — order-priority checking: orders in a quarter with
# at least one late lineitem, counted by priority. The EXISTS
# correlated subquery is the shape under test: Catalyst must plan it
# as a LeftSemi hash join on orderkey (never a per-row subquery), and
# the plan audit pins that.
# ---------------------------------------------------------------------------

_Q4_START = "1997-07-01"
_Q4_END = "1997-10-01"


def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_Q4_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q4_END).cast("timestamp"))
    )
    # "late" in this dataset: shipped more than 60 days after order —
    # expressed on the join so the semi-join carries the correlation
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        sem.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_SQL = f"""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{_Q4_START}'
  AND o.o_orderdate <  TIMESTAMP '{_Q4_END}'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


# ---------------------------------------------------------------------------
# ROLLUP aggregate — hierarchical totals (lang, source) → lang → grand
# total in ONE pass (Catalyst expands grouping sets inside a single
# hash aggregate; at scale this replaces three separate jobs). NULL
# markers for the rolled-up levels hash identically in both engines.
# ---------------------------------------------------------------------------


def token_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import tokens as _tok

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", "source", F.size(_tok()).alias("n"))
        .rollup("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
        )
        .orderBy(
            F.col("lang").asc_nulls_first(), F.col("source").asc_nulls_first()
        )
    )


TOKEN_ROLLUP_SQL = r"""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT)
         AS total_tokens
FROM documents
GROUP BY ROLLUP (lang, source)
ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# PIVOT — per-source language breakdown as columns (the reporting
# shape). Spark's pivot with an EXPLICIT value list keeps the plan a
# single hash aggregate (an implicit list would add a distinct-scan
# job to discover values — never do that at scale); the oracle uses
# portable conditional aggregation.
# ---------------------------------------------------------------------------

_PIVOT_LANGS = ["en", "de", "es", "fr", "zh"]


def source_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .pivot("lang", _PIVOT_LANGS)
        .agg(F.count(F.lit(1)))  # count("*") is rejected inside pivot
        .na.fill(0, _PIVOT_LANGS)
        .select(
            "source",
            *[F.col(l).cast("long").alias(f"n_{l}") for l in _PIVOT_LANGS],
        )
        .orderBy("source")
    )


SOURCE_LANG_PIVOT_SQL = f"""
SELECT source,
       {', '.join(
           f"CAST(sum(CASE WHEN lang = '{l}' THEN 1 ELSE 0 END) AS BIGINT)"
           f" AS n_{l}" for l in _PIVOT_LANGS)}
FROM documents
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# TPC-H Q13 analog — customer order-count distribution: LEFT OUTER join
# (customers with zero orders must appear) followed by a second
# aggregation over the first's result — the double-aggregation shape.
# Scale: both aggregates hash and map-side combine; the outer join is
# the only shuffle pair. Q13's comment-filter is mirrored as a
# priority exclusion (the schema has no o_comment).
# ---------------------------------------------------------------------------


def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TPCH_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey,
         CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# W5 twin — native session_window sessionization: Spark's built-in
# session operator (one hash-aggregate with session merging inside the
# aggregation — no window sort, the shape that also runs UNCHANGED on
# a stream) next to the lag-method events_sessionize above. Session
# semantics are session_window's: an event merges while strictly
# within gap of the session end; session_end = last event + gap. The
# oracle replicates exactly that rule with the lag method — the two
# formulations' equivalence IS the check. Microsecond timestamps ride
# as unix_micros BIGINTs (exact integers, no float epoch).
# ---------------------------------------------------------------------------


def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", f"{SESSION_GAP_S} seconds")
        )
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            F.unix_micros(F.col("session_window.end")).alias("end_us"),
            "n_events",
        )
        .orderBy("user_id", "start_us")
    )


# lag-method session flags shared by the session-window and concurrency
# oracles: new_s = 1 where an event opens a session
_SESSION_FLAGGED_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   >= {SESSION_GAP_S} * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),"""


SESSION_WINDOWS_SQL = f"""
{_SESSION_FLAGGED_SQL}
sess AS (
  -- cumulative sum ordered deterministically: ties on t_us must sum
  -- the new_s=1 row first (new_s DESC) so tie rows join the session
  -- their lag() flag opened, matching Spark's session_window; the
  -- final event_id key makes the frame fully deterministic under
  -- duplicate (user_id, ts, new_s) rows.
  SELECT user_id, t_us,
         sum(new_s) OVER (PARTITION BY user_id
                          ORDER BY t_us, new_s DESC, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM flagged
)
SELECT user_id,
       min(t_us) AS start_us,
       max(t_us) + {SESSION_GAP_S} * 1000000 AS end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, session_seq
ORDER BY user_id, start_us
"""


# ---------------------------------------------------------------------------
# W-native — tumbling event-time windows in batch: the same
# F.window("1 hour") aggregate the streaming module runs with a
# watermark (streaming.stream_windowed_event_counts), graded here
# against a date_trunc oracle (1-hour windows are epoch-aligned, so
# the two are identical by construction). One hash aggregate.
# ---------------------------------------------------------------------------


def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            floor_round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start_us", "event_type")
    )


EVENTS_HOURLY_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor(sum(value) * 10000 + 1e-6) / 10000 AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start_us, event_type
"""


# ---------------------------------------------------------------------------
# Point-in-time feature join (training:point-in-time — the feature-
# store correctness op: every training label must see the latest
# feature value AS OF its own timestamp, never a later one, or the
# model trains on leaked future data). Features = 'view' events'
# value; labels = 'purchase' events. The scalable form is NOT an
# inequality join (a per-label range probe) but union + ONE window
# forward-fill: order each user's stream by time, carry the last seen
# feature value forward, keep the label rows — one shuffle on
# user_id, linear in the stream. Ties (feature and label at the same
# instant) resolve feature-first (event ordering (ts, is_label,
# event_id)), i.e. a same-timestamp feature IS visible — the
# conventional `<=` AS OF bound.
# ---------------------------------------------------------------------------


def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "event_type", "value",
    )
    stream = ev.where(F.col("event_type").isin("view", "purchase")).select(
        "event_id", "user_id", "t_us",
        (F.col("event_type") == "purchase").cast("int").alias("is_label"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("feat"),
        F.when(F.col("event_type") == "view", F.col("t_us")).alias("feat_t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "is_label", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = stream.select(
        "event_id", "user_id", "t_us", "is_label",
        F.last("feat", ignorenulls=True).over(w).alias("feature_value"),
        F.last("feat_t", ignorenulls=True).over(w).alias("feature_t_us"),
    )
    return (
        filled.where(F.col("is_label") == 1)
        .select(
            "event_id", "user_id", "t_us",
            floor_round(F.col("feature_value"), 4).alias("feature_value"),
            "feature_t_us",
        )
        .orderBy("event_id")
    )


PIT_FEATURE_SQL = """
WITH stream AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_label,
         CASE WHEN event_type = 'view' THEN value END AS feat,
         CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS feat_t
  FROM events
  WHERE event_type IN ('view', 'purchase')
),
filled AS (
  SELECT event_id, user_id, t_us, is_label,
         last_value(feat IGNORE NULLS) OVER w AS feature_value,
         last_value(feat_t IGNORE NULLS) OVER w AS feature_t_us
  FROM stream
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, is_label, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, t_us,
       floor(feature_value * 10000 + 1e-6) / 10000 AS feature_value,
       feature_t_us
FROM filled
WHERE is_label = 1
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# TPC-H Q6 analog — forecasting revenue change: the canonical
# scan-filter-aggregate. Scale shape: every predicate is a native
# comparison on scan columns, so ALL THREE reach the parquet reader as
# PushedFilters (row-group pruning does the work at 100 TB); the
# aggregate is a single partial+final sum — no join, no window, one
# 1-row exchange. The plan audit pins the pushdown.
# ---------------------------------------------------------------------------

_Q6_YEAR_LO = "1996-01-01"
_Q6_YEAR_HI = "1997-01-01"
_Q6_DISC_LO = 0.03
_Q6_DISC_HI = 0.05
_Q6_QTY = 24


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q6_YEAR_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q6_YEAR_HI).cast("timestamp"))
            & (F.col("l_discount") >= _Q6_DISC_LO)
            & (F.col("l_discount") <= _Q6_DISC_HI)
            & (F.col("l_quantity") < _Q6_QTY)
        )
        .agg(
            floor_round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_lineitems"),
        )
    )


TPCH_Q6_SQL = f"""
SELECT CAST(floor(sum(l_extendedprice * l_discount) * 100 + 1e-6) / 100
            AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_Q6_YEAR_LO}'
  AND l_shipdate <  TIMESTAMP '{_Q6_YEAR_HI}'
  AND l_discount BETWEEN {_Q6_DISC_LO} AND {_Q6_DISC_HI}
  AND l_quantity < {_Q6_QTY}
"""


# ---------------------------------------------------------------------------
# TPC-H Q10 analog — returned-item reporting: which customers returned
# goods in a quarter, by lost revenue. Scale shape: the returnflag +
# order-date predicates push to their scans; lineitem⋈orders is the one
# big hash shuffle (both sides pre-filtered); customer joins the
# ALREADY-AGGREGATED per-customer revenue (small side), and nation is a
# broadcast dim; top-20 plans as TakeOrderedAndProject — the full
# result never materializes.
# ---------------------------------------------------------------------------

_Q10_QTR_LO = "1996-01-01"
_Q10_QTR_HI = "1996-04-01"


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_Q10_QTR_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q10_QTR_HI).cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            floor_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            "revenue",
            floor_round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


TPCH_Q10_SQL = f"""
SELECT c.c_custkey AS custkey, c.c_name AS name, r.revenue,
       CAST(floor(c.c_acctbal * 100 + 1e-6) / 100 AS DOUBLE) AS acctbal,
       n.n_name AS nation
FROM (
  SELECT o.o_custkey,
         CAST(floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 100 + 1e-6)
              / 100 AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '{_Q10_QTR_LO}'
    AND o.o_orderdate <  TIMESTAMP '{_Q10_QTR_HI}'
  GROUP BY 1
) r
JOIN customer c ON c.c_custkey = r.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
ORDER BY revenue DESC, custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# CUBE grouping sets — all four (lang × source) aggregation levels in
# one pass (ROLLUP's sibling: adds the source-only level). Spark plans
# ONE Expand + ONE hash aggregate — four GROUP BYs for the price of a
# 4× map-side fan-out, never four scans. grouping_id() disambiguates
# genuine NULL keys from subtotal rows — the portable way to consume
# CUBE output (both engines compute it identically as the bitmask of
# rolled-up columns).
# ---------------------------------------------------------------------------


def lang_source_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", "source", "n_chars")
        .cube("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy(
            F.col("gid"),
            F.col("lang").asc_nulls_first(),
            F.col("source").asc_nulls_first(),
        )
    )


LANG_SOURCE_CUBE_SQL = """
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid
FROM documents
GROUP BY CUBE (lang, source)
ORDER BY gid, lang ASC NULLS FIRST, source ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# Moving average over an event stream (W-frame breadth: an explicit
# ROWS frame, where the suite's other windows are rank/lag/unbounded
# running forms). Per user, the trailing-3-event mean of `value` in
# (ts, event_id) order. Scale shape: ONE window whose partitions are
# per-user event histories (bounded by user activity; a pathological
# hot user would sessionize first — the PIT/sessionize note applies);
# the frame is O(1) per row. Deterministic under ts ties via the
# event_id tie-break; microsecond epochs stay exact BIGINTs.
# ---------------------------------------------------------------------------


def events_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"), "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(-2, 0)
    )
    return (
        ev.select(
            "event_id", "user_id", "t_us",
            floor_round(F.avg("value").over(w), 4).alias("mov_avg"),
            F.count("*").over(w).cast("long").alias("n_in_frame"),
        )
        .orderBy("event_id")
    )


EVENTS_MOVING_AVG_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS t_us,
       CAST(floor(avg(value) OVER w * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS mov_avg,
       CAST(count(*) OVER w AS BIGINT) AS n_in_frame
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# TPC-H Q18 analog — large-volume customers: HAVING over a big
# aggregate feeding a join chain. Scale shape: the HAVING collapses
# lineitem to qualifying orderkeys FIRST (one hash agg + filter on the
# aggregate — never a join before the reduction), orders joins that
# small survivor set, customer joins the result; top-100 plans as
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_Q18_MIN_QTY = 250


def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(floor_round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > _Q18_MIN_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            floor_round(F.col("o_totalprice"), 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(100)
    )


TPCH_Q18_SQL = f"""
SELECT c.c_name AS name, c.c_custkey AS custkey, o.o_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(floor(o.o_totalprice * 100 + 1e-6) / 100 AS DOUBLE) AS totalprice,
       b.total_qty
FROM (
  SELECT l_orderkey,
         CAST(floor(sum(l_quantity) * 100 + 1e-6) / 100 AS DOUBLE)
           AS total_qty
  FROM lineitem GROUP BY 1
  HAVING CAST(floor(sum(l_quantity) * 100 + 1e-6) / 100 AS DOUBLE)
         > {_Q18_MIN_QTY}
) b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY totalprice DESC, orderkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Ordered event funnel (view → first later click → first later
# purchase, per user): the product-analytics staple whose correctness
# trap is ordering (a click BEFORE the first view must not count).
# Scale shape: three hash aggregates with conditional mins + two
# equi-joins on user_id — never a window over a user's whole history
# and never a self-join on inequality alone (each join's inequality
# rides the user_id equi-key). Epochs exact BIGINT microseconds.
# ---------------------------------------------------------------------------


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    viewed = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_view_us"))
    )
    clicked = (
        ev.where(F.col("event_type") == "click")
        .join(viewed, "user_id")
        .where(F.col("t_us") > F.col("t_view_us"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_click_us"))
    )
    bought = (
        ev.where(F.col("event_type") == "purchase")
        .join(clicked, "user_id")
        .where(F.col("t_us") > F.col("t_click_us"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_buy_us"))
    )
    return (
        viewed.join(clicked, "user_id", "left")
        .join(bought, "user_id", "left")
        .select(
            "user_id", "t_view_us", "t_click_us", "t_buy_us",
            (F.col("t_click_us").isNotNull()).alias("reached_click"),
            (F.col("t_buy_us").isNotNull()).alias("reached_purchase"),
        )
        .orderBy("user_id")
    )


EVENT_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS t_view_us
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_click_us
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view_us
  GROUP BY 1
),
b AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_buy_us
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click_us
  GROUP BY 1
)
SELECT v.user_id, v.t_view_us, c.t_click_us, b.t_buy_us,
       c.user_id IS NOT NULL AS reached_click,
       b.user_id IS NOT NULL AS reached_purchase
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN b ON b.user_id = v.user_id
ORDER BY v.user_id
"""


# ---------------------------------------------------------------------------
# OLAP breadth, round-4 batch 2 (R4-19): the remaining TPC-H shapes the
# suite lacked, adapted to the synthetic schema (no partsupp /
# l_shipmode / c_phone — stand-ins documented per query). Shapes, not
# numbers, are the point: conditional aggregation, argmax-vs-scalar,
# correlated-avg threshold join, disjunctive pushdown, scalar-subquery
# anti-join, per-key argmin, and distinct-count-with-exclusion.
# ---------------------------------------------------------------------------


def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 analog — promo revenue share as ONE conditional aggregation.

    Scale shape: part is the small dim →
    explicit broadcast; the share is a single pass over the fact with
    two conditional sums (map-side partial), output is one row."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            floor_round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share_pct")
        )
    )


TPCH_Q14_SQL = """
SELECT CAST(floor(
         100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0.0 END)
         / sum(l.l_extendedprice * (1 - l.l_discount)) * 10000 + 1e-6
       ) / 10000 AS DOUBLE) AS promo_share_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01'
"""


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 analog — top supplier(s) by quarterly revenue.

    The reference formulation is a view + HAVING revenue = (SELECT
    max(revenue)): here the per-supplier revenue aggregates once
    (floor-rounded BEFORE the max so both engines compare identical
    doubles), the scalar max is a 1-row broadcast equality join
    (BroadcastNestedLoopJoin on one row — the whitelisted idiom), and
    ties all surface, ordered by suppkey."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            floor_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == top.max_revenue)
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_revenue",
        )
        .orderBy("suppkey")
    )


TPCH_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 1e-6)
              / 100 AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue
FROM rev r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY suppkey
"""


def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 analog — revenue lost to small-quantity orders.

    The correlated subquery (0.2 * avg(l_quantity) per part) becomes a
    per-part hash aggregate joined back on partkey — at 100 TB both
    sides shuffle on l_partkey once and AQE picks the join strategy;
    nothing is windowed. The avg is floor-rounded to 4dp before the
    threshold multiply so the comparison sees identical doubles in
    both engines (CLAUDE.md oracle-parity rule)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    avgq = (
        li.groupBy("l_partkey")
        .agg(floor_round(F.avg("l_quantity"), 4).alias("avg_qty"))
        .withColumnRenamed("l_partkey", "t_partkey")
    )
    return (
        li.join(avgq, F.col("l_partkey") == F.col("t_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(F.col("p_brand") == "Brand#1")
        .agg(
            floor_round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


TPCH_Q17_SQL = """
WITH t AS (
  SELECT l_partkey AS t_partkey,
         CAST(floor(avg(l_quantity) * 10000 + 1e-6) / 10000 AS DOUBLE)
           AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT CAST(floor(sum(l.l_extendedprice) / 7.0 * 100 + 1e-6) / 100
       AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN t ON l.l_partkey = t.t_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < 0.2 * t.avg_qty
  AND p.p_brand = 'Brand#1'
"""


def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 analog — OR-of-ANDs discount revenue.

    The classic disjunctive-predicate stress: three (brand, size-range,
    quantity-range) conjunctions OR'd together. Every disjunct shares
    the l_partkey = p_partkey equi-key, so Catalyst still plans a hash
    join (broadcast here — part is the small dim) with the disjunction
    evaluated as the join's residual filter; no disjunct forces a
    Cartesian. One conditional sum, one output row."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(floor_round(F.sum(rev), 2).alias("revenue"))
    )


TPCH_Q19_SQL = """
SELECT CAST(floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 100 + 1e-6)
            / 100 AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30
       AND l.l_quantity BETWEEN 20 AND 30)
"""


def tpch_q22_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 analog — rich customers with no orders, per nation.

    The schema has no c_phone, so the country-code GROUP BY becomes
    c_nationkey; and because every synthetic customer has SOME order,
    "idle" means no order since 1999 (the filter pushes to the orders
    scan before the anti-join, same as Q22's 7-year window). Shape
    parity with Q22 is intact: a scalar AVG subquery (1-row broadcast —
    floor-rounded so both engines filter on the same double), a LEFT
    ANTI join against orders (plans as BroadcastHashJoin/SortMergeJoin
    LeftAnti, never NOT IN's null-trap), then a small hash aggregate."""
    cust = load(spark, sf_dir, "customer")
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01"))
        .select("o_custkey")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        floor_round(F.avg("c_acctbal"), 4).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            floor_round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .withColumnRenamed("c_nationkey", "nationkey")
        .orderBy("nationkey")
    )


TPCH_Q22_SQL = """
WITH a AS (
  SELECT CAST(floor(avg(c_acctbal) * 10000 + 1e-6) / 10000 AS DOUBLE)
           AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey AS nationkey, count(*) AS numcust,
       CAST(floor(sum(c.c_acctbal) * 100 + 1e-6) / 100 AS DOUBLE)
         AS totacctbal
FROM customer c, a
WHERE c.c_acctbal > a.avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY 1
ORDER BY nationkey
"""


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 analog — cheapest supplier per part (argmin join).

    No partsupp table: the observed part-supplier relation is distilled
    from lineitem as min unit price per (partkey, suppkey) — min, not
    avg, because min is summation-order-independent and therefore
    bit-identical cross-engine. The correlated MIN subquery becomes the
    PLANS.md §18 extremum idiom: min(struct(cost, suppkey)) per part —
    ONE map-side-combinable hash aggregate, never a window — then a
    broadcast join to the supplier/part dims. Top 20 by retail price."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    pairs = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            floor_round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4
            ).alias("unit_cost")
        )
    )
    best = (
        pairs.groupBy("l_partkey")
        .agg(F.min(F.struct("unit_cost", "l_suppkey")).alias("b"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("b.unit_cost").alias("min_cost"),
            F.col("b.l_suppkey").alias("best_suppkey"),
        )
    )
    return (
        best.join(F.broadcast(part), best.partkey == part.p_partkey)
        .join(F.broadcast(sup), best.best_suppkey == sup.s_suppkey)
        .select(
            "partkey",
            F.col("p_name").alias("part_name"),
            floor_round(F.col("p_retailprice"), 2).alias("retailprice"),
            F.col("s_name").alias("supplier_name"),
            "min_cost",
        )
        .orderBy(F.desc("retailprice"), F.asc("partkey"))
        .limit(20)
    )


TPCH_Q2_SQL = """
WITH pairs AS (
  SELECT l_partkey, l_suppkey,
         CAST(floor(min(l_extendedprice / l_quantity) * 10000 + 1e-6)
              / 10000 AS DOUBLE) AS unit_cost
  FROM lineitem GROUP BY 1, 2
),
best AS (
  SELECT l_partkey AS partkey, unit_cost AS min_cost,
         l_suppkey AS best_suppkey
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY l_partkey ORDER BY unit_cost, l_suppkey
    ) AS rn
    FROM pairs
  )
  WHERE rn = 1
)
SELECT b.partkey, p.p_name AS part_name,
       CAST(floor(p.p_retailprice * 100 + 1e-6) / 100 AS DOUBLE)
         AS retailprice,
       s.s_name AS supplier_name, b.min_cost
FROM best b
JOIN part p ON p.p_partkey = b.partkey
JOIN supplier s ON s.s_suppkey = b.best_suppkey
ORDER BY retailprice DESC, partkey ASC
LIMIT 20
"""


def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 analog — supplier variety per part class, with exclusions.

    partsupp stand-in: DISTINCT (l_partkey, l_suppkey) from lineitem.
    The customer-complaints exclusion (Q16's NOT IN over a LIKE scan)
    becomes negative-balance suppliers, planned as a LEFT ANTI join
    against the (tiny, broadcast) excluded set — the null-safe shape
    NOT IN compiles to when the subquery can yield NULLs. Then one
    count(DISTINCT suppkey) per (brand, type, size-class) hash
    aggregate; Spark expands distinct aggs map-side, no window."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.distinct()
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(F.col("p_size") <= 25)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .withColumnsRenamed(
            {"p_brand": "brand", "p_type": "type", "p_size": "size"}
        )
        .orderBy(F.desc("supplier_cnt"), "brand", "type", "size")
        .limit(100)
    )


TPCH_Q16_SQL = """
SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
       count(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_size <= 25
  AND NOT EXISTS (
    SELECT 1 FROM supplier s
    WHERE s.s_suppkey = ps.l_suppkey AND s.s_acctbal < 0.0
  )
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, brand, type, size
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Top-k per group as a k-round tournament (R4-24)
#
# "Top 3 documents per language" is usually written as a row_number
# window — which sorts EVERY member of a group inside one task and
# melts under a hot key (the docs/PLANS.md §18 failure mode; the
# window is fine for balanced groups, fatal for skewed ones). For
# small fixed k, k rounds of the extremum idiom do the same job with
# ONLY map-side-combinable hash aggregates: round r takes each group's
# argmax via max(struct(n_chars, -doc_id)) (one struct of state per
# group per task), anti-joins the winners out, repeats. O(k) passes —
# the right trade when k is small and skew is real; the oracle is the
# window formulation, proving equivalence.
# ---------------------------------------------------------------------------

TOPK_PER_GROUP_K = 3


def topk_per_group_tournament(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    remaining = docs
    rounds = []
    for rank in range(1, TOPK_PER_GROUP_K + 1):
        best = (
            remaining.groupBy("lang")
            .agg(
                F.max(
                    F.struct(
                        F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
                    )
                ).alias("b")
            )
            .select(
                "lang",
                F.lit(rank).alias("rank"),
                (-F.col("b.neg_id")).alias("doc_id"),
                F.col("b.n_chars").alias("n_chars"),
            )
        )
        rounds.append(best)
        remaining = remaining.join(
            best.select("lang", "doc_id"), ["lang", "doc_id"], "left_anti"
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.orderBy("lang", "rank")


TOPK_PER_GROUP_SQL = f"""
SELECT lang, CAST(rn AS INT) AS rank, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
         ) AS rn
  FROM documents
)
WHERE rn <= {TOPK_PER_GROUP_K}
ORDER BY lang, rank
"""


# ---------------------------------------------------------------------------
# Bucketized interval range join (R4-26)
#
# "Which events fall inside each purchase's 1-hour attribution
# window?" — the classic range/interval join. The naive formulation
# (join on user_id + BETWEEN) degrades when one user is hot; the
# general scale shape used here is BUCKETIZATION: each window explodes
# into the hour buckets it overlaps (≤2 here, since the window equals
# the bucket width), each probe event computes its single bucket, and
# the join becomes a pure (user_id, bucket) equi-join with the exact
# containment check as the residual predicate. Any window pairs with
# a probe in exactly one shared bucket, so no dedup pass is needed.
# The oracle is the plain BETWEEN formulation.
# ---------------------------------------------------------------------------

RANGE_WINDOW_US = 3_600_000_000  # 1 hour


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    win = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("window_id"),
        F.col("t_us").alias("w_start"),
        (F.col("t_us") + RANGE_WINDOW_US).alias("w_end"),
    )
    win_b = win.withColumn(
        "bkt",
        F.explode(
            F.sequence(
                F.floor(F.col("w_start") / RANGE_WINDOW_US),
                F.floor((F.col("w_end") - 1) / RANGE_WINDOW_US),
            )
        ),
    )
    probe = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "event_id", "t_us",
        F.floor(F.col("t_us") / RANGE_WINDOW_US).alias("bkt"),
    )
    counts = (
        win_b.join(probe, ["user_id", "bkt"])
        .where((F.col("t_us") >= F.col("w_start")) & (F.col("t_us") < F.col("w_end")))
        .groupBy("window_id")
        .agg(F.count("*").alias("n_in_window"))
    )
    return (
        win.select("window_id", "user_id", F.col("w_start").alias("w_start_us"))
        .join(counts, "window_id", "left")
        .select(
            "window_id", "user_id", "w_start_us",
            F.coalesce("n_in_window", F.lit(0)).alias("n_in_window"),
        )
        .orderBy("window_id")
    )


EVENTS_RANGE_JOIN_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us FROM events
),
win AS (
  SELECT user_id, event_id AS window_id, t_us AS w_start,
         t_us + {RANGE_WINDOW_US} AS w_end
  FROM ev WHERE event_type = 'purchase'
),
counts AS (
  SELECT w.window_id, count(*) AS n_in_window
  FROM win w
  JOIN ev e ON e.user_id = w.user_id
           AND e.event_type <> 'purchase'
           AND e.t_us >= w.w_start AND e.t_us < w.w_end
  GROUP BY 1
)
SELECT w.window_id, w.user_id, w.w_start AS w_start_us,
       CAST(coalesce(c.n_in_window, 0) AS BIGINT) AS n_in_window
FROM win w LEFT JOIN counts c USING (window_id)
ORDER BY window_id
"""


# ---------------------------------------------------------------------------
# Global ranking without a global window (R4-27)
#
# percent_rank over an entire corpus is the textbook single-partition
# trap: Window.orderBy(...) with no partitionBy funnels every row
# through ONE task. The scale-clean construction (the classic
# distributed-ranking two-pass) used here:
#   1. repartitionByRange on the sort key → balanced, ORDERED ranges
#      (localCheckpoint pins the sampled range boundaries so the
#      offsets collected in pass 1 describe the same partitioning the
#      ranking runs on — same idiom as the CC fixpoint);
#   2. per-partition row counts → driver (BOUNDED: one row per
#      partition, the whitelisted metadata collect);
#   3. per-partition row_number (each window partition is one range
#      partition — balanced by construction, never a hot key) plus the
#      broadcast prefix offset = exact global rank.
# The oracle is the single-window formulation, proving equivalence.
# ---------------------------------------------------------------------------

GLOBAL_RANK_PARTS = 32


def global_rank_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    parts = (
        docs.repartitionByRange(
            GLOBAL_RANK_PARTS, F.col("n_chars"), F.col("doc_id")
        )
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = sorted(
        (r["pid"], r["cnt"])
        for r in parts.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    n = acc
    off = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = Window.partitionBy("pid").orderBy("n_chars", "doc_id")
    ranked = parts.withColumn(
        "global_rank", off[F.col("pid")] + F.row_number().over(w)
    )
    pctl = (
        F.when(
            F.lit(n > 1),
            floor_round((F.col("global_rank") - 1) / F.lit(max(n - 1, 1)), 4),
        ).otherwise(0.0)
    )
    return ranked.select(
        "doc_id", "n_chars",
        F.col("global_rank").cast("long").alias("global_rank"),
        pctl.alias("percentile"),
    )


GLOBAL_RANK_SQL = """
WITH ranked AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS global_rank,
         count(*) OVER () AS n
  FROM documents
)
SELECT doc_id, n_chars, CAST(global_rank AS BIGINT) AS global_rank,
       CASE WHEN n > 1 THEN
         CAST(floor(
           CAST(global_rank - 1 AS DOUBLE) / (n - 1) * 10000 + 1e-6
         ) / 10000 AS DOUBLE)
       ELSE 0.0 END AS percentile
FROM ranked
"""


# ---------------------------------------------------------------------------
# OLAP breadth, round-4 batch 3 (R4-29): Q7/Q8/Q9 — the multi-dim
# star-chain shapes. With these the suite covers every TPC-H query
# expressible over the synthetic schema (18 of 22; Q11/Q12/Q20/Q21
# need partsupp / l_shipmode / commit+receipt dates, which the
# generator does not emit).
# ---------------------------------------------------------------------------

_Q7_N1, _Q7_N2 = "NATION_1", "NATION_2"


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 — bilateral trade volume by year. Shape: the fact joins two
    independent dimension CHAINS (supplier→nation, orders→customer→
    nation); every dim chain broadcasts (nation is 25 rows, supplier/
    customer are the small sides pre-projected to key+nationkey), and
    the bilateral OR-pair predicate evaluates as a residual on the
    joined row — never a join condition that breaks the equi-key."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        ((F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2))
        | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year(F.col("l_shipdate").cast("timestamp")).alias("l_year"),
        )
        .agg(floor_round(F.sum(rev), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 100 + 1e-6)
            / 100 AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
    OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}'))
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, l_year
"""

_Q8_REGION = "ASIA"
_Q8_NATION = "NATION_3"
_Q8_TYPE = "STANDARD"


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 — national market share inside one region's market. The
    share-of-group is a conditional sum over the SAME aggregate pass
    (never a self-join of two aggregates); the nation→region chain
    broadcasts twice with independent aliases (customer's region gates
    the market, supplier's nation is the share numerator)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    cust_nat = (
        nat.join(reg, nat.n_regionkey == reg.r_regionkey)
        .where(F.col("r_name") == _Q8_REGION)
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    supp_nat = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(F.col("p_type") == _Q8_TYPE)
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("c_nk"), "left_semi")
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nat), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        joined.groupBy(
            F.year(F.col("o_orderdate").cast("timestamp")).alias("o_year")
        )
        .agg(
            floor_round(
                F.sum(F.when(F.col("supp_nation") == _Q8_NATION, rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


TPCH_Q8_SQL = f"""
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(floor(
         sum(CASE WHEN n2.n_name = '{_Q8_NATION}'
                  THEN l.l_extendedprice * (1 - l.l_discount)
                  ELSE 0.0 END)
         / sum(l.l_extendedprice * (1 - l.l_discount)) * 10000 + 1e-6
       ) / 10000 AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n1.n_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
WHERE p.p_type = '{_Q8_TYPE}'
  AND r.r_name = '{_Q8_REGION}'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY o_year
"""

_Q9_NAME_FRAGMENT = "red"


def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 — profit by supplier nation and year, for parts whose name
    contains a fragment. No partsupp table, so profit omits the
    ps_supplycost*quantity term (disclosed stand-in: gross margin
    proxy). The LIKE gate reduces part BEFORE it broadcasts; year
    derives once in the aggregate key."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").contains(_Q9_NAME_FRAGMENT))
        .select("p_partkey")
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "nation",
            F.year(F.col("o_orderdate").cast("timestamp")).alias("o_year"),
        )
        .agg(floor_round(F.sum(amount), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


TPCH_Q9_SQL = f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 100 + 1e-6)
            / 100 AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_partkey IN (
  SELECT p_partkey FROM part WHERE p_name LIKE '%{_Q9_NAME_FRAGMENT}%'
)
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# Cohort retention matrix (R4-30). The product-analytics staple the
# reference's event log implies but never ships: bucket users into
# weekly cohorts by first-seen week, then for each (cohort, week
# offset) report how many cohort members were still active.
#
# Scale shape: three hash aggregates and ONE user_id-keyed shuffle
# join. First-seen is groupBy(user_id).min(ts) (map-side partial);
# activity is distinct (user_id, week) — also a hash agg that shrinks
# the event stream to at most users×weeks BEFORE the join; the final
# rollup groups by (cohort_week, offset) where each user contributes
# one row per active week, so count(*) IS the distinct-user count —
# no countDistinct state. No windows, no self-join on the raw stream.
# Weeks are Monday-truncated in both engines; cohort_week is emitted
# as a yyyy-MM-dd string (timestamps diverge in the value hash).
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            F.datediff(F.col("week"), F.col("cohort_week"))
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("active_users"))
        .join(
            cohort.groupBy("cohort_week").agg(
                F.count("*").cast("long").alias("cohort_size")
            ),
            "cohort_week",
        )
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.col("week_offset") / 7).cast("int").alias("week_offset"),
            "cohort_size",
            "active_users",
            floor_round(F.col("active_users") / F.col("cohort_size"), 4)
            .alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


COHORT_RETENTION_SQL = """
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY 1
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
cells AS (
  SELECT c.cohort_week,
         CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INT)
           AS week_offset,
         CAST(count(*) AS BIGINT) AS active_users
  FROM active a JOIN cohort c USING (user_id)
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM cohort GROUP BY 1
)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       c.week_offset, s.cohort_size, c.active_users,
       CAST(floor(CAST(c.active_users AS DOUBLE) / s.cohort_size * 10000
                  + 1e-6) / 10000 AS DOUBLE) AS retention
FROM cells c JOIN sizes s USING (cohort_week)
ORDER BY cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# Exact per-group median/percentile via value histogram (R4-35). The
# scalable EXACT quantile shape: percentile_approx diverges across
# engines and a per-group sort window funnels every row of a hot group
# through one task. Instead the corpus collapses to a (group, value)
# histogram FIRST — one map-side-combinable hash agg, state bounded by
# the VALUE DOMAIN (n_chars cardinality), not the corpus — and the
# rank walk runs over that bounded histogram (a window over ≤|domain|
# rows per group). Median = mean of the values at ranks ⌊(n+1)/2⌋ and
# ⌈(n+1)/2⌉; p90 = nearest-rank value at ⌈0.9·n⌉ — both exact and
# engine-portable (no interpolation-mode divergence).
def exact_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    hist = docs.groupBy("lang", "n_chars").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("lang"))
    )
    lo_pos = F.floor((F.col("n") + 1) / 2)
    hi_pos = F.ceil((F.col("n") + 1) / 2)
    p90_pos = F.ceil(F.col("n") * 0.9)
    picks = cum.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.min(F.when(F.col("cum") >= lo_pos, F.col("n_chars"))).alias("lo"),
        F.min(F.when(F.col("cum") >= hi_pos, F.col("n_chars"))).alias("hi"),
        F.min(F.when(F.col("cum") >= p90_pos, F.col("n_chars")))
        .cast("long")
        .alias("p90"),
    )
    return picks.select(
        "lang",
        "n_docs",
        floor_round((F.col("lo") + F.col("hi")) / 2.0, 4).alias("median"),
        "p90",
    ).orderBy("lang")


EXACT_MEDIAN_SQL = """
WITH hist AS (
  SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT lang, n_chars, c,
         sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
)
SELECT lang,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST(floor((min(CASE WHEN cum >= floor((n + 1) / 2.0)
                        THEN n_chars END)
                   + min(CASE WHEN cum >= ceil((n + 1) / 2.0)
                          THEN n_chars END)) / 2.0 * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS median,
       CAST(min(CASE WHEN cum >= ceil(n * 0.9) THEN n_chars END)
            AS BIGINT) AS p90
FROM cum
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# UNPIVOT / melt (R4-37) — the inverse of source_lang_pivot and the
# last relational reshape missing next to PIVOT/ROLLUP/CUBE/GROUPING
# SETS: the wide (source × n_<lang> columns) matrix melts back to long
# (source, lang, n) rows via DataFrame.unpivot (Spark's native melt,
# ids/values/variable/value signature). Zero-count cells are kept —
# unpivot emits every (id, value-column) pair, which is exactly what
# makes the round trip with the pivot lossless.
#
# Scale shape: the wide input is one hash aggregate (the pivot);
# unpivot itself is a map-only Expand (no shuffle, no UDF).
def source_lang_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = source_lang_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["source"],
            values=[f"n_{l}" for l in _PIVOT_LANGS],
            variableColumnName="lang",
            valueColumnName="n",
        )
        .select(
            "source",
            F.expr("substring(lang, 3)").alias("lang"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("source", "lang")
    )


SOURCE_LANG_UNPIVOT_SQL = f"""
WITH langs AS (
  SELECT unnest([{', '.join(repr(l) for l in _PIVOT_LANGS)}]) AS lang
),
counts AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
)
SELECT s.source, l.lang,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM (SELECT DISTINCT source FROM documents) s
CROSS JOIN langs l
LEFT JOIN counts c ON c.source = s.source AND c.lang = l.lang
ORDER BY s.source, l.lang
"""


# ---------------------------------------------------------------------------
# Set-operation breadth (R4-40): INTERSECT / EXCEPT — the two ANSI set
# operators not yet exercised (UNION and its dedup live in U3/U4).
# The corpus splits by doc_id into halves; the distinct (lang, token)
# vocabulary of each half is compared: INTERSECT = shared vocabulary,
# EXCEPT each way = half-exclusive combos — the wave-over-wave
# vocabulary diff a corpus-drift monitor runs (the set-arithmetic
# companion to corpus_drift_kl).
#
# Scale shape: Spark plans INTERSECT/EXCEPT as left-semi/left-anti
# hash joins over pre-aggregated distincts — same exchange profile as
# the semi/anti-join queries, no new shapes.
def vocab_half_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n"))
    base = docs.crossJoin(F.broadcast(n)).select(
        (F.col("doc_id") < F.col("n") / 2).alias("first_half"),
        "lang",
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    va = base.filter("first_half").select("lang", "tok").distinct()
    vb = base.filter(~F.col("first_half")).select("lang", "tok").distinct()
    return (
        va.intersect(vb).select("lang", "tok", F.lit("both").alias("side"))
        .unionByName(
            va.exceptAll(vb).select(
                "lang", "tok", F.lit("first_only").alias("side")
            )
        )
        .unionByName(
            vb.exceptAll(va).select(
                "lang", "tok", F.lit("second_only").alias("side")
            )
        )
        .orderBy("side", "lang", "tok")
    )


VOCAB_SETOPS_SQL = r"""
WITH nn AS (SELECT count(*) AS n FROM documents),
base AS (
  SELECT doc_id < (SELECT n FROM nn) / 2 AS first_half, lang,
         unnest(string_split_regex(text, '\s+')) AS tok
  FROM documents
),
va AS (SELECT DISTINCT lang, tok FROM base WHERE first_half AND tok <> ''),
vb AS (SELECT DISTINCT lang, tok FROM base WHERE NOT first_half AND tok <> '')
SELECT lang, tok, side FROM (
  SELECT lang, tok, 'both' AS side FROM (
    SELECT lang, tok FROM va INTERSECT SELECT lang, tok FROM vb
  )
  UNION ALL
  SELECT lang, tok, 'first_only' AS side FROM (
    SELECT lang, tok FROM va EXCEPT SELECT lang, tok FROM vb
  )
  UNION ALL
  SELECT lang, tok, 'second_only' AS side FROM (
    SELECT lang, tok FROM vb EXCEPT SELECT lang, tok FROM va
  )
)
ORDER BY side, lang, tok
"""


# ---------------------------------------------------------------------------
# Last-touch attribution (R4-41) — the marketing-analytics staple the
# event log supports: each purchase is credited to the most recent
# preceding touch ('view' or 'click') by the same user within the
# attribution window, else 'none'. Same leakage-safe forward-fill
# shape as pit_feature_join (one window per user over the merged
# stream — never a per-purchase inequality probe), with the window
# cutoff applied AFTER the fill: a stale touch outside the window
# degrades to 'none' rather than scanning further back (true
# last-touch semantics).
ATTR_WINDOW_US = 72 * 3600 * 1_000_000


def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "event_type",
    ).where(F.col("event_type").isin("view", "click", "purchase"))
    stream = ev.select(
        "event_id", "user_id", "t_us",
        (F.col("event_type") == "purchase").cast("int").alias("is_label"),
        F.when(F.col("event_type") != "purchase", F.col("event_type"))
        .alias("touch_type"),
        F.when(F.col("event_type") != "purchase", F.col("t_us"))
        .alias("touch_t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "is_label", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = stream.select(
        "event_id", "t_us", "is_label",
        F.last("touch_type", ignorenulls=True).over(w).alias("touch_type"),
        F.last("touch_t", ignorenulls=True).over(w).alias("touch_t"),
    ).where(F.col("is_label") == 1)
    lag_us = F.col("t_us") - F.col("touch_t")
    channel = F.when(
        F.col("touch_t").isNotNull() & (lag_us <= ATTR_WINDOW_US),
        F.col("touch_type"),
    ).otherwise(F.lit("none"))
    return (
        filled.select(channel.alias("channel"), lag_us.alias("lag_us"))
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            floor_round(
                F.avg(
                    F.when(
                        F.col("channel") != "none",
                        F.col("lag_us") / 60_000_000.0,
                    )
                ),
                4,
            ).alias("avg_lag_min"),
        )
        .orderBy("channel")
    )


LAST_TOUCH_SQL = f"""
WITH stream AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_label,
         CASE WHEN event_type != 'purchase' THEN event_type END AS touch_type,
         CASE WHEN event_type != 'purchase' THEN epoch_us(ts) END AS touch_t
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
filled AS (
  SELECT event_id, t_us, is_label,
         last_value(touch_type IGNORE NULLS) OVER w AS touch_type,
         last_value(touch_t IGNORE NULLS) OVER w AS touch_t
  FROM stream
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, is_label, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
attributed AS (
  SELECT CASE WHEN touch_t IS NOT NULL
                   AND t_us - touch_t <= {ATTR_WINDOW_US}
              THEN touch_type ELSE 'none' END AS channel,
         t_us - touch_t AS lag_us
  FROM filled WHERE is_label = 1
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(floor(avg(CASE WHEN channel != 'none'
                       THEN lag_us / 60000000.0 END)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS avg_lag_min
FROM attributed
GROUP BY channel
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# Session path mining (R4-42): top event trigrams within sessions —
# the "common journeys" report product analytics builds on top of
# sessionization. Sessions reuse events_sessionize's gap rule; paths
# come from two lead() steps INSIDE the (user, session) partition (the
# same bounded window sessionize itself needs — no new shapes), then
# one hash agg + TakeOrdered for the global top-k.
PATH_TOP_K = 15


def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    flagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
        .alias("new_s"),
    )
    sess = flagged.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum("new_s").over(w).alias("session_seq"),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    tri = sess.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(ws).alias("e2"),
        F.lead("event_type", 2).over(ws).alias("e3"),
    ).where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(PATH_TOP_K)
    )


EVENT_TRIGRAM_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_S}
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS session_seq
  FROM flagged
),
tri AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM sess
  WINDOW w AS (PARTITION BY user_id, session_seq ORDER BY ts, event_id)
)
SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n DESC, e1, e2, e3
LIMIT {PATH_TOP_K}
"""


# ---------------------------------------------------------------------------
# Event transition entropy (R4-51): conditional next-event entropy
# H(next | current) per event type — the predictability audit of the
# event stream (near-zero entropy after 'view' means the product
# funnel is deterministic; high entropy flags exploratory behavior).
# Transitions come from one lead() in the per-user window the
# sessionize family already uses; entropy is two hash aggregates over
# the 5×5 transition matrix.
def event_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type", 1).over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    counts = trans.groupBy("cur", "nxt").agg(F.count("*").alias("c"))
    per_cur = counts.groupBy("cur").agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.sum(F.col("c") * F.log2("c")).alias("clogc"),
    )
    return per_cur.select(
        "cur", "n_transitions",
        floor_round(
            F.log2("n_transitions") - F.col("clogc") / F.col("n_transitions"),
            4,
        ).alias("entropy"),
    ).orderBy("cur")


EVENT_TRANSITION_ENTROPY_SQL = """
WITH trans AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
counts AS (
  SELECT cur, nxt, count(*) AS c FROM trans
  WHERE nxt IS NOT NULL GROUP BY 1, 2
)
SELECT cur, CAST(sum(c) AS BIGINT) AS n_transitions,
       CAST(floor((log2(sum(c)) - sum(c * log2(c)) / sum(c))
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS entropy
FROM counts
GROUP BY cur
ORDER BY cur
"""


# ---------------------------------------------------------------------------
# RFM customer segmentation (R4-53). Classic warehouse segmentation:
# recency / frequency / monetary quartiles per customer. The textbook
# ntile(4) is a GLOBAL sort window — every customer through one task —
# so this uses the exact-histogram cutpoint shape instead (R4-35):
# customer metrics collapse to a (metric, value) histogram whose state
# is bounded by the VALUE DOMAIN (days, order counts, whole dollars),
# the quartile cutpoints fall out of a cumulative walk over that
# bounded histogram, and every customer is bucketed by comparing to
# three broadcast scalars. Semantics: nearest-rank quantiles (value at
# rank ceil(q*n)), bucket = 1 + #cutpoints strictly below the value —
# deterministic and identical in both engines, unlike ntile whose tie
# handling is row-order-dependent. r_bucket 1 = most recent quartile;
# f/m_bucket 4 = top quartile.
# ---------------------------------------------------------------------------


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    anchor = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("anchor"))
    m = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count("*").cast("long").alias("freq"),
            F.sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("anchor", "last_order").cast("long").alias("r_days"),
            "freq",
            "monetary",
            F.floor("monetary").cast("long").alias("mon_fl"),
        )
    )
    unp = m.select(
        "o_custkey",
        F.expr(
            "stack(3, 'r', r_days, 'f', freq, 'm', mon_fl) AS (metric, value)"
        ),
    )
    hist = unp.groupBy("metric", "value").agg(F.count("*").alias("c"))
    tot = hist.groupBy("metric").agg(F.sum("c").alias("n"))
    wcum = (
        Window.partitionBy("metric")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum)).join(
        F.broadcast(tot), "metric"
    )
    cuts = cum.groupBy("metric").agg(
        *[
            F.min(
                F.when(F.col("cum") >= F.ceil(F.col("n") * q), F.col("value"))
            ).alias(f"q{i + 1}")
            for i, q in enumerate((0.25, 0.5, 0.75))
        ]
    )
    cutrow = cuts.agg(
        *[
            F.max(F.when(F.col("metric") == mt, F.col(f"q{i}"))).alias(
                f"{mt}q{i}"
            )
            for mt in ("r", "f", "m")
            for i in (1, 2, 3)
        ]
    )

    def bucket(v: str, mt: str):
        b = F.lit(1)
        for i in (1, 2, 3):
            b = b + F.when(F.col(v) > F.col(f"{mt}q{i}"), 1).otherwise(0)
        return b.cast("int")

    seg = m.crossJoin(F.broadcast(cutrow)).select(
        "o_custkey",
        "mon_fl",
        bucket("r_days", "r").alias("r_bucket"),
        bucket("freq", "f").alias("f_bucket"),
        bucket("mon_fl", "m").alias("m_bucket"),
    )
    return (
        seg.groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            # mean over the whole-dollar BIGINTs: the sum is exact in
            # both engines, so one integer division (not a float sum
            # whose order differs) feeds the floor — boundary-safe at
            # any monetary magnitude
            floor_round(F.sum("mon_fl") / F.count("*"), 4).alias(
                "avg_monetary"
            ),
        )
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    )


RFM_SEGMENTS_SQL = """
WITH anchor AS (
  SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders
),
m AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
                        (SELECT anchor FROM anchor)) AS BIGINT) AS r_days,
         CAST(count(*) AS BIGINT) AS freq,
         sum(o_totalprice) AS monetary,
         CAST(floor(sum(o_totalprice)) AS BIGINT) AS mon_fl
  FROM orders GROUP BY o_custkey
),
unp AS (
  SELECT o_custkey, 'r' AS metric, r_days AS value FROM m
  UNION ALL SELECT o_custkey, 'f', freq FROM m
  UNION ALL SELECT o_custkey, 'm', mon_fl FROM m
),
hist AS (SELECT metric, value, count(*) AS c FROM unp GROUP BY 1, 2),
tot AS (SELECT metric, sum(c) AS n FROM hist GROUP BY 1),
cum AS (
  SELECT metric, value,
         sum(c) OVER (PARTITION BY metric ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM hist
),
cuts AS (
  SELECT c.metric,
         min(CASE WHEN cum >= ceil(n * 0.25) THEN value END) AS q1,
         min(CASE WHEN cum >= ceil(n * 0.5)  THEN value END) AS q2,
         min(CASE WHEN cum >= ceil(n * 0.75) THEN value END) AS q3
  FROM cum c JOIN tot USING (metric) GROUP BY 1
),
cutrow AS (
  SELECT
    max(CASE WHEN metric = 'r' THEN q1 END) AS rq1,
    max(CASE WHEN metric = 'r' THEN q2 END) AS rq2,
    max(CASE WHEN metric = 'r' THEN q3 END) AS rq3,
    max(CASE WHEN metric = 'f' THEN q1 END) AS fq1,
    max(CASE WHEN metric = 'f' THEN q2 END) AS fq2,
    max(CASE WHEN metric = 'f' THEN q3 END) AS fq3,
    max(CASE WHEN metric = 'm' THEN q1 END) AS mq1,
    max(CASE WHEN metric = 'm' THEN q2 END) AS mq2,
    max(CASE WHEN metric = 'm' THEN q3 END) AS mq3
  FROM cuts
),
seg AS (
  SELECT m.mon_fl,
         CAST(1 + (CASE WHEN r_days > rq1 THEN 1 ELSE 0 END)
                + (CASE WHEN r_days > rq2 THEN 1 ELSE 0 END)
                + (CASE WHEN r_days > rq3 THEN 1 ELSE 0 END) AS INT)
           AS r_bucket,
         CAST(1 + (CASE WHEN freq > fq1 THEN 1 ELSE 0 END)
                + (CASE WHEN freq > fq2 THEN 1 ELSE 0 END)
                + (CASE WHEN freq > fq3 THEN 1 ELSE 0 END) AS INT)
           AS f_bucket,
         CAST(1 + (CASE WHEN mon_fl > mq1 THEN 1 ELSE 0 END)
                + (CASE WHEN mon_fl > mq2 THEN 1 ELSE 0 END)
                + (CASE WHEN mon_fl > mq3 THEN 1 ELSE 0 END) AS INT)
           AS m_bucket
  FROM m, cutrow
)
SELECT r_bucket, f_bucket, m_bucket,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(floor(CAST(sum(mon_fl) AS DOUBLE) / count(*) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS avg_monetary
FROM seg
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Market-basket association rules (R4-54): part pairs co-occurring in
# orders, scored by support / confidence / lift. The candidate join is
# a basket self-join on l_orderkey — fan-out bounded by ORDER WIDTH
# squared (TPC-H orders hold ≤7 distinct parts; at 100 TB the bound is
# the max basket size, not the corpus), never an all-pairs product
# over parts. Item and pair frequencies are map-side-combinable hash
# aggregates; n_orders rides along as a 1-row broadcast. Output is
# top-k by lift with a total (a,b) tiebreak → TakeOrderedAndProject.
# ---------------------------------------------------------------------------

MB_MIN_PAIR = 2
MB_TOP_K = 50


def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()  # consumed 3×: both self-join sides + item counts
    )
    n_orders = basket.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    items = basket.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_item")
    )
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("a_part"),
            F.col("b.l_partkey").alias("b_part"),
        )
        .agg(F.count("*").cast("long").alias("pair_cnt"))
        .where(F.col("pair_cnt") >= MB_MIN_PAIR)
    )
    scored = (
        pairs.join(items.withColumnRenamed("l_partkey", "a_part"), "a_part")
        .withColumnRenamed("n_item", "n_a")
        .join(items.withColumnRenamed("l_partkey", "b_part"), "b_part")
        .withColumnRenamed("n_item", "n_b")
        .crossJoin(F.broadcast(n_orders))
    )
    return (
        scored.select(
            "a_part",
            "b_part",
            "pair_cnt",
            floor_round(F.col("pair_cnt") / F.col("n_orders"), 4).alias(
                "support"
            ),
            floor_round(F.col("pair_cnt") / F.col("n_a"), 4).alias(
                "confidence"
            ),
            floor_round(
                F.col("pair_cnt") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "a_part", "b_part")
        .limit(MB_TOP_K)
    )


MARKET_BASKET_SQL = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_ord AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM basket),
items AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
  FROM basket GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS a_part, b.l_partkey AS b_part,
         CAST(count(*) AS BIGINT) AS pair_cnt
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MB_MIN_PAIR}
)
SELECT p.a_part, p.b_part, p.pair_cnt,
       CAST(floor(CAST(p.pair_cnt AS DOUBLE) / n.n_orders * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS support,
       CAST(floor(CAST(p.pair_cnt AS DOUBLE) / ia.n_item * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS confidence,
       CAST(floor(CAST(p.pair_cnt AS DOUBLE) * n.n_orders
                  / (ia.n_item * ib.n_item) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS lift
FROM pairs p
JOIN items ia ON ia.l_partkey = p.a_part
JOIN items ib ON ib.l_partkey = p.b_part
CROSS JOIN n_ord n
ORDER BY lift DESC, a_part, b_part
LIMIT {MB_TOP_K}
"""


# ---------------------------------------------------------------------------
# SCD-2 change compression (R4-55): the warehouse slowly-changing-
# dimension build — per-user event_type streams compress to validity
# intervals [valid_from, valid_to) at state-change points, then roll
# up per state. Two window steps inside the SAME bounded per-user
# partition the sessionize family already uses (lag to flag changes,
# lead over the surviving change rows to close intervals) — no global
# window, no self-join. Durations are exact epoch-microsecond BIGINT
# arithmetic in both engines; the open interval (a user's last state)
# is counted, never extrapolated.
# ---------------------------------------------------------------------------


def scd2_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .drop("prev")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ch.select(
        "event_type",
        F.unix_micros("ts").alias("from_us"),
        F.unix_micros(F.lead("ts").over(w2)).alias("to_us"),
    )
    closed = F.col("to_us").isNotNull()
    agg = iv.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum(F.when(~closed, 1).otherwise(0)).cast("long").alias("n_open"),
        F.sum(F.when(closed, F.col("to_us") - F.col("from_us"))).alias(
            "dur_us"
        ),
    )
    n_closed = F.col("n_intervals") - F.col("n_open")
    return agg.select(
        "event_type",
        "n_intervals",
        "n_open",
        floor_round(F.coalesce(F.col("dur_us"), F.lit(0)) / 1e6, 4).alias(
            "total_closed_s"
        ),
        F.when(
            n_closed > 0,
            floor_round(F.col("dur_us") / 1e6 / n_closed, 4),
        )
        .otherwise(0.0)
        .alias("avg_closed_s"),
    ).orderBy("event_type")


SCD2_INTERVALS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
ch AS (
  SELECT user_id, ts, event_id, event_type FROM flagged
  WHERE prev IS NULL OR prev <> event_type
),
iv AS (
  SELECT event_type, epoch_us(ts) AS from_us,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id)) AS to_us
  FROM ch
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_intervals,
         CAST(sum(CASE WHEN to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_open,
         sum(CASE WHEN to_us IS NOT NULL THEN to_us - from_us END) AS dur_us
  FROM iv GROUP BY 1
)
SELECT event_type, n_intervals, n_open,
       CAST(floor(coalesce(dur_us, 0) / 1e6 * 10000 + 1e-6) / 10000
            AS DOUBLE) AS total_closed_s,
       CASE WHEN n_intervals - n_open > 0 THEN
         CAST(floor(dur_us / 1e6 / (n_intervals - n_open) * 10000 + 1e-6)
              / 10000 AS DOUBLE)
       ELSE 0.0 END AS avg_closed_s
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Daily-volume trend fit + residual anomaly flags (R4-56): ordinary
# least squares over (day_index, n_events) via the closed-form sums —
# NOT regr_slope(), whose null/ordering semantics differ per engine —
# then z-scores against the RMS residual. Two 1-row aggregates ride
# broadcast crossJoins; the per-day table is bounded by the CALENDAR
# (value-domain bound, independent of event volume), so every step
# after the first hash agg is effectively free at any scale. Anomaly
# compares the FLOORED z to the threshold so the flag can never flip
# on 1-ulp cross-engine noise while the printed z stays boundary-safe.
# ---------------------------------------------------------------------------

TREND_Z_THR = 2.0


def daily_trend_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("n_events"))
    d0 = daily.agg(F.min("d").alias("d0"))
    xy = daily.crossJoin(F.broadcast(d0)).select(
        "d",
        "n_events",
        F.datediff("d", "d0").cast("double").alias("x"),
        F.col("n_events").cast("double").alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den > 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    ).otherwise(0.0)
    fit_df = (
        xy.crossJoin(F.broadcast(s))
        .withColumn("slope", slope)
        .withColumn(
            "icept", (F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n")
        )
        .withColumn(
            "resid",
            F.col("y") - (F.col("slope") * F.col("x") + F.col("icept")),
        )
    )
    rms = fit_df.agg(
        F.sqrt(F.avg(F.col("resid") * F.col("resid"))).alias("rms")
    )
    z = F.when(F.col("rms") > 0, F.col("resid") / F.col("rms")).otherwise(0.0)
    out = fit_df.crossJoin(F.broadcast(rms)).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_events",
        floor_round(F.col("slope") * F.col("x") + F.col("icept"), 4).alias(
            "fit"
        ),
        floor_round(z, 4).alias("z"),
    )
    return out.select(
        "day",
        "n_events",
        "fit",
        "z",
        (F.abs(F.col("z")) >= TREND_Z_THR).alias("anomaly"),
    ).orderBy("day")


DAILY_TREND_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
xy AS (
  SELECT d, n_events,
         CAST(date_diff('day', (SELECT min(d) FROM daily), d) AS DOUBLE)
           AS x,
         CAST(n_events AS DOUBLE) AS y
  FROM daily
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy
),
fit AS (
  SELECT d, n_events, x, y,
         CASE WHEN n * sxx - sx * sx > 0
              THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
              ELSE 0.0 END AS slope,
         n, sx, sy
  FROM xy, s
),
fit2 AS (
  SELECT d, n_events, x, y, slope,
         (sy - slope * sx) / n AS icept
  FROM fit
),
resid AS (
  SELECT d, n_events, x, slope, icept,
         y - (slope * x + icept) AS resid
  FROM fit2
),
rms AS (SELECT sqrt(avg(resid * resid)) AS rms FROM resid)
SELECT strftime(d, '%Y-%m-%d') AS day, n_events,
       CAST(floor((slope * x + icept) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS fit,
       CAST(floor(CASE WHEN rms > 0 THEN resid / rms ELSE 0.0 END
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS z,
       abs(CAST(floor(CASE WHEN rms > 0 THEN resid / rms ELSE 0.0 END
                      * 10000 + 1e-6) / 10000 AS DOUBLE))
         >= {TREND_Z_THR} AS anomaly
FROM resid, rms
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit (R4-57): the classic forensic data-quality
# check — does the leading digit of order totals follow log10(1+1/d)?
# The digit is extracted from the DECIMAL STRING of floor(price)
# (substring of a bigint cast), never via log10, whose libm rounding
# differs between the JVM and DuckDB near digit boundaries. One 9-key
# hash aggregate + a 1-row broadcast total + a 9-row broadcast of the
# expected shares (Python-interpolated literals, so both engines
# compare against the SAME doubles). Pearson chi-square contribution
# n*(p_obs - p_exp)^2 / p_exp per digit; all shares are one division
# of exact integers, deterministic cross-engine. Map-only before the
# single aggregate — scale-free at any corpus size.
# ---------------------------------------------------------------------------

_BENFORD_EXPECTED = {
    d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)
}


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_totalprice")
    digits = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(
        F.count("*").cast("long").alias("n")
    )
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    expected = spark.createDataFrame(
        [(d, e) for d, e in _BENFORD_EXPECTED.items()],
        "digit int, expected double",
    )
    joined = (
        expected.join(counts, "digit", "left")
        .na.fill({"n": 0})
        .crossJoin(F.broadcast(total))
    )
    p_obs = F.col("n") / F.col("total")
    chi = (
        F.col("total")
        * (p_obs - F.col("expected"))
        * (p_obs - F.col("expected"))
        / F.col("expected")
    )
    return joined.select(
        "digit",
        "n",
        floor_round(p_obs, 4).alias("observed_share"),
        floor_round(F.col("expected"), 4).alias("benford_share"),
        floor_round(chi, 4).alias("chi2_term"),
    ).orderBy("digit")


BENFORD_SQL = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS digit
  FROM orders
),
counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1
),
total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
expected AS (
  SELECT * FROM (VALUES
    {", ".join(
        f"({d}, CAST({_BENFORD_EXPECTED[d]!r} AS DOUBLE))"
        for d in range(1, 10)
    )}
  ) AS t(digit, expected)
)
SELECT e.digit,
       coalesce(c.n, 0) AS n,
       CAST(floor(coalesce(c.n, 0) / CAST(total AS DOUBLE) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS observed_share,
       CAST(floor(expected * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS benford_share,
       CAST(floor(total * (coalesce(c.n, 0) / CAST(total AS DOUBLE) - expected)
                  * (coalesce(c.n, 0) / CAST(total AS DOUBLE) - expected)
                  / expected * 10000 + 1e-6) / 10000 AS DOUBLE) AS chi2_term
FROM expected e LEFT JOIN counts c ON e.digit = c.digit, total
ORDER BY e.digit
"""


# ---------------------------------------------------------------------------
# Month-over-month revenue growth (R4-58): the period-over-period KPI
# report. The corpus collapses to ONE hash aggregate keyed by month;
# everything after runs on a table bounded by the CALENDAR (~80 rows
# here, ~1200 for a century), so the unpartitioned lag/cumsum window
# is dimension-bounded — the same value-domain argument as the exact
# histogram quantiles (R4-35), not a corpus-sized global window.
# Revenue is summed as exact whole CENTS (floor(price*100 + 1e-6)
# BIGINT), so cross-engine float-summation-order noise cannot reach
# the growth ratios; each ratio is one division of exact integers.
# ---------------------------------------------------------------------------


def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    monthly = orders.groupBy(
        F.date_format(
            F.date_trunc("month", F.col("o_orderdate").cast("date")),
            "yyyy-MM",
        ).alias("month")
    ).agg(
        _cents_sum("rev_cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    w = Window.orderBy("month")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = monthly.agg(F.sum("rev_cents").cast("long").alias("total_cents"))
    out = (
        monthly.withColumn("prev_cents", F.lag("rev_cents").over(w))
        .withColumn("cum_cents", F.sum("rev_cents").over(wcum))
        .crossJoin(F.broadcast(total))
    )
    return out.select(
        "month",
        "n_orders",
        (F.col("rev_cents") / 100.0).alias("revenue"),
        F.when(
            F.col("prev_cents").isNotNull() & (F.col("prev_cents") > 0),
            floor_round(
                (F.col("rev_cents") - F.col("prev_cents"))
                / F.col("prev_cents"),
                4,
            ),
        ).alias("mom_growth"),
        floor_round(F.col("cum_cents") / F.col("total_cents"), 4).alias(
            "cum_share"
        ),
    ).orderBy("month")


MONTHLY_GROWTH_SQL = r"""
WITH monthly AS (
  SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m')
           AS month,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
total AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM monthly),
seq AS (
  SELECT month, n_orders, rev_cents,
         lag(rev_cents) OVER (ORDER BY month) AS prev_cents,
         sum(rev_cents) OVER (ORDER BY month
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_cents
  FROM monthly
)
SELECT month, n_orders,
       rev_cents / 100.0 AS revenue,
       CASE WHEN prev_cents IS NOT NULL AND prev_cents > 0 THEN
         CAST(floor((rev_cents - prev_cents) / CAST(prev_cents AS DOUBLE)
                    * 10000 + 1e-6) / 10000 AS DOUBLE)
       END AS mom_growth,
       CAST(floor(cum_cents / CAST(total_cents AS DOUBLE) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS cum_share
FROM seq, total
ORDER BY month
"""


# ---------------------------------------------------------------------------
# Pareto / ABC revenue classification (R4-59): parts ranked by revenue
# with cumulative-share class cuts (A <= 80 %, B <= 95 %, C rest) —
# the inventory-analysis staple. The corpus (lineitem) collapses to
# ONE hash aggregate keyed by partkey; the ranking window then runs
# over the PART DIMENSION, not the fact table — dimension-bounded by
# the same argument as the calendar windows, and beyond dim scale the
# two-pass global_rank_offset construction (R4-28) swaps in for the
# same semantics. Per-row revenue floors to exact cents BEFORE any
# sum, so class boundaries compare one deterministic division of
# exact integers; ties order by (revenue DESC, partkey) totally.
# ---------------------------------------------------------------------------


def pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            + 1e-6
        )
        .cast("long")
        .alias("cents"),
    )
    rev = li.groupBy("l_partkey").agg(
        F.sum("cents").cast("long").alias("rev_cents")
    )
    total = rev.agg(F.sum("rev_cents").cast("long").alias("total_cents"))
    w = Window.orderBy(F.col("rev_cents").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    classed = (
        rev.withColumn("cum_cents", F.sum("rev_cents").over(w))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "cum_share", F.col("cum_cents") / F.col("total_cents")
        )
        .withColumn(
            "abc_class",
            F.when(F.col("cum_share") <= 0.80, "A")
            .when(F.col("cum_share") <= 0.95, "B")
            .otherwise("C"),
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev_cents").cast("long").alias("class_cents"),
            F.max("total_cents").cast("long").alias("total_cents"),
        )
        .select(
            "abc_class",
            "n_parts",
            (F.col("class_cents") / 100.0).alias("class_revenue"),
            floor_round(
                F.col("class_cents") / F.col("total_cents"), 4
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


PARETO_ABC_SQL = r"""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                             + 1e-6) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem GROUP BY 1
),
total AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM rev),
classed AS (
  SELECT rev_cents,
         CASE
           WHEN sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
                / CAST(total_cents AS DOUBLE) <= 0.80 THEN 'A'
           WHEN sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
                / CAST(total_cents AS DOUBLE) <= 0.95 THEN 'B'
           ELSE 'C'
         END AS abc_class,
         total_cents
  FROM rev, total
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       sum(rev_cents) / 100.0 AS class_revenue,
       CAST(floor(sum(rev_cents) / CAST(max(total_cents) AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS revenue_share
FROM classed
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Event debounce (R4-62): collapse bursts — within each (user, event
# type) stream, an event arriving less than DEBOUNCE_GAP_S after its
# predecessor is a duplicate trigger (double-clicks, retry storms,
# at-least-once redelivery) and only the FIRST of each burst chain is
# retained. Greedy keep-first debounce looks sequential, but it is
# exactly the sessionize construction: a chain breaks where the gap to
# the PREVIOUS RAW event reaches the threshold, so the lag-to-flag
# rows ARE the retained set — one bounded per-(user, type) window,
# exact integer microsecond arithmetic, (t_us, event_id) total order
# for duplicate timestamps. Report rolls up per event type to keep the
# graded surface small; the flag itself is per-row and reusable.
# ---------------------------------------------------------------------------

DEBOUNCE_GAP_S = 3600


def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "t_us", "event_id"
    )
    flagged = ev.withColumn("prev_us", F.lag("t_us").over(w)).withColumn(
        "retained",
        F.col("prev_us").isNull()
        | (F.col("t_us") - F.col("prev_us") >= DEBOUNCE_GAP_S * 1_000_000),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.sum(F.col("retained").cast("long"))
            .cast("long")
            .alias("n_retained"),
        )
        .select(
            "event_type",
            "n_raw",
            "n_retained",
            floor_round(F.col("n_retained") / F.col("n_raw"), 4).alias(
                "retention_ratio"
            ),
        )
        .orderBy("event_type")
    )


EVENT_DEBOUNCE_SQL = f"""
WITH flagged AS (
  SELECT event_type,
         CASE WHEN lag(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type
                ORDER BY epoch_us(ts), event_id) IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type
                ORDER BY epoch_us(ts), event_id)
                 >= {DEBOUNCE_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS retained
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(retained) AS BIGINT) AS n_retained,
       CAST(floor(sum(retained) / CAST(count(*) AS DOUBLE) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS retention_ratio
FROM flagged
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Repurchase-interval quantiles (R4-65): per-customer consecutive
# order gaps (days), summarized as exact nearest-rank p25/p50/p75/p90
# per market segment — the standard inter-purchase-time input to churn
# and next-order models, complementing rfm_segments' recency snapshot.
# Scale shape: the gap relation reduces FIRST to a (segment, gap_days)
# histogram (map-side-combinable; state bounded by the day-gap domain,
# not the order count — the R4-35 exact-quantile pattern), so the only
# per-customer window is the lag over each customer's own orders,
# partitioned on the natural key. Nearest-rank (ceil(q*n)) quantiles
# are integers, so the output is engine-exact with no interpolation
# mode to reconcile. Customer is a dim: broadcast into the gap side.
# ---------------------------------------------------------------------------

REPURCHASE_QS = (25, 50, 75, 90)


def repurchase_interval_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn("prev_d", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_d").isNotNull())
        .select(
            "o_custkey",
            F.datediff(F.col("o_orderdate"), F.col("prev_d")).alias(
                "gap_days"
            ),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    hist = gaps.groupBy("c_mktsegment", "gap_days").agg(
        F.count("*").alias("c")
    )
    cw = (
        Window.partitionBy("c_mktsegment")
        .orderBy("gap_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(cw)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("c_mktsegment"))
    )
    aggs = [F.max("n").cast("long").alias("n_gaps")]
    for q in REPURCHASE_QS:
        pos = F.ceil(F.col("n") * q / 100.0)
        aggs.append(
            F.min(F.when(F.col("cum") >= pos, F.col("gap_days")))
            .cast("long")
            .alias(f"p{q}_days")
        )
    return (
        cum.groupBy("c_mktsegment")
        .agg(*aggs)
        .orderBy("c_mktsegment")
    )


_REPURCHASE_PICKS = ",\n       ".join(
    f"CAST(min(CASE WHEN cum >= ceil(n * {q} / 100.0) THEN gap_days END) "
    f"AS BIGINT) AS p{q}_days"
    for q in REPURCHASE_QS
)

REPURCHASE_QUANTILES_SQL = f"""
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders
),
seg AS (
  SELECT c.c_mktsegment, g.gap_days
  FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
  WHERE g.gap_days IS NOT NULL
),
hist AS (
  SELECT c_mktsegment, gap_days, count(*) AS c FROM seg GROUP BY 1, 2
),
cum AS (
  SELECT c_mktsegment, gap_days, c,
         sum(c) OVER (PARTITION BY c_mktsegment ORDER BY gap_days) AS cum,
         sum(c) OVER (PARTITION BY c_mktsegment) AS n
  FROM hist
)
SELECT c_mktsegment,
       CAST(max(n) AS BIGINT) AS n_gaps,
       {_REPURCHASE_PICKS}
FROM cum
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Gini revenue concentration per nation (R4-68): the inequality
# statistic behind "top 1% of customers drive X% of revenue" — the
# scalar complement to pareto_abc's class table. Per customer, total
# order revenue IN INTEGER CENTS (round(o_totalprice * 100)): every
# downstream sum is then exact in both engines, so rank order, the
# rank-weighted sum, and the closed form
#   G = 2 * sum(i * x_i) / (n * sum(x)) - (n + 1) / n    (x sorted asc)
# are all engine-deterministic before the final floor. Customers with
# zero orders are included at revenue 0 (left join) — concentration
# over the full customer base, not just purchasers. Scale shape: one
# hash aggregate per customer, broadcast nation dim, and ONE rank
# window partitioned by nation (group size = customers per nation;
# at extreme scale swap in the R4-35 histogram-rank walk over the
# cents domain — same numbers, bounded state).
# ---------------------------------------------------------------------------


def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("cents")
    )
    base = (
        cust.join(rev, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            "c_nationkey",
            F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    w = Window.partitionBy("n_name").orderBy("cents", "c_custkey")
    ranked = base.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(F.col("i") * F.col("cents")).cast("long").alias("iws"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            "total_cents",
            floor_round(
                2.0 * F.col("iws")
                / (F.col("n_customers") * F.col("total_cents"))
                - (F.col("n_customers") + 1) / F.col("n_customers"),
                6,
            ).alias("gini"),
        )
        .orderBy("nation")
    )


GINI_REVENUE_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
base AS (
  SELECT n.n_name, c.c_custkey, coalesce(r.cents, 0) AS cents
  FROM customer c
  LEFT JOIN rev r ON r.o_custkey = c.c_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
ranked AS (
  SELECT n_name, cents,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY cents, c_custkey) AS i
  FROM base
)
SELECT n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(floor((2.0 * sum(i * cents)
                   / (count(*) * CAST(sum(cents) AS DOUBLE))
                   - (count(*) + 1) / CAST(count(*) AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS gini
FROM ranked
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Referential-integrity / constraint audit (R4-76, the dbt-test /
# Deequ-style warehouse DQ pass): one row per declared constraint with
# its checked population and violation count — orphan foreign keys
# (anti-joins), primary-key uniqueness (count vs count-distinct),
# domain ranges, and the cross-table temporal rule ship ≥ order date.
# On synthetic data most violations are zero; the graded content is
# that BOTH engines agree on every check's exact (n_checked,
# n_violations) — i.e. the anti-join/distinct/domain semantics match.
#
# Scale shape: each check is one scan + hash aggregate or one
# equi-key anti/inner join (orders→customer broadcasts the dim); the
# union is of 1-row aggregates. No windows, no sorts.
# ---------------------------------------------------------------------------


def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    okeys = orders.select("o_orderkey")

    def one(name: str, checked, violations) -> DataFrame:
        return checked.crossJoin(violations).select(
            F.lit(name).alias("check_name"),
            F.col("n_checked").cast("long").alias("n_checked"),
            F.col("n_violations").cast("long").alias("n_violations"),
            (F.col("n_violations") == 0).alias("passed"),
        )

    li_orphan = one(
        "lineitem_orderkey_fk",
        li.agg(F.count("*").alias("n_checked")),
        li.join(F.broadcast(okeys), li.l_orderkey == okeys.o_orderkey,
                "left_anti").agg(F.count("*").alias("n_violations")),
    )
    ord_orphan = one(
        "orders_custkey_fk",
        orders.agg(F.count("*").alias("n_checked")),
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey,
                    "left_anti").agg(F.count("*").alias("n_violations")),
    )
    ord_pk = one(
        "orders_orderkey_pk",
        orders.agg(F.count("*").alias("n_checked")),
        orders.agg(
            (F.count("*") - F.countDistinct("o_orderkey")).alias(
                "n_violations"
            )
        ),
    )
    li_pk = one(
        "lineitem_line_pk",
        li.agg(F.count("*").alias("n_checked")),
        li.agg(
            (
                F.count("*")
                - F.countDistinct("l_orderkey", "l_linenumber")
            ).alias("n_violations")
        ),
    )
    disc_dom = one(
        "lineitem_discount_domain",
        li.agg(F.count("*").alias("n_checked")),
        li.agg(
            F.sum(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                ).otherwise(0)
            ).alias("n_violations")
        ),
    )
    qty_dom = one(
        "lineitem_quantity_positive",
        li.agg(F.count("*").alias("n_checked")),
        li.agg(
            F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias(
                "n_violations"
            )
        ),
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    ship_rule = one(
        "ship_on_or_after_order",
        joined.agg(F.count("*").alias("n_checked")),
        joined.agg(
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1)
                .otherwise(0)
            ).alias("n_violations")
        ),
    )
    out = li_orphan
    for part in (ord_orphan, ord_pk, li_pk, disc_dom, qty_dom, ship_rule):
        out = out.unionByName(part)
    return out.orderBy("check_name")


DQ_AUDIT_SQL = """
SELECT check_name, n_checked, n_violations, n_violations = 0 AS passed
FROM (
  SELECT 'lineitem_orderkey_fk' AS check_name,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_checked,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_orderkey = l.l_orderkey))
           AS n_violations
  UNION ALL
  SELECT 'orders_custkey_fk',
         (SELECT CAST(count(*) AS BIGINT) FROM orders),
         (SELECT CAST(count(*) AS BIGINT) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'orders_orderkey_pk',
         (SELECT CAST(count(*) AS BIGINT) FROM orders),
         (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
            FROM orders)
  UNION ALL
  SELECT 'lineitem_line_pk',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                      AS BIGINT) FROM lineitem)
  UNION ALL
  SELECT 'lineitem_discount_domain',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                               THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem)
  UNION ALL
  SELECT 'lineitem_quantity_positive',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
                      AS BIGINT) FROM lineitem)
  UNION ALL
  SELECT 'ship_on_or_after_order',
         (SELECT CAST(count(*) AS BIGINT)
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
         (SELECT CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
                               THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
)
ORDER BY check_name
"""


# ---------------------------------------------------------------------------
# Peak concurrent sessions per day (R4-78): the classic interval
# sweep-line — occupancy/capacity reporting ("how many sessions were
# live at once, and when") over the sessionized event stream; the
# interval-overlap shape none of the window family covers yet.
# Sessions are the lag-method gap sessions (same flag rule and
# (t_us, new_s DESC, event_id) deterministic cumulative order as
# SESSION_WINDOWS_SQL), occupying [first event, last event] inclusive
# in integer microseconds.
#
# Sweep semantics: each session contributes +1 at start_us and −1 at
# end_us + 1; deltas are SUMMED PER DISTINCT INSTANT first (so
# concurrency is measured after all events at an instant — no
# intra-instant ordering surface), then one cumulative sum per day
# gives the running occupancy. Cross-midnight sessions are clipped
# into per-day segments (explode over the calendar span), so the
# cumulative window is partitioned BY DAY — bounded state, the
# distributed-prefix-sum answer to "the sweep needs a global sort".
# peak_at_us is the EARLIEST instant attaining the day's max (exact
# integers throughout; group-final cumulative values are
# order-independent). Scale shape: sessionize windows on the natural
# user key, one day-partitioned cumulative window over boundary
# instants (≤ 2 per session-day), hash joins for the peak lookup.
# ---------------------------------------------------------------------------


def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    t_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = t_us - F.lag(t_us).over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        t_us.alias("t_us"),
        F.when(gap.isNull() | (gap >= SESSION_GAP_S * 1_000_000), 1)
        .otherwise(0)
        .alias("new_s"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("t_us", F.desc("new_s"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = (
        flagged.select(
            "user_id", "t_us", F.sum("new_s").over(wc).alias("session_seq")
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("t_us").alias("start_us"), F.max("t_us").alias("end_us")
        )
    )
    day = F.explode(
        F.sequence(
            F.to_date(F.timestamp_micros(F.col("start_us"))),
            F.to_date(F.timestamp_micros(F.col("end_us"))),
        )
    ).alias("day_d")
    segs = sessions.select("start_us", "end_us", day).select(
        F.date_format("day_d", "yyyy-MM-dd").alias("day"),
        F.greatest(
            F.col("start_us"),
            F.unix_micros(F.col("day_d").cast("timestamp")),
        ).alias("s"),
        (
            F.least(
                F.col("end_us"),
                F.unix_micros(F.date_add(F.col("day_d"), 1).cast("timestamp"))
                - 1,
            )
            + 1
        ).alias("e"),
    ).persist()
    bounds = segs.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        segs.select("day", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    net = bounds.groupBy("day", "t").agg(F.sum("delta").alias("net"))
    wd = (
        Window.partitionBy("day")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = net.select(
        "day", "t", F.sum("net").over(wd).cast("long").alias("cum")
    )
    peaks = cum.groupBy("day").agg(F.max("cum").alias("peak"))
    peak_at = (
        cum.join(peaks, "day")
        .where(F.col("cum") == F.col("peak"))
        .groupBy("day")
        .agg(
            F.max("peak").cast("long").alias("peak_concurrency"),
            F.min("t").cast("long").alias("peak_at_us"),
        )
    )
    n_sess = segs.groupBy("day").agg(
        F.count("*").cast("long").alias("n_day_sessions")
    )
    return (
        n_sess.join(peak_at, "day")
        .select("day", "n_day_sessions", "peak_concurrency", "peak_at_us")
        .orderBy("day")
    )


CONCURRENT_PEAK_SQL = f"""
{_SESSION_FLAGGED_SQL}
sess AS (
  SELECT user_id, t_us,
         sum(new_s) OVER (PARTITION BY user_id
                          ORDER BY t_us, new_s DESC, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM flagged
),
sessions AS (
  SELECT user_id, session_seq,
         min(t_us) AS start_us, max(t_us) AS end_us
  FROM sess GROUP BY 1, 2
),
segs AS MATERIALIZED (
  SELECT strftime(day_d, '%Y-%m-%d') AS day,
         greatest(start_us, epoch_us(CAST(day_d AS TIMESTAMP))) AS s,
         least(end_us,
               epoch_us(CAST(day_d + INTERVAL 1 DAY AS TIMESTAMP)) - 1) + 1
           AS e
  FROM (
    SELECT start_us, end_us,
           unnest(generate_series(CAST(make_timestamp(start_us) AS DATE),
                                  CAST(make_timestamp(end_us) AS DATE),
                                  INTERVAL 1 DAY)) AS day_d
    FROM sessions
  )
),
net AS (
  SELECT day, t, sum(delta) AS net FROM (
    SELECT day, s AS t, 1 AS delta FROM segs
    UNION ALL
    SELECT day, e AS t, -1 AS delta FROM segs
  )
  GROUP BY 1, 2
),
cum AS (
  SELECT day, t,
         CAST(sum(net) OVER (PARTITION BY day ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM net
),
peaks AS (SELECT day, max(cum) AS peak FROM cum GROUP BY 1)
SELECT n.day,
       n.n_day_sessions,
       CAST(p.peak AS BIGINT) AS peak_concurrency,
       CAST(pa.peak_at_us AS BIGINT) AS peak_at_us
FROM (SELECT day, CAST(count(*) AS BIGINT) AS n_day_sessions
      FROM segs GROUP BY 1) n
JOIN peaks p ON p.day = n.day
JOIN (SELECT c.day, min(c.t) AS peak_at_us
      FROM cum c JOIN peaks pk ON pk.day = c.day AND c.cum = pk.peak
      GROUP BY 1) pa ON pa.day = n.day
ORDER BY n.day
"""


# ---------------------------------------------------------------------------
# Exponential time-decay engagement score per user (R4-79, the EWMA /
# recency-weighted feature every churn, ranking, and fraud model keeps
# online): each event's value counts at weight 2^-k, k = whole hours
# between the event and the USER'S OWN most recent event. The dyadic
# construction makes the whole statistic EXACT-INTEGER (the HLL trick):
# value lands as integer cents v_c (≈2^20), weights are scaled to
# w = 2^(H_MAX - k) BIGINTs (≤2^30), so every contribution v_c·w and
# the per-user sums are exact BIGINT arithmetic — no pow(), no float
# summation order, no transcendental divergence surface. Events older
# than EWMA_MAX_HOURS from the user's anchor carry weight 0
# (disclosed cutoff: 2^-30 ≈ 1e-9 is noise for any downstream model).
# The final decayed sum and decay-weighted mean are ONE division each.
#
# Scale shape: one per-user max (hash agg) joined back on the natural
# key, map-only weighting, one per-user hash agg. No windows.
# ---------------------------------------------------------------------------

EWMA_MAX_HOURS = 30


def ewma_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.floor(F.col("value") * 100 + 1e-6).cast("long").alias("v_c"),
    )
    anchor = base.groupBy("user_id").agg(F.max("t_us").alias("max_us"))
    weighted = (
        base.join(anchor, "user_id")
        .withColumn(
            "k", F.expr("(max_us - t_us) div 3600000000")
        )
        .withColumn(
            "w",
            F.when(
                F.col("k") <= EWMA_MAX_HOURS,
                F.expr(
                    f"shiftleft(cast(1 as bigint), "
                    f"cast({EWMA_MAX_HOURS} - k as int))"
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    agg = weighted.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("v_c") * F.col("w")).cast("long").alias("dec_scaled"),
        F.sum("w").cast("long").alias("w_scaled"),
    )
    scale = float(100 * (1 << EWMA_MAX_HOURS))
    return agg.select(
        "user_id",
        "n_events",
        floor_round(F.col("dec_scaled") / scale, 4).alias("decayed_sum"),
        floor_round(
            F.col("dec_scaled") / (100.0 * F.col("w_scaled")), 4
        ).alias("ewma_value"),
    ).orderBy("user_id")


EWMA_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         CAST(floor(value * 100 + 1e-6) AS BIGINT) AS v_c
  FROM events
),
anchor AS (SELECT user_id, max(t_us) AS max_us FROM base GROUP BY 1),
weighted AS (
  SELECT b.user_id, b.v_c,
         CASE WHEN (a.max_us - b.t_us) // 3600000000 <= {EWMA_MAX_HOURS}
              THEN CAST(1 AS BIGINT)
                   << CAST({EWMA_MAX_HOURS}
                           - (a.max_us - b.t_us) // 3600000000 AS INT)
              ELSE CAST(0 AS BIGINT) END AS w
  FROM base b JOIN anchor a ON a.user_id = b.user_id
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(v_c * w) AS BIGINT) AS dec_scaled,
         CAST(sum(w) AS BIGINT) AS w_scaled
  FROM weighted GROUP BY 1
)
SELECT user_id, n_events,
       CAST(floor(dec_scaled / {float(100 * (1 << EWMA_MAX_HOURS))!r}
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS decayed_sum,
       CAST(floor(dec_scaled / (100.0 * w_scaled) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS ewma_value
FROM agg
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Trimmed mean per market segment (R4-80, the robust-statistics
# companion to exact_group_median): drop the lowest and highest 10% of
# order totals per segment, mean the middle — the outlier-insensitive
# KPI a revenue dashboard shows next to the raw mean. Same exact-
# histogram construction as R4-35: the corpus collapses to a
# (segment, cents) histogram, one segment-partitioned cumulative walk
# over the VALUE DOMAIN assigns each distinct value its rank span
# [cum_prev+1, cum], and the trimmed sum takes each value times its
# span's overlap with the kept rank interval [k+1, n-k] (k =
# floor(n/10)) — exact integer cents end to end, ONE floored division
# per output column, no percentile interpolation mode anywhere.
# ---------------------------------------------------------------------------

TRIM_PCT_NUM = 1  # trim 1/10 from each side
TRIM_PCT_DEN = 10


def _cents_sum(name: str) -> Column:
    """Revenue in exact integer cents: Σ floor(o_totalprice·100)."""
    return (
        F.sum(F.floor(F.col("o_totalprice") * 100 + 1e-6).cast("long"))
        .cast("long")
        .alias(name)
    )


def _segment_cents(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """(c_mktsegment, name): every order's total in exact integer cents."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        load(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.floor(F.col("o_totalprice") * 100 + 1e-6)
            .cast("long")
            .alias(name),
        )
    )


def _segment_rank_spans(df: DataFrame, col: str) -> DataFrame:
    """Per-segment histogram of ``col``: each distinct value with its
    count ``n_v``, its cumulative rank ``cum`` and the segment size
    ``n`` — value v holds ranks [cum − n_v + 1, cum]."""
    hist = df.groupBy("c_mktsegment", col).agg(
        F.count("*").cast("long").alias("n_v")
    )
    tot = hist.groupBy("c_mktsegment").agg(
        F.sum("n_v").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return hist.select(
        "c_mktsegment",
        col,
        "n_v",
        F.sum("n_v").over(w).cast("long").alias("cum"),
    ).join(tot, "c_mktsegment")


def _trim_k_overlap() -> tuple[Column, Column]:
    """(k, overlap): k = floor(n·TRIM_PCT) ranks trimmed per side, and
    each value's rank-span overlap with the kept interval [k+1, n−k]."""
    k = F.floor(F.col("n") * TRIM_PCT_NUM / TRIM_PCT_DEN).cast("long")
    ov = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - k)
        - F.greatest(F.col("cum") - F.col("n_v") + 1, k + 1)
        + 1,
    )
    return k, ov


def trimmed_mean_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum = _segment_rank_spans(
        _segment_cents(spark, sf_dir, "cents"), "cents"
    )
    k, ov = _trim_k_overlap()
    per_seg = (
        cum.withColumn("k", k)
        .withColumn("contrib", ov * F.col("cents"))
        .groupBy("c_mktsegment")
        .agg(
            F.max("n").alias("n_orders"),
            F.max("k").cast("long").alias("trim_k"),
            F.sum("contrib").cast("long").alias("sum_kept"),
            F.sum(F.col("n_v") * F.col("cents"))
            .cast("long")
            .alias("sum_all"),
        )
    )
    return per_seg.select(
        "c_mktsegment",
        F.col("n_orders").cast("long").alias("n_orders"),
        "trim_k",
        floor_round(
            F.col("sum_kept")
            / (100.0 * (F.col("n_orders") - 2 * F.col("trim_k"))),
            4,
        ).alias("trimmed_mean"),
        floor_round(
            F.col("sum_all") / (100.0 * F.col("n_orders")), 4
        ).alias("raw_mean"),
    ).orderBy("c_mktsegment")


# the trimmed and winsorized oracles' shared prefix: the per-segment cents
# histogram, its cumulative rank walk, and the kept-rank overlap sum
_SEG_CENTS_HIST_SQL = """
WITH cents AS (
  SELECT c.c_mktsegment,
         CAST(floor(o.o_totalprice * 100 + 1e-6) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
hist AS (
  SELECT c_mktsegment, cents, CAST(count(*) AS BIGINT) AS n_v
  FROM cents GROUP BY 1, 2
),"""

_SEG_CUM_K_SQL = f"""
         CAST(sum(h.n_v) OVER (PARTITION BY h.c_mktsegment ORDER BY h.cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(floor(t.n * {TRIM_PCT_NUM} / {TRIM_PCT_DEN}.0) AS BIGINT) AS k
  FROM hist h JOIN tot t ON t.c_mktsegment = h.c_mktsegment
),
per_seg AS (
  SELECT c_mktsegment,
         max(n) AS n_orders,"""

_SEG_KEPT_SUM_SQL = """
         CAST(sum(greatest(CAST(0 AS BIGINT),
                           least(cum, n - k)
                           - greatest(cum - n_v + 1, k + 1) + 1)
                  * cents) AS BIGINT) AS sum_kept,"""

TRIMMED_MEAN_SQL = f"""
{_SEG_CENTS_HIST_SQL}
tot AS (
  SELECT c_mktsegment,
         CAST(sum(n_v) AS BIGINT) AS n,
         CAST(sum(n_v * cents) AS BIGINT) AS sum_all
  FROM hist GROUP BY 1
),
cum AS (
  SELECT h.c_mktsegment, h.cents, h.n_v, t.n, t.sum_all,
{_SEG_CUM_K_SQL}
         max(k) AS trim_k,
{_SEG_KEPT_SUM_SQL}
         max(sum_all) AS sum_all
  FROM cum GROUP BY 1
)
SELECT c_mktsegment,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(trim_k AS BIGINT) AS trim_k,
       CAST(floor(sum_kept / (100.0 * (n_orders - 2 * trim_k))
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS trimmed_mean,
       CAST(floor(sum_all / (100.0 * n_orders) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS raw_mean
FROM per_seg
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Trailing 7-day revenue via a RANGE window frame (R4-88): the last
# window FRAME MODE missing from the suite — events_moving_average
# covers ROWS frames; a trailing-calendar-week KPI needs RANGE over
# the day VALUE so that gaps in the calendar shrink the window (a
# ROWS frame silently reaches back across missing days). Frame runs
# on the integer epoch-day index over the CALENDAR-BOUNDED per-day
# aggregate (R4-58 argument — never a corpus-sized window); revenue is
# exact integer cents, so every trailing sum is exact and only the
# final cents→currency division floats.
# ---------------------------------------------------------------------------

TRAIL_RANGE_DAYS = 7


def trailing_revenue_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day_idx")
    ).agg(
        _cents_sum("rev_cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    w = (
        Window.orderBy("day_idx")
        .rangeBetween(-(TRAIL_RANGE_DAYS - 1), Window.currentRow)
    )
    return daily.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("day_idx")),
            "yyyy-MM-dd",
        ).alias("day"),
        "n_orders",
        (F.col("rev_cents") / 100.0).alias("revenue"),
        (F.sum("rev_cents").over(w) / 100.0).alias("trailing_7d_revenue"),
        F.count("*").over(w).cast("long").alias("days_in_window"),
    ).orderBy("day")


TRAILING_RANGE_SQL = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_idx,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders
  GROUP BY 1
)
SELECT strftime(DATE '1970-01-01' + to_days(CAST(day_idx AS INT)),
                '%Y-%m-%d') AS day,
       n_orders,
       rev_cents / 100.0 AS revenue,
       sum(rev_cents) OVER (ORDER BY day_idx
           RANGE BETWEEN {TRAIL_RANGE_DAYS - 1} PRECEDING AND CURRENT ROW)
         / 100.0 AS trailing_7d_revenue,
       CAST(count(*) OVER (ORDER BY day_idx
            RANGE BETWEEN {TRAIL_RANGE_DAYS - 1} PRECEDING AND CURRENT ROW)
            AS BIGINT) AS days_in_window
FROM daily
ORDER BY day
"""


# ---------------------------------------------------------------------------
# GROUPING SETS with grouping_id (R4-89): the third grouping-set
# operator next to ROLLUP (tpch_q4 family) and CUBE (lang_source_cube)
# — an EXPLICIT set list { (priority, status), (priority), (status),
# () } is what real report queries ship (a CUBE computes subtotals
# nobody asked for). Spark plans one Expand over the four set masks +
# one hash aggregate; grouping_id() disambiguates the NULL-vs-rollup
# ambiguity and is emitted (Spark and DuckDB agree on the bitmask
# convention: first listed column = MSB). Aggregates ride exact
# integer cents.
# ---------------------------------------------------------------------------


def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 1e-6)
        .cast("long")
        .alias("cents"),
    )
    grouped = orders.groupingSets(
        [
            ["o_orderpriority", "o_orderstatus"],
            ["o_orderpriority"],
            ["o_orderstatus"],
            [],
        ],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").cast("long").alias("n_orders"),
        (F.sum("cents") / 100.0).alias("revenue"),
    )
    return grouped.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
        "gid",
        "n_orders",
        "revenue",
    ).orderBy("gid", "priority", "status")


GROUPING_SETS_SQL = """
SELECT coalesce(o_orderpriority, '(all)') AS priority,
       coalesce(o_orderstatus, '(all)') AS status,
       CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT)) / 100.0
         AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), (o_orderstatus), ())
ORDER BY gid, priority, status
"""


# ---------------------------------------------------------------------------
# Two-proportion z-test on the promo revenue mix (R4-90, the A/B-test
# primitive): did the share of PROMO-part lineitems change between the
# first and second half of the order history? The standard pooled
# two-proportion z — the significance arithmetic every experimentation
# platform runs — with every input an exact integer (counts from two
# hash aggregates), so p̂₁, p̂₂, the pooled p and the z denominator are
# single-expression doubles identical in both engines (sqrt is
# IEEE-correctly-rounded in both); the significance verdict compares
# the FLOORED |z| to the 1.96 literal so a boundary ulp cannot flip
# it. Wave split = epoch-µs midpoint of the order-date range (1-row
# broadcast). Scale shape: lineitem→orders and lineitem→part equi-
# joins (part/orders dims broadcastable), one 2-key hash aggregate.
# ---------------------------------------------------------------------------

ZTEST_CRIT = 1.96


def promo_share_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_us")
    )
    part = load(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    mid = orders.agg(
        ((F.min("o_us") + F.max("o_us")) / 2).alias("mid_us")
    )
    rows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .crossJoin(F.broadcast(mid))
        .select(
            (F.col("o_us") >= F.col("mid_us")).alias("new_wave"),
            F.col("is_promo").cast("long").alias("promo"),
        )
    )
    agg = rows.groupBy().agg(
        F.sum(F.when(~F.col("new_wave"), 1).otherwise(0))
        .cast("long").alias("n_old"),
        F.sum(F.when(~F.col("new_wave"), F.col("promo")).otherwise(0))
        .cast("long").alias("k_old"),
        F.sum(F.when(F.col("new_wave"), 1).otherwise(0))
        .cast("long").alias("n_new"),
        F.sum(F.when(F.col("new_wave"), F.col("promo")).otherwise(0))
        .cast("long").alias("k_new"),
    )
    p1 = F.col("k_old") / F.col("n_old")
    p2 = F.col("k_new") / F.col("n_new")
    pp = (F.col("k_old") + F.col("k_new")) / (F.col("n_old") + F.col("n_new"))
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n_old") + 1.0 / F.col("n_new"))
    )
    zf = floor_round(z, 4)
    return agg.select(
        "n_old",
        "k_old",
        "n_new",
        "k_new",
        floor_round(p1, 6).alias("p_old"),
        floor_round(p2, 6).alias("p_new"),
        zf.alias("z_score"),
        (F.abs(zf) >= ZTEST_CRIT).alias("significant"),
    )


PROMO_ZTEST_SQL = f"""
WITH mid AS (
  SELECT (min(epoch_us(CAST(o_orderdate AS TIMESTAMP)))
          + max(epoch_us(CAST(o_orderdate AS TIMESTAMP)))) / 2.0 AS mid_us
  FROM orders
),
rows_ AS (
  SELECT epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
           >= (SELECT mid_us FROM mid) AS new_wave,
         CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS promo
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
),
agg AS (
  SELECT CAST(sum(CASE WHEN NOT new_wave THEN 1 ELSE 0 END) AS BIGINT)
           AS n_old,
         CAST(sum(CASE WHEN NOT new_wave THEN promo ELSE 0 END) AS BIGINT)
           AS k_old,
         CAST(sum(CASE WHEN new_wave THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN new_wave THEN promo ELSE 0 END) AS BIGINT)
           AS k_new
  FROM rows_
)
SELECT n_old, k_old, n_new, k_new,
       CAST(floor(CAST(k_old AS DOUBLE) / n_old * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS p_old,
       CAST(floor(CAST(k_new AS DOUBLE) / n_new * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS p_new,
       CAST(floor((CAST(k_old AS DOUBLE) / n_old
                   - CAST(k_new AS DOUBLE) / n_new)
                  / sqrt((CAST(k_old + k_new AS DOUBLE) / (n_old + n_new))
                         * (1 - CAST(k_old + k_new AS DOUBLE)
                                / (n_old + n_new))
                         * (1.0 / n_old + 1.0 / n_new))
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS z_score,
       abs(CAST(floor((CAST(k_old AS DOUBLE) / n_old
                       - CAST(k_new AS DOUBLE) / n_new)
                      / sqrt((CAST(k_old + k_new AS DOUBLE)
                              / (n_old + n_new))
                             * (1 - CAST(k_old + k_new AS DOUBLE)
                                    / (n_old + n_new))
                             * (1.0 / n_old + 1.0 / n_new))
                      * 10000 + 1e-6) / 10000 AS DOUBLE))
         >= {ZTEST_CRIT} AS significant
FROM agg
"""


# ---------------------------------------------------------------------------
# MAD-based robust outlier flags per market segment (R4-92): the
# median-absolute-deviation rule (|x − med| > K·MAD) — the robust
# replacement for mean±3σ that survives the heavy-tailed revenue
# distributions where daily_trend_anomaly's z flags everything. TWO
# exact-histogram rank walks (the R4-35 construction): first the
# per-segment median of order cents, then the per-segment median of
# the integer absolute deviations — both nearest-rank-pair exact, no
# interpolation. The flag compares 2·|x − med| (integers; median of an
# even split is a half-integer, so both sides are DOUBLED) against
# 2·K·MAD — pure BIGINT comparison, no float anywhere in the decision.
# Output rolls up per segment: n, median, MAD, outlier count/share.
# ---------------------------------------------------------------------------

MAD_K = 5


def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _segment_cents(spark, sf_dir, "v").persist()

    def median2(df: DataFrame) -> DataFrame:
        """Per-segment DOUBLED median of ``v`` (2·median stays integral)."""
        cum = _segment_rank_spans(df, "v")
        lo = F.floor((F.col("n") + 1) / 2).cast("long")
        hi = F.ceil((F.col("n") + 1) / 2).cast("long")
        picks = cum.groupBy("c_mktsegment").agg(
            F.min(
                F.when(
                    (F.col("cum") - F.col("n_v") + 1 <= lo)
                    & (lo <= F.col("cum")),
                    F.col("v"),
                )
            ).alias("v_lo"),
            F.min(
                F.when(
                    (F.col("cum") - F.col("n_v") + 1 <= hi)
                    & (hi <= F.col("cum")),
                    F.col("v"),
                )
            ).alias("v_hi"),
        )
        return picks.select(
            "c_mktsegment",
            (F.col("v_lo") + F.col("v_hi")).cast("long").alias("med2"),
        )

    med = median2(cents)
    dev = cents.join(med, "c_mktsegment").select(
        "c_mktsegment",
        F.abs(2 * F.col("v") - F.col("med2")).cast("long").alias("d2"),
    )
    mad = median2(dev.select("c_mktsegment", F.col("d2").alias("v")))
    mad = mad.select("c_mktsegment", F.col("med2").alias("mad4"))
    flagged = (
        cents.join(med, "c_mktsegment")
        .join(mad, "c_mktsegment")
        .select(
            "c_mktsegment",
            (
                2 * F.abs(2 * F.col("v") - F.col("med2"))
                > MAD_K * F.col("mad4")
            )
            .cast("long")
            .alias("is_out"),
        )
    )
    return (
        flagged.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("is_out").cast("long").alias("n_outliers"),
        )
        .join(med, "c_mktsegment")
        .join(mad, "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_orders",
            (F.col("med2") / 200.0).alias("median_price"),
            (F.col("mad4") / 400.0).alias("mad_price"),
            "n_outliers",
            floor_round(
                F.col("n_outliers").cast("double") / F.col("n_orders"), 6
            ).alias("outlier_share"),
        )
        .orderBy("c_mktsegment")
    )


_MAD_MEDIAN2 = """
  SELECT c_mktsegment, CAST(min(v_lo) + min(v_hi) AS BIGINT) AS med2
  FROM (
    SELECT c_mktsegment,
           CASE WHEN cum - n_v + 1 <= lo AND lo <= cum THEN v END AS v_lo,
           CASE WHEN cum - n_v + 1 <= hi AND hi <= cum THEN v END AS v_hi
    FROM (
      SELECT h.c_mktsegment, h.v, h.n_v,
             CAST(sum(h.n_v) OVER (PARTITION BY h.c_mktsegment ORDER BY h.v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(floor((t.n + 1) / 2.0) AS BIGINT) AS lo,
             CAST(ceil((t.n + 1) / 2.0) AS BIGINT) AS hi
      FROM (SELECT c_mktsegment, v, CAST(count(*) AS BIGINT) AS n_v
            FROM {src} GROUP BY 1, 2) h
      JOIN (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
            FROM {src} GROUP BY 1) t
        ON t.c_mktsegment = h.c_mktsegment
    )
  )
  GROUP BY 1
"""

MAD_OUTLIER_SQL = f"""
WITH cents AS MATERIALIZED (
  SELECT c.c_mktsegment,
         CAST(floor(o.o_totalprice * 100 + 1e-6) AS BIGINT) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
med AS MATERIALIZED ({_MAD_MEDIAN2.format(src="cents")}),
dev AS MATERIALIZED (
  SELECT c.c_mktsegment, CAST(abs(2 * c.v - m.med2) AS BIGINT) AS v
  FROM cents c JOIN med m ON m.c_mktsegment = c.c_mktsegment
),
mad AS MATERIALIZED (
  SELECT c_mktsegment, med2 AS mad4
  FROM ({_MAD_MEDIAN2.format(src="dev")})
),
flagged AS (
  SELECT c.c_mktsegment,
         CASE WHEN 2 * abs(2 * c.v - m.med2) > {MAD_K} * d.mad4
              THEN 1 ELSE 0 END AS is_out
  FROM cents c
  JOIN med m ON m.c_mktsegment = c.c_mktsegment
  JOIN mad d ON d.c_mktsegment = c.c_mktsegment
)
SELECT f.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       max(m.med2) / 200.0 AS median_price,
       max(d.mad4) / 400.0 AS mad_price,
       CAST(sum(f.is_out) AS BIGINT) AS n_outliers,
       CAST(floor(sum(f.is_out) * 1.0 / count(*) * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS outlier_share
FROM flagged f
JOIN med m ON m.c_mktsegment = f.c_mktsegment
JOIN mad d ON d.c_mktsegment = f.c_mktsegment
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test, BUILDING vs MACHINERY order totals
# (R4-95): the nonparametric A/B companion to promo_share_ztest —
# "does segment A pay more than segment B" without assuming normal
# prices (heavy-tailed revenue breaks the t-test the same way it
# breaks mean±3σ, see mad_outlier_flags). EXACT tie-aware
# construction reusing the R4-91 doubled-rank machinery: the combined
# sample collapses to a cents-value histogram with per-group counts,
# one domain-bounded cumulative walk assigns each value its DOUBLED
# tie-average rank (2·cum − n_v + 1, integral), so the rank sum R_a,
# U = R_a − n_a(n_a+1)/2 and the tie-correction Σ(t³−t) are all exact
# BIGINTs; only the final variance/z are doubles (tie sizes t are
# bounded by the cents DOMAIN, so t³ stays far from overflow even
# when n does not). Significance compares the FLOORED |z| to 1.96 so
# a boundary ulp cannot flip the verdict (promo_share_ztest rule).
# ---------------------------------------------------------------------------

MW_SEG_A = "BUILDING"
MW_SEG_B = "MACHINERY"


def mannwhitney_segment_prices(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cents = (
        load(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin(MW_SEG_A, MW_SEG_B))
        .select(
            (F.col("c_mktsegment") == MW_SEG_A).alias("is_a"),
            F.floor(F.col("o_totalprice") * 100 + 1e-6)
            .cast("long")
            .alias("v"),
        )
    )
    hist = cents.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_a_v"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_b_v"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = hist.select(
        "n_a_v",
        "n_b_v",
        (F.col("n_a_v") + F.col("n_b_v")).alias("n_v"),
        (
            2 * F.sum(F.col("n_a_v") + F.col("n_b_v")).over(w)
            - (F.col("n_a_v") + F.col("n_b_v"))
            + 1
        )
        .cast("long")
        .alias("r2"),
    )
    agg = ranked.agg(
        F.sum("n_a_v").cast("long").alias("n_a"),
        F.sum("n_b_v").cast("long").alias("n_b"),
        F.sum(F.col("n_a_v") * F.col("r2")).cast("long").alias("ra2"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("long")
        .alias("tie_sum"),
    )
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    u_a2 = F.col("ra2") - F.col("n_a") * (F.col("n_a") + 1)
    var = (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / 12.0
        * ((n + 1) - F.col("tie_sum").cast("double") / (n * (n - 1)))
    )
    z = (u_a2 - F.col("n_a") * F.col("n_b")).cast("double") / (
        2.0 * F.sqrt(var)
    )
    zf = floor_round(F.abs(z), 4)
    return agg.select(
        "n_a",
        "n_b",
        (u_a2.cast("double") / 2.0).alias("u_stat"),
        "tie_sum",
        floor_round(z, 4).alias("z_score"),
        (zf >= ZTEST_CRIT).alias("significant"),
    )


MANNWHITNEY_SQL = f"""
WITH cents AS (
  SELECT c.c_mktsegment = '{MW_SEG_A}' AS is_a,
         CAST(floor(o.o_totalprice * 100 + 1e-6) AS BIGINT) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('{MW_SEG_A}', '{MW_SEG_B}')
),
hist AS (
  SELECT v,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a_v,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b_v
  FROM cents GROUP BY 1
),
ranked AS (
  SELECT n_a_v, n_b_v, n_a_v + n_b_v AS n_v,
         CAST(2 * sum(n_a_v + n_b_v) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - (n_a_v + n_b_v) + 1 AS BIGINT) AS r2
  FROM hist
),
agg AS (
  SELECT CAST(sum(n_a_v) AS BIGINT) AS n_a,
         CAST(sum(n_b_v) AS BIGINT) AS n_b,
         CAST(sum(n_a_v * r2) AS BIGINT) AS ra2,
         CAST(sum(n_v * n_v * n_v - n_v) AS BIGINT) AS tie_sum
  FROM ranked
),
st AS (
  SELECT n_a, n_b, ra2, tie_sum,
         ra2 - n_a * (n_a + 1) AS u_a2,
         CAST(n_a + n_b AS DOUBLE) AS n,
         CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
           * ((CAST(n_a + n_b AS DOUBLE) + 1)
              - CAST(tie_sum AS DOUBLE)
                / (CAST(n_a + n_b AS DOUBLE)
                   * (CAST(n_a + n_b AS DOUBLE) - 1))) AS var
  FROM agg
)
SELECT n_a, n_b,
       CAST(u_a2 AS DOUBLE) / 2.0 AS u_stat,
       tie_sum,
       CAST(floor(CAST(u_a2 - n_a * n_b AS DOUBLE) / (2.0 * sqrt(var))
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS z_score,
       CAST(floor(abs(CAST(u_a2 - n_a * n_b AS DOUBLE) / (2.0 * sqrt(var)))
                  * 10000 + 1e-6) / 10000 AS DOUBLE)
         >= {ZTEST_CRIT} AS significant
FROM st
"""


# ---------------------------------------------------------------------------
# Winsorized mean per market segment (R4-96): the third robust
# location estimate next to trimmed_mean_robust and mad_outlier_flags
# — instead of DROPPING the k most extreme values per side (trim), it
# CLAMPS them to the (k+1)-th smallest / (n−k)-th largest value, so n
# stays constant and the estimate is less variable than the trim on
# small groups. Same exact-histogram construction: the kept middle
# contributes cents·overlap([k+1, n−k]) like the trim, and the two
# clamp values are picked with the nearest-rank min(CASE) probe the
# exact-median family uses — winsorized sum = kept + k·v_lo + k·v_hi,
# exact integer cents end to end, ONE floored division per output.
# ---------------------------------------------------------------------------


def winsorized_mean_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum = _segment_rank_spans(
        _segment_cents(spark, sf_dir, "cents"), "cents"
    )
    k, ov = _trim_k_overlap()
    lo_rank = F.col("cum") - F.col("n_v") + 1
    covers = lambda r: (lo_rank <= r) & (r <= F.col("cum"))  # noqa: E731
    per_seg = (
        cum.withColumn("k", k)
        .groupBy("c_mktsegment")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            F.max("k").cast("long").alias("win_k"),
            F.sum(ov * F.col("cents")).cast("long").alias("sum_kept"),
            F.min(F.when(covers(k + 1), F.col("cents")))
            .cast("long")
            .alias("v_lo"),
            F.min(F.when(covers(F.col("n") - k), F.col("cents")))
            .cast("long")
            .alias("v_hi"),
        )
    )
    return per_seg.select(
        "c_mktsegment",
        "n_orders",
        "win_k",
        (F.col("v_lo") / 100.0).alias("clamp_lo"),
        (F.col("v_hi") / 100.0).alias("clamp_hi"),
        floor_round(
            (
                F.col("sum_kept")
                + F.col("win_k") * (F.col("v_lo") + F.col("v_hi"))
            )
            / (100.0 * F.col("n_orders")),
            4,
        ).alias("winsorized_mean"),
    ).orderBy("c_mktsegment")


WINSORIZED_MEAN_SQL = f"""
{_SEG_CENTS_HIST_SQL}
tot AS (
  SELECT c_mktsegment, CAST(sum(n_v) AS BIGINT) AS n FROM hist GROUP BY 1
),
cum AS (
  SELECT h.c_mktsegment, h.cents, h.n_v, t.n,
{_SEG_CUM_K_SQL}
         max(k) AS win_k,
{_SEG_KEPT_SUM_SQL}
         CAST(min(CASE WHEN cum - n_v + 1 <= k + 1 AND k + 1 <= cum
                       THEN cents END) AS BIGINT) AS v_lo,
         CAST(min(CASE WHEN cum - n_v + 1 <= n - k AND n - k <= cum
                       THEN cents END) AS BIGINT) AS v_hi
  FROM cum GROUP BY 1
)
SELECT c_mktsegment,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(win_k AS BIGINT) AS win_k,
       v_lo / 100.0 AS clamp_lo,
       v_hi / 100.0 AS clamp_hi,
       CAST(floor((sum_kept + win_k * (v_lo + v_hi))
                  / (100.0 * n_orders) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS winsorized_mean
FROM per_seg
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration per market segment
# (R4-97): the antitrust-style concentration index that complements
# gini_revenue_concentration — HHI = Σ share_i² over per-customer
# revenue shares answers "is this segment's revenue a few whales or a
# broad base", and its reciprocal is the EFFECTIVE number of
# customers. Exactness: per-customer revenue is exact integer cents;
# each share is FLOORED to 1e-6 fixed point FIRST (one exact-rounded
# division + floor), so Σ share6² is an exact BIGINT sum — never a
# float accumulation whose value depends on partition order (Σ share6
# ≤ 1e6 bounds every square far from overflow). One two-key hash agg,
# one per-segment hash agg; no window, no collect.
# ---------------------------------------------------------------------------

HHI_CONCENTRATED = 0.25  # DOJ "highly concentrated" threshold


def hhi_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = (
        load(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(
            _cents_sum("rev")
        )
    )
    seg_tot = per_cust.groupBy("c_mktsegment").agg(
        F.sum("rev").cast("long").alias("seg_rev")
    )
    sh = per_cust.join(seg_tot, "c_mktsegment").select(
        "c_mktsegment",
        F.floor(
            F.col("rev").cast("double") / F.col("seg_rev") * 1000000
            + 1e-6
        )
        .cast("long")
        .alias("sh6"),
    )
    agg = sh.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.col("sh6") * F.col("sh6")).cast("long").alias("hhi12"),
        F.max("sh6").cast("long").alias("top6"),
    )
    hhi = F.col("hhi12").cast("double") / 1e12
    return agg.select(
        "c_mktsegment",
        "n_customers",
        floor_round(hhi, 6).alias("hhi"),
        floor_round(F.col("top6").cast("double") / 1e6, 6).alias(
            "top_share"
        ),
        floor_round(1e12 / F.col("hhi12"), 4).alias("effective_n"),
        (floor_round(hhi, 6) > HHI_CONCENTRATED).alias("concentrated"),
    ).orderBy("c_mktsegment")


HHI_SQL = f"""
WITH per_cust AS (
  SELECT c.c_mktsegment, o.o_custkey,
         CAST(sum(CAST(floor(o.o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
seg AS (
  SELECT c_mktsegment, CAST(sum(rev) AS BIGINT) AS seg_rev
  FROM per_cust GROUP BY 1
),
sh AS (
  SELECT p.c_mktsegment,
         CAST(floor(CAST(p.rev AS DOUBLE) / s.seg_rev * 1000000 + 1e-6)
              AS BIGINT) AS sh6
  FROM per_cust p JOIN seg s ON s.c_mktsegment = p.c_mktsegment
),
agg AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(sh6 * sh6) AS BIGINT) AS hhi12,
         CAST(max(sh6) AS BIGINT) AS top6
  FROM sh GROUP BY 1
)
SELECT c_mktsegment, n_customers,
       CAST(floor(hhi12 / 1e12 * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS hhi,
       CAST(floor(top6 / 1e6 * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS top_share,
       CAST(floor(1e12 / hhi12 * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS effective_n,
       CAST(floor(hhi12 / 1e12 * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         > {HHI_CONCENTRATED} AS concentrated
FROM agg
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Theil-Sen robust trend slope over daily order revenue (R4-100): the
# median of all pairwise day-to-day slopes — the robust replacement
# for daily_trend_anomaly's OLS line (one flash-sale day drags an OLS
# slope arbitrarily; Theil-Sen tolerates ~29% contamination). The
# pairwise self-join runs on the CALENDAR-BOUNDED daily aggregate
# (days², not rows² — the R4-58 rule; the TPC-H calendar is ~2.4k
# days, a few million pairs at any corpus size). Each slope is one
# exact-rounded division of BIGINT cent/day deltas, FLOORED to 1e-4
# fixed point so the slope multiset is integral, and the median is the
# exact-histogram doubled nearest-rank walk (R4-35) over the slope
# DOMAIN. Output also carries the OLS slope computed on the same
# daily table so the robust-vs-classical gap is the report; the OLS
# moments run on WHOLE-CURRENCY daily revenue (floor(cents/100), an
# exact integer) because the n·Σxy / Σx·Σy cross-products at cent
# scale overflow BIGINT once the corpus fills the TPC-H calendar —
# dropping the two exactness-free decimal digits keeps every moment
# far inside 2^63 at any corpus size.
# ---------------------------------------------------------------------------


def theil_sen_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    xy = _daily_xy(spark, sf_dir)
    a, b = xy.alias("a"), xy.alias("b")
    slopes = (
        a.join(b, F.col("a.x") < F.col("b.x"))
        .select(
            F.floor(
                (F.col("b.cents") - F.col("a.cents")).cast("double")
                / (F.col("b.x") - F.col("a.x"))
                * 10000
                + 1e-6
            )
            .cast("long")
            .alias("s4")
        )
    )
    hist = slopes.groupBy("s4").agg(
        F.count("*").cast("long").alias("n_v")
    )
    tot = hist.agg(F.sum("n_v").cast("long").alias("n_pairs"))
    w = Window.orderBy("s4").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "s4", "n_v", F.sum("n_v").over(w).cast("long").alias("cum")
    ).crossJoin(F.broadcast(tot))
    lo = F.floor((F.col("n_pairs") + 1) / 2).cast("long")
    hi = F.ceil((F.col("n_pairs") + 1) / 2).cast("long")
    med = cum.agg(
        F.max("n_pairs").alias("n_pairs"),
        F.min(
            F.when(
                (F.col("cum") - F.col("n_v") + 1 <= lo)
                & (lo <= F.col("cum")),
                F.col("s4"),
            )
        ).alias("v_lo"),
        F.min(
            F.when(
                (F.col("cum") - F.col("n_v") + 1 <= hi)
                & (hi <= F.col("cum")),
                F.col("s4"),
            )
        ).alias("v_hi"),
    )
    xyu = xy.select(
        "x",
        F.floor(F.col("cents") / 100.0).cast("long").alias("y"),
    )
    ols = xyu.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    ols_slope = (
        F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast(
        "double"
    )
    return ols.crossJoin(F.broadcast(med)).select(
        "n_days",
        "n_pairs",
        floor_round(
            (F.col("v_lo") + F.col("v_hi")).cast("double") / 20000.0
            / 100.0,
            4,
        ).alias("theil_sen_slope"),
        floor_round(ols_slope, 4).alias("ols_slope"),
    )


THEIL_SEN_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
xy AS (
  SELECT CAST(date_diff('day', (SELECT min(d) FROM daily), d) AS BIGINT)
           AS x,
         cents
  FROM daily
),
slopes AS (
  SELECT CAST(floor(CAST(b.cents - a.cents AS DOUBLE) / (b.x - a.x)
                    * 10000 + 1e-6) AS BIGINT) AS s4
  FROM xy a JOIN xy b ON a.x < b.x
),
hist AS (
  SELECT s4, CAST(count(*) AS BIGINT) AS n_v FROM slopes GROUP BY 1
),
tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n_pairs FROM hist),
cum AS (
  SELECT s4, n_v,
         CAST(sum(n_v) OVER (ORDER BY s4
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         t.n_pairs,
         CAST(floor((t.n_pairs + 1) / 2.0) AS BIGINT) AS lo,
         CAST(ceil((t.n_pairs + 1) / 2.0) AS BIGINT) AS hi
  FROM hist, tot t
),
med AS (
  SELECT max(n_pairs) AS n_pairs,
         min(CASE WHEN cum - n_v + 1 <= lo AND lo <= cum THEN s4 END)
           AS v_lo,
         min(CASE WHEN cum - n_v + 1 <= hi AND hi <= cum THEN s4 END)
           AS v_hi
  FROM cum
),
ols AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM (SELECT x, CAST(floor(cents / 100.0) AS BIGINT) AS y FROM xy)
)
SELECT n_days, n_pairs,
       CAST(floor(CAST(v_lo + v_hi AS DOUBLE) / 20000.0 / 100.0
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS theil_sen_slope,
       CAST(floor(CAST(n_days * sxy - sx * sy AS DOUBLE)
                  / CAST(n_days * sxx - sx * sx AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS ols_slope
FROM ols, med
"""


# ---------------------------------------------------------------------------
# CUSUM change-point detection on daily order revenue (R4-101): the
# classic "did the level shift, and when" monitor a continuously-
# ingested pipeline runs on its daily volume — the peak of the
# cumulative deviation-from-mean curve marks the most likely change
# day (Page 1954 / Pettitt's location). EXACT arithmetic throughout:
# with S = Σ cents over D days, the CUSUM at day k scaled by D is
# D·prefix_k − k_idx·S — an exact BIGINT (no μ division ever
# happens); the peak is max |·| with (day ASC) tie-break, and only
# the final report divides by D·100 for currency units. One
# calendar-bounded prefix window; TakeOrdered(1) for the peak.
# ---------------------------------------------------------------------------


def cusum_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    tot = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("s_total"),
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cur = daily.select(
        "d",
        F.sum("cents").over(w).cast("long").alias("prefix"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("k"),
    ).crossJoin(F.broadcast(tot))
    cus_d = F.col("n_days") * F.col("prefix") - F.col("k") * F.col(
        "s_total"
    )
    scored = cur.select(
        "d",
        "k",
        "n_days",
        cus_d.alias("cus_d"),
        F.abs(cus_d).alias("abs_d"),
    )
    return (
        scored.orderBy(F.desc("abs_d"), F.asc("d"))
        .limit(1)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("change_day"),
            F.col("k").alias("day_index"),
            "n_days",
            floor_round(
                F.col("cus_d").cast("double")
                / (F.col("n_days") * 100).cast("double"),
                2,
            ).alias("cusum_peak"),
            (F.col("cus_d") > 0).alias("level_drop_after"),
        )
    )


CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(cents) AS BIGINT) AS s_total
  FROM daily
),
cur AS (
  SELECT d,
         CAST(sum(cents) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS prefix,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k
  FROM daily
),
scored AS (
  SELECT d, k, t.n_days,
         t.n_days * prefix - k * t.s_total AS cus_d
  FROM cur, tot t
)
SELECT strftime(d, '%Y-%m-%d') AS change_day,
       k AS day_index,
       n_days,
       CAST(floor(CAST(cus_d AS DOUBLE) / (n_days * 100.0)
                  * 100 + 1e-6) / 100 AS DOUBLE) AS cusum_peak,
       cus_d > 0 AS level_drop_after
FROM scored
ORDER BY abs(cus_d) DESC, d ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# Gumbel tail fit on monthly revenue maxima (R4-105): the
# extreme-value companion to the robust-location family — capacity
# planning asks "how big can a PEAK day get", which is a block-maxima
# question the Gumbel domain answers (Fisher-Tippett for light-tailed
# daily sums). Method-of-moments fit (closed form, engine-exact
# inputs): block = calendar month, maxima in exact whole-currency
# units, mean/variance from BIGINT Σy and m·Σy² − (Σy)² (far inside
# 2^63 at month granularity), then β = s·√6/π, μ = x̄ − γ·β, and the
# exceedance probability at the defined stress threshold T = 1.5·x̄:
# 1 − exp(−exp(−(T−μ)/β)). One calendar-bounded hash agg per level;
# the only doubles are the three closed-form expressions.
# ---------------------------------------------------------------------------

EULER_GAMMA = 0.5772156649015329
GUMBEL_STRESS_MULT = 1.5


def gumbel_monthly_peak_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    monthly = (
        daily.groupBy(F.date_trunc("month", "d").alias("mth"))
        .agg(F.max("cents").alias("max_cents"))
        .select(
            F.floor(F.col("max_cents") / 100.0).cast("long").alias("y")
        )
    )
    agg = monthly.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    mean = F.col("sy").cast("double") / F.col("m")
    var = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    ) / (F.col("m").cast("double") * (F.col("m") - 1))
    beta = F.sqrt(var * 6.0) / math.pi
    mu = mean - EULER_GAMMA * beta
    t = GUMBEL_STRESS_MULT * mean
    p_exceed = 1.0 - F.exp(-F.exp(-(t - mu) / beta))
    return agg.select(
        "m",
        floor_round(mean, 2).alias("mean_peak"),
        floor_round(beta, 4).alias("gumbel_beta"),
        floor_round(mu, 4).alias("gumbel_mu"),
        floor_round(t, 2).alias("stress_level"),
        floor_round(p_exceed, 6).alias("p_exceed_stress"),
    )


GUMBEL_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
monthly AS (
  SELECT CAST(floor(max(cents) / 100.0) AS BIGINT) AS y
  FROM daily GROUP BY date_trunc('month', d)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM monthly
),
fit AS (
  SELECT m, CAST(sy AS DOUBLE) / m AS mean,
         sqrt(CAST(m * syy - sy * sy AS DOUBLE)
              / (CAST(m AS DOUBLE) * (m - 1)) * 6.0) / pi() AS beta
  FROM agg
)
SELECT m,
       CAST(floor(mean * 100 + 1e-6) / 100 AS DOUBLE) AS mean_peak,
       CAST(floor(beta * 10000 + 1e-6) / 10000 AS DOUBLE) AS gumbel_beta,
       CAST(floor((mean - {EULER_GAMMA!r} * beta) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS gumbel_mu,
       CAST(floor({GUMBEL_STRESS_MULT} * mean * 100 + 1e-6) / 100
            AS DOUBLE) AS stress_level,
       CAST(floor((1.0 - exp(-exp(-({GUMBEL_STRESS_MULT} * mean
                                    - (mean - {EULER_GAMMA!r} * beta))
                                  / beta)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS p_exceed_stress
FROM fit
"""


# ---------------------------------------------------------------------------
# Lorenz curve points over per-customer revenue (R4-106): the CURVE
# whose enclosed area gini_revenue_concentration and whose squared
# heights hhi_revenue_concentration summarize — ten (p, cumulative
# revenue share) points say "the bottom p% of customers carry s% of
# revenue" directly, which is the number a mix-rebalancing decision
# reads. Exactness: per-customer cents are BIGINT; the bottom-r mass
# at each decile rank r = floor(p·n/10) is the rank-span overlap sum
# over the revenue-VALUE histogram (the trimmed-mean construction —
# ascending-revenue order with ties collapsed, never a per-customer
# window), ONE floored division per point. Monotone convex by
# construction; the unit pins both.
# ---------------------------------------------------------------------------


def lorenz_curve_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            _cents_sum("rev")
        )
    )
    hist = per_cust.groupBy("rev").agg(
        F.count("*").cast("long").alias("n_v")
    )
    tot = hist.agg(
        F.sum("n_v").cast("long").alias("n"),
        F.sum(F.col("n_v") * F.col("rev")).cast("long").alias("total"),
    )
    w = Window.orderBy("rev").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "rev", "n_v", F.sum("n_v").over(w).cast("long").alias("cum")
    ).crossJoin(F.broadcast(tot))
    ps = spark.createDataFrame(
        [(p,) for p in range(10, 101, 10)], "p long"
    )
    r = F.floor(F.col("p") * F.col("n") / 100.0).cast("long")
    lo_rank = F.col("cum") - F.col("n_v") + 1
    ov = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), r) - lo_rank + 1,
    )
    per_p = (
        cum.crossJoin(F.broadcast(ps))
        .groupBy("p")
        .agg(
            F.max(r).cast("long").alias("n_bottom"),
            F.sum(ov * F.col("rev")).cast("long").alias("cum_cents"),
            F.max("total").alias("total"),
            F.max("n").cast("long").alias("n_customers"),
        )
    )
    return per_p.select(
        "p",
        "n_customers",
        "n_bottom",
        "cum_cents",
        floor_round(
            F.col("cum_cents").cast("double") / F.col("total"), 6
        ).alias("cum_share"),
    ).orderBy("p")


LORENZ_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders GROUP BY 1
),
hist AS (
  SELECT rev, CAST(count(*) AS BIGINT) AS n_v FROM per_cust GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_v) AS BIGINT) AS n,
         CAST(sum(n_v * rev) AS BIGINT) AS total
  FROM hist
),
cum AS (
  SELECT rev, n_v,
         CAST(sum(n_v) OVER (ORDER BY rev
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         t.n, t.total
  FROM hist, tot t
),
ps AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90, 100]) AS p),
per_p AS (
  SELECT ps.p,
         CAST(max(CAST(floor(ps.p * c.n / 100.0) AS BIGINT)) AS BIGINT)
           AS n_bottom,
         CAST(sum(greatest(CAST(0 AS BIGINT),
                  least(c.cum, CAST(floor(ps.p * c.n / 100.0) AS BIGINT))
                  - (c.cum - c.n_v + 1) + 1) * c.rev) AS BIGINT)
           AS cum_cents,
         max(c.total) AS total,
         max(c.n) AS n_customers
  FROM cum c CROSS JOIN ps
  GROUP BY 1
)
SELECT CAST(p AS BIGINT) AS p,
       CAST(n_customers AS BIGINT) AS n_customers,
       n_bottom, cum_cents,
       CAST(floor(CAST(cum_cents AS DOUBLE) / total * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS cum_share
FROM per_p
ORDER BY p
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier churn survival at fixed horizons (R4-107): the
# survival-analysis primitive behind every retention/LTV model —
# "what fraction of customers are still active t days after their
# first order", with RIGHT CENSORING done properly (a customer whose
# last order is recent is not churned, just not observed long enough
# — naive retention curves silently treat them as deaths). Death =
# no order within CHURN_W days of the calendar end; event time =
# last−first (death) or cal_end−first (censored). KM: S(h) =
# Π_{death times t ≤ h} (1 − d_t/n_t) with n_t the at-risk count.
# Exactness: d_t/n_t are exact BIGINT histogram counts over the DAY
# domain (windows are day-domain-bounded); each log factor
# ln(1−d_t/n_t) is floored to 1e-8 fixed point and summed as BIGINT
# per horizon (the R4-94 rule), so S(h) = exp(Σf8/1e8) differs only
# in the final exp ulp, absorbed by floor6; the d_t = n_t "everyone
# at risk dies" edge sets S = 0 via an exact flag, never ln(0).
# ---------------------------------------------------------------------------

CHURN_W = 90
KM_HORIZONS = [30, 90, 180, 365, 730]


def km_churn_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        )
    )
    cal = load(spark, sf_dir, "orders").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("cal_end")
    )
    ev = per_cust.crossJoin(F.broadcast(cal)).select(
        (F.datediff("cal_end", "last_d") > CHURN_W).alias("is_death"),
        F.when(
            F.datediff("cal_end", "last_d") > CHURN_W,
            F.datediff("last_d", "first_d"),
        )
        .otherwise(F.datediff("cal_end", "first_d"))
        .cast("long")
        .alias("t"),
    )
    hist = ev.groupBy("t").agg(
        F.count("*").cast("long").alias("a_t"),
        F.sum(F.when(F.col("is_death"), 1).otherwise(0))
        .cast("long")
        .alias("d_t"),
    )
    tot = hist.agg(F.sum("a_t").cast("long").alias("n_total"))
    w = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = hist.select(
        "t",
        "d_t",
        (F.sum("a_t").over(w) - F.col("a_t")).cast("long").alias("cb"),
    ).crossJoin(F.broadcast(tot))
    deaths = risk.where(F.col("d_t") > 0).select(
        "t",
        "d_t",
        (F.col("n_total") - F.col("cb")).alias("n_t"),
        F.when(F.col("d_t") == F.col("n_total") - F.col("cb"), 1)
        .otherwise(0)
        .cast("long")
        .alias("kills_all"),
        F.when(
            F.col("d_t") < F.col("n_total") - F.col("cb"),
            F.floor(
                F.log(
                    1.0
                    - F.col("d_t").cast("double")
                    / (F.col("n_total") - F.col("cb"))
                )
                * 100000000
                + 1e-6
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("f8"),
    )
    hs = spark.createDataFrame([(h,) for h in KM_HORIZONS], "h long")
    per_h = (
        deaths.crossJoin(F.broadcast(hs))
        .where(F.col("t") <= F.col("h"))
        .groupBy("h")
        .agg(
            F.sum("d_t").cast("long").alias("deaths_by_h"),
            F.sum("f8").cast("long").alias("sum_f8"),
            F.max("kills_all").cast("long").alias("zeroed"),
        )
    )
    # horizons with no deaths at all must still report S = 1
    base = hs.join(per_h, "h", "left").na.fill(
        {"deaths_by_h": 0, "sum_f8": 0, "zeroed": 0}
    )
    at_risk = (
        ev.crossJoin(F.broadcast(hs))
        .where(F.col("t") >= F.col("h"))
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("n_at_risk"))
    )
    out = (
        base.join(at_risk, "h", "left")
        .na.fill({"n_at_risk": 0})
        .crossJoin(F.broadcast(tot))
    )
    surv = F.when(F.col("zeroed") == 1, F.lit(0.0)).otherwise(
        F.exp(F.col("sum_f8").cast("double") / 1e8)
    )
    return out.select(
        F.col("h").alias("horizon_days"),
        "n_total",
        "n_at_risk",
        "deaths_by_h",
        floor_round(surv, 6).alias("km_survival"),
    ).orderBy("horizon_days")


KM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(min(o_orderdate) AS DATE) AS first_d,
         CAST(max(o_orderdate) AS DATE) AS last_d
  FROM orders GROUP BY 1
),
cal AS (SELECT CAST(max(o_orderdate) AS DATE) AS cal_end FROM orders),
ev AS (
  SELECT date_diff('day', last_d, cal_end) > {CHURN_W} AS is_death,
         CAST(CASE WHEN date_diff('day', last_d, cal_end) > {CHURN_W}
                   THEN date_diff('day', first_d, last_d)
                   ELSE date_diff('day', first_d, cal_end) END AS BIGINT)
           AS t
  FROM per_cust, cal
),
hist AS (
  SELECT t, CAST(count(*) AS BIGINT) AS a_t,
         CAST(sum(CASE WHEN is_death THEN 1 ELSE 0 END) AS BIGINT) AS d_t
  FROM ev GROUP BY 1
),
tot AS (SELECT CAST(sum(a_t) AS BIGINT) AS n_total FROM hist),
risk AS (
  SELECT t, d_t,
         CAST(sum(a_t) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - a_t
              AS BIGINT) AS cb,
         x.n_total
  FROM hist, tot x
),
deaths AS (
  SELECT t, d_t, n_total - cb AS n_t,
         CASE WHEN d_t = n_total - cb THEN 1 ELSE 0 END AS kills_all,
         CASE WHEN d_t < n_total - cb
              THEN CAST(floor(ln(1.0 - CAST(d_t AS DOUBLE)
                                  / (n_total - cb))
                              * 100000000 + 1e-6) AS BIGINT)
              ELSE 0 END AS f8
  FROM risk WHERE d_t > 0
),
hs AS (SELECT unnest([{', '.join(str(h) for h in KM_HORIZONS)}]) AS h),
per_h AS (
  SELECT hs.h,
         CAST(coalesce(sum(d.d_t), 0) AS BIGINT) AS deaths_by_h,
         CAST(coalesce(sum(d.f8), 0) AS BIGINT) AS sum_f8,
         CAST(coalesce(max(d.kills_all), 0) AS BIGINT) AS zeroed
  FROM hs LEFT JOIN deaths d ON d.t <= hs.h
  GROUP BY 1
),
atr AS (
  SELECT hs.h, CAST(count(e.t) AS BIGINT) AS n_at_risk
  FROM hs LEFT JOIN ev e ON e.t >= hs.h
  GROUP BY 1
)
SELECT CAST(p.h AS BIGINT) AS horizon_days,
       x.n_total,
       a.n_at_risk,
       p.deaths_by_h,
       CAST(floor(CASE WHEN p.zeroed = 1 THEN 0.0
                       ELSE exp(CAST(p.sum_f8 AS DOUBLE) / 1e8) END
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS km_survival
FROM per_h p JOIN atr a ON a.h = p.h, tot x
ORDER BY horizon_days
"""


# ---------------------------------------------------------------------------
# Wilson score intervals for the promo share, old vs new wave
# (R4-108): the confidence-interval companion to promo_share_ztest —
# the z-test says "different or not", the Wilson intervals say BY HOW
# MUCH with honest small-n behavior (the Wald interval the naive
# p̂ ± z√(p̂q̂/n) formula gives collapses at p̂ near 0/1; Wilson is the
# recommended default, Brown-Cai-DasGupta 2001). Inputs are the same
# exact BIGINT counts as the z-test; center and half-width are
# single closed-form expressions; the no-overlap flag compares the
# FLOORED bounds so a boundary ulp cannot flip it.
# ---------------------------------------------------------------------------


def promo_share_wilson_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_type").startswith("PROMO").alias("is_promo"),
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ords = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("timestamp").alias("ts")
    )
    bounds = ords.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    waved = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .crossJoin(F.broadcast(bounds))
        .select(
            (
                F.unix_micros("ts")
                >= (F.col("t0") + F.col("t1")) / 2
            ).alias("new_wave"),
            F.col("is_promo").cast("long").alias("k"),
        )
    )
    agg = waved.groupBy("new_wave").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("k"),
    )
    z2 = F.lit(ZTEST_CRIT * ZTEST_CRIT)
    p_hat = F.col("k").cast("double") / F.col("n")
    denom = 1.0 + z2 / F.col("n")
    center = (p_hat + z2 / (2.0 * F.col("n"))) / denom
    hw = (
        F.lit(ZTEST_CRIT)
        * F.sqrt(
            p_hat * (1.0 - p_hat) / F.col("n")
            + z2 / (4.0 * F.col("n") * F.col("n"))
        )
        / denom
    )
    both = agg.select(
        F.col("new_wave").alias("wave_new"),
        "n",
        "k",
        floor_round(p_hat, 6).alias("p_hat"),
        floor_round(center - hw, 6).alias("ci_lo"),
        floor_round(center + hw, 6).alias("ci_hi"),
    )
    old = both.where(~F.col("wave_new")).select(
        F.col("n").alias("n_old"),
        F.col("k").alias("k_old"),
        F.col("p_hat").alias("p_old"),
        F.col("ci_lo").alias("lo_old"),
        F.col("ci_hi").alias("hi_old"),
    )
    new = both.where(F.col("wave_new")).select(
        F.col("n").alias("n_new"),
        F.col("k").alias("k_new"),
        F.col("p_hat").alias("p_new"),
        F.col("ci_lo").alias("lo_new"),
        F.col("ci_hi").alias("hi_new"),
    )
    return old.crossJoin(F.broadcast(new)).select(
        "n_old",
        "k_old",
        "p_old",
        "lo_old",
        "hi_old",
        "n_new",
        "k_new",
        "p_new",
        "lo_new",
        "hi_new",
        (
            (F.col("hi_old") < F.col("lo_new"))
            | (F.col("hi_new") < F.col("lo_old"))
        ).alias("disjoint"),
    )


WILSON_SQL = f"""
WITH bounds AS (
  SELECT epoch_us(min(CAST(o_orderdate AS TIMESTAMP))) AS t0,
         epoch_us(max(CAST(o_orderdate AS TIMESTAMP))) AS t1
  FROM orders
),
waved AS (
  SELECT epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
           >= (b.t0 + b.t1) / 2 AS new_wave,
         CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS k
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey, bounds b
),
agg AS (
  SELECT new_wave, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(k) AS BIGINT) AS k
  FROM waved GROUP BY 1
),
ci AS (
  SELECT new_wave, n, k,
         CAST(floor(CAST(k AS DOUBLE) / n * 1000000 + 1e-6)
              / 1000000 AS DOUBLE) AS p_hat,
         CAST(floor(((CAST(k AS DOUBLE) / n
                      + {ZTEST_CRIT * ZTEST_CRIT!r} / (2.0 * n))
                     / (1.0 + {ZTEST_CRIT * ZTEST_CRIT!r} / n)
                     - {ZTEST_CRIT}
                       * sqrt((CAST(k AS DOUBLE) / n)
                              * (1.0 - CAST(k AS DOUBLE) / n) / n
                              + {ZTEST_CRIT * ZTEST_CRIT!r}
                                / (4.0 * n * n))
                       / (1.0 + {ZTEST_CRIT * ZTEST_CRIT!r} / n))
                    * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS ci_lo,
         CAST(floor(((CAST(k AS DOUBLE) / n
                      + {ZTEST_CRIT * ZTEST_CRIT!r} / (2.0 * n))
                     / (1.0 + {ZTEST_CRIT * ZTEST_CRIT!r} / n)
                     + {ZTEST_CRIT}
                       * sqrt((CAST(k AS DOUBLE) / n)
                              * (1.0 - CAST(k AS DOUBLE) / n) / n
                              + {ZTEST_CRIT * ZTEST_CRIT!r}
                                / (4.0 * n * n))
                       / (1.0 + {ZTEST_CRIT * ZTEST_CRIT!r} / n))
                    * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS ci_hi
  FROM agg
)
SELECT o.n AS n_old, o.k AS k_old, o.p_hat AS p_old,
       o.ci_lo AS lo_old, o.ci_hi AS hi_old,
       nw.n AS n_new, nw.k AS k_new, nw.p_hat AS p_new,
       nw.ci_lo AS lo_new, nw.ci_hi AS hi_new,
       (o.ci_hi < nw.ci_lo) OR (nw.ci_hi < o.ci_lo) AS disjoint
FROM ci o, ci nw
WHERE o.new_wave = FALSE AND nw.new_wave = TRUE
"""


# ---------------------------------------------------------------------------
# Time-series diagnostics over the daily-revenue series (R4-111..114).
# The reference's lesson/relationship stores keep per-day activity
# rollups (crud_operations.py aggregate paths); a production pipeline
# watching its own daily intake needs the classic diagnostics on that
# series: does yesterday predict today (ACF), is the de-trended noise
# independent (Durbin-Watson), which weekday runs hot (seasonal index),
# and does volume lead or lag ticket size (lead-lag cross-correlation).
#
# Scale shape shared by all four: ONE hash-agg collapses orders to at
# most one row per calendar day (bounded: a decade is ~3.7k rows), and
# every quadratic/window step runs on that bounded daily table — at
# 100 TB the orders scan is the only big stage, and it is a map-side
# partial sum. Cross-engine exactness: all distributed sums are BIGINT
# over floored cents/dollars; doubles appear only in final per-row
# scalar expressions computed identically from those integers in both
# engines (the theil_sen/ols pattern above).

ACF_MAX_LAG = 7
XCORR_LAGS = list(range(-3, 4))

_DAILY_XY = """
  SELECT CAST(date_diff('day', (SELECT min(CAST(o_orderdate AS DATE))
                                FROM orders),
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order count ``cnt`` + revenue ``cents`` keyed by date d."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d")
    ).agg(
        F.count("*").cast("long").alias("cnt"),
        _cents_sum("cents"),
    )


def _daily_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order count + revenue cents keyed by day index x."""
    daily = _daily_cents(spark, sf_dir)
    d0 = daily.agg(F.min("d").alias("d0"))
    return daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("d", "d0").cast("long").alias("x"), "cnt", "cents"
    )


def _ols_sums(df: DataFrame | GroupedData, *extra: Column) -> DataFrame:
    """Exact BIGINT moment sums (n, sx, sy, sxy, sxx, *extra) of the
    least-squares line y ~ x over ``df`` (one row, or one per group)."""
    return df.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        *extra,
    )


def _ols_resid_q() -> Column:
    """floor(y − (a + b·x)): the whole-unit residual against the line
    fitted from ``_ols_sums``'s columns (cross-joined onto the rows)."""
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return F.floor(
        F.col("y").cast("double")
        - (intercept + slope * F.col("x").cast("double"))
        + 1e-6
    )


def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of daily revenue (dollars).

    Classic Box-Jenkins ACF with the global mean: r_k =
    sum_t (y_t - mu)(y_{t-k} - mu) / sum_t (y_t - mu)^2, expanded so
    every distributed sum (sum y, sum y^2, per-lag sum y_a*y_b and the
    two tail sums) is an exact BIGINT; mu and the ratio are one final
    double expression per lag row. Calendar-day lags: a gap day simply
    contributes no pair (join on x - k). Reference analog: the store
    health report's day-over-day activity trend
    (crud_operations.py:472-519 aggregates by day).
    """
    daily = _daily_xy(spark, sf_dir).select(
        "x", F.floor(F.col("cents") / 100).cast("long").alias("y")
    )
    stats = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = daily.alias("b")
    pairs = a.join(b, F.col("a.x") - F.col("lag") == F.col("b.x")).select(
        "lag",
        F.col("a.y").alias("ya"),
        F.col("b.y").alias("yb"),
    )
    agg = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("ya") * F.col("yb")).cast("long").alias("sab"),
        F.sum("ya").cast("long").alias("t1"),
        F.sum("yb").cast("long").alias("t2"),
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    acf = (
        F.col("sab").cast("double")
        - mu * (F.col("t1") + F.col("t2")).cast("double")
        + F.col("n_pairs").cast("double") * mu * mu
    ) / (
        F.col("syy").cast("double")
        - F.col("n").cast("double") * mu * mu
    )
    return (
        agg.crossJoin(F.broadcast(stats))
        .select(
            "lag",
            "n_pairs",
            floor_round(acf, 6).alias("acf"),
        )
        .orderBy("lag")
    )


ACF_SQL = f"""
WITH daily0 AS ({_DAILY_XY}),
daily AS (
  SELECT x, CAST(floor(cents / 100) AS BIGINT) AS y FROM daily0
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM daily
),
lags AS (SELECT CAST(unnest([{", ".join(str(k) for k in range(1, ACF_MAX_LAG + 1))}]) AS BIGINT) AS lag),
agg AS (
  SELECT l.lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(a.y * b.y) AS BIGINT) AS sab,
         CAST(sum(a.y) AS BIGINT) AS t1,
         CAST(sum(b.y) AS BIGINT) AS t2
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON a.x - l.lag = b.x
  GROUP BY 1
)
SELECT lag, n_pairs,
       CAST(floor((CAST(sab AS DOUBLE)
                   - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * CAST(t1 + t2 AS DOUBLE)
                   + CAST(n_pairs AS DOUBLE)
                     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                  / (CAST(syy AS DOUBLE)
                     - CAST(n AS DOUBLE)
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS acf
FROM agg, stats
ORDER BY lag
"""


def durbin_watson_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation test on the de-trended daily
    revenue series (R4-112).

    Fits OLS revenue-vs-day (exact BIGINT normal-equation sums, the
    theil_sen pattern), computes each day's residual as ONE double
    expression from those broadcast integers, floors it onto a whole-
    dollar grid (so the statistic is defined on an integer series both
    engines reproduce bit-for-bit), then DW = sum (e_t - e_{t-1})^2 /
    sum e_t^2 over the x-ordered series — both sums exact BIGINT.
    rho_lag1 = 1 - DW/2 is the standard first-order reading. The
    ordering window runs over the bounded daily table (~3.7k rows per
    decade), never over raw orders.
    """
    daily = _daily_xy(spark, sf_dir).select(
        "x", F.floor(F.col("cents") / 100).cast("long").alias("y")
    )
    ols = _ols_sums(daily)
    resid = daily.crossJoin(F.broadcast(ols)).select(
        "x",
        _ols_resid_q().cast("long").alias("eq"),
    )
    w = Window.orderBy("x")
    diffed = resid.select(
        "eq", (F.col("eq") - F.lag("eq", 1).over(w)).alias("de")
    )
    out = diffed.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.col("de") * F.col("de")).cast("long").alias("num"),
        F.sum(F.col("eq") * F.col("eq")).cast("long").alias("den"),
    )
    dw = F.col("num").cast("double") / F.col("den").cast("double")
    return out.select(
        "n_days",
        floor_round(dw, 6).alias("dw_stat"),
        floor_round(F.lit(1.0) - dw / 2, 6).alias("rho_lag1"),
    )


# the DW / runs-test / variance-decomposition oracles' shared OLS fit:
# exact BIGINT moment sums, then slope b and intercept a
_OLS_SUMS_SQL = """
CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx"""

_OLS_COEF_SQL = """
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
         (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE))
            * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS a
  FROM ols
),"""

# the DW and runs-test oracles' whole-dollar daily series with its OLS sums
_DAILY_Y_OLS_SQL = f"""
WITH daily0 AS ({_DAILY_XY}),
daily AS (
  SELECT x, CAST(floor(cents / 100) AS BIGINT) AS y FROM daily0
),
ols AS (
  SELECT {_OLS_SUMS_SQL}
  FROM daily
),"""

DURBIN_WATSON_SQL = f"""
{_DAILY_Y_OLS_SQL}
coef AS (
  SELECT n,
{_OLS_COEF_SQL}
resid AS (
  SELECT d.x,
         CAST(floor(CAST(d.y AS DOUBLE)
                    - (c.a + c.b * CAST(d.x AS DOUBLE)) + 1e-6)
              AS BIGINT) AS eq
  FROM daily d, coef c
),
diffed AS (
  SELECT eq, eq - lag(eq, 1) OVER (ORDER BY x) AS de FROM resid
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(de * de) AS BIGINT) AS num,
         CAST(sum(eq * eq) AS BIGINT) AS den
  FROM diffed
)
SELECT n_days,
       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS dw_stat,
       CAST(floor((1.0 - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) / 2)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS rho_lag1
FROM agg
"""


_DOW_NAMES = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]


def dow_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of order revenue (R4-113).

    index(dow) = (mean daily revenue on that weekday) / (overall mean
    daily revenue). Weekday derived arithmetically — (days since
    1970-01-01 + 3) % 7, 0 = Monday — so both engines share one
    definition instead of their divergent dayofweek() conventions.
    Sums are exact BIGINT cents; the two-division index is the only
    double. One hash-agg to the 7-row table; scale-free.
    """
    daily = _daily_cents(spark, sf_dir)
    dow = (F.datediff("d", F.lit("1970-01-01").cast("date")) + 3) % 7
    per = daily.select(
        dow.cast("long").alias("dow_idx"), "cents"
    ).groupBy("dow_idx").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    tot = per.agg(
        F.sum("n_days").cast("long").alias("nn"),
        F.sum("sum_cents").cast("long").alias("ss"),
    )
    name = F.element_at(
        F.array(*[F.lit(n) for n in _DOW_NAMES]),
        (F.col("dow_idx") + 1).cast("int"),
    )
    idx = (
        F.col("sum_cents").cast("double") / F.col("n_days").cast("double")
    ) / (F.col("ss").cast("double") / F.col("nn").cast("double"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "dow_idx",
            name.alias("dow_name"),
            "n_days",
            "sum_cents",
            floor_round(idx, 6).alias("seasonal_index"),
        )
        .orderBy("dow_idx")
    )


DOW_SEASONALITY_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
per AS (
  SELECT CAST((date_diff('day', DATE '1970-01-01', d) + 3) % 7
              AS BIGINT) AS dow_idx,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM daily GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_days) AS BIGINT) AS nn,
         CAST(sum(sum_cents) AS BIGINT) AS ss
  FROM per
)
SELECT dow_idx,
       CASE dow_idx {" ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(_DOW_NAMES))} END AS dow_name,
       n_days, sum_cents,
       CAST(floor((CAST(sum_cents AS DOUBLE) / CAST(n_days AS DOUBLE))
                  / (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS seasonal_index
FROM per, tot
ORDER BY dow_idx
"""


def volume_ticket_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between daily order VOLUME and the
    daily average TICKET (R4-114): does a busy day predict cheaper or
    pricier orders k days later?

    For lag k in -3..3, Pearson r between cnt_t and ticket_{t+k} over
    calendar-aligned pairs. Per-lag sums (counts, tickets, products,
    squares) are exact BIGINT over the bounded daily table; each lag's
    r is one closed-form double from those six integers. The 7-lag
    dimension is broadcast; the pair join is an equi-join on the day
    index, so the whole thing is bounded by days, not orders.
    """
    daily = _daily_xy(spark, sf_dir).select(
        "x",
        "cnt",
        F.floor(
            F.col("cents").cast("double") / F.col("cnt") / 100.0 + 1e-6
        )
        .cast("long")
        .alias("ticket"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("long").alias("lag"))
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = daily.alias("b")
    pairs = a.join(b, F.col("a.x") + F.col("lag") == F.col("b.x")).select(
        "lag",
        F.col("a.cnt").alias("xv"),
        F.col("b.ticket").alias("yv"),
    )
    agg = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("xv").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.col("xv") * F.col("yv")).cast("long").alias("sxy"),
        F.sum(F.col("xv") * F.col("xv")).cast("long").alias("sxx"),
        F.sum(F.col("yv") * F.col("yv")).cast("long").alias("syy"),
    )
    r = (
        F.col("m").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.sqrt(
        (
            F.col("m").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            F.col("m").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return agg.select(
        "lag",
        F.col("m").alias("n_pairs"),
        floor_round(r, 6).alias("xcorr"),
    ).orderBy("lag")


VOLUME_TICKET_XCORR_SQL = f"""
WITH daily0 AS ({_DAILY_XY}),
daily AS (
  SELECT x, cnt,
         CAST(floor(CAST(cents AS DOUBLE) / cnt / 100.0 + 1e-6)
              AS BIGINT) AS ticket
  FROM daily0
),
lags AS (SELECT CAST(unnest([{", ".join(str(k) for k in XCORR_LAGS)}]) AS BIGINT) AS lag),
agg AS (
  SELECT l.lag,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(a.cnt) AS BIGINT) AS sx,
         CAST(sum(b.ticket) AS BIGINT) AS sy,
         CAST(sum(a.cnt * b.ticket) AS BIGINT) AS sxy,
         CAST(sum(a.cnt * a.cnt) AS BIGINT) AS sxx,
         CAST(sum(b.ticket * b.ticket) AS BIGINT) AS syy
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON a.x + l.lag = b.x
  GROUP BY 1
)
SELECT lag, m AS n_pairs,
       CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS xcorr
FROM agg
ORDER BY lag
"""


# ---------------------------------------------------------------------------
# Markov transition check on the per-user event stream (R4-116): the
# one-step transition matrix P (MLE from lag-1 pairs), the EMPIRICAL
# two-step distribution (lag-2 pairs), and the CHAIN prediction
# P2 = P x P — the gap between the last two is the classic test of the
# first-order Markov assumption behind sessionize/funnel models.
#
# Cross-engine exactness: all transition counts are exact BIGINTs from
# per-user lead() windows ordered (ts, event_id); the chain's
# sum-over-mid-states is NOT a float sum — each P[a,m]*P[m,b] term is
# floored onto a 1e-12 integer grid and the BIGINTs are summed (terms
# <= 1e12, mid-state fan-in bounded by the event-type vocabulary).
# Scale shape: the stream collapses to |types|^2 count rows in one
# window+hash-agg pass; everything after runs on that bounded grid,
# densified by a types x types cross join (broadcast, ~5x5).
# ---------------------------------------------------------------------------


def markov_transition_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    c1 = (
        seq.where(F.col("t2").isNotNull())
        .groupBy(F.col("t1").alias("a"), F.col("t2").alias("b"))
        .agg(F.count("*").cast("long").alias("n1"))
    )
    r1 = c1.groupBy(F.col("a").alias("ra")).agg(
        F.sum("n1").cast("long").alias("row1")
    )
    c2 = (
        seq.where(F.col("t3").isNotNull())
        .groupBy(F.col("t1").alias("a"), F.col("t3").alias("b"))
        .agg(F.count("*").cast("long").alias("n2"))
    )
    r2 = c2.groupBy(F.col("a").alias("ra")).agg(
        F.sum("n2").cast("long").alias("row2")
    )
    types = ev.select(F.col("event_type").alias("t")).distinct()
    grid = (
        types.select(F.col("t").alias("a"))
        .crossJoin(types.select(F.col("t").alias("b")))
    )
    # chain: sum over mid of floored P[a,m]*P[m,b] terms
    am = c1.join(r1, F.col("a") == F.col("ra")).select(
        "a", F.col("b").alias("m"), "n1", F.col("row1").alias("rowa")
    )
    mb = c1.join(r1, F.col("a") == F.col("ra")).select(
        F.col("a").alias("m2"), F.col("b").alias("bb"),
        F.col("n1").alias("n1b"), F.col("row1").alias("rowm"),
    )
    term = am.join(mb, F.col("m") == F.col("m2")).select(
        "a",
        F.col("bb").alias("b"),
        F.floor(
            (
                F.col("n1").cast("double") / F.col("rowa").cast("double")
            )
            * (
                F.col("n1b").cast("double") / F.col("rowm").cast("double")
            )
            * 1000000000000
            + 1e-6
        )
        .cast("long")
        .alias("tq"),
    )
    chain = term.groupBy("a", "b").agg(
        F.sum("tq").cast("long").alias("chain_q")
    )
    out = (
        grid.join(c1, ["a", "b"], "left")
        .join(c2, ["a", "b"], "left")
        .join(chain, ["a", "b"], "left")
        .join(r1, grid["a"] == r1["ra"], "left")
        .join(r2, grid["a"] == r2["ra"], "left")
    )
    p1 = F.coalesce(F.col("n1"), F.lit(0)).cast("double") / F.col(
        "row1"
    ).cast("double")
    p2e = F.coalesce(F.col("n2"), F.lit(0)).cast("double") / F.col(
        "row2"
    ).cast("double")
    return out.select(
        F.col("a").alias("from_type"),
        F.col("b").alias("to_type"),
        F.coalesce(F.col("n1"), F.lit(0)).cast("long").alias("n_1step"),
        floor_round(p1, 6).alias("p_1step"),
        F.coalesce(F.col("n2"), F.lit(0)).cast("long").alias("n_2step"),
        floor_round(p2e, 6).alias("p_2step_emp"),
        floor_round(
            F.coalesce(F.col("chain_q"), F.lit(0)).cast("double") / 1.0e12,
            6,
        ).alias("p_2step_chain"),
    ).orderBy("from_type", "to_type")


MARKOV_SQL = """
WITH seq AS (
  SELECT event_type AS t1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t3
  FROM events
),
c1 AS (
  SELECT t1 AS a, t2 AS b, CAST(count(*) AS BIGINT) AS n1
  FROM seq WHERE t2 IS NOT NULL GROUP BY 1, 2
),
r1 AS (SELECT a AS ra, CAST(sum(n1) AS BIGINT) AS row1 FROM c1 GROUP BY 1),
c2 AS (
  SELECT t1 AS a, t3 AS b, CAST(count(*) AS BIGINT) AS n2
  FROM seq WHERE t3 IS NOT NULL GROUP BY 1, 2
),
r2 AS (SELECT a AS ra, CAST(sum(n2) AS BIGINT) AS row2 FROM c2 GROUP BY 1),
types AS (SELECT DISTINCT event_type AS t FROM events),
grid AS (SELECT x.t AS a, y.t AS b FROM types x CROSS JOIN types y),
term AS (
  SELECT am.a, mb.b,
         CAST(floor((CAST(am.n1 AS DOUBLE) / CAST(am.rowa AS DOUBLE))
                    * (CAST(mb.n1 AS DOUBLE) / CAST(mb.rowm AS DOUBLE))
                    * 1000000000000 + 1e-6) AS BIGINT) AS tq
  FROM (SELECT c1.a, c1.b AS m, c1.n1, r1.row1 AS rowa
        FROM c1 JOIN r1 ON c1.a = r1.ra) am
  JOIN (SELECT c1.a AS m2, c1.b, c1.n1, r1.row1 AS rowm
        FROM c1 JOIN r1 ON c1.a = r1.ra) mb
    ON am.m = mb.m2
),
chain AS (
  SELECT a, b, CAST(sum(tq) AS BIGINT) AS chain_q FROM term GROUP BY 1, 2
)
SELECT g.a AS from_type, g.b AS to_type,
       CAST(coalesce(c1.n1, 0) AS BIGINT) AS n_1step,
       CAST(floor(CAST(coalesce(c1.n1, 0) AS DOUBLE)
                  / CAST(r1.row1 AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS p_1step,
       CAST(coalesce(c2.n2, 0) AS BIGINT) AS n_2step,
       CAST(floor(CAST(coalesce(c2.n2, 0) AS DOUBLE)
                  / CAST(r2.row2 AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS p_2step_emp,
       CAST(floor(CAST(coalesce(ch.chain_q, 0) AS DOUBLE) / 1e12
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS p_2step_chain
FROM grid g
LEFT JOIN c1 ON c1.a = g.a AND c1.b = g.b
LEFT JOIN c2 ON c2.a = g.a AND c2.b = g.b
LEFT JOIN chain ch ON ch.a = g.a AND ch.b = g.b
LEFT JOIN r1 ON r1.ra = g.a
LEFT JOIN r2 ON r2.ra = g.a
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# Inter-arrival-time profile per event type (R4-117): mean gap,
# coefficient of variation, and the Goh-Barabasi burstiness index
# B = (sigma - mu) / (sigma + mu) over per-user consecutive gaps.
# CV ~ 1 / B ~ 0 is Poisson traffic; CV >> 1 / B -> 1 is bursty
# (retry storms, bot loops) — the stream-health diagnostic behind
# rate-limit and debounce thresholds (the repo's burst_debounce twin).
#
# Gaps are floored to whole seconds so every distributed sum (n, sum,
# sum of squares) is an exact BIGINT; mean/CV/B are final per-group
# double expressions. One window pass + one hash-agg; output bounded
# by the event-type vocabulary.
# ---------------------------------------------------------------------------


def interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    # WHOLE-second epoch via the established NTZ->timestamp cast (the
    # oracle floors epoch(ts) identically; session tz is UTC)
    t_s = F.col("ts").cast("timestamp").cast("long")
    gaps = ev.select(
        "event_type",
        (t_s - F.lag(t_s, 1).over(w)).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("ss"),
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("s").cast("double") / n
    # population variance: E[x^2] - mu^2, from exact integer sums
    var = F.col("ss").cast("double") / n - mu * mu
    sd = F.sqrt(var)
    return agg.select(
        "event_type",
        "n_gaps",
        floor_round(mu, 4).alias("mean_gap_s"),
        floor_round(sd / mu, 6).alias("cv"),
        floor_round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    ).orderBy("event_type")


INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
             OVER (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS gap_s
  FROM events
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap_s) AS BIGINT) AS s,
         CAST(sum(gap_s * gap_s) AS BIGINT) AS ss
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
)
SELECT event_type, n_gaps,
       CAST(floor(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_gap_s,
       CAST(floor(sqrt(CAST(ss AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                  / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS cv,
       CAST(floor((sqrt(CAST(ss AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                        - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                          * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                   - CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                  / (sqrt(CAST(ss AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                          - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                            * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                     + CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS burstiness
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Calendar-gap audit on the order feed (R4-118): which calendar days
# inside the observed span produced ZERO orders, and how long the
# longest dark streak ran — the completeness check a daily-ingest
# pipeline runs before trusting any time-series statistic above
# (ACF/DW/seasonality all assume the gaps are known). Missing days are
# found by anti-joining a generated day spine against observed days;
# streaks are islands via the classic (day - dense row_number) grouping.
# The spine is bounded by the calendar span (~2.4k rows), never by
# orders; the only big stage is the one hash-agg to observed days.
# ---------------------------------------------------------------------------


def calendar_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("day", F.col("o_orderdate"))
            .cast("date")
            .alias("d")
        )
        .agg(F.count("*").alias("_n"))
        .select("d")
    )
    span = days.agg(
        F.min("d").alias("d_min"), F.max("d").alias("d_max")
    )
    spine = span.select(
        F.explode(
            F.sequence(
                F.col("d_min"), F.col("d_max"), F.expr("interval 1 day")
            )
        ).alias("d")
    )
    missing = spine.join(days, "d", "left_anti").select(
        "d", F.datediff("d", F.lit("1970-01-01").cast("date")).alias("x")
    )
    w = Window.orderBy("x")
    isl = missing.withColumn(
        "grp", F.col("x") - F.row_number().over(w)
    )
    streaks = isl.groupBy("grp").agg(
        F.count("*").cast("long").alias("len"),
        F.min("d").alias("streak_start"),
    )
    n_missing = missing.agg(
        F.count("*").cast("long").alias("n_missing_days")
    )
    n_obs = days.agg(F.count("*").cast("long").alias("n_observed_days"))
    longest = streaks.orderBy(
        F.desc("len"), F.asc("streak_start")
    ).limit(1).select(
        F.col("len").alias("longest_gap_days"),
        F.col("streak_start").alias("longest_gap_start"),
    )
    base = (
        n_obs.crossJoin(n_missing)
        .crossJoin(
            span.select(
                F.col("d_min").alias("span_start"),
                F.col("d_max").alias("span_end"),
            )
        )
    )
    return base.join(longest, F.lit(True), "left").select(
        "span_start",
        "span_end",
        "n_observed_days",
        "n_missing_days",
        F.coalesce(F.col("longest_gap_days"), F.lit(0).cast("long")).alias(
            "longest_gap_days"
        ),
        "longest_gap_start",
    )


CALENDAR_GAP_SQL = """
WITH days AS (
  SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE) AS d
  FROM orders
),
span AS (SELECT min(d) AS d_min, max(d) AS d_max FROM days),
spine AS (
  SELECT CAST(unnest(generate_series(d_min, d_max,
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM span
),
missing AS (
  SELECT s.d,
         CAST(date_diff('day', DATE '1970-01-01', s.d) AS BIGINT) AS x
  FROM spine s ANTI JOIN days o ON s.d = o.d
),
isl AS (
  SELECT d, x, x - row_number() OVER (ORDER BY x) AS grp FROM missing
),
streaks AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS len, min(d) AS streak_start
  FROM isl GROUP BY 1
),
longest AS (
  SELECT len AS longest_gap_days, streak_start AS longest_gap_start
  FROM streaks ORDER BY len DESC, streak_start ASC LIMIT 1
)
SELECT sp.d_min AS span_start, sp.d_max AS span_end,
       (SELECT CAST(count(*) AS BIGINT) FROM days) AS n_observed_days,
       (SELECT CAST(count(*) AS BIGINT) FROM missing) AS n_missing_days,
       coalesce((SELECT longest_gap_days FROM longest),
                CAST(0 AS BIGINT)) AS longest_gap_days,
       (SELECT longest_gap_start FROM longest) AS longest_gap_start
FROM span sp
"""


# ---------------------------------------------------------------------------
# Weekday-adjusted revenue anomalies (R4-119): the seasonality-aware
# companion to daily_trend_anomaly — a Saturday that looks quiet
# against the all-week mean may be a perfectly normal Saturday, so each
# day is z-scored against ITS OWN weekday's mean/std. Top-N days by
# |z| on the floored grid (rounded-grid decision rule + date tiebreak:
# the cut can never flip on 1-ulp noise). Per-weekday moments are one
# 7-row hash-agg of exact BIGINT dollar sums broadcast back over the
# bounded daily table; the final cut is a TakeOrdered, never a sort.
# ---------------------------------------------------------------------------

ANOM_TOP = 15


def dow_adjusted_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir).select(
        "d",
        (
            (F.datediff("d", F.lit("1970-01-01").cast("date")) + 3) % 7
        ).cast("long").alias("dow_idx"),
        F.floor(F.col("cents") / 100).cast("long").alias("y"),
    )
    mom = daily.groupBy(F.col("dow_idx").alias("m_idx")).agg(
        F.count("*").cast("long").alias("n_d"),
        F.sum("y").cast("long").alias("s_d"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss_d"),
    )
    mu = F.col("s_d").cast("double") / F.col("n_d").cast("double")
    sd = F.sqrt(
        F.col("ss_d").cast("double") / F.col("n_d").cast("double")
        - mu * mu
    )
    z_q = F.floor(
        (F.col("y").cast("double") - mu) / sd * 10000 + 1e-6
    ).cast("long")
    scored = daily.join(
        F.broadcast(mom), F.col("dow_idx") == F.col("m_idx")
    ).select("d", "dow_idx", "y", z_q.alias("z_q"))
    return (
        scored.orderBy(F.abs(F.col("z_q")).desc(), F.asc("d"))
        .limit(ANOM_TOP)
        .select(
            "d",
            "dow_idx",
            F.col("y").alias("revenue_dollars"),
            (F.col("z_q").cast("double") / 10000).alias("z_dow"),
            F.when(F.col("z_q") >= 0, F.lit("high"))
            .otherwise(F.lit("low"))
            .alias("direction"),
        )
    )


DOW_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST((date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', o_orderdate) AS DATE)) + 3)
              % 7 AS BIGINT) AS dow_idx,
         CAST(floor(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
                    / 100) AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
),
mom AS (
  SELECT dow_idx AS m_idx,
         CAST(count(*) AS BIGINT) AS n_d,
         CAST(sum(y) AS BIGINT) AS s_d,
         CAST(sum(y * y) AS BIGINT) AS ss_d
  FROM daily GROUP BY 1
),
scored AS (
  SELECT d, dow_idx, y,
         CAST(floor((CAST(y AS DOUBLE)
                     - CAST(s_d AS DOUBLE) / CAST(n_d AS DOUBLE))
                    / sqrt(CAST(ss_d AS DOUBLE) / CAST(n_d AS DOUBLE)
                           - (CAST(s_d AS DOUBLE) / CAST(n_d AS DOUBLE))
                             * (CAST(s_d AS DOUBLE) / CAST(n_d AS DOUBLE)))
                    * 10000 + 1e-6) AS BIGINT) AS z_q
  FROM daily JOIN mom ON dow_idx = m_idx
)
SELECT d, dow_idx, y AS revenue_dollars,
       CAST(z_q AS DOUBLE) / 10000 AS z_dow,
       CASE WHEN z_q >= 0 THEN 'high' ELSE 'low' END AS direction
FROM scored
ORDER BY abs(z_q) DESC, d ASC
LIMIT {ANOM_TOP}
"""


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the de-trended residual SIGNS (R4-120):
# does the daily noise flip sign like independent noise, or does it
# run in streaks (momentum/regime behaviour the OLS fit is hiding)?
# Rides the SAME whole-dollar quantized residual series as
# durbin_watson_trend (eq >= 0 counts as positive, stated rule), so
# the two diagnostics are directly comparable. Counts (n+, n-, runs)
# are exact BIGINTs from one lag pass over the bounded daily table;
# E[R], Var[R], z are the closed forms evaluated once from those
# integers.
# ---------------------------------------------------------------------------


def residual_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_xy(spark, sf_dir).select(
        "x", F.floor(F.col("cents") / 100).cast("long").alias("y")
    )
    ols = _ols_sums(daily)
    signs = daily.crossJoin(F.broadcast(ols)).select(
        "x",
        F.when(_ols_resid_q() >= 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("s"),
    )
    w = Window.orderBy("x")
    flips = signs.select(
        "s",
        F.when(
            F.lag("s", 1).over(w).isNotNull()
            & (F.col("s") != F.lag("s", 1).over(w)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("flip"),
    )
    agg = flips.agg(
        F.sum("s").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("s")).cast("long").alias("n_neg"),
        (F.sum("flip") + 1).cast("long").alias("n_runs"),
    )
    n1 = F.col("n_pos").cast("double")
    n2 = F.col("n_neg").cast("double")
    nn = n1 + n2
    e_r = 2.0 * n1 * n2 / nn + 1.0
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
    ) / (nn * nn * (nn - 1.0))
    return agg.select(
        "n_pos",
        "n_neg",
        "n_runs",
        floor_round(e_r, 4).alias("expected_runs"),
        floor_round(
            (F.col("n_runs").cast("double") - e_r) / F.sqrt(var_r), 4
        ).alias("z_runs"),
    )


RUNS_TEST_SQL = f"""
{_DAILY_Y_OLS_SQL}
coef AS (
  SELECT {_OLS_COEF_SQL}
signs AS (
  SELECT d.x,
         CASE WHEN CAST(floor(CAST(d.y AS DOUBLE)
                              - (c.a + c.b * CAST(d.x AS DOUBLE)) + 1e-6)
                   AS BIGINT) >= 0 THEN 1 ELSE 0 END AS s
  FROM daily d, coef c
),
flips AS (
  SELECT s,
         CASE WHEN lag(s, 1) OVER (ORDER BY x) IS NOT NULL
                   AND s != lag(s, 1) OVER (ORDER BY x)
              THEN 1 ELSE 0 END AS flip
  FROM signs
),
agg AS (
  SELECT CAST(sum(s) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(s) AS BIGINT) AS n_neg,
         CAST(sum(flip) + 1 AS BIGINT) AS n_runs
  FROM flips
)
SELECT n_pos, n_neg, n_runs,
       CAST(floor((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
                   / (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)) + 1.0)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS expected_runs,
       CAST(floor((CAST(n_runs AS DOUBLE)
                   - (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
                      / (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
                      + 1.0))
                  / sqrt((2.0 * CAST(n_pos AS DOUBLE)
                          * CAST(n_neg AS DOUBLE)
                          * (2.0 * CAST(n_pos AS DOUBLE)
                             * CAST(n_neg AS DOUBLE)
                             - CAST(n_pos AS DOUBLE)
                             - CAST(n_neg AS DOUBLE)))
                         / ((CAST(n_pos AS DOUBLE)
                             + CAST(n_neg AS DOUBLE))
                            * (CAST(n_pos AS DOUBLE)
                               + CAST(n_neg AS DOUBLE))
                            * (CAST(n_pos AS DOUBLE)
                               + CAST(n_neg AS DOUBLE) - 1.0)))
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS z_runs
FROM agg
"""


# ---------------------------------------------------------------------------
# Cohort LTV accumulation curve (R4-121): cumulative revenue per
# signup-month cohort at month offsets 0..LTV_MAX_OFFSET — the
# revenue-weighted twin of the graded retention matrix (R4-30), and
# the curve every "payback window" decision reads. Month arithmetic is
# the engine-shared year*12+month integer (never month-boundary-sensitive
# interval math). Exact BIGINT cents throughout; the per-customer
# cohort assignment is one hash-agg, the curve accumulates over the
# bounded (cohort x offset) grid.
# ---------------------------------------------------------------------------

LTV_MAX_OFFSET = 11


def _monthly_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as (o_custkey, month index m = year·12 + month, cents)."""
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("m"),
        F.floor(F.col("o_totalprice") * 100 + 1e-6)
        .cast("long")
        .alias("cents"),
    )


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _monthly_customer_orders(spark, sf_dir)
    cohort = orders.groupBy("o_custkey").agg(
        F.min("m").cast("long").alias("m0")
    )
    sized = cohort.groupBy("m0").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    cell = (
        orders.join(cohort, "o_custkey")
        .where(F.col("m") - F.col("m0") <= LTV_MAX_OFFSET)
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("offset_m"))
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_active"),
            F.sum("cents").cast("long").alias("cents_m"),
        )
    )
    w = (
        Window.partitionBy("m0")
        .orderBy("offset_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = cell.withColumn(
        "cum_cents", F.sum("cents_m").over(w).cast("long")
    ).join(F.broadcast(sized), "m0")
    return curve.select(
        F.make_date(
            F.floor((F.col("m0") - 1) / 12).cast("int"),
            ((F.col("m0") - 1) % 12 + 1).cast("int"),
            F.lit(1),
        ).alias("cohort_month"),
        F.col("offset_m").cast("long").alias("offset_m"),
        "cohort_size",
        "n_active",
        "cents_m",
        "cum_cents",
        F.floor(
            F.col("cum_cents").cast("double") / F.col("cohort_size")
        )
        .cast("long")
        .alias("ltv_cents_per_cust"),
    ).orderBy("cohort_month", "offset_m")


COHORT_LTV_SQL = f"""
WITH orders_m AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT) AS cents
  FROM orders
),
cohort AS (
  SELECT o_custkey, CAST(min(m) AS BIGINT) AS m0
  FROM orders_m GROUP BY 1
),
sized AS (
  SELECT m0, CAST(count(*) AS BIGINT) AS cohort_size FROM cohort GROUP BY 1
),
cell AS (
  SELECT c.m0, o.m - c.m0 AS offset_m,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
         CAST(sum(o.cents) AS BIGINT) AS cents_m
  FROM orders_m o JOIN cohort c USING (o_custkey)
  WHERE o.m - c.m0 <= {LTV_MAX_OFFSET}
  GROUP BY 1, 2
),
curve AS (
  SELECT m0, offset_m, n_active, cents_m,
         CAST(sum(cents_m) OVER (PARTITION BY m0 ORDER BY offset_m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents
  FROM cell
)
SELECT make_date(CAST(floor((m0 - 1) / 12) AS INT),
                 CAST((m0 - 1) % 12 + 1 AS INT), 1) AS cohort_month,
       CAST(offset_m AS BIGINT) AS offset_m,
       s.cohort_size, n_active, cents_m, cum_cents,
       CAST(floor(CAST(cum_cents AS DOUBLE) / s.cohort_size)
            AS BIGINT) AS ltv_cents_per_cust
FROM curve JOIN sized s USING (m0)
ORDER BY cohort_month, offset_m
"""


# ---------------------------------------------------------------------------
# Linear interpolation over calendar gaps (R4-122): the IMPUTATION
# transform paired with calendar_gap_audit — for every dark day inside
# the span, reconstruct revenue by linear interpolation between the
# nearest observed neighbors (the standard pre-fill before any
# equal-spaced time-series model touches the series). Neighbor lookup
# is ignore-nulls first/last over the calendar spine (bounded by the
# span, ~3.7k rows/decade); the interpolated value is exact integer
# arithmetic floored identically in both engines. Emits ONLY the
# filled rows.
# ---------------------------------------------------------------------------


def daily_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    span = daily.agg(F.min("d").alias("d_min"), F.max("d").alias("d_max"))
    spine = span.select(
        F.explode(
            F.sequence(
                F.col("d_min"), F.col("d_max"), F.expr("interval 1 day")
            )
        ).alias("d")
    )
    grid = spine.join(daily, "d", "left").select(
        "d",
        F.datediff("d", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        "cents",
    )
    w = Window.orderBy("x")
    obs_x = F.when(F.col("cents").isNotNull(), F.col("x"))
    prev_w = w.rowsBetween(Window.unboundedPreceding, -1)
    next_w = w.rowsBetween(1, Window.unboundedFollowing)
    filled = grid.select(
        "d",
        "x",
        "cents",
        F.last(obs_x, ignorenulls=True).over(prev_w).alias("px"),
        F.last(F.col("cents"), ignorenulls=True).over(prev_w).alias("pv"),
        F.first(obs_x, ignorenulls=True).over(next_w).alias("nx"),
        F.first(F.col("cents"), ignorenulls=True).over(next_w).alias("nv"),
    ).where(F.col("cents").isNull())
    interp = F.col("pv") + F.floor(
        (F.col("nv") - F.col("pv")).cast("double")
        * (F.col("x") - F.col("px")).cast("double")
        / (F.col("nx") - F.col("px")).cast("double")
        + 1e-6
    ).cast("long")
    return filled.select(
        "d",
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("px").cast("int"))
        .alias("prev_day"),
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("nx").cast("int"))
        .alias("next_day"),
        F.col("pv").alias("prev_cents"),
        F.col("nv").alias("next_cents"),
        interp.alias("interp_cents"),
    ).orderBy("d")


GAP_INTERP_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
span AS (SELECT min(d) AS d_min, max(d) AS d_max FROM daily),
spine AS (
  SELECT CAST(unnest(generate_series(d_min, d_max,
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM span
),
grid AS (
  SELECT s.d,
         CAST(date_diff('day', DATE '1970-01-01', s.d) AS BIGINT) AS x,
         o.cents
  FROM spine s LEFT JOIN daily o USING (d)
),
filled AS (
  SELECT d, x, cents,
         last_value(CASE WHEN cents IS NOT NULL THEN x END IGNORE NULLS)
           OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING) AS px,
         last_value(cents IGNORE NULLS)
           OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING) AS pv,
         first_value(CASE WHEN cents IS NOT NULL THEN x END IGNORE NULLS)
           OVER (ORDER BY x ROWS BETWEEN 1 FOLLOWING
                 AND UNBOUNDED FOLLOWING) AS nx,
         first_value(cents IGNORE NULLS)
           OVER (ORDER BY x ROWS BETWEEN 1 FOLLOWING
                 AND UNBOUNDED FOLLOWING) AS nv
  FROM grid
)
SELECT d,
       CAST(DATE '1970-01-01' + CAST(px AS INT) AS DATE) AS prev_day,
       CAST(DATE '1970-01-01' + CAST(nx AS INT) AS DATE) AS next_day,
       pv AS prev_cents, nv AS next_cents,
       pv + CAST(floor(CAST(nv - pv AS DOUBLE)
                       * CAST(x - px AS DOUBLE)
                       / CAST(nx - px AS DOUBLE) + 1e-6)
                 AS BIGINT) AS interp_cents
FROM filled
WHERE cents IS NULL
ORDER BY d
"""


# ---------------------------------------------------------------------------
# Fulfilment lead-time quantiles per order priority (R4-127): days
# from order placement to line shipment, with exact p50/p90 via the
# cumulative-histogram rule over the bounded DAY domain (the R4-35
# exact-median pattern, grouped) — the SLA report a fulfilment
# pipeline actually reads ("is URGENT really shipping faster, at the
# tail, not just on average"). The only big stage is the
# lineitem-to-orders equi-join; everything after runs on the
# (priority x lead-days) grid.
# ---------------------------------------------------------------------------

_LEAD_QS = (50, 90)


def leadtime_quantiles_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lead = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "o_orderpriority",
        F.datediff(
            F.date_trunc("day", "l_shipdate").cast("date"),
            F.date_trunc("day", "o_orderdate").cast("date"),
        )
        .cast("long")
        .alias("days"),
    )
    hist = lead.groupBy("o_orderpriority", "days").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = hist.groupBy(F.col("o_orderpriority").alias("t_pri")).agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("days") * F.col("c")).cast("long").alias("s_days"),
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn(
        "cum", F.sum("c").over(w).cast("long")
    ).join(F.broadcast(tot), F.col("o_orderpriority") == F.col("t_pri"))
    def q_col(p):
        # lower quantile on the exact histogram: first value whose
        # cumulative count reaches ceil(n * p / 100)
        target = F.ceil(F.col("n") * p / 100.0).cast("long")
        return F.min(
            F.when(
                (F.col("cum") - F.col("c") + 1 <= target)
                & (target <= F.col("cum")),
                F.col("days"),
            )
        )
    agg = cum.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_lines"),
        F.max("s_days").alias("s_days"),
        *[q_col(p).cast("long").alias(f"p{p}_days") for p in _LEAD_QS],
    )
    return agg.select(
        "o_orderpriority",
        F.col("n_lines").cast("long").alias("n_lines"),
        floor_round(
            F.col("s_days").cast("double") / F.col("n_lines").cast("double"),
            4,
        ).alias("mean_days"),
        *[f"p{p}_days" for p in _LEAD_QS],
    ).orderBy("o_orderpriority")


LEADTIME_SQL = """
WITH lead AS (
  SELECT o.o_orderpriority,
         CAST(date_diff('day', CAST(date_trunc('day', o.o_orderdate) AS DATE),
                        CAST(date_trunc('day', l.l_shipdate) AS DATE))
              AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
hist AS (
  SELECT o_orderpriority, days, CAST(count(*) AS BIGINT) AS c
  FROM lead GROUP BY 1, 2
),
tot AS (
  SELECT o_orderpriority AS t_pri,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(days * c) AS BIGINT) AS s_days
  FROM hist GROUP BY 1
),
cum AS (
  SELECT h.o_orderpriority, h.days, h.c,
         CAST(sum(h.c) OVER (PARTITION BY h.o_orderpriority ORDER BY h.days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         t.n, t.s_days
  FROM hist h JOIN tot t ON h.o_orderpriority = t.t_pri
)
SELECT o_orderpriority,
       CAST(max(n) AS BIGINT) AS n_lines,
       CAST(floor(CAST(max(s_days) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_days,
       CAST(min(CASE WHEN cum - c + 1 <= CAST(ceil(n * 50 / 100.0) AS BIGINT)
                      AND CAST(ceil(n * 50 / 100.0) AS BIGINT) <= cum
                     THEN days END) AS BIGINT) AS p50_days,
       CAST(min(CASE WHEN cum - c + 1 <= CAST(ceil(n * 90 / 100.0) AS BIGINT)
                      AND CAST(ceil(n * 90 / 100.0) AS BIGINT) <= cum
                     THEN days END) AS BIGINT) AS p90_days
FROM cum
GROUP BY 1
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Quantity-weighted median unit price per return flag (R4-128): the
# weighted-quantile shape — "the unit price the MEDIAN SHIPPED UNIT
# paid", not the median line — via the cumulative-WEIGHT histogram
# rule (first price whose cumulative quantity reaches ceil(W/2)).
# Unit prices are floored to exact cents, quantities to exact BIGINT
# units; the cumulative window runs per flag over the bounded distinct
# price domain, never over raw lines.
# ---------------------------------------------------------------------------


def qty_weighted_price_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") + 1e-6).cast("long").alias("qty"),
        F.floor(
            F.col("l_extendedprice") / F.col("l_quantity") * 100 + 1e-6
        )
        .cast("long")
        .alias("unit_cents"),
    )
    hist = li.groupBy("l_returnflag", "unit_cents").agg(
        F.sum("qty").cast("long").alias("wc"),
        F.count("*").cast("long").alias("nl"),
    )
    tot = hist.groupBy(F.col("l_returnflag").alias("t_flag")).agg(
        F.sum("wc").cast("long").alias("w_total"),
        F.sum("nl").cast("long").alias("n_lines"),
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("unit_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn(
        "cumw", F.sum("wc").over(w).cast("long")
    ).join(F.broadcast(tot), F.col("l_returnflag") == F.col("t_flag"))
    target = F.ceil(F.col("w_total") / 2.0).cast("long")
    agg = cum.groupBy("l_returnflag").agg(
        F.max("w_total").alias("units_total"),
        F.max("n_lines").alias("n_lines"),
        F.min(
            F.when(
                (F.col("cumw") - F.col("wc") + 1 <= target)
                & (target <= F.col("cumw")),
                F.col("unit_cents"),
            )
        )
        .cast("long")
        .alias("wmedian_unit_cents"),
    )
    return agg.select(
        "l_returnflag",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("units_total").cast("long").alias("units_total"),
        "wmedian_unit_cents",
    ).orderBy("l_returnflag")


QTY_WMEDIAN_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity + 1e-6) AS BIGINT) AS qty,
         CAST(floor(l_extendedprice / l_quantity * 100 + 1e-6)
              AS BIGINT) AS unit_cents
  FROM lineitem
),
hist AS (
  SELECT l_returnflag, unit_cents,
         CAST(sum(qty) AS BIGINT) AS wc,
         CAST(count(*) AS BIGINT) AS nl
  FROM li GROUP BY 1, 2
),
tot AS (
  SELECT l_returnflag AS t_flag,
         CAST(sum(wc) AS BIGINT) AS w_total,
         CAST(sum(nl) AS BIGINT) AS n_lines
  FROM hist GROUP BY 1
),
cum AS (
  SELECT h.l_returnflag, h.unit_cents, h.wc,
         CAST(sum(h.wc) OVER (PARTITION BY h.l_returnflag
              ORDER BY h.unit_cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumw,
         t.w_total, t.n_lines,
         CAST(ceil(t.w_total / 2.0) AS BIGINT) AS target
  FROM hist h JOIN tot t ON h.l_returnflag = t.t_flag
)
SELECT l_returnflag,
       CAST(max(n_lines) AS BIGINT) AS n_lines,
       CAST(max(w_total) AS BIGINT) AS units_total,
       CAST(min(CASE WHEN cumw - wc + 1 <= target AND target <= cumw
                     THEN unit_cents END) AS BIGINT) AS wmedian_unit_cents
FROM cum
GROUP BY 1
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# View-to-purchase conversion lag quantiles (R4-129): for every
# purchase preceded by a view from the same user, the seconds since
# that user's MOST RECENT view — n, mean, exact p50/p90 over the
# whole-second lag domain (cumulative-histogram rule; the state is
# bounded by distinct lag values among purchases, never by raw
# events). The product-analytics companion to the graded funnel: the
# funnel says HOW MANY convert, this says HOW FAST.
# ---------------------------------------------------------------------------


def conversion_lag_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("t_s"),
        F.col("ts").alias("ts_raw"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_raw", "event_id")
    lagged = ev.withColumn(
        "last_view_s",
        F.last(
            F.when(F.col("event_type") == "view", F.col("t_s")),
            ignorenulls=True,
        ).over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    lags = lagged.where(
        (F.col("event_type") == "purchase")
        & F.col("last_view_s").isNotNull()
    ).select((F.col("t_s") - F.col("last_view_s")).alias("lag_s"))
    hist = lags.groupBy("lag_s").agg(F.count("*").cast("long").alias("c"))
    tot = hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("lag_s") * F.col("c")).cast("long").alias("s_lag"),
    )
    cw = Window.orderBy("lag_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn(
        "cum", F.sum("c").over(cw).cast("long")
    ).crossJoin(F.broadcast(tot))
    def q_col(p):
        target = F.ceil(F.col("n") * p / 100.0).cast("long")
        return F.min(
            F.when(
                (F.col("cum") - F.col("c") + 1 <= target)
                & (target <= F.col("cum")),
                F.col("lag_s"),
            )
        )
    return cum.agg(
        F.max("n").cast("long").alias("n_conversions"),
        floor_round(
            F.max("s_lag").cast("double") / F.max("n").cast("double"), 4
        ).alias("mean_lag_s"),
        q_col(50).cast("long").alias("p50_lag_s"),
        q_col(90).cast("long").alias("p90_lag_s"),
    )


CONVERSION_LAG_SQL = """
WITH ev AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t_s, ts
  FROM events
),
lagged AS (
  SELECT event_type, t_s,
         last_value(CASE WHEN event_type = 'view' THEN t_s END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view_s
  FROM ev
),
lags AS (
  SELECT t_s - last_view_s AS lag_s
  FROM lagged
  WHERE event_type = 'purchase' AND last_view_s IS NOT NULL
),
hist AS (SELECT lag_s, CAST(count(*) AS BIGINT) AS c FROM lags GROUP BY 1),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(lag_s * c) AS BIGINT) AS s_lag
  FROM hist
),
cum AS (
  SELECT lag_s, c,
         CAST(sum(c) OVER (ORDER BY lag_s ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cum,
         t.n, t.s_lag
  FROM hist, tot t
)
SELECT CAST(max(n) AS BIGINT) AS n_conversions,
       CAST(floor(CAST(max(s_lag) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_lag_s,
       CAST(min(CASE WHEN cum - c + 1 <= CAST(ceil(n * 50 / 100.0) AS BIGINT)
                      AND CAST(ceil(n * 50 / 100.0) AS BIGINT) <= cum
                     THEN lag_s END) AS BIGINT) AS p50_lag_s,
       CAST(min(CASE WHEN cum - c + 1 <= CAST(ceil(n * 90 / 100.0) AS BIGINT)
                      AND CAST(ceil(n * 90 / 100.0) AS BIGINT) <= cum
                     THEN lag_s END) AS BIGINT) AS p90_lag_s
FROM cum
"""


# ---------------------------------------------------------------------------
# Benford SECOND-digit audit (R4-134): the forensic follow-up to the
# graded first-digit test (R4-57) — fabricated or rounded figures often
# survive the first-digit screen and fail on the second (Nigrini's
# standard two-stage audit). Expected P(d2) = sum over k=1..9 of
# log10(1 + 1/(10k + d2)) is computed once in Python and interpolated
# into BOTH engines as the same literals; observed counts are exact
# BIGINTs keyed by integer digit extraction on cents (no string
# formatting of floats), chi-square accumulates one closed-form double
# per 10-row digit output.
# ---------------------------------------------------------------------------

_BENFORD2_P = [
    sum(math.log10(1.0 + 1.0 / (10 * k + d)) for k in range(1, 10))
    for d in range(10)
]


def benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100 + 1e-6).cast("long")
    # second significant digit via integer arithmetic: reduce to
    # [10, 99] by repeated decade division, then mod 10
    mag = F.floor(F.log10(cents.cast("double"))).cast("long")
    lead2 = F.floor(
        cents.cast("double") / F.pow(F.lit(10.0), (mag - 1).cast("double"))
    ).cast("long")
    d2 = (lead2 % 10).cast("long")
    obs = (
        load(spark, sf_dir, "orders")
        .where(cents >= 10)
        .select(d2.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n_total"))
    probs = spark.createDataFrame(
        [(d, _BENFORD2_P[d]) for d in range(10)], "digit LONG, p_exp DOUBLE"
    )
    j = probs.join(obs, "digit", "left").crossJoin(F.broadcast(tot)).select(
        "digit",
        F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
        "p_exp",
        "n_total",
    )
    expected = F.col("p_exp") * F.col("n_total").cast("double")
    chi = (
        (F.col("n_obs").cast("double") - expected)
        * (F.col("n_obs").cast("double") - expected)
        / expected
    )
    return j.select(
        "digit",
        "n_obs",
        floor_round(
            F.col("n_obs").cast("double") / F.col("n_total").cast("double"),
            6,
        ).alias("p_obs"),
        floor_round(F.col("p_exp"), 6).alias("p_benford2"),
        floor_round(chi, 6).alias("chi2_term"),
    ).orderBy("digit")


_B2_LITERALS = ", ".join(
    # explicit DOUBLE cast: DuckDB types a bare decimal literal as
    # DECIMAL(18,17) and the chi-square arithmetic then overflows
    f"({d}, CAST({_BENFORD2_P[d]!r} AS DOUBLE))" for d in range(10)
)

BENFORD2_SQL = f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT) AS c
  FROM orders
  WHERE CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT) >= 10
),
obs AS (
  SELECT CAST(CAST(floor(CAST(c AS DOUBLE)
              / pow(10.0, CAST(CAST(floor(log10(CAST(c AS DOUBLE)))
                                    AS BIGINT) - 1 AS DOUBLE)))
              AS BIGINT) % 10 AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM cents GROUP BY 1
),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
probs AS (
  SELECT * FROM (VALUES {_B2_LITERALS}) AS t(digit, p_exp)
)
SELECT CAST(p.digit AS BIGINT) AS digit,
       CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
       CAST(floor(CAST(coalesce(o.n_obs, 0) AS DOUBLE)
                  / CAST(t.n_total AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS p_obs,
       CAST(floor(p.p_exp * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS p_benford2,
       CAST(floor((CAST(coalesce(o.n_obs, 0) AS DOUBLE)
                   - p.p_exp * CAST(t.n_total AS DOUBLE))
                  * (CAST(coalesce(o.n_obs, 0) AS DOUBLE)
                     - p.p_exp * CAST(t.n_total AS DOUBLE))
                  / (p.p_exp * CAST(t.n_total AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS chi2_term
FROM probs p LEFT JOIN obs o ON o.digit = p.digit, tot t
ORDER BY digit
"""


# ---------------------------------------------------------------------------
# Monthly growth accounting (R4-139): each month's revenue split into
# NEW customers (their first-ever order month) vs RETURNING — the
# standard growth-accounting decomposition behind "is growth
# acquisition or retention". First-month assignment is one hash-agg
# per customer (the cohort kernel); the split is a broadcast join back;
# exact BIGINT cents throughout; output bounded by the month calendar.
# ---------------------------------------------------------------------------


def growth_accounting_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _monthly_customer_orders(spark, sf_dir)
    first = orders.groupBy("o_custkey").agg(
        F.min("m").cast("long").alias("m0")
    )
    j = orders.join(first, "o_custkey").select(
        "m",
        "cents",
        "o_custkey",
        (F.col("m") == F.col("m0")).alias("is_new"),
    )
    agg = j.groupBy("m").agg(
        F.sum(F.when(F.col("is_new"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev_new"),
        F.sum(F.when(~F.col("is_new"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev_ret"),
        F.countDistinct(F.when(F.col("is_new"), F.col("o_custkey")))
        .cast("long")
        .alias("n_new"),
        F.countDistinct(F.when(~F.col("is_new"), F.col("o_custkey")))
        .cast("long")
        .alias("n_ret"),
    )
    share = F.col("rev_new").cast("double") / (
        F.col("rev_new") + F.col("rev_ret")
    ).cast("double")
    return agg.select(
        F.make_date(
            F.floor((F.col("m") - 1) / 12).cast("int"),
            ((F.col("m") - 1) % 12 + 1).cast("int"),
            F.lit(1),
        ).alias("month"),
        F.col("rev_new").alias("rev_new_cents"),
        F.col("rev_ret").alias("rev_returning_cents"),
        "n_new",
        F.col("n_ret").alias("n_returning"),
        floor_round(share, 6).alias("new_rev_share"),
    ).orderBy("month")


GROWTH_ACCOUNTING_SQL = """
WITH orders_m AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT) AS cents
  FROM orders
),
first AS (
  SELECT o_custkey, CAST(min(m) AS BIGINT) AS m0 FROM orders_m GROUP BY 1
),
j AS (
  SELECT o.m, o.cents, o.o_custkey, o.m = f.m0 AS is_new
  FROM orders_m o JOIN first f USING (o_custkey)
),
agg AS (
  SELECT m,
         CAST(sum(CASE WHEN is_new THEN cents ELSE 0 END) AS BIGINT)
           AS rev_new,
         CAST(sum(CASE WHEN NOT is_new THEN cents ELSE 0 END) AS BIGINT)
           AS rev_ret,
         CAST(count(DISTINCT CASE WHEN is_new THEN o_custkey END)
              AS BIGINT) AS n_new,
         CAST(count(DISTINCT CASE WHEN NOT is_new THEN o_custkey END)
              AS BIGINT) AS n_ret
  FROM j GROUP BY 1
)
SELECT make_date(CAST(floor((m - 1) / 12) AS INT),
                 CAST((m - 1) % 12 + 1 AS INT), 1) AS month,
       rev_new AS rev_new_cents,
       rev_ret AS rev_returning_cents,
       n_new, n_ret AS n_returning,
       CAST(floor(CAST(rev_new AS DOUBLE)
                  / CAST(rev_new + rev_ret AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS new_rev_share
FROM agg
ORDER BY month
"""


# ---------------------------------------------------------------------------
# Year-over-year price/volume decomposition per market segment
# (R4-140): the FP&A bridge — ΔRevenue = volume effect (Δn × p̄₀)
# + price effect (n₁ × Δp̄) + nothing else (exact two-term bridge by
# construction when the cross term is folded into the price effect).
# Average tickets are rationals from exact BIGINT sums; the bridge
# identity rev1 − rev0 = vol_effect + price_effect is asserted by the
# unit on the same floored grid both engines emit. Segment dimension
# comes from a broadcast customer join; output bounded by segments.
# ---------------------------------------------------------------------------

DECOMP_Y0 = 1997
DECOMP_Y1 = 1998


def revenue_decomposition_yoy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(DECOMP_Y0, DECOMP_Y1)
    ).select(
        "o_custkey",
        (F.year("o_orderdate") == F.lit(DECOMP_Y1)).alias("is_y1"),
        F.floor(F.col("o_totalprice") * 100 + 1e-6)
        .cast("long")
        .alias("cents"),
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = orders.join(F.broadcast(cust), "o_custkey")
    agg = j.groupBy("c_mktsegment").agg(
        F.sum(F.when(~F.col("is_y1"), 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(~F.col("is_y1"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("r0"),
        F.sum(F.when(F.col("is_y1"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("is_y1"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("r1"),
    )
    p0 = F.col("r0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("r1").cast("double") / F.col("n1").cast("double")
    vol = (F.col("n1") - F.col("n0")).cast("double") * p0
    price = F.col("n1").cast("double") * (p1 - p0)
    return agg.select(
        "c_mktsegment",
        "n0",
        "n1",
        F.col("r0").alias("rev0_cents"),
        F.col("r1").alias("rev1_cents"),
        floor_round(vol / 100.0, 2).alias("volume_effect_dollars"),
        floor_round(price / 100.0, 2).alias("price_effect_dollars"),
        floor_round(
            (F.col("r1") - F.col("r0")).cast("double") / 100.0, 2
        ).alias("delta_dollars"),
    ).orderBy("c_mktsegment")


REVENUE_DECOMP_SQL = f"""
WITH o AS (
  SELECT o_custkey,
         year(o_orderdate) = {DECOMP_Y1} AS is_y1,
         CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT) AS cents
  FROM orders
  WHERE year(o_orderdate) IN ({DECOMP_Y0}, {DECOMP_Y1})
),
agg AS (
  SELECT c.c_mktsegment,
         CAST(sum(CASE WHEN NOT is_y1 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN NOT is_y1 THEN cents ELSE 0 END) AS BIGINT)
           AS r0,
         CAST(sum(CASE WHEN is_y1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN is_y1 THEN cents ELSE 0 END) AS BIGINT) AS r1
  FROM o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
SELECT c_mktsegment, n0, n1,
       r0 AS rev0_cents, r1 AS rev1_cents,
       CAST(floor(CAST(n1 - n0 AS DOUBLE)
                  * (CAST(r0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                  / 100.0 * 100 + 1e-6) / 100 AS DOUBLE)
         AS volume_effect_dollars,
       CAST(floor(CAST(n1 AS DOUBLE)
                  * (CAST(r1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(r0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                  / 100.0 * 100 + 1e-6) / 100 AS DOUBLE)
         AS price_effect_dollars,
       CAST(floor(CAST(r1 - r0 AS DOUBLE) / 100.0 * 100 + 1e-6) / 100
            AS DOUBLE) AS delta_dollars
FROM agg
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Variance decomposition of daily revenue (R4-141): how much of the
# daily variance is TREND (the OLS line), how much WEEKDAY (the
# dow-mean model on detrended residuals), and how much residual noise
# — the capstone that ties the time-series family (theil_sen / DW /
# dow index / runs test) into three shares that sum to 1. Sequential
# decomposition (stated): SST on dollars, SS_trend = SST − SSE_ols,
# SS_dow = SSE_ols − SSE_dow (dow means fitted ON the OLS residuals),
# SS_resid = SSE_dow. Exact BIGINT moment sums; residuals quantized to
# whole dollars (the DW series rule); per-group terms floored to 1e-6
# before cross-group BIGINT sums.
# ---------------------------------------------------------------------------


def variance_decomposition_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    d0 = daily.agg(F.min("d").alias("d0"))
    base = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("d", "d0").cast("long").alias("x"),
        (
            (F.datediff("d", F.lit("1970-01-01").cast("date")) + 3) % 7
        ).cast("long").alias("dow"),
        F.floor(F.col("cents") / 100).cast("long").alias("y"),
    )
    ols = _ols_sums(
        base, F.sum(F.col("y") * F.col("y")).cast("long").alias("syy")
    )
    resid = base.crossJoin(F.broadcast(ols)).select(
        "dow",
        _ols_resid_q().cast("long").alias("eq"),
    )
    rmom = resid.agg(
        F.sum("eq").cast("long").alias("se"),
        F.sum(F.col("eq") * F.col("eq")).cast("long").alias("see"),
    )
    gdow = resid.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("eq").cast("long").alias("s_g"),
        F.sum(F.col("eq") * F.col("eq")).cast("long").alias("ss_g"),
    )
    # within-dow SSE terms floored to a 1e-2 grid before the BIGINT
    # sum — SSE is in squared DOLLARS (up to ~1e17 at sf1), so a 1e-6
    # grid would overflow BIGINT; 1e-2 keeps 1e-15 relative precision
    wq = F.floor(
        (
            F.col("ss_g").cast("double")
            - F.col("s_g").cast("double")
              * F.col("s_g").cast("double")
              / F.col("n_g").cast("double")
        )
        * 100
        + 1e-6
    ).cast("long")
    dow_sse = gdow.agg(F.sum(wq).cast("long").alias("sse_dow_q"))
    out = ols.crossJoin(F.broadcast(rmom)).crossJoin(F.broadcast(dow_sse))
    sst = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double")
          * F.col("sy").cast("double")
          / F.col("n").cast("double")
    )
    sse_ols = (
        F.col("see").cast("double")
        - F.col("se").cast("double")
          * F.col("se").cast("double")
          / F.col("n").cast("double")
    )
    sse_dow = F.col("sse_dow_q").cast("double") / 100.0
    return out.select(
        F.col("n").alias("n_days"),
        floor_round((sst - sse_ols) / sst, 6).alias("share_trend"),
        floor_round((sse_ols - sse_dow) / sst, 6).alias("share_dow"),
        floor_round(sse_dow / sst, 6).alias("share_residual"),
    )


VARIANCE_DECOMP_SQL = f"""
WITH daily0 AS ({_DAILY_XY}),
base AS (
  SELECT x,
         CAST((x + date_diff('day', DATE '1970-01-01',
                             (SELECT min(CAST(o_orderdate AS DATE))
                              FROM orders)) + 3) % 7 AS BIGINT) AS dow,
         CAST(floor(cents / 100) AS BIGINT) AS y
  FROM daily0
),
ols AS (
  SELECT {_OLS_SUMS_SQL},
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM base
),
coef AS (
  SELECT n, sx, sy, syy,
{_OLS_COEF_SQL}
resid AS (
  SELECT d.dow,
         CAST(floor(CAST(d.y AS DOUBLE)
                    - (c.a + c.b * CAST(d.x AS DOUBLE)) + 1e-6)
              AS BIGINT) AS eq
  FROM base d, coef c
),
rmom AS (
  SELECT CAST(sum(eq) AS BIGINT) AS se,
         CAST(sum(eq * eq) AS BIGINT) AS see
  FROM resid
),
gdow AS (
  SELECT dow,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(eq) AS BIGINT) AS s_g,
         CAST(sum(eq * eq) AS BIGINT) AS ss_g
  FROM resid GROUP BY 1
),
dow_sse AS (
  SELECT CAST(sum(CAST(floor((CAST(ss_g AS DOUBLE)
                              - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                                / CAST(n_g AS DOUBLE))
                             * 100 + 1e-6) AS BIGINT)) AS BIGINT)
           AS sse_dow_q
  FROM gdow
)
SELECT o.n AS n_days,
       CAST(floor(((CAST(o.syy AS DOUBLE)
                    - CAST(o.sy AS DOUBLE) * CAST(o.sy AS DOUBLE)
                      / CAST(o.n AS DOUBLE))
                   - (CAST(r.see AS DOUBLE)
                      - CAST(r.se AS DOUBLE) * CAST(r.se AS DOUBLE)
                        / CAST(o.n AS DOUBLE)))
                  / (CAST(o.syy AS DOUBLE)
                     - CAST(o.sy AS DOUBLE) * CAST(o.sy AS DOUBLE)
                       / CAST(o.n AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS share_trend,
       CAST(floor(((CAST(r.see AS DOUBLE)
                    - CAST(r.se AS DOUBLE) * CAST(r.se AS DOUBLE)
                      / CAST(o.n AS DOUBLE))
                   - CAST(d.sse_dow_q AS DOUBLE) / 100.0)
                  / (CAST(o.syy AS DOUBLE)
                     - CAST(o.sy AS DOUBLE) * CAST(o.sy AS DOUBLE)
                       / CAST(o.n AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS share_dow,
       CAST(floor((CAST(d.sse_dow_q AS DOUBLE) / 100.0)
                  / (CAST(o.syy AS DOUBLE)
                     - CAST(o.sy AS DOUBLE) * CAST(o.sy AS DOUBLE)
                       / CAST(o.n AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS share_residual
FROM ols o, rmom r, dow_sse d
"""


# ---------------------------------------------------------------------------
# Hourly load profile (R4-142): the hour-of-day × weekday event-count
# heatmap plus each weekday's peak hour — the capacity read behind
# executor autoscaling / ingestion windows. Weekday from the
# engine-shared epoch arithmetic, hour from the UTC timestamp; peak
# per weekday picked on exact counts with an hour tiebreak. One
# hash-agg to a 7×24 grid.
# ---------------------------------------------------------------------------


def hourly_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts = F.col("ts").cast("timestamp")
    t_s = ts.cast("long")
    day = F.floor(t_s / 86400).cast("long")
    ev = load(spark, sf_dir, "events").select(
        ((day + 3) % 7).cast("long").alias("dow"),
        F.floor((t_s - day * 86400) / 3600).cast("long").alias("hour"),
    )
    grid = ev.groupBy("dow", "hour").agg(
        F.count("*").cast("long").alias("n_events")
    )
    tot = grid.groupBy(F.col("dow").alias("t_dow")).agg(
        F.sum("n_events").cast("long").alias("day_total"),
        F.max(
            F.col("n_events") * 100 - F.col("hour")
        ).cast("long").alias("peak_key"),
    )
    j = grid.join(F.broadcast(tot), F.col("dow") == F.col("t_dow"))
    return j.select(
        "dow",
        "hour",
        "n_events",
        floor_round(
            F.col("n_events").cast("double")
            / F.col("day_total").cast("double"),
            6,
        ).alias("share_of_day"),
        (
            F.col("n_events") * 100 - F.col("hour") == F.col("peak_key")
        ).alias("is_peak_hour"),
    ).orderBy("dow", "hour")


HOURLY_LOAD_SQL = """
WITH ev AS (
  SELECT CAST((CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) + 3) % 7
              AS BIGINT) AS dow,
         CAST(floor((floor(epoch(ts))
                     - CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)
                       * 86400) / 3600) AS BIGINT) AS hour
  FROM events
),
grid AS (
  SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_events
  FROM ev GROUP BY 1, 2
),
tot AS (
  SELECT dow AS t_dow,
         CAST(sum(n_events) AS BIGINT) AS day_total,
         CAST(max(n_events * 100 - hour) AS BIGINT) AS peak_key
  FROM grid GROUP BY 1
)
SELECT g.dow, g.hour, g.n_events,
       CAST(floor(CAST(g.n_events AS DOUBLE) / CAST(t.day_total AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS share_of_day,
       g.n_events * 100 - g.hour = t.peak_key AS is_peak_hour
FROM grid g JOIN tot t ON g.dow = t.t_dow
ORDER BY dow, hour
"""


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test on month-over-month revenue deltas
# (R4-144): the nonparametric paired test — "does revenue shift
# month-to-month beyond noise" without the normality the t-test
# assumes; the paired companion to the two-sample Mann-Whitney already
# graded. Zero deltas drop (Wilcoxon convention), ties in |delta| get
# AVERAGE ranks computed exactly as rationals scaled by 2 (rank2 =
# 2*avg_rank is always an integer), so W+ and the z numerator are
# exact BIGINTs; the normal approximation is one closed form.
# Everything runs on the bounded month table.
# ---------------------------------------------------------------------------


def wilcoxon_monthly_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    monthly = load(spark, sf_dir, "orders").groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("m")
    ).agg(
        _cents_sum("cents")
    )
    w = Window.orderBy("m")
    deltas = monthly.select(
        "m", (F.col("cents") - F.lag("cents", 1).over(w)).alias("delta")
    ).where(F.col("delta").isNotNull() & (F.col("delta") != 0))
    ranked = deltas.select(
        "delta",
        F.abs(F.col("delta")).alias("ad"),
    )
    # average rank of |delta| as an exact 2x-scaled integer:
    # 2*avg_rank = (first_rank + last_rank) within the tie group
    rw = Window.orderBy("ad")
    r2 = ranked.withColumn("rn", F.row_number().over(rw)).withColumn(
        "rank2",
        (
            F.min("rn").over(Window.partitionBy("ad"))
            + F.max("rn").over(Window.partitionBy("ad"))
        ).cast("long"),
    )
    agg = r2.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("delta") > 0, F.col("rank2")).otherwise(0)
        )
        .cast("long")
        .alias("w_plus2"),
    )
    n = F.col("n_pairs").cast("double")
    mu = n * (n + 1.0) / 4.0
    sigma = F.sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0)
    w_plus = F.col("w_plus2").cast("double") / 2.0
    return agg.select(
        "n_pairs",
        floor_round(w_plus, 1).alias("w_plus"),
        floor_round(mu, 1).alias("w_expected"),
        floor_round((w_plus - mu) / sigma, 4).alias("z_wilcoxon"),
    )


WILCOXON_SQL = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
deltas AS (
  SELECT delta FROM (
    SELECT cents - lag(cents, 1) OVER (ORDER BY m) AS delta FROM monthly
  ) WHERE delta IS NOT NULL AND delta != 0
),
ranked AS (
  SELECT delta, abs(delta) AS ad,
         row_number() OVER (ORDER BY abs(delta)) AS rn
  FROM deltas
),
r2 AS (
  SELECT delta,
         CAST(min(rn) OVER (PARTITION BY ad)
              + max(rn) OVER (PARTITION BY ad) AS BIGINT) AS rank2
  FROM ranked
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN delta > 0 THEN rank2 ELSE 0 END) AS BIGINT)
           AS w_plus2
  FROM r2
)
SELECT n_pairs,
       CAST(floor(CAST(w_plus2 AS DOUBLE) / 2.0 * 10 + 1e-6) / 10
            AS DOUBLE) AS w_plus,
       CAST(floor(CAST(n_pairs AS DOUBLE)
                  * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0 * 10 + 1e-6)
            / 10 AS DOUBLE) AS w_expected,
       CAST(floor((CAST(w_plus2 AS DOUBLE) / 2.0
                   - CAST(n_pairs AS DOUBLE)
                     * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0)
                  / sqrt(CAST(n_pairs AS DOUBLE)
                         * (CAST(n_pairs AS DOUBLE) + 1.0)
                         * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS z_wilcoxon
FROM agg
"""


# ---------------------------------------------------------------------------
# Per-segment revenue trend with t-statistics (R4-145): the grouped
# OLS — each market segment's daily-revenue slope, its standard error
# and t — "which segments are actually growing, with significance",
# the per-dimension version of the global theil_sen/OLS pair. All
# normal-equation sums exact BIGINT per segment; slope/SE/t closed
# forms; residual SS via the exact-sum identity SSE = Syy − b·Sxy′
# (computed in doubles from the integers, one row per segment).
# ---------------------------------------------------------------------------


def _segment_daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(c_mktsegment, day d) revenue in exact integer cents."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy(
            "c_mktsegment",
            F.date_trunc("day", F.col("o_orderdate"))
            .cast("date")
            .alias("d"),
        )
        .agg(
            _cents_sum("cents")
        )
    )


def segment_trend_tstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _segment_daily_cents(spark, sf_dir)
    d0 = daily.agg(F.min("d").alias("d0"))
    xy = daily.crossJoin(F.broadcast(d0)).select(
        "c_mktsegment",
        F.datediff("d", "d0").cast("long").alias("x"),
        F.floor(F.col("cents") / 100).cast("long").alias("y"),
    )
    g = _ols_sums(
        xy.groupBy("c_mktsegment"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n").cast("double")
    sxx_c = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / n
    sxy_c = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / n
    syy_c = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double") / n
    b = sxy_c / sxx_c
    sse = syy_c - b * sxy_c
    se = F.sqrt(sse / (n - 2.0) / sxx_c)
    return g.select(
        "c_mktsegment",
        F.col("n").alias("n_days"),
        floor_round(b, 4).alias("slope_dollars_per_day"),
        floor_round(se, 4).alias("slope_se"),
        floor_round(b / se, 4).alias("t_stat"),
    ).orderBy("c_mktsegment")


# the segment-trend and podium oracles' per-(segment, day) revenue
_SEGMENT_DAILY_SQL = """
WITH daily AS (
  SELECT c.c_mktsegment,
         CAST(date_trunc('day', o.o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o.o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),"""

# squared standard error of the per-segment slope, (Syy′ − b·Sxy′) /
# (n − 2) / Sxx′ — under slope_se's sqrt and t_stat's denominator
_SEG_TREND_SE2_SQL = """((CAST(syy AS DOUBLE)
   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
     / CAST(n AS DOUBLE))
  - ((CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        / CAST(n AS DOUBLE))
     / (CAST(sxx AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
          / CAST(n AS DOUBLE)))
    * (CAST(sxy AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
         / CAST(n AS DOUBLE)))
 / (CAST(n AS DOUBLE) - 2.0)
 / (CAST(sxx AS DOUBLE)
    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      / CAST(n AS DOUBLE))"""

SEGMENT_TREND_SQL = f"""
{_SEGMENT_DAILY_SQL}
xy AS (
  SELECT c_mktsegment,
         CAST(date_diff('day', (SELECT min(d) FROM daily), d) AS BIGINT)
           AS x,
         CAST(floor(cents / 100) AS BIGINT) AS y
  FROM daily
),
g AS (
  SELECT c_mktsegment,
         {_OLS_SUMS_SQL},
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM xy GROUP BY 1
)
SELECT c_mktsegment, n AS n_days,
       CAST(floor((CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                     / CAST(n AS DOUBLE))
                  / (CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                       / CAST(n AS DOUBLE))
                  * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS slope_dollars_per_day,
       CAST(floor(sqrt({_SEG_TREND_SE2_SQL})
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS slope_se,
       CAST(floor(((CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   / (CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                        / CAST(n AS DOUBLE)))
                  / sqrt({_SEG_TREND_SE2_SQL})
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS t_stat
FROM g
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Maximum drawdown of cumulative revenue deviation (R4-146): treat the
# running sum of (daily revenue − overall mean) as an equity curve and
# find its deepest peak-to-trough fall with dates — the "worst losing
# streak" read that CUSUM's single change point does not give. Running
# sum and running max are windows over the bounded daily table; all
# values exact BIGINT dollars; the argmax row is picked on exact
# integers with a date tiebreak.
# ---------------------------------------------------------------------------


def revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    # deviation scaled by n so it stays integral: dev = n*cents - s
    base = daily.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("n") * F.col("cents") - F.col("s")).alias("dev")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = base.select(
        "d", F.sum("dev").over(w).cast("long").alias("equity")
    )
    curve = curve.select(
        "d",
        "equity",
        F.max("equity")
        .over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long")
        .alias("peak"),
    )
    dd = curve.select(
        "d", "equity", "peak", (F.col("peak") - F.col("equity")).alias("draw")
    )
    worst = dd.orderBy(F.desc("draw"), F.asc("d")).limit(1)
    return worst.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("trough_day"),
        floor_round(
            F.col("draw").cast("double") / F.col("n").cast("double") / 100.0,
            2,
        ).alias("max_drawdown_dollars"),
        floor_round(
            F.col("peak").cast("double") / F.col("n").cast("double") / 100.0,
            2,
        ).alias("peak_equity_dollars"),
    )


DRAWDOWN_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM daily
),
base AS (
  SELECT d, t.n, t.n * cents - t.s AS dev FROM daily, tot t
),
curve AS (
  SELECT d, n,
         CAST(sum(dev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS equity
  FROM base
),
dd AS (
  SELECT d, n, equity,
         CAST(max(equity) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
  FROM curve
)
SELECT d AS trough_day,
       CAST(floor(CAST(peak - equity AS DOUBLE) / CAST(n AS DOUBLE)
                  / 100.0 * 100 + 1e-6) / 100 AS DOUBLE)
         AS max_drawdown_dollars,
       CAST(floor(CAST(peak AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                  * 100 + 1e-6) / 100 AS DOUBLE) AS peak_equity_dollars
FROM dd
ORDER BY peak - equity DESC, d ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# Transition dwell-time profile (R4-147): for each ordered event-type
# pair (a -> b) in a user's stream, how long the step takes — n, mean
# and exact p90 of the whole-second gap. The timing companion of the
# Markov check (R4-116): P says WHERE streams go, this says HOW FAST —
# the pair-level read behind funnel timeout and session-gap settings.
# One lag window over the stream collapses to per-(pair, gap)
# histograms; quantiles ride the cumulative-histogram rule over the
# bounded gap domain per pair.
# ---------------------------------------------------------------------------


def transition_dwell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_s = F.col("ts").cast("timestamp").cast("long")
    seq = ev.select(
        F.lag("event_type", 1).over(w).alias("a"),
        F.col("event_type").alias("b"),
        (t_s - F.lag(t_s, 1).over(w)).alias("gap_s"),
    ).where(F.col("a").isNotNull())
    hist = seq.groupBy("a", "b", "gap_s").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = hist.groupBy(
        F.col("a").alias("t_a"), F.col("b").alias("t_b")
    ).agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("gap_s") * F.col("c")).cast("long").alias("s_gap"),
    )
    cw = (
        Window.partitionBy("a", "b")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(cw).cast("long")).join(
        F.broadcast(tot),
        (F.col("a") == F.col("t_a")) & (F.col("b") == F.col("t_b")),
    )
    target = F.ceil(F.col("n") * 90 / 100.0).cast("long")
    agg = cum.groupBy("a", "b").agg(
        F.max("n").alias("n_transitions"),
        F.max("s_gap").alias("s_gap"),
        F.min(
            F.when(
                (F.col("cum") - F.col("c") + 1 <= target)
                & (target <= F.col("cum")),
                F.col("gap_s"),
            )
        )
        .cast("long")
        .alias("p90_gap_s"),
    )
    return agg.select(
        F.col("a").alias("from_type"),
        F.col("b").alias("to_type"),
        F.col("n_transitions").cast("long").alias("n_transitions"),
        floor_round(
            F.col("s_gap").cast("double")
            / F.col("n_transitions").cast("double"),
            4,
        ).alias("mean_gap_s"),
        "p90_gap_s",
    ).orderBy("from_type", "to_type")


TRANSITION_DWELL_SQL = """
WITH seq AS (
  SELECT lag(event_type, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS a,
         event_type AS b,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
),
hist AS (
  SELECT a, b, gap_s, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE a IS NOT NULL GROUP BY 1, 2, 3
),
tot AS (
  SELECT a AS t_a, b AS t_b,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(gap_s * c) AS BIGINT) AS s_gap
  FROM hist GROUP BY 1, 2
),
cum AS (
  SELECT h.a, h.b, h.gap_s, h.c,
         CAST(sum(h.c) OVER (PARTITION BY h.a, h.b ORDER BY h.gap_s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         t.n, t.s_gap,
         CAST(ceil(t.n * 90 / 100.0) AS BIGINT) AS target
  FROM hist h JOIN tot t ON h.a = t.t_a AND h.b = t.t_b
)
SELECT a AS from_type, b AS to_type,
       CAST(max(n) AS BIGINT) AS n_transitions,
       CAST(floor(CAST(max(s_gap) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_gap_s,
       CAST(min(CASE WHEN cum - c + 1 <= target AND target <= cum
                     THEN gap_s END) AS BIGINT) AS p90_gap_s
FROM cum
GROUP BY 1, 2
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# Customer order-regularity profile (R4-148): per customer with
# >= REG_MIN_ORDERS orders, the CV of inter-order gaps classifies
# subscription-like (CV < 0.5), steady (< 1) and sporadic buyers —
# summarized as a bounded class histogram plus the exact median CV on
# a 1e-4 grid. Gaps in whole days (exact BIGINT); per-customer CV is
# one closed-form double floored onto the grid; the median rides the
# cumulative-histogram rule over the bounded CV-grid domain.
# ---------------------------------------------------------------------------

REG_MIN_ORDERS = 5


def customer_order_regularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    gaps = orders.select(
        "o_custkey",
        F.datediff("d", F.lag("d", 1).over(w)).cast("long").alias("g"),
    ).where(F.col("g").isNotNull())
    per = gaps.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("ss"),
    ).where(
        (F.col("n_g") >= REG_MIN_ORDERS - 1) & (F.col("s") > 0)
    )
    mu = F.col("s").cast("double") / F.col("n_g").cast("double")
    cv_q = F.floor(
        F.sqrt(
            F.col("ss").cast("double") / F.col("n_g").cast("double")
            - mu * mu
        )
        / mu
        * 10000
        + 1e-6
    ).cast("long")
    scored = per.select(cv_q.alias("cvq"))
    hist = scored.groupBy("cvq").agg(F.count("*").cast("long").alias("c"))
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    cw = Window.orderBy("cvq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lo = F.floor((F.col("n") + 1) / 2).cast("long")
    med = (
        hist.withColumn("cum", F.sum("c").over(cw).cast("long"))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n_customers"),
            F.min(
                F.when(
                    (F.col("cum") - F.col("c") + 1 <= lo)
                    & (lo <= F.col("cum")),
                    F.col("cvq"),
                )
            ).alias("med_cvq"),
        )
    )
    classes = scored.agg(
        F.sum(F.when(F.col("cvq") < 5000, 1).otherwise(0))
        .cast("long")
        .alias("n_subscription"),
        F.sum(
            F.when((F.col("cvq") >= 5000) & (F.col("cvq") < 10000), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_steady"),
        F.sum(F.when(F.col("cvq") >= 10000, 1).otherwise(0))
        .cast("long")
        .alias("n_sporadic"),
    )
    return med.crossJoin(F.broadcast(classes)).select(
        F.col("n_customers").cast("long").alias("n_customers"),
        (F.col("med_cvq").cast("double") / 10000).alias("median_cv"),
        "n_subscription",
        "n_steady",
        "n_sporadic",
    )


CUSTOMER_REGULARITY_SQL = f"""
WITH gaps AS (
  SELECT o_custkey,
         CAST(date_diff('day',
              lag(CAST(date_trunc('day', o_orderdate) AS DATE), 1)
                OVER (PARTITION BY o_custkey
                      ORDER BY CAST(date_trunc('day', o_orderdate) AS DATE)),
              CAST(date_trunc('day', o_orderdate) AS DATE)) AS BIGINT) AS g
  FROM orders
),
per AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(g) AS BIGINT) AS s,
         CAST(sum(g * g) AS BIGINT) AS ss
  FROM gaps WHERE g IS NOT NULL GROUP BY 1
  HAVING count(*) >= {REG_MIN_ORDERS - 1} AND sum(g) > 0
),
scored AS (
  SELECT CAST(floor(sqrt(CAST(ss AS DOUBLE) / CAST(n_g AS DOUBLE)
                         - (CAST(s AS DOUBLE) / CAST(n_g AS DOUBLE))
                           * (CAST(s AS DOUBLE) / CAST(n_g AS DOUBLE)))
                    / (CAST(s AS DOUBLE) / CAST(n_g AS DOUBLE))
                    * 10000 + 1e-6) AS BIGINT) AS cvq
  FROM per
),
hist AS (SELECT cvq, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
cum AS (
  SELECT cvq, c,
         CAST(sum(c) OVER (ORDER BY cvq ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cum,
         t.n, CAST(floor((t.n + 1) / 2.0) AS BIGINT) AS lo
  FROM hist, tot t
),
med AS (
  SELECT max(n) AS n_customers,
         min(CASE WHEN cum - c + 1 <= lo AND lo <= cum THEN cvq END)
           AS med_cvq
  FROM cum
),
classes AS (
  SELECT CAST(sum(CASE WHEN cvq < 5000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_subscription,
         CAST(sum(CASE WHEN cvq >= 5000 AND cvq < 10000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_steady,
         CAST(sum(CASE WHEN cvq >= 10000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sporadic
  FROM scored
)
SELECT CAST(m.n_customers AS BIGINT) AS n_customers,
       CAST(m.med_cvq AS DOUBLE) / 10000 AS median_cv,
       c.n_subscription, c.n_steady, c.n_sporadic
FROM med m, classes c
"""


# ---------------------------------------------------------------------------
# Seasonal-naive backtest (R4-154): predict each of the last
# BACKTEST_DAYS days as the MEAN of the same weekday's revenue over
# the previous BACKTEST_LOOKBACK weeks, then score MAPE and bias —
# the honest baseline every fancier forecaster must beat, and the
# shape of a rolling backtest (per-day prediction joins only its own
# lookback window via calendar arithmetic, no model state). Exact
# BIGINT cents; per-day APE floored to 1e-8 then BIGINT-summed.
# ---------------------------------------------------------------------------

BACKTEST_DAYS = 28
BACKTEST_LOOKBACK = 4


def seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    dmax = daily.agg(F.max("d").alias("dmax"))
    base = daily.crossJoin(F.broadcast(dmax)).select(
        "d", "cents", F.datediff("dmax", "d").cast("long").alias("back")
    )
    target = base.where(F.col("back") < BACKTEST_DAYS).select(
        F.col("d").alias("td"), F.col("cents").alias("actual")
    )
    lags = spark.range(1, BACKTEST_LOOKBACK + 1).select(
        (F.col("id") * 7).cast("int").alias("wk")
    )
    cand = target.crossJoin(F.broadcast(lags)).select(
        "td", "actual", F.date_sub(F.col("td"), F.col("wk")).alias("ld")
    )
    hist = daily.select(F.col("d").alias("ld"), F.col("cents").alias("hc"))
    pred = (
        cand.join(hist, "ld", "left")
        .groupBy("td", "actual")
        .agg(
            F.count("hc").cast("long").alias("n_lookback"),
            F.sum("hc").cast("long").alias("s_hc"),
        )
        .where(F.col("n_lookback") > 0)
    )
    fc = F.col("s_hc").cast("double") / F.col("n_lookback").cast("double")
    ape_q = F.floor(
        F.abs(F.col("actual").cast("double") - fc)
        / F.col("actual").cast("double")
        * 100000000
        + 1e-6
    ).cast("long")
    err_q = F.floor(
        (fc - F.col("actual").cast("double"))
        / F.col("actual").cast("double")
        * 100000000
        + 1e-6
    ).cast("long")
    scored = pred.select("td", ape_q.alias("ape_q"), err_q.alias("err_q"))
    agg = scored.agg(
        F.count("*").cast("long").alias("n_days_scored"),
        F.sum("ape_q").cast("long").alias("s_ape"),
        F.sum("err_q").cast("long").alias("s_err"),
    )
    return agg.select(
        "n_days_scored",
        floor_round(
            F.col("s_ape").cast("double")
            / 1.0e8
            / F.col("n_days_scored").cast("double"),
            6,
        ).alias("mape"),
        floor_round(
            F.col("s_err").cast("double")
            / 1.0e8
            / F.col("n_days_scored").cast("double"),
            6,
        ).alias("mean_bias"),
    )


SEASONAL_BACKTEST_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
dmax AS (SELECT max(d) AS dmax FROM daily),
target AS (
  SELECT d AS td, cents AS actual
  FROM daily, dmax
  WHERE date_diff('day', d, dmax) < {BACKTEST_DAYS}
),
lags AS (SELECT unnest(generate_series(1, {BACKTEST_LOOKBACK})) * 7 AS wk),
cand AS (
  SELECT t.td, t.actual, t.td - CAST(l.wk AS INT) AS ld
  FROM target t CROSS JOIN lags l
),
pred AS (
  SELECT c.td, c.actual,
         CAST(count(h.cents) AS BIGINT) AS n_lookback,
         CAST(sum(h.cents) AS BIGINT) AS s_hc
  FROM cand c LEFT JOIN daily h ON h.d = c.ld
  GROUP BY 1, 2
  HAVING count(h.cents) > 0
),
scored AS (
  SELECT td,
         CAST(floor(abs(CAST(actual AS DOUBLE)
                        - CAST(s_hc AS DOUBLE)
                          / CAST(n_lookback AS DOUBLE))
                    / CAST(actual AS DOUBLE)
                    * 100000000 + 1e-6) AS BIGINT) AS ape_q,
         CAST(floor((CAST(s_hc AS DOUBLE) / CAST(n_lookback AS DOUBLE)
                     - CAST(actual AS DOUBLE))
                    / CAST(actual AS DOUBLE)
                    * 100000000 + 1e-6) AS BIGINT) AS err_q
  FROM pred
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days_scored,
         CAST(sum(ape_q) AS BIGINT) AS s_ape,
         CAST(sum(err_q) AS BIGINT) AS s_err
  FROM scored
)
SELECT n_days_scored,
       CAST(floor(CAST(s_ape AS DOUBLE) / 1e8
                  / CAST(n_days_scored AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS mape,
       CAST(floor(CAST(s_err AS DOUBLE) / 1e8
                  / CAST(n_days_scored AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS mean_bias
FROM agg
"""


# ---------------------------------------------------------------------------
# Nation revenue growth (R4-155): the star-join growth table — revenue
# per customer nation for the first and last full year in the span,
# with CAGR between them. Exercises the customer→nation→region star
# with broadcast dims (the TPC-H join shape) and closes with one
# closed-form growth rate per bounded nation row. Exact BIGINT cents;
# CAGR = (rev1/rev0)^(1/years) − 1 as one double per row.
# ---------------------------------------------------------------------------


def nation_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.floor(F.col("o_totalprice") * 100 + 1e-6)
        .cast("long")
        .alias("cents"),
    )
    span = orders.agg(
        F.min("yr").alias("y0"), F.max("yr").alias("y1")
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
        "n_regionkey",
    )
    region = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"),
        F.col("r_name").alias("region"),
    )
    j = (
        orders.crossJoin(F.broadcast(span))
        .where((F.col("yr") == F.col("y0")) | (F.col("yr") == F.col("y1")))
        .join(F.broadcast(cust), "o_custkey")
        .join(F.broadcast(nation), "c_nationkey")
        .join(F.broadcast(region), "n_regionkey")
    )
    agg = j.groupBy("region", "nation").agg(
        F.max("y0").alias("y0"),
        F.max("y1").alias("y1"),
        F.sum(F.when(F.col("yr") == F.col("y0"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev0"),
        F.sum(F.when(F.col("yr") == F.col("y1"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev1"),
    ).where((F.col("rev0") > 0) & (F.col("rev1") > 0))
    years = (F.col("y1") - F.col("y0")).cast("double")
    cagr = (
        F.pow(
            F.col("rev1").cast("double") / F.col("rev0").cast("double"),
            F.lit(1.0) / years,
        )
        - 1.0
    )
    return agg.select(
        "region",
        "nation",
        F.col("rev0").alias("rev_first_cents"),
        F.col("rev1").alias("rev_last_cents"),
        (F.col("y1") - F.col("y0")).cast("long").alias("n_years"),
        floor_round(cagr, 6).alias("cagr"),
    ).orderBy("region", "nation")


NATION_GROWTH_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT) AS cents
  FROM orders
),
span AS (SELECT min(yr) AS y0, max(yr) AS y1 FROM o),
agg AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         max(s.y0) AS y0, max(s.y1) AS y1,
         CAST(sum(CASE WHEN o.yr = s.y0 THEN o.cents ELSE 0 END)
              AS BIGINT) AS rev0,
         CAST(sum(CASE WHEN o.yr = s.y1 THEN o.cents ELSE 0 END)
              AS BIGINT) AS rev1
  FROM o, span s
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE o.yr = s.y0 OR o.yr = s.y1
  GROUP BY 1, 2
  HAVING sum(CASE WHEN o.yr = s.y0 THEN o.cents ELSE 0 END) > 0
     AND sum(CASE WHEN o.yr = s.y1 THEN o.cents ELSE 0 END) > 0
)
SELECT region, nation,
       rev0 AS rev_first_cents, rev1 AS rev_last_cents,
       CAST(y1 - y0 AS BIGINT) AS n_years,
       CAST(floor((pow(CAST(rev1 AS DOUBLE) / CAST(rev0 AS DOUBLE),
                       1.0 / CAST(y1 - y0 AS DOUBLE)) - 1.0)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS cagr
FROM agg
ORDER BY region, nation
"""


# ---------------------------------------------------------------------------
# Weekday revenue box table (R4-156): exact p25/p50/p75 of daily
# revenue per weekday — the SPREAD companion to the dow seasonal
# index (R4-113 gives the level, this gives the box). Grouped
# cumulative-histogram quantiles over the bounded (weekday, dollars)
# domain; IQR closes the row.
# ---------------------------------------------------------------------------


def weekday_revenue_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir).select(
        (
            (F.datediff("d", F.lit("1970-01-01").cast("date")) + 3) % 7
        ).cast("long").alias("dow"),
        F.floor(F.col("cents") / 100).cast("long").alias("y"),
    )
    hist = daily.groupBy("dow", "y").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = hist.groupBy(F.col("dow").alias("t_dow")).agg(
        F.sum("c").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("dow")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w).cast("long")).join(
        F.broadcast(tot), F.col("dow") == F.col("t_dow")
    )
    def q_col(p):
        target = F.ceil(F.col("n") * p / 100.0).cast("long")
        return F.min(
            F.when(
                (F.col("cum") - F.col("c") + 1 <= target)
                & (target <= F.col("cum")),
                F.col("y"),
            )
        ).cast("long")
    agg = cum.groupBy("dow").agg(
        F.max("n").alias("n_days"),
        q_col(25).alias("p25_dollars"),
        q_col(50).alias("p50_dollars"),
        q_col(75).alias("p75_dollars"),
    )
    return agg.select(
        "dow",
        F.col("n_days").cast("long").alias("n_days"),
        "p25_dollars",
        "p50_dollars",
        "p75_dollars",
        (F.col("p75_dollars") - F.col("p25_dollars"))
        .cast("long")
        .alias("iqr_dollars"),
    ).orderBy("dow")


WEEKDAY_BOX_SQL = """
WITH daily AS (
  SELECT CAST((date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', o_orderdate) AS DATE)) + 3)
              % 7 AS BIGINT) AS dow,
         CAST(floor(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
                    / 100) AS BIGINT) AS y
  FROM orders GROUP BY CAST(date_trunc('day', o_orderdate) AS DATE),
                       1
),
hist AS (
  SELECT dow, y, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY 1, 2
),
tot AS (
  SELECT dow AS t_dow, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1
),
cum AS (
  SELECT h.dow, h.y, h.c,
         CAST(sum(h.c) OVER (PARTITION BY h.dow ORDER BY h.y
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         t.n
  FROM hist h JOIN tot t ON h.dow = t.t_dow
)
SELECT dow,
       CAST(max(n) AS BIGINT) AS n_days,
       CAST(min(CASE WHEN cum - c + 1 <= CAST(ceil(n * 25 / 100.0) AS BIGINT)
                      AND CAST(ceil(n * 25 / 100.0) AS BIGINT) <= cum
                     THEN y END) AS BIGINT) AS p25_dollars,
       CAST(min(CASE WHEN cum - c + 1 <= CAST(ceil(n * 50 / 100.0) AS BIGINT)
                      AND CAST(ceil(n * 50 / 100.0) AS BIGINT) <= cum
                     THEN y END) AS BIGINT) AS p50_dollars,
       CAST(min(CASE WHEN cum - c + 1 <= CAST(ceil(n * 75 / 100.0) AS BIGINT)
                      AND CAST(ceil(n * 75 / 100.0) AS BIGINT) <= cum
                     THEN y END) AS BIGINT) AS p75_dollars,
       CAST(min(CASE WHEN cum - c + 1 <= CAST(ceil(n * 75 / 100.0) AS BIGINT)
                      AND CAST(ceil(n * 75 / 100.0) AS BIGINT) <= cum
                     THEN y END)
            - min(CASE WHEN cum - c + 1
                            <= CAST(ceil(n * 25 / 100.0) AS BIGINT)
                        AND CAST(ceil(n * 25 / 100.0) AS BIGINT) <= cum
                       THEN y END) AS BIGINT) AS iqr_dollars
FROM cum
GROUP BY 1
ORDER BY dow
"""


# ---------------------------------------------------------------------------
# Weekday-uniformity chi-square (R4-160): goodness-of-fit of ORDER
# COUNTS against the uniform weekday model — the formal test behind
# the dow seasonal index (an index of 1.02 may be noise; chi2 says
# so). Expected counts are exact rationals N/7 handled by scaling the
# statistic: chi2 = (7 * sum(c_d^2) - N^2) / N exactly from BIGINTs,
# one closed-form double at the end. Bounded 7-row intermediate.
# ---------------------------------------------------------------------------


def weekday_uniformity_chi2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    per = load(spark, sf_dir, "orders").select(
        (
            (
                F.datediff(
                    F.date_trunc("day", F.col("o_orderdate")).cast("date"),
                    F.lit("1970-01-01").cast("date"),
                )
                + 3
            )
            % 7
        ).cast("long").alias("dow")
    ).groupBy("dow").agg(F.count("*").cast("long").alias("c"))
    agg = per.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("cc"),
        F.max("c").cast("long").alias("c_max"),
        F.min("c").cast("long").alias("c_min"),
    )
    chi2 = (
        F.lit(7.0) * F.col("cc").cast("double")
        - F.col("n").cast("double") * F.col("n").cast("double")
    ) / F.col("n").cast("double")
    return agg.select(
        F.col("k").alias("k_weekdays"),
        F.col("n").alias("n_orders"),
        "c_max",
        "c_min",
        floor_round(chi2, 4).alias("chi2_uniform"),
        floor_round(
            F.col("c_max").cast("double") / F.col("c_min").cast("double"),
            6,
        ).alias("max_min_ratio"),
    )


WEEKDAY_CHI2_SQL = """
WITH per AS (
  SELECT CAST((date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', o_orderdate) AS DATE)) + 3)
              % 7 AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS cc,
         CAST(max(c) AS BIGINT) AS c_max,
         CAST(min(c) AS BIGINT) AS c_min
  FROM per
)
SELECT k AS k_weekdays, n AS n_orders, c_max, c_min,
       CAST(floor((7.0 * CAST(cc AS DOUBLE)
                   - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                  / CAST(n AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS chi2_uniform,
       CAST(floor(CAST(c_max AS DOUBLE) / CAST(c_min AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS max_min_ratio
FROM agg
"""


# ---------------------------------------------------------------------------
# Attribution model comparison (R4-163): the SAME purchases credited
# under last-touch, first-touch and linear models side by side — the
# report that ends "which model" debates with numbers. Touch set per
# purchase = same-user touches strictly before it within the R4-41
# window; last/first pick by exact (t_us, event_id) struct extremes;
# linear splits the purchase's value equally, each share floored onto
# a 1e-4-cent grid (stated rounding rule) so the BIGINT credit sums
# are exact. The per-user inequality join is bounded by one user's
# event history (at 100 TB: bucket by (user, day) — the R4-26
# bucketized-range-join shape); purchases with no in-window touch
# credit 'none' in every model.
# ---------------------------------------------------------------------------


def attribution_model_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "event_type",
        F.floor(F.col("value") * 100 + 1e-6).cast("long").alias("cents"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("t_us").alias("p_t"),
        F.col("cents").alias("rev"),
    )
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_id"),
        F.col("t_us").alias("t_t"),
        F.col("event_type").alias("t_type"),
    )
    pairs = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_t") < F.col("p_t"))
        & (F.col("p_t") - F.col("t_t") <= ATTR_WINDOW_US),
    )
    per_p = pairs.groupBy("p_id", "rev").agg(
        F.count("*").cast("long").alias("n_t"),
        F.max(F.struct("t_t", "t_id", "t_type")).alias("last_s"),
        F.min(F.struct("t_t", "t_id", "t_type")).alias("first_s"),
    )
    attributed = per_p.select(
        "p_id",
        "rev",
        "n_t",
        F.col("last_s.t_type").alias("last_ch"),
        F.col("first_s.t_type").alias("first_ch"),
    )
    none_p = purchases.join(
        attributed.select("p_id"), "p_id", "left_anti"
    ).select(
        "p_id",
        "rev",
        F.lit(0).cast("long").alias("n_t"),
        F.lit("none").alias("last_ch"),
        F.lit("none").alias("first_ch"),
    )
    allp = attributed.unionByName(none_p)
    last = allp.groupBy(F.col("last_ch").alias("channel")).agg(
        F.count("*").cast("long").alias("last_n"),
        F.sum("rev").cast("long").alias("last_rev_cents"),
    )
    first = allp.groupBy(F.col("first_ch").alias("channel")).agg(
        F.count("*").cast("long").alias("first_n"),
        F.sum("rev").cast("long").alias("first_rev_cents"),
    )
    lin_t = pairs.join(
        per_p.select("p_id", "n_t"), "p_id"
    ).select(
        F.col("t_type").alias("channel"),
        F.floor(F.col("rev") * 10000 / F.col("n_t"))
        .cast("long")
        .alias("credit_qq"),
    )
    lin_none = none_p.select(
        F.col("last_ch").alias("channel"),
        (F.col("rev") * 10000).cast("long").alias("credit_qq"),
    )
    linear = (
        lin_t.unionByName(lin_none)
        .groupBy("channel")
        .agg(F.sum("credit_qq").cast("long").alias("lin_qq"))
    )
    out = (
        last.join(first, "channel", "full_outer")
        .join(linear, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("last_n", F.lit(0)).cast("long").alias("last_n"),
            F.coalesce("last_rev_cents", F.lit(0))
            .cast("long")
            .alias("last_rev_cents"),
            F.coalesce("first_n", F.lit(0)).cast("long").alias("first_n"),
            F.coalesce("first_rev_cents", F.lit(0))
            .cast("long")
            .alias("first_rev_cents"),
            floor_round(
                F.coalesce("lin_qq", F.lit(0)).cast("double")
                / 10000.0
                / 100.0,
                2,
            ).alias("linear_rev_dollars"),
        )
        .orderBy("channel")
    )
    return out


ATTRIBUTION_COMPARE_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us, event_type,
         CAST(floor(value * 100 + 1e-6) AS BIGINT) AS cents
  FROM events
),
purchases AS (
  SELECT event_id AS p_id, user_id AS p_user, t_us AS p_t, cents AS rev
  FROM ev WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id AS t_user, event_id AS t_id, t_us AS t_t,
         event_type AS t_type
  FROM ev WHERE event_type IN ('view', 'click')
),
pairs AS (
  SELECT p.p_id, p.rev, t.t_id, t.t_t, t.t_type
  FROM purchases p JOIN touches t
    ON p.p_user = t.t_user
   AND t.t_t < p.p_t
   AND p.p_t - t.t_t <= {ATTR_WINDOW_US}
),
ranked AS (
  SELECT p_id, rev, t_type,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY t_t DESC, t_id DESC) AS rl,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY t_t ASC, t_id ASC) AS rf
  FROM pairs
),
per_p AS (
  SELECT p_id, rev,
         CAST(count(*) AS BIGINT) AS n_t,
         max(CASE WHEN rl = 1 THEN t_type END) AS last_ch,
         max(CASE WHEN rf = 1 THEN t_type END) AS first_ch
  FROM ranked GROUP BY 1, 2
),
none_p AS (
  SELECT p.p_id, p.rev, CAST(0 AS BIGINT) AS n_t,
         'none' AS last_ch, 'none' AS first_ch
  FROM purchases p ANTI JOIN per_p a ON p.p_id = a.p_id
),
allp AS (
  SELECT * FROM per_p UNION ALL SELECT * FROM none_p
),
last_agg AS (
  SELECT last_ch AS channel,
         CAST(count(*) AS BIGINT) AS last_n,
         CAST(sum(rev) AS BIGINT) AS last_rev_cents
  FROM allp GROUP BY 1
),
first_agg AS (
  SELECT first_ch AS channel,
         CAST(count(*) AS BIGINT) AS first_n,
         CAST(sum(rev) AS BIGINT) AS first_rev_cents
  FROM allp GROUP BY 1
),
linear_agg AS (
  SELECT channel, CAST(sum(credit_qq) AS BIGINT) AS lin_qq
  FROM (
    SELECT pr.t_type AS channel,
           CAST(floor(CAST(pr.rev AS DOUBLE) * 10000 / pp.n_t)
                AS BIGINT) AS credit_qq
    FROM pairs pr JOIN per_p pp USING (p_id)
    UNION ALL
    SELECT 'none' AS channel,
           CAST(rev * 10000 AS BIGINT) AS credit_qq
    FROM none_p
  ) GROUP BY 1
)
SELECT coalesce(l.channel, f.channel, n.channel) AS channel,
       CAST(coalesce(l.last_n, 0) AS BIGINT) AS last_n,
       CAST(coalesce(l.last_rev_cents, 0) AS BIGINT) AS last_rev_cents,
       CAST(coalesce(f.first_n, 0) AS BIGINT) AS first_n,
       CAST(coalesce(f.first_rev_cents, 0) AS BIGINT) AS first_rev_cents,
       CAST(floor(CAST(coalesce(n.lin_qq, 0) AS DOUBLE) / 10000.0 / 100.0
                  * 100 + 1e-6) / 100 AS DOUBLE) AS linear_rev_dollars
FROM last_agg l
FULL OUTER JOIN first_agg f ON l.channel = f.channel
FULL OUTER JOIN linear_agg n ON coalesce(l.channel, f.channel) = n.channel
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# Month-of-year seasonal index (R4-164): the annual-cycle companion to
# the weekday index — monthly revenue per calendar month vs the
# all-month mean, plus each month's share of a year. Same exact-cents
# engine-shared arithmetic; 12-row output.
# ---------------------------------------------------------------------------


def month_seasonality_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    per = load(spark, sf_dir, "orders").groupBy(
        F.month("o_orderdate").cast("long").alias("moy")
    ).agg(
        F.countDistinct(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        ).cast("long").alias("n_months"),
        _cents_sum("cents"),
    )
    tot = per.agg(
        F.sum("n_months").cast("long").alias("nn"),
        F.sum("cents").cast("long").alias("ss"),
    )
    idx = (
        F.col("cents").cast("double") / F.col("n_months").cast("double")
    ) / (F.col("ss").cast("double") / F.col("nn").cast("double"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "moy",
            "n_months",
            "cents",
            floor_round(idx, 6).alias("seasonal_index"),
        )
        .orderBy("moy")
    )


MONTH_SEASONALITY_SQL = """
WITH per AS (
  SELECT CAST(month(o_orderdate) AS BIGINT) AS moy,
         CAST(count(DISTINCT year(o_orderdate) * 100
                    + month(o_orderdate)) AS BIGINT) AS n_months,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_months) AS BIGINT) AS nn,
         CAST(sum(cents) AS BIGINT) AS ss
  FROM per
)
SELECT moy, n_months, cents,
       CAST(floor((CAST(cents AS DOUBLE) / CAST(n_months AS DOUBLE))
                  / (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS seasonal_index
FROM per, tot
ORDER BY moy
"""


# ---------------------------------------------------------------------------
# Account-balance vs activity correlation (R4-165): does a customer's
# balance predict how much they order — Pearson r between acctbal and
# order count over ALL customers (zero-order customers included via a
# left join, the part a naive join silently drops), plus the negative-
# balance active share. Balances floored to exact cents; the closed-
# form r comes from exact BIGINT sums.
# ---------------------------------------------------------------------------


def _pearson_num_den() -> tuple[Column, Column]:
    """Pearson r = num / den over the exact moment sums n, sx, sy,
    sxy, sxx, syy (closed form in doubles)."""
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    den = F.sqrt(
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return num, den


def acctbal_activity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + 1e-6).cast("long").alias("bal"),
    )
    cnt = load(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("c_custkey")
    ).agg(F.count("*").cast("long").alias("n_ord"))
    j = cust.join(cnt, "c_custkey", "left").select(
        "bal", F.coalesce(F.col("n_ord"), F.lit(0)).cast("long").alias("x")
    )
    agg = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("bal").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("bal")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("bal") * F.col("bal")).cast("long").alias("syy"),
        F.sum(
            F.when((F.col("bal") < 0) & (F.col("x") > 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("neg_active"),
        F.sum(F.when(F.col("x") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_active"),
    )
    num, den = _pearson_num_den()
    r = num / den
    return agg.select(
        F.col("n").alias("n_customers"),
        "n_active",
        "neg_active",
        floor_round(r, 6).alias("pearson_r"),
        floor_round(
            F.col("neg_active").cast("double")
            / F.col("n_active").cast("double"),
            6,
        ).alias("neg_active_share"),
    )


ACCTBAL_CORR_SQL = """
WITH cust AS (
  SELECT c_custkey,
         CAST(floor(c_acctbal * 100 + 1e-6) AS BIGINT) AS bal
  FROM customer
),
cnt AS (
  SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS n_ord
  FROM orders GROUP BY 1
),
j AS (
  SELECT c.bal, CAST(coalesce(n.n_ord, 0) AS BIGINT) AS x
  FROM cust c LEFT JOIN cnt n USING (c_custkey)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(bal) AS BIGINT) AS sy,
         CAST(sum(x * bal) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(bal * bal) AS BIGINT) AS syy,
         CAST(sum(CASE WHEN bal < 0 AND x > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS neg_active,
         CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_active
  FROM j
)
SELECT n AS n_customers, n_active, neg_active,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS pearson_r,
       CAST(floor(CAST(neg_active AS DOUBLE) / CAST(n_active AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS neg_active_share
FROM agg
"""


# ---------------------------------------------------------------------------
# Brand return rates with Wilson intervals (R4-166): lineitem return
# share per part brand, each with its Wilson 95% bound — the supplier-
# quality league that flags brands whose LOWER bound clears the
# corpus rate (statistically bad, not just unlucky). Broadcast part
# dim; exact BIGINT counts; the Wilson closed form per bounded brand
# row (same z as the graded promo CI).
# ---------------------------------------------------------------------------

_BRAND_Z = 1.959963984540054


def brand_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    per = li.join(F.broadcast(part), "l_partkey").groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("ret").cast("long").alias("n_returns"),
    )
    tot = per.agg(
        F.sum("n_lines").cast("long").alias("tn"),
        F.sum("n_returns").cast("long").alias("tr"),
    )
    n = F.col("n_lines").cast("double")
    p = F.col("n_returns").cast("double") / n
    z2 = _BRAND_Z * _BRAND_Z
    center = (p + z2 / (2.0 * n)) / (1.0 + z2 / n)
    half = (
        _BRAND_Z
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / (1.0 + z2 / n)
    )
    corpus_rate = F.col("tr").cast("double") / F.col("tn").cast("double")
    out = per.crossJoin(F.broadcast(tot)).select(
        "p_brand",
        "n_lines",
        "n_returns",
        floor_round(p, 6).alias("return_rate"),
        floor_round(center - half, 6).alias("wilson_lo"),
        floor_round(center + half, 6).alias("wilson_hi"),
        (
            F.floor((center - half) * 1000000 + 1e-6)
            > F.floor(corpus_rate * 1000000 + 1e-6)
        ).alias("worse_than_corpus"),
    )
    return out.orderBy("p_brand")


def _wilson_sql(sign: str) -> str:
    """Wilson score bound (sign '-' lower, '+' upper) of the brand
    return rate n_returns / n_lines at z = _BRAND_Z."""
    z2 = f"{_BRAND_Z * _BRAND_Z!r}"
    return f"""((CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
    + {z2}
      / (2.0 * CAST(n_lines AS DOUBLE)))
   / (1.0 + {z2}
            / CAST(n_lines AS DOUBLE))
   {sign} {_BRAND_Z!r}
     * sqrt((CAST(n_returns AS DOUBLE)
             / CAST(n_lines AS DOUBLE))
            * (1.0 - CAST(n_returns AS DOUBLE)
                     / CAST(n_lines AS DOUBLE))
            / CAST(n_lines AS DOUBLE)
            + {z2}
              / (4.0 * CAST(n_lines AS DOUBLE)
                 * CAST(n_lines AS DOUBLE)))
     / (1.0 + {z2}
              / CAST(n_lines AS DOUBLE)))"""


BRAND_RETURN_SQL = f"""
WITH per AS (
  SELECT p.p_brand,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returns
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_lines) AS BIGINT) AS tn,
         CAST(sum(n_returns) AS BIGINT) AS tr
  FROM per
)
SELECT p_brand, n_lines, n_returns,
       CAST(floor(CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS return_rate,
       CAST(floor({_wilson_sql('-')}
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS wilson_lo,
       CAST(floor({_wilson_sql('+')}
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS wilson_hi,
       floor({_wilson_sql('-')}
             * 1000000 + 1e-6)
         > floor(CAST(t.tr AS DOUBLE) / CAST(t.tn AS DOUBLE)
                 * 1000000 + 1e-6) AS worse_than_corpus
FROM per, tot t
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# Podium days per segment via NTH_VALUE (R4-167): each market
# segment's three biggest revenue days — the last ANSI window function
# missing from the graded surface (row_number / rank / dense_rank /
# ntile / percent_rank / cume_dist / lead / lag / first / last are
# all on it). The window runs over the bounded per-(segment, day)
# aggregate with a (revenue DESC, day ASC) total order, so every
# nth_value pick is tie-free.
# ---------------------------------------------------------------------------


def podium_days_per_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = _segment_daily_cents(spark, sf_dir)
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("cents"), F.asc("d"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = daily.select(
        "c_mktsegment",
        F.row_number()
        .over(Window.partitionBy("c_mktsegment").orderBy(F.desc("cents"), F.asc("d")))
        .alias("rn"),
        F.nth_value(F.struct("d", "cents"), 1).over(w).alias("gold"),
        F.nth_value(F.struct("d", "cents"), 2).over(w).alias("silver"),
        F.nth_value(F.struct("d", "cents"), 3).over(w).alias("bronze"),
    ).where(F.col("rn") == 1)
    return ranked.select(
        "c_mktsegment",
        F.col("gold.d").alias("gold_day"),
        F.col("gold.cents").alias("gold_cents"),
        F.col("silver.d").alias("silver_day"),
        F.col("silver.cents").alias("silver_cents"),
        F.col("bronze.d").alias("bronze_day"),
        F.col("bronze.cents").alias("bronze_cents"),
    ).orderBy("c_mktsegment")


PODIUM_SQL = f"""
{_SEGMENT_DAILY_SQL}
ranked AS (
  SELECT c_mktsegment,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cents DESC, d ASC) AS rn,
         nth_value(d, 1) OVER w AS gold_day,
         nth_value(cents, 1) OVER w AS gold_cents,
         nth_value(d, 2) OVER w AS silver_day,
         nth_value(cents, 2) OVER w AS silver_cents,
         nth_value(d, 3) OVER w AS bronze_day,
         nth_value(cents, 3) OVER w AS bronze_cents
  FROM daily
  WINDOW w AS (PARTITION BY c_mktsegment
               ORDER BY cents DESC, d ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT c_mktsegment,
       gold_day, CAST(gold_cents AS BIGINT) AS gold_cents,
       silver_day, CAST(silver_cents AS BIGINT) AS silver_cents,
       bronze_day, CAST(bronze_cents AS BIGINT) AS bronze_cents
FROM ranked WHERE rn = 1
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Lineitem numeric correlation matrix (R4-168): pairwise Pearson over
# (quantity, unit price, discount, tax) from ONE scan of exact
# grid-floored sums — the compact feature-dependence read (a strong
# discount-quantity correlation changes every downstream revenue
# model). 6 pair rows; all moments exact BIGINT.
# ---------------------------------------------------------------------------

_LI_FEATURES = ["qty", "price_c", "disc_bp", "tax_bp"]


def _li_features(
    spark: SparkSession, sf_dir: str, names: list[str]
) -> DataFrame:
    """lineitem as the exact integer features ``names`` (of
    _LI_FEATURES): whole quantity, unit price in cents, discount and
    tax in basis points."""
    exprs = {
        "qty": F.floor(F.col("l_quantity") + 1e-6),
        "price_c": F.floor(
            F.col("l_extendedprice") / F.col("l_quantity") * 100 + 1e-6
        ),
        "disc_bp": F.floor(F.col("l_discount") * 10000 + 1e-6),
        "tax_bp": F.floor(F.col("l_tax") * 10000 + 1e-6),
    }
    return load(spark, sf_dir, "lineitem").select(
        *[exprs[n].cast("long").alias(n) for n in names]
    )


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_features(spark, sf_dir, _LI_FEATURES)
    aggs = [F.count("*").cast("long").alias("n")]
    for f in _LI_FEATURES:
        aggs.append(F.sum(f).cast("long").alias(f"s_{f}"))
    for i, a in enumerate(_LI_FEATURES):
        for b in _LI_FEATURES[i:]:
            aggs.append(
                F.sum(F.col(a) * F.col(b)).cast("long").alias(f"s_{a}_{b}")
            )
    mom = li.agg(*aggs)
    rows = None
    for i, a in enumerate(_LI_FEATURES):
        for b in _LI_FEATURES[i + 1:]:
            num = (
                F.col("n").cast("double") * F.col(f"s_{a}_{b}").cast("double")
                - F.col(f"s_{a}").cast("double")
                  * F.col(f"s_{b}").cast("double")
            )
            den = F.sqrt(
                (
                    F.col("n").cast("double")
                    * F.col(f"s_{a}_{a}").cast("double")
                    - F.col(f"s_{a}").cast("double")
                      * F.col(f"s_{a}").cast("double")
                )
                * (
                    F.col("n").cast("double")
                    * F.col(f"s_{b}_{b}").cast("double")
                    - F.col(f"s_{b}").cast("double")
                      * F.col(f"s_{b}").cast("double")
                )
            )
            row = mom.select(
                F.lit(a).alias("feat_a"),
                F.lit(b).alias("feat_b"),
                F.col("n").alias("n_lines"),
                floor_round(num / den, 6).alias("pearson_r"),
            )
            rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("feat_a", "feat_b")


def _li_corr_sql() -> str:
    feats = _LI_FEATURES
    pair_selects = []
    for i, a in enumerate(feats):
        for b in feats[i + 1:]:
            pair_selects.append(f"""
SELECT '{a}' AS feat_a, '{b}' AS feat_b,
       n AS n_lines,
       CAST(floor((CAST(n AS DOUBLE) * CAST(s_{a}_{b} AS DOUBLE)
                   - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(s_{a}_{a} AS DOUBLE)
                          - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(s_{b}_{b} AS DOUBLE)
                            - CAST(s_{b} AS DOUBLE)
                              * CAST(s_{b} AS DOUBLE)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS pearson_r
FROM mom""")
    sums = []
    for f in feats:
        sums.append(f"CAST(sum({f}) AS BIGINT) AS s_{f}")
    for i, a in enumerate(feats):
        for b in feats[i:]:
            sums.append(f"CAST(sum({a} * {b}) AS BIGINT) AS s_{a}_{b}")
    return f"""
WITH li AS (
  SELECT CAST(floor(l_quantity + 1e-6) AS BIGINT) AS qty,
         CAST(floor(l_extendedprice / l_quantity * 100 + 1e-6) AS BIGINT)
           AS price_c,
         CAST(floor(l_discount * 10000 + 1e-6) AS BIGINT) AS disc_bp,
         CAST(floor(l_tax * 10000 + 1e-6) AS BIGINT) AS tax_bp
  FROM lineitem
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         {", ".join(sums)}
  FROM li
)
SELECT * FROM ({" UNION ALL ".join(pair_selects)})
ORDER BY feat_a, feat_b
"""


LINEITEM_CORR_SQL = _li_corr_sql()


# ---------------------------------------------------------------------------
# DAU / MAU stickiness (R4-169): daily active users, the monthly
# active total, and stickiness = avg(DAU)/MAU — the canonical
# engagement ratio. The mean DAU is computed from exact per-day
# distinct counts (one hash-agg per granularity); stickiness is one
# closed-form double.
# ---------------------------------------------------------------------------


def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("d"),
        "user_id",
    )
    dau = ev.groupBy("d").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    agg = dau.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("s_dau"),
        F.min("dau").cast("long").alias("min_dau"),
        F.max("dau").cast("long").alias("max_dau"),
    )
    mau = ev.agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    j = agg.crossJoin(F.broadcast(mau))
    avg_dau = F.col("s_dau").cast("double") / F.col("n_days").cast("double")
    return j.select(
        "n_days",
        "min_dau",
        "max_dau",
        floor_round(avg_dau, 4).alias("avg_dau"),
        "mau",
        floor_round(avg_dau / F.col("mau").cast("double"), 6).alias(
            "stickiness"
        ),
    )


DAU_MAU_SQL = """
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
),
dau AS (
  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM ev GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(dau) AS BIGINT) AS s_dau,
         CAST(min(dau) AS BIGINT) AS min_dau,
         CAST(max(dau) AS BIGINT) AS max_dau
  FROM dau
),
mau AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM ev)
SELECT n_days, min_dau, max_dau,
       CAST(floor(CAST(s_dau AS DOUBLE) / CAST(n_days AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS avg_dau,
       mau,
       CAST(floor(CAST(s_dau AS DOUBLE) / CAST(n_days AS DOUBLE)
                  / CAST(mau AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS stickiness
FROM agg, mau
"""


# ---------------------------------------------------------------------------
# Discount elasticity (R4-170): average quantity per discount band
# plus the OLS slope of quantity on the discount (in basis points)
# over raw lines — "does a deeper discount actually move volume".
# Band table is the bounded discount grid; the slope comes from the
# same exact normal-equation sums as every regression above.
# ---------------------------------------------------------------------------


def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 1e-6)
        .cast("long")
        .alias("disc_pct"),
        F.floor(F.col("l_quantity") + 1e-6).cast("long").alias("qty"),
    )
    band = li.groupBy("disc_pct").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("qty").cast("long").alias("s_qty"),
    )
    mom = li.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("disc_pct").cast("long").alias("sx"),
        F.sum("qty").cast("long").alias("sy"),
        F.sum(F.col("disc_pct") * F.col("qty")).cast("long").alias("sxy"),
        F.sum(F.col("disc_pct") * F.col("disc_pct"))
        .cast("long")
        .alias("sxx"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return (
        band.crossJoin(F.broadcast(mom))
        .select(
            "disc_pct",
            "n_lines",
            floor_round(
                F.col("s_qty").cast("double")
                / F.col("n_lines").cast("double"),
                4,
            ).alias("avg_qty"),
            floor_round(slope, 6).alias("qty_per_disc_pct_slope"),
        )
        .orderBy("disc_pct")
    )


DISCOUNT_ELASTICITY_SQL = """
WITH li AS (
  SELECT CAST(floor(l_discount * 100 + 1e-6) AS BIGINT) AS disc_pct,
         CAST(floor(l_quantity + 1e-6) AS BIGINT) AS qty
  FROM lineitem
),
band AS (
  SELECT disc_pct,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(qty) AS BIGINT) AS s_qty
  FROM li GROUP BY 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(disc_pct) AS BIGINT) AS sx,
         CAST(sum(qty) AS BIGINT) AS sy,
         CAST(sum(disc_pct * qty) AS BIGINT) AS sxy,
         CAST(sum(disc_pct * disc_pct) AS BIGINT) AS sxx
  FROM li
)
SELECT b.disc_pct, b.n_lines,
       CAST(floor(CAST(b.s_qty AS DOUBLE) / CAST(b.n_lines AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS avg_qty,
       CAST(floor(CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                  / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS qty_per_disc_pct_slope
FROM band b, mom m
ORDER BY disc_pct
"""


# ---------------------------------------------------------------------------
# Partial correlation with a control variable (R4-173): the follow-up
# question the R4-168 correlation matrix raises — is the qty↔price
# association real, or induced by the discount both respond to? For
# each unordered pair from (qty, price_c, disc_bp) with the third
# feature as control z:  r_xy.z = (r_xy − r_xz·r_yz) /
# sqrt((1 − r_xz²)(1 − r_yz²)). All three raw correlations come from
# the SAME one-scan exact BIGINT moment aggregate as the matrix (grid
# floors per feature, stated rule); the partials are closed-form
# doubles over those exact sums executed in the identical op order in
# both engines, floored at 6. Degenerate controls (|r_xz| = 1) yield
# NULL via a guarded denominator in both engines.
#
# Scale shape: ONE map-side-combined hash aggregate over the scan
# (constant 10-number state), three output rows. Nothing else moves.
# ---------------------------------------------------------------------------

_PC_FEATURES = ["qty", "price_c", "disc_bp"]


def partial_corr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _li_features(spark, sf_dir, _PC_FEATURES)
    aggs = [F.count("*").cast("long").alias("n")]
    for f in _PC_FEATURES:
        aggs.append(F.sum(f).cast("long").alias(f"s_{f}"))
    for i, a in enumerate(_PC_FEATURES):
        for b in _PC_FEATURES[i:]:
            aggs.append(
                F.sum(F.col(a) * F.col(b)).cast("long").alias(f"s_{a}_{b}")
            )
    mom = li.agg(*aggs)

    def _r(a: str, b: str):
        key = f"s_{a}_{b}" if f"s_{a}_{b}" in [
            f"s_{x}_{y}"
            for i, x in enumerate(_PC_FEATURES)
            for y in _PC_FEATURES[i:]
        ] else f"s_{b}_{a}"
        num = (
            F.col("n").cast("double") * F.col(key).cast("double")
            - F.col(f"s_{a}").cast("double") * F.col(f"s_{b}").cast("double")
        )
        den = F.sqrt(
            (
                F.col("n").cast("double") * F.col(f"s_{a}_{a}").cast("double")
                - F.col(f"s_{a}").cast("double")
                  * F.col(f"s_{a}").cast("double")
            )
            * (
                F.col("n").cast("double") * F.col(f"s_{b}_{b}").cast("double")
                - F.col(f"s_{b}").cast("double")
                  * F.col(f"s_{b}").cast("double")
            )
        )
        return num / den

    rows = None
    feats = _PC_FEATURES
    for i, a in enumerate(feats):
        for b in feats[i + 1:]:
            z = [f for f in feats if f not in (a, b)][0]
            r_xy, r_xz, r_yz = _r(a, b), _r(a, z), _r(b, z)
            den = F.sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
            partial = F.when(den > 0, (r_xy - r_xz * r_yz) / den)
            row = mom.select(
                F.lit(a).alias("feat_a"),
                F.lit(b).alias("feat_b"),
                F.lit(z).alias("control"),
                floor_round(r_xy, 6).alias("r_raw"),
                floor_round(partial, 6).alias("r_partial"),
            )
            rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("feat_a", "feat_b")


def _partial_corr_sql() -> str:
    feats = _PC_FEATURES
    moment_selects = ["CAST(count(*) AS BIGINT) AS n"]
    for f in feats:
        moment_selects.append(f"CAST(sum({f}) AS BIGINT) AS s_{f}")
    for i, a in enumerate(feats):
        for b in feats[i:]:
            moment_selects.append(
                f"CAST(sum({a} * {b}) AS BIGINT) AS s_{a}_{b}"
            )

    def r_txt(a: str, b: str) -> str:
        pairs = {
            (x, y) for i, x in enumerate(feats) for y in feats[i:]
        }
        key = f"s_{a}_{b}" if (a, b) in pairs else f"s_{b}_{a}"
        num = (
            f"(CAST(n AS DOUBLE) * CAST({key} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        den = (
            f"sqrt((CAST(n AS DOUBLE) * CAST(s_{a}_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * (CAST(n AS DOUBLE) * CAST(s_{b}_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        return f"({num} / {den})"

    branches = []
    for i, a in enumerate(feats):
        for b in feats[i + 1:]:
            z = [f for f in feats if f not in (a, b)][0]
            r_xy, r_xz, r_yz = r_txt(a, b), r_txt(a, z), r_txt(b, z)
            den = (
                f"sqrt((1.0 - {r_xz} * {r_xz}) * (1.0 - {r_yz} * {r_yz}))"
            )
            branches.append(
                f"SELECT '{a}' AS feat_a, '{b}' AS feat_b, '{z}' AS control,"
                f" CAST(floor({r_xy} * 1000000 + 1e-6) / 1000000 AS DOUBLE)"
                f" AS r_raw,"
                f" CAST(floor(CASE WHEN {den} > 0 THEN"
                f" (({r_xy} - {r_xz} * {r_yz}) / {den}) END"
                f" * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS r_partial"
                f" FROM mom"
            )
    union = " UNION ALL ".join(branches)
    return f"""
WITH li AS (
  SELECT CAST(floor(l_quantity + 1e-6) AS BIGINT) AS qty,
         CAST(floor(l_extendedprice / l_quantity * 100 + 1e-6) AS BIGINT)
           AS price_c,
         CAST(floor(l_discount * 10000 + 1e-6) AS BIGINT) AS disc_bp
  FROM lineitem
),
mom AS MATERIALIZED (
  SELECT {", ".join(moment_selects)} FROM li
)
SELECT * FROM ({union}) ORDER BY feat_a, feat_b
"""


PARTIAL_CORR_SQL = _partial_corr_sql()


# ---------------------------------------------------------------------------
# Customer spend-migration matrix (R4-177): segment every customer in
# the FIRST half of the timeline vs the SECOND half (halves split at
# the exact midpoint day of the observed order-date range) and
# cross-tabulate the movements — the churn/upgrade read a CRM team
# asks for after the RFM snapshot (R4-53). Segments per half:
# 'absent' (no orders), 'low' / 'high' vs the half's mean active-
# customer spend. The mean comparison is EXACT integer arithmetic —
# spend_cents · n_active > total_cents — so no float boundary can
# flip a segment between engines (the rounded-grid decision rule,
# taken to its integer limit).
#
# Scale shape: one scan → per-(customer, half) cent sums (hash agg)
# → full outer against the customer dim (broadcast-eligible) → a
# 2-row broadcast of the per-half totals → 9-row matrix aggregate.
# ---------------------------------------------------------------------------


def spend_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 1e-6)
        .cast("long")
        .alias("cents"),
    )
    rng = od.agg(
        F.min("d").alias("d0"),
        F.max("d").alias("d1"),
    ).select(
        "d0",
        F.date_add(
            F.col("d0"),
            F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2)
            .cast("int"),
        ).alias("mid"),
    )
    halves = od.crossJoin(F.broadcast(rng)).select(
        "o_custkey",
        "cents",
        F.when(F.col("d") <= F.col("mid"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("half"),
    )
    spend = halves.groupBy("o_custkey", "half").agg(
        F.sum("cents").cast("long").alias("spend")
    )
    tot = spend.groupBy("half").agg(
        F.sum("spend").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_active"),
    )
    seg = (
        spend.join(F.broadcast(tot), "half")
        .select(
            "o_custkey",
            "half",
            F.when(
                F.col("spend") * F.col("n_active") > F.col("total"),
                F.lit("high"),
            )
            .otherwise(F.lit("low"))
            .alias("seg"),
        )
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    wide = (
        cust.join(
            seg.where(F.col("half") == 1).select(
                "o_custkey", F.col("seg").alias("seg_h1")
            ),
            "o_custkey",
            "left",
        )
        .join(
            seg.where(F.col("half") == 2).select(
                "o_custkey", F.col("seg").alias("seg_h2")
            ),
            "o_custkey",
            "left",
        )
        .select(
            F.coalesce("seg_h1", F.lit("absent")).alias("seg_h1"),
            F.coalesce("seg_h2", F.lit("absent")).alias("seg_h2"),
        )
    )
    n_cust = cust.agg(F.count("*").cast("long").alias("n_customers"))
    return (
        wide.groupBy("seg_h1", "seg_h2")
        .agg(F.count("*").cast("long").alias("n"))
        .crossJoin(F.broadcast(n_cust))
        .select(
            "seg_h1",
            "seg_h2",
            "n",
            floor_round(
                F.col("n").cast("double")
                / F.col("n_customers").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("seg_h1", "seg_h2")
    )


SPEND_MIGRATION_SQL = """
WITH od AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT) AS cents
  FROM orders
),
rng AS (
  SELECT min(d) AS d0,
         min(d) + CAST(floor(datediff('day', min(d), max(d)) / 2.0)
                       AS INT) AS mid
  FROM od
),
halves AS (
  SELECT o_custkey, cents,
         CASE WHEN d <= rng.mid THEN 1 ELSE 2 END AS half
  FROM od, rng
),
spend AS MATERIALIZED (
  SELECT o_custkey, half, CAST(sum(cents) AS BIGINT) AS spend
  FROM halves GROUP BY 1, 2
),
tot AS (
  SELECT half, CAST(sum(spend) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_active
  FROM spend GROUP BY 1
),
seg AS (
  SELECT s.o_custkey, s.half,
         CASE WHEN s.spend * t.n_active > t.total
              THEN 'high' ELSE 'low' END AS seg
  FROM spend s JOIN tot t USING (half)
),
wide AS (
  SELECT coalesce(s1.seg, 'absent') AS seg_h1,
         coalesce(s2.seg, 'absent') AS seg_h2
  FROM customer c
  LEFT JOIN (SELECT * FROM seg WHERE half = 1) s1
    ON s1.o_custkey = c.c_custkey
  LEFT JOIN (SELECT * FROM seg WHERE half = 2) s2
    ON s2.o_custkey = c.c_custkey
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_customers FROM customer)
SELECT seg_h1, seg_h2, CAST(count(*) AS BIGINT) AS n,
       CAST(floor(CAST(count(*) AS DOUBLE)
                  / CAST(nc.n_customers AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS share
FROM wide, nc
GROUP BY 1, 2, nc.n_customers
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices (R4-178): the classic
# econ index-number triptych over consecutive ship-years — "how much
# did the SAME basket get more expensive" (Laspeyres weights by the
# base year's quantities, Paasche by the current year's, Fisher is
# their geometric mean). Per (year, part): quantity and an exact
# integer unit price (floor of cent revenue over quantity — the
# stated grid); per consecutive-year pair the four basket sums
# Σ p·q are BIGINT-exact over the common-part join, so the indices
# are closed-form doubles over exact integers, floored at 6.
#
# Scale shape: one scan → (year, part) hash agg → a self equi-join
# on part between adjacent years (AQE-splittable; parts dimension,
# not the fact table) → per-pair 4-number aggregate.
# ---------------------------------------------------------------------------


def price_index_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        F.year(F.col("l_shipdate").cast("date")).cast("int").alias("y"),
        F.col("l_partkey").alias("part"),
        F.floor(F.col("l_quantity") + 1e-6).cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + 1e-6)
        .cast("long")
        .alias("rev_c"),
    )
    yp = (
        li.groupBy("y", "part")
        .agg(
            F.sum("qty").cast("long").alias("q"),
            F.sum("rev_c").cast("long").alias("rev"),
        )
        .select(
            "y",
            "part",
            "q",
            F.floor(F.col("rev") / F.col("q")).cast("long").alias("p_c"),
        )
    )
    base = yp.select(
        F.col("y").alias("y_base"),
        "part",
        F.col("q").alias("q_b"),
        F.col("p_c").alias("p_b"),
    )
    nxt = yp.select(
        (F.col("y") - 1).alias("y_base"),
        "part",
        F.col("q").alias("q_t"),
        F.col("p_c").alias("p_t"),
    )
    j = base.join(nxt, ["y_base", "part"])
    agg = j.groupBy("y_base").agg(
        F.count("*").cast("long").alias("n_common_parts"),
        F.sum(F.col("p_t") * F.col("q_b")).cast("long").alias("s_tb"),
        F.sum(F.col("p_b") * F.col("q_b")).cast("long").alias("s_bb"),
        F.sum(F.col("p_t") * F.col("q_t")).cast("long").alias("s_tt"),
        F.sum(F.col("p_b") * F.col("q_t")).cast("long").alias("s_bt"),
    )
    lasp = F.col("s_tb").cast("double") / F.col("s_bb").cast("double")
    paas = F.col("s_tt").cast("double") / F.col("s_bt").cast("double")
    return agg.select(
        "y_base",
        (F.col("y_base") + 1).alias("y_next"),
        "n_common_parts",
        floor_round(lasp, 6).alias("laspeyres"),
        floor_round(paas, 6).alias("paasche"),
        floor_round(F.sqrt(lasp * paas), 6).alias("fisher"),
    ).orderBy("y_base")


PRICE_INDEX_SQL = """
WITH li AS (
  SELECT CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS y,
         l_partkey AS part,
         CAST(floor(l_quantity + 1e-6) AS BIGINT) AS qty,
         CAST(floor(l_extendedprice * 100 + 1e-6) AS BIGINT) AS rev_c
  FROM lineitem
),
yp AS MATERIALIZED (
  SELECT y, part, CAST(sum(qty) AS BIGINT) AS q,
         CAST(floor(CAST(sum(rev_c) AS DOUBLE) / CAST(sum(qty) AS DOUBLE))
              AS BIGINT) AS p_c
  FROM li GROUP BY 1, 2
),
j AS (
  SELECT b.y AS y_base, b.part,
         b.q AS q_b, b.p_c AS p_b, t.q AS q_t, t.p_c AS p_t
  FROM yp b JOIN yp t ON t.part = b.part AND t.y = b.y + 1
),
agg AS (
  SELECT y_base,
         CAST(count(*) AS BIGINT) AS n_common_parts,
         CAST(sum(p_t * q_b) AS BIGINT) AS s_tb,
         CAST(sum(p_b * q_b) AS BIGINT) AS s_bb,
         CAST(sum(p_t * q_t) AS BIGINT) AS s_tt,
         CAST(sum(p_b * q_t) AS BIGINT) AS s_bt
  FROM j GROUP BY 1
)
SELECT y_base, CAST(y_base + 1 AS INT) AS y_next, n_common_parts,
       CAST(floor(CAST(s_tb AS DOUBLE) / CAST(s_bb AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS laspeyres,
       CAST(floor(CAST(s_tt AS DOUBLE) / CAST(s_bt AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS paasche,
       CAST(floor(sqrt((CAST(s_tb AS DOUBLE) / CAST(s_bb AS DOUBLE))
                       * (CAST(s_tt AS DOUBLE) / CAST(s_bt AS DOUBLE)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS fisher
FROM agg
ORDER BY y_base
"""


# ---------------------------------------------------------------------------
# Interarrival exponential-rate fit (R4-180): are arrivals Poisson?
# The formal model fit behind the interarrival quantile profile
# (R4-112) — bucket per-user event gaps into hourly bins, fit
# ln(count) on the bin index by OLS over the first IAF_MAX_BIN+1
# bins, and report λ = −slope (per hour) next to the OBSERVED mean
# gap: for a true exponential, implied mean 1/λ ≈ observed mean, and
# the gap between them is the exponentiality diagnostic (heavier
# tail ⇒ implied < observed). ln(count) lands on an exact 1e-6
# BIGINT grid before the regression sums (the R4-102 lesson), so all
# five OLS moments are exact integers.
#
# Scale shape: gaps are ONE lag window hash-partitioned by user
# (state bounded per user), the histogram is a map-side-combinable
# hash agg with state bounded by the BIN DOMAIN, and the fit is a
# 5-number aggregate over ≤ IAF_MAX_BIN+1 rows.
# ---------------------------------------------------------------------------

IAF_MAX_BIN = 47
IAF_BIN_SECONDS = 3600


def interarrival_exponential_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = ev.select(
        (F.col("sec") - F.lag("sec").over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    gstats = gaps.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("s_gap"),
    )
    bins = (
        gaps.select(
            F.floor(F.col("gap") / F.lit(IAF_BIN_SECONDS))
            .cast("long")
            .alias("b")
        )
        .where(F.col("b") <= IAF_MAX_BIN)
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("c"))
        .select(
            "b",
            F.floor(F.log(F.col("c").cast("double")) * 1e6 + 1e-6)
            .cast("long")
            .alias("y"),
        )
    )
    mom = bins.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("b").cast("long").alias("sw"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sww"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("b") * F.col("y")).cast("long").alias("swy"),
    )
    # ANSI guard: with ≤1 occupied bin n*sww - sw*sw = 0 (the OLS
    # slope is undefined) — NULL, matching the oracle's CASE n >= 2
    slope = F.when(
        F.col("n") >= 2,
        (F.col("n") * F.col("swy") - F.col("sw") * F.col("sy")).cast(
            "double"
        )
        / (F.col("n") * F.col("sww") - F.col("sw") * F.col("sw")).cast(
            "double"
        )
        / 1e6,
    )
    lam = -slope
    observed_mean_h = F.when(
        F.col("n_gaps") > 0,
        F.col("s_gap").cast("double")
        / F.col("n_gaps").cast("double")
        / float(IAF_BIN_SECONDS),
    )
    return (
        mom.crossJoin(F.broadcast(gstats))
        .select(
            "n_gaps",
            F.col("n").alias("n_bins"),
            floor_round(lam, 6).alias("lambda_per_hour"),
            floor_round(
                F.when(lam > 0, 1.0 / lam), 4
            ).alias("implied_mean_hours"),
            floor_round(observed_mean_h, 4).alias("observed_mean_hours"),
        )
    )


INTERARRIVAL_FIT_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
gaps AS (
  SELECT sec - lag(sec) OVER (PARTITION BY user_id
                              ORDER BY sec, event_id) AS gap
  FROM ev
),
g2 AS MATERIALIZED (SELECT gap FROM gaps WHERE gap IS NOT NULL),
gstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS s_gap
  FROM g2
),
bins AS (
  SELECT b, CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 1e-6) AS BIGINT)
           AS y
  FROM (SELECT CAST(floor(gap / {IAF_BIN_SECONDS}.0) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM g2 WHERE floor(gap / {IAF_BIN_SECONDS}.0) <= {IAF_MAX_BIN}
        GROUP BY 1)
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(b) AS BIGINT) AS sw,
         CAST(sum(b * b) AS BIGINT) AS sww,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(b * y) AS BIGINT) AS swy
  FROM bins
)
SELECT g.n_gaps,
       m.n AS n_bins,
       CASE WHEN m.n >= 2 THEN
       CAST(floor(-(CAST(m.n * m.swy - m.sw * m.sy AS DOUBLE)
                    / CAST(m.n * m.sww - m.sw * m.sw AS DOUBLE) / 1e6)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
       END AS lambda_per_hour,
       CASE WHEN m.n >= 2 THEN
       CAST(floor(CASE WHEN -(CAST(m.n * m.swy - m.sw * m.sy AS DOUBLE)
                              / CAST(m.n * m.sww - m.sw * m.sw AS DOUBLE)
                              / 1e6) > 0
                       THEN 1.0 / (-(CAST(m.n * m.swy - m.sw * m.sy
                                          AS DOUBLE)
                                     / CAST(m.n * m.sww - m.sw * m.sw
                                            AS DOUBLE) / 1e6))
                  END * 10000 + 1e-6) / 10000 AS DOUBLE)
       END AS implied_mean_hours,
       CASE WHEN g.n_gaps > 0 THEN
       CAST(floor(CAST(g.s_gap AS DOUBLE) / CAST(g.n_gaps AS DOUBLE)
                  / {IAF_BIN_SECONDS}.0
                  * 10000 + 1e-6) / 10000 AS DOUBLE)
       END AS observed_mean_hours
FROM mom m, gstats g
"""


# ---------------------------------------------------------------------------
# GPD peaks-over-threshold tail fit (R4-189): the second extreme-value
# method next to the Gumbel block-maxima fit (R4-106) — threshold the
# order totals at the EXACT p95 (nearest-rank over the value
# histogram, the exact_group_median machinery), fit a Generalized
# Pareto to the excesses by method of moments (closed forms:
# m²/v = 1−2ξ ⇒ ξ = (1 − m²/v)/2, σ = m(1−ξ)), and report the
# 1-in-RET_T order return level x_T = u + σ/ξ·((T·ζ_u)^ξ − 1).
# Moments are exact BIGINT sums of cent excesses (Σe² bounded:
# ≤ (5e6)²·10⁵ ≈ 2.5e18 at sf1 — inside BIGINT, stated bound); the
# closed forms run in identical op order in both engines.
#
# Scale shape: one cents histogram (hash agg bounded by the value
# domain) + the Lorenz-style domain-bounded cumulative walk for the
# exact threshold, then one 3-number excess aggregate.
# ---------------------------------------------------------------------------

GPD_P = 95
GPD_RET_T = 10_000


def _order_cents_cum(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(cents, tot, cum): every order total in exact integer cents
    ``c``, the order count ``n``, and the cents histogram's cumulative
    rank ``cum`` per distinct value with ``n`` attached."""
    cents = load(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 1e-6)
        .cast("long")
        .alias("c")
    )
    hist = cents.groupBy("c").agg(F.count("*").cast("long").alias("n_v"))
    tot = hist.agg(F.sum("n_v").cast("long").alias("n"))
    w = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "c", F.sum("n_v").over(w).cast("long").alias("cum")
    ).crossJoin(F.broadcast(tot))
    return cents, tot, cum


# the GPD and median-CI oracles' shared prefix: the global order-cents
# histogram and its cumulative rank walk
_ORDER_CENTS_CUM_SQL = """
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT) AS c
  FROM orders
),
hist AS (SELECT c, CAST(count(*) AS BIGINT) AS n_v FROM cents GROUP BY 1),
tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n FROM hist),
cum AS (
  SELECT c, CAST(sum(n_v) OVER (ORDER BY c
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum
  FROM hist
)"""


def gpd_tail_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents, tot, cum = _order_cents_cum(spark, sf_dir)
    k = F.floor((F.lit(GPD_P) * F.col("n") + 99) / 100).cast("long")
    u_row = (
        cum.where(F.col("cum") >= k)
        .agg(F.min("c").cast("long").alias("u"))
    )
    exc = (
        cents.crossJoin(F.broadcast(u_row))
        .where(F.col("c") > F.col("u"))
        .select((F.col("c") - F.col("u")).alias("e"), "u")
    )
    mom = exc.groupBy("u").agg(
        F.count("*").cast("long").alias("n_e"),
        F.sum("e").cast("long").alias("s"),
        F.sum(F.col("e") * F.col("e")).cast("long").alias("s2"),
    ).crossJoin(F.broadcast(tot))
    m = F.col("s").cast("double") / F.col("n_e").cast("double")
    v = F.col("s2").cast("double") / F.col("n_e").cast("double") - m * m
    # ANSI guards: v=0 (all excesses identical) makes xi undefined;
    # xi=0 (m² exactly equals v) makes the return level undefined —
    # NULL both, matching the oracle's CASE chain
    xi = F.when(v > 0, 0.5 * (1.0 - m * m / v))
    sigma = m * (1.0 - xi)
    zeta = F.col("n_e").cast("double") / F.col("n").cast("double")
    ret = F.when(
        xi != 0,
        F.col("u").cast("double")
        + sigma / xi * (F.pow(float(GPD_RET_T) * zeta, xi) - 1.0),
    )
    return mom.select(
        F.col("u").alias("threshold_cents"),
        F.col("n_e").alias("n_exceed"),
        floor_round(zeta, 6).alias("exceed_rate"),
        floor_round(xi, 6).alias("xi"),
        floor_round(sigma, 2).alias("sigma_cents"),
        floor_round(ret, 2).alias("ret10k_cents"),
    )


GPD_TAIL_SQL = f"""
{_ORDER_CENTS_CUM_SQL},
u_row AS (
  SELECT CAST(min(c) AS BIGINT) AS u
  FROM cum, tot
  WHERE cum >= CAST(floor(({GPD_P} * tot.n + 99) / 100.0) AS BIGINT)
),
mom AS (
  SELECT u, CAST(count(*) AS BIGINT) AS n_e,
         CAST(sum(c - u) AS BIGINT) AS s,
         CAST(sum((c - u) * (c - u)) AS BIGINT) AS s2
  FROM cents, u_row WHERE c > u
  GROUP BY u
),
derived AS (
  SELECT u, n_e, t.n AS n,
         CAST(s AS DOUBLE) / CAST(n_e AS DOUBLE) AS m,
         CAST(s2 AS DOUBLE) / CAST(n_e AS DOUBLE)
           - (CAST(s AS DOUBLE) / CAST(n_e AS DOUBLE))
             * (CAST(s AS DOUBLE) / CAST(n_e AS DOUBLE)) AS v
  FROM mom, tot t
),
fit AS (
  SELECT u, n_e, n, m,
         CASE WHEN v > 0 THEN 0.5 * (1.0 - m * m / v) END AS xi
  FROM derived
)
SELECT u AS threshold_cents, n_e AS n_exceed,
       CAST(floor(CAST(n_e AS DOUBLE) / CAST(n AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS exceed_rate,
       CASE WHEN xi IS NOT NULL THEN
         CAST(floor(xi * 1000000 + 1e-6) / 1000000 AS DOUBLE)
       END AS xi,
       CASE WHEN xi IS NOT NULL THEN
         CAST(floor(m * (1.0 - xi) * 100 + 1e-6) / 100 AS DOUBLE)
       END AS sigma_cents,
       CASE WHEN xi IS NOT NULL AND xi <> 0 THEN
         CAST(floor((CAST(u AS DOUBLE)
                     + (m * (1.0 - xi)) / xi
                       * (pow({float(GPD_RET_T)!r}
                              * (CAST(n_e AS DOUBLE) / CAST(n AS DOUBLE)),
                              xi)
                          - 1.0))
                    * 100 + 1e-6) / 100 AS DOUBLE)
       END AS ret10k_cents
FROM fit
"""


# ---------------------------------------------------------------------------
# Simpson's-paradox audit (R4-191): does the discount↔quantity
# association FLIP when conditioned on return status? The aggregation
# trap every analyst gets burned by once — a positive overall
# correlation can reverse inside every stratum. ONE rollup aggregate
# computes the exact correlation moments per l_returnflag stratum AND
# overall (grouping-set, no second scan); each stratum row carries
# its Pearson r (closed form over exact BIGINT sums) and a flip flag
# vs the overall sign compared on the FLOORED grid (the rounded-grid
# decision rule; the '<ALL>' row's flag is NULL).
# ---------------------------------------------------------------------------


def simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_discount") * 10000 + 1e-6)
        .cast("long")
        .alias("x"),
        F.floor(F.col("l_quantity") + 1e-6).cast("long").alias("y"),
    )
    mom = li.rollup("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num, den = _pearson_num_den()
    scored = mom.select(
        F.coalesce("l_returnflag", F.lit("<ALL>")).alias("stratum"),
        "n",
        floor_round(num / den, 6).alias("pearson_r"),
    )
    overall = scored.where(F.col("stratum") == "<ALL>").select(
        F.col("pearson_r").alias("r_all")
    )
    return (
        scored.crossJoin(F.broadcast(overall))
        .select(
            "stratum",
            F.col("n").alias("n_lines"),
            "pearson_r",
            F.when(
                F.col("stratum") != "<ALL>",
                F.signum("pearson_r") != F.signum("r_all"),
            ).alias("sign_flip_vs_overall"),
        )
        .orderBy("stratum")
    )


SIMPSONS_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(floor(l_discount * 10000 + 1e-6) AS BIGINT) AS x,
         CAST(floor(l_quantity + 1e-6) AS BIGINT) AS y
  FROM lineitem
),
mom AS (
  SELECT coalesce(l_returnflag, '<ALL>') AS stratum,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM li GROUP BY ROLLUP (l_returnflag)
),
scored AS MATERIALIZED (
  SELECT stratum, n,
         CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS pearson_r
  FROM mom
),
ov AS (SELECT pearson_r AS r_all FROM scored WHERE stratum = '<ALL>')
SELECT s.stratum, s.n AS n_lines, s.pearson_r,
       CASE WHEN s.stratum <> '<ALL>'
            THEN sign(s.pearson_r) <> sign(o.r_all) END
         AS sign_flip_vs_overall
FROM scored s, ov o
ORDER BY s.stratum
"""


# ---------------------------------------------------------------------------
# Distribution-free median CI via order statistics (R4-193): the
# binomial/normal-approximation confidence interval every robust
# report should carry next to its median — ranks
# l = ⌊(n − z√n)/2⌋ (clamped ≥ 1), u = ⌊(n + z√n)/2 + 1⌋ (clamped
# ≤ n), z = 1.959964; the interval [x₍l₎, x₍u₎] covers the true
# median with ≥95% probability with NO distributional assumption
# (order-statistic coverage). Median itself is the nearest-rank
# value at ⌈n/2⌉ (stated rule — no interpolation-mode divergence).
# All three rank lookups ride the SAME domain-bounded histogram
# cumulative walk as the exact-median machinery; rank arithmetic is
# identical closed-form doubles floored with slack in both engines.
# ---------------------------------------------------------------------------

MEDIAN_CI_Z = 1.959964


def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, cum = _order_cents_cum(spark, sf_dir)
    nd = F.col("n").cast("double")
    l_rank = F.greatest(
        F.lit(1).cast("long"),
        F.floor((nd - MEDIAN_CI_Z * F.sqrt(nd)) / 2.0 + 1e-6).cast("long"),
    )
    u_rank = F.least(
        F.col("n"),
        F.floor((nd + MEDIAN_CI_Z * F.sqrt(nd)) / 2.0 + 1.0 + 1e-6).cast(
            "long"
        ),
    )
    m_rank = F.floor((nd + 1.0) / 2.0 + 1e-6).cast("long")
    return cum.groupBy("n").agg(
        F.min(F.when(F.col("cum") >= m_rank, F.col("c")))
        .cast("long")
        .alias("median_cents"),
        F.min(F.when(F.col("cum") >= l_rank, F.col("c")))
        .cast("long")
        .alias("ci_lo_cents"),
        F.min(F.when(F.col("cum") >= u_rank, F.col("c")))
        .cast("long")
        .alias("ci_hi_cents"),
    ).select(
        F.col("n").alias("n_orders"),
        "median_cents",
        "ci_lo_cents",
        "ci_hi_cents",
    )


MEDIAN_CI_SQL = f"""
{_ORDER_CENTS_CUM_SQL}
SELECT t.n AS n_orders,
       CAST(min(CASE WHEN cum >= CAST(floor((CAST(t.n AS DOUBLE) + 1.0)
                                            / 2.0 + 1e-6) AS BIGINT)
                     THEN c END) AS BIGINT) AS median_cents,
       CAST(min(CASE WHEN cum >= greatest(
                  CAST(1 AS BIGINT),
                  CAST(floor((CAST(t.n AS DOUBLE)
                              - {MEDIAN_CI_Z!r} * sqrt(CAST(t.n AS DOUBLE)))
                             / 2.0 + 1e-6) AS BIGINT))
                     THEN c END) AS BIGINT) AS ci_lo_cents,
       CAST(min(CASE WHEN cum >= least(
                  t.n,
                  CAST(floor((CAST(t.n AS DOUBLE)
                              + {MEDIAN_CI_Z!r} * sqrt(CAST(t.n AS DOUBLE)))
                             / 2.0 + 1.0 + 1e-6) AS BIGINT))
                     THEN c END) AS BIGINT) AS ci_hi_cents
FROM cum, tot t
GROUP BY t.n
"""


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on daily revenue (R4-195): the significance
# companion to the Theil-Sen slope (R4-101) — the standard
# non-parametric pair: MK answers IS there a monotone trend, Theil-Sen
# answers how steep. S = Σ_{i<j} sign(c_j − c_i) over day pairs
# (exact integer), tie-corrected variance
# Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 (exact integer
# arithmetic over the value-tie histogram; /18 as the only rational),
# continuity-corrected z, and a trend verdict decided on the FLOORED
# z grid vs ±1.96 (the rounded-grid decision rule).
#
# Scale shape: identical to Theil-Sen — the pair join is over the
# CALENDAR-bounded daily aggregate (domain², not corpus²; stated
# bound), S is a map-side-combinable integer sum, ties come from one
# value histogram.
# ---------------------------------------------------------------------------


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    a = daily.select(
        F.col("d").alias("da"), F.col("cents").alias("ca")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("cents").alias("cb")
    )
    s_stat = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(F.signum(F.col("cb") - F.col("ca")).cast("long"))
            .cast("long")
            .alias("s")
        )
    )
    nn = daily.agg(F.count("*").cast("long").alias("n"))
    ties = (
        daily.groupBy("cents")
        .agg(F.count("*").cast("long").alias("t"))
        .where(F.col("t") >= 2)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("long").alias("tie_term")
        )
    )
    j = s_stat.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ).cast("double") / 18.0
    z = F.when(
        F.col("s") > 0, (F.col("s") - 1).cast("double") / F.sqrt(var_s)
    ).when(
        F.col("s") < 0, (F.col("s") + 1).cast("double") / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    zf = floor_round(z, 4)
    return j.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        floor_round(var_s, 4).alias("var_s"),
        zf.alias("z_score"),
        F.when(zf > 1.96, F.lit("increasing"))
        .when(zf < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no-trend"))
        .alias("trend"),
    )


MANN_KENDALL_SQL = """
WITH daily AS MATERIALIZED (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 1e-6) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
s_stat AS (
  SELECT CAST(sum(CAST(sign(b.cents - a.cents) AS BIGINT)) AS BIGINT)
           AS s
  FROM daily a JOIN daily b ON a.d < b.d
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY cents)
  WHERE t >= 2
),
j AS (SELECT s, n, tie_term FROM s_stat, nn, ties)
SELECT n AS n_days, s AS s_stat,
       CAST(floor(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                  / 18.0 * 10000 + 1e-6) / 10000 AS DOUBLE) AS var_s,
       CAST(floor(CASE WHEN s > 0
                       THEN CAST(s - 1 AS DOUBLE)
                            / sqrt(CAST(n * (n - 1) * (2 * n + 5)
                                        - tie_term AS DOUBLE) / 18.0)
                       WHEN s < 0
                       THEN CAST(s + 1 AS DOUBLE)
                            / sqrt(CAST(n * (n - 1) * (2 * n + 5)
                                        - tie_term AS DOUBLE) / 18.0)
                       ELSE 0.0 END * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS z_score,
       CASE WHEN floor(CASE WHEN s > 0
                            THEN CAST(s - 1 AS DOUBLE)
                                 / sqrt(CAST(n * (n - 1) * (2 * n + 5)
                                             - tie_term AS DOUBLE) / 18.0)
                            WHEN s < 0
                            THEN CAST(s + 1 AS DOUBLE)
                                 / sqrt(CAST(n * (n - 1) * (2 * n + 5)
                                             - tie_term AS DOUBLE) / 18.0)
                            ELSE 0.0 END * 10000 + 1e-6) / 10000 > 1.96
            THEN 'increasing'
            WHEN floor(CASE WHEN s > 0
                            THEN CAST(s - 1 AS DOUBLE)
                                 / sqrt(CAST(n * (n - 1) * (2 * n + 5)
                                             - tie_term AS DOUBLE) / 18.0)
                            WHEN s < 0
                            THEN CAST(s + 1 AS DOUBLE)
                                 / sqrt(CAST(n * (n - 1) * (2 * n + 5)
                                             - tie_term AS DOUBLE) / 18.0)
                            ELSE 0.0 END * 10000 + 1e-6) / 10000 < -1.96
            THEN 'decreasing'
            ELSE 'no-trend' END AS trend
FROM j
"""


# ---------------------------------------------------------------------------
# TPC-H 22/22 (R5-1..R5-4): Q11 / Q12 / Q20 / Q21 — the four shapes
# excluded at R4-29 because the synthetic corpus has no partsupp
# table, no l_shipmode, and no commit/receipt dates. Rather than skip
# them, the missing attributes are DERIVED deterministically from the
# lineitem primary key via md5 (the repo's cross-engine hashing rule),
# identically in both engines, so the oracle gate grades real plans
# over real data:
#   h1/h2/h3 = md5('lx|'||l_orderkey||'|'||l_linenumber) hex bytes
#              1-8 / 9-16 / 17-24 as BIGINT
#   l_shipmode     = MODES[h1 % 7 + 1]   (7 TPC-H ship modes)
#   l_commit_days  = h2 % 31             (offset from shipdate, days)
#   l_receipt_days = 1 + h3 % 30
# "late" compares the INTEGER offsets (receipt_days > commit_days) —
# no engine-specific date arithmetic in the hot predicate. partsupp
# stand-in follows the Q2/Q16 precedent: the observed (l_partkey,
# l_suppkey) relation with ps_availqty = Σ floor(l_quantity) (exact
# BIGINT) and ps_supplycost on the 1e4 grid via the min unit price
# (min: summation-order-independent, bit-identical cross-engine).
# Nation slices stand in for the named-nation literals: % 5 == 0
# ('GERMANY', Q11), % 4 == 1 ('CANADA', Q20), % 5 == 2
# ('SAUDI ARABIA', Q21).
# Reference anchor: AQL filtered-aggregation layer
# (src/pdf_extractor/arangodb/search_api/* — SURVEY §2.2/2.5).
# ---------------------------------------------------------------------------

TPCH_MODES = ("AIR", "AIR REG", "FOB", "MAIL", "RAIL", "SHIP", "TRUCK")
# HAVING part_value > MULT × mean part value — scale-free (TPC-H's
# FRACTION/SF): value·n_parts > MULT·total compares exact BIGINTs and
# keeps a stable share of parts at every SF
TPCH_Q11_MULT = 2
TPCH_Q12_MODES = ("MAIL", "SHIP")
TPCH_HIGH_PRIO = ("1-URGENT", "2-HIGH")


def _li_ext(li: DataFrame) -> DataFrame:
    """lineitem + derived shipmode / commit-day / receipt-day columns."""
    md = F.md5(
        F.concat(
            F.lit("lx|"),
            F.col("l_orderkey").cast("string"),
            F.lit("|"),
            F.col("l_linenumber").cast("string"),
        )
    )
    h1 = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    h3 = F.conv(F.substring(md, 17, 8), 16, 10).cast("long")
    modes = F.array(*[F.lit(m) for m in TPCH_MODES])
    return (
        li.withColumn(
            "l_shipmode", F.element_at(modes, (h1 % 7 + 1).cast("int"))
        )
        .withColumn("l_commit_days", h2 % 31)
        .withColumn("l_receipt_days", h3 % 30 + 1)
    )


_LI_MD5 = (
    "md5('lx|' || CAST(l_orderkey AS VARCHAR) || '|' || "
    "CAST(l_linenumber AS VARCHAR))"
)
_LI_MODE_LIST = "[" + ", ".join(f"'{m}'" for m in TPCH_MODES) + "]"
_LI_EXT_SQL = f"""
  SELECT l.*,
         ({_LI_MODE_LIST})[
           CAST(CAST('0x' || substr({_LI_MD5}, 1, 8) AS BIGINT) % 7 + 1
                AS INT)] AS l_shipmode,
         CAST('0x' || substr({_LI_MD5}, 9, 8) AS BIGINT) % 31
           AS l_commit_days,
         CAST('0x' || substr({_LI_MD5}, 17, 8) AS BIGINT) % 30 + 1
           AS l_receipt_days
  FROM lineitem l
"""

# the Q2/Q16 partsupp stand-in with exact-integer stock/cost columns
_PS_SQL = """
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(floor(l_quantity + 1e-6) AS BIGINT)) AS BIGINT)
           AS availqty,
         CAST(floor(min(l_extendedprice / l_quantity) * 10000 + 1e-6)
              AS BIGINT) AS supplycost_grid
  FROM lineitem GROUP BY 1, 2
"""


def _ps_standin(li: DataFrame) -> DataFrame:
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.floor(F.col("l_quantity") + 1e-6))
        .cast("long")
        .alias("availqty"),
        F.floor(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")) * 10000
            + 1e-6
        )
        .cast("long")
        .alias("supplycost_grid"),
    )


def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog — important stock: group HAVING over a scalar
    subquery. value rides an exact BIGINT grid (supplycost_grid ×
    availqty) so the HAVING compares integers (part_value · n_parts >
    MULT · total_value, i.e. value > MULT × the mean — scale-free, so
    the cut stays non-trivial at every SF). Plan: one pair hash agg,
    the nation-slice supplier dim BROADCAST into it, one part hash
    agg, and the scalar total as a broadcast cross join — no window,
    no per-row subquery."""
    li = load(spark, sf_dir, "lineitem")
    nat_sup = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") % 5 == 0)
        .select("s_suppkey")
    )
    val = (
        _ps_standin(li)
        .join(
            F.broadcast(nat_sup),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "l_partkey",
            (F.col("supplycost_grid") * F.col("availqty")).alias(
                "value_grid"
            ),
        )
    )
    per_part = val.groupBy("l_partkey").agg(
        F.sum("value_grid").cast("long").alias("value_grid")
    )
    total = per_part.agg(
        F.sum("value_grid").cast("long").alias("total_grid"),
        F.count("*").cast("long").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("value_grid") * F.col("n_parts")
            > TPCH_Q11_MULT * F.col("total_grid")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            "value_grid",
            (F.col("value_grid").cast("double") / 1e4).alias("value"),
        )
        .orderBy(F.desc("value_grid"), F.asc("partkey"))
    )


TPCH_Q11_SQL = f"""
WITH ps AS ({_PS_SQL}),
val AS (
  SELECT p.l_partkey, p.supplycost_grid * p.availqty AS value_grid
  FROM ps p
  JOIN supplier s ON s.s_suppkey = p.l_suppkey AND s.s_nationkey % 5 = 0
),
per_part AS (
  SELECT l_partkey, CAST(sum(value_grid) AS BIGINT) AS value_grid
  FROM val GROUP BY 1
),
tot AS (SELECT CAST(sum(value_grid) AS BIGINT) AS total_grid,
               CAST(count(*) AS BIGINT) AS n_parts FROM per_part)
SELECT p.l_partkey AS partkey, p.value_grid,
       CAST(p.value_grid AS DOUBLE) / 10000.0 AS value
FROM per_part p, tot t
WHERE p.value_grid * t.n_parts > {TPCH_Q11_MULT} * t.total_grid
ORDER BY p.value_grid DESC, partkey ASC
"""


def tpch_q12_shipmode_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q12 analog — late lineitems by ship mode, split by order
    priority. The derived-mode/late predicates prune lineitem to a
    small slice BEFORE the join, so the slice BROADCASTS into the
    orders scan (the big side streams; no shuffle of orders). The
    1996 window filters on l_shipdate (the one real date column) —
    commit/receipt stay integer offsets."""
    li = (
        _li_ext(load(spark, sf_dir, "lineitem"))
        .where(
            F.col("l_shipmode").isin(*TPCH_Q12_MODES)
            & (F.col("l_receipt_days") > F.col("l_commit_days"))
            & (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .select("l_orderkey", "l_shipmode")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin(*TPCH_HIGH_PRIO)
    return (
        orders.join(
            F.broadcast(li), F.col("o_orderkey") == F.col("l_orderkey")
        )
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .withColumnRenamed("l_shipmode", "shipmode")
        .orderBy("shipmode")
    )


_Q12_MODE_IN = ", ".join(f"'{m}'" for m in TPCH_Q12_MODES)
_HIGH_PRIO_IN = ", ".join(f"'{p}'" for p in TPCH_HIGH_PRIO)
TPCH_Q12_SQL = f"""
WITH ext AS ({_LI_EXT_SQL})
SELECT e.l_shipmode AS shipmode,
       CAST(sum(CASE WHEN o.o_orderpriority IN ({_HIGH_PRIO_IN})
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ({_HIGH_PRIO_IN})
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM ext e
JOIN orders o ON o.o_orderkey = e.l_orderkey
WHERE e.l_shipmode IN ({_Q12_MODE_IN})
  AND e.l_receipt_days > e.l_commit_days
  AND e.l_shipdate >= TIMESTAMP '1996-01-01'
  AND e.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY 1
"""


def tpch_q20_promotion_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q20 analog — nested semi-join chain: nation-slice suppliers
    holding excess stock of 'small%' parts. availqty (all-time exact
    quantity) must exceed half the 1996-window shipments of that
    (part, supplier) pair: 2·availqty > qty_window compares exact
    BIGINTs. Plan: part slice BROADCAST LeftSemi into the pair agg,
    pair-keyed equi-join of the two aggregates, then one LeftSemi
    into the supplier dim — no correlated subquery, no window."""
    li = load(spark, sf_dir, "lineitem")
    part_f = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    shipped = (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + 1e-6))
            .cast("long")
            .alias("qty_window")
        )
    )
    excess = (
        _ps_standin(li)
        .join(
            F.broadcast(part_f),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(shipped, ["l_partkey", "l_suppkey"])
        .where(F.col("availqty") * 2 > F.col("qty_window"))
        .select("l_suppkey")
    )
    sup = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") % 4 == 1)
        .select("s_suppkey", "s_name")
    )
    return (
        sup.join(
            excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_name", "s_suppkey")
    )


TPCH_Q20_SQL = f"""
WITH ps AS ({_PS_SQL}),
shipped AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(floor(l_quantity + 1e-6) AS BIGINT)) AS BIGINT)
           AS qty_window
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
excess AS (
  SELECT p.l_suppkey
  FROM ps p
  JOIN shipped w ON w.l_partkey = p.l_partkey
                AND w.l_suppkey = p.l_suppkey
  WHERE p.availqty * 2 > w.qty_window
    AND EXISTS (SELECT 1 FROM part pa
                WHERE pa.p_partkey = p.l_partkey
                  AND pa.p_name LIKE 'small%')
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_nationkey % 4 = 1
  AND EXISTS (SELECT 1 FROM excess e WHERE e.l_suppkey = s.s_suppkey)
ORDER BY s.s_name, s.s_suppkey
"""


def tpch_q21_waiting_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q21 analog — suppliers who kept F-status orders waiting: the
    multi-EXISTS anti pattern. A (order, supplier) pair waits when it
    was late (receipt_days > commit_days), ANOTHER supplier shipped on
    the same order (LeftSemi), and NO other supplier was late on it
    (LeftAnti). numwait counts waiting ORDERS per supplier (the
    per-pair distinct makes multi-line lateness count once —
    disclosed analog of the per-lineitem original). Both EXISTS ride
    orderkey equi-keys with the supplier inequality as a join
    residual — hash joins, never a per-row subquery."""
    li = _li_ext(load(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_suppkey", "l_commit_days", "l_receipt_days"
    )
    late = (
        li.where(F.col("l_receipt_days") > F.col("l_commit_days"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    f_orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    sup = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") % 5 == 2)
        .select("s_suppkey", "s_name")
    )
    l1 = (
        late.join(
            f_orders, F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .join(
            F.broadcast(sup.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .alias("a")
    )
    others = li.select("l_orderkey", "l_suppkey").alias("b")
    sem = l1.join(
        others,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    ).alias("s")
    late_others = late.alias("c")
    waiting = sem.join(
        late_others,
        (F.col("s.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("s.l_suppkey") != F.col("c.l_suppkey")),
        "left_anti",
    )
    return (
        waiting.join(
            F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


TPCH_Q21_SQL = f"""
WITH ext AS MATERIALIZED ({_LI_EXT_SQL}),
late AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM ext WHERE l_receipt_days > l_commit_days
),
l1 AS (
  SELECT lt.l_orderkey, lt.l_suppkey
  FROM late lt
  JOIN orders o ON o.o_orderkey = lt.l_orderkey
               AND o.o_orderstatus = 'F'
  JOIN supplier sn ON sn.s_suppkey = lt.l_suppkey
                  AND sn.s_nationkey % 5 = 2
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY 1
ORDER BY numwait DESC, s_name ASC
LIMIT 100
"""
