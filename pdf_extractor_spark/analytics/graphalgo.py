"""Link-graph algorithms over the document corpus
(training:link-quality) — web-scale pretraining pipelines rank pages
by link structure before sampling (the OpenWebText/CCNet lineage uses
link-derived quality signals), and the reference's graph layer
(`arangodb/relationships.py`, `search_api/graph_traverse.py`) stops at
bounded traversal; PageRank is the canonical iterative companion.

The graded fixture is a deterministic synthetic link graph over the
``documents`` table: every doc emits three out-links —
``(7*doc_id + 1) mod N`` (a bijection, keeps the graph connected),
``(doc_id² + 3) mod N`` (quadratic residues: in-degree 0-4, creates
genuine rank spread) and ``floor(doc_id / 2)`` (2-to-1 onto the low
half: low-id hubs) — DISTINCT-ed, self-loops kept. Contiguous doc_ids
make each map total, so the graph is identical in both engines with no
data exchange beyond the 1-row corpus count. (An earlier all-bijection
fixture was rejected: a 3-regular graph has uniform PageRank ≡ 1/N,
zero test power.)

Semantics: standard damped PageRank, PR_0 = 1/N, K fixed iterations of
``PR(v) = (1-d)/N + d * Σ_{u→v} PR(u)/outdeg(u)``. Every vertex has
outdeg ≥ 1 by construction, so there is no dangling-mass term — the
fixed-point unrolls into plain SQL and the oracle checks every vertex's
score exactly (floored at 8 decimals; the fp divergence of a
differently-ordered double sum is ~1e-18 per iteration, eight orders
below the floor slack).

Scale shape: per iteration ONE shuffle keyed on the edge source (join
ranks→edges) and ONE on dst (the contribution aggregate, map-side
combinable); the edge table and its out-degrees are computed once and
reused. K is a constant (3), so the lineage stays bounded — a
convergence-driven variant would localCheckpoint per iteration exactly
like dedup.connected_components (dedup.py) and pre-partition edges by
src so iterations reuse the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import floor_round, load

PR_DAMPING = 0.85
PR_ITERS = 3
PR_OUT_LINKS = 3


def _edges(docs: DataFrame, n: DataFrame) -> DataFrame:
    """(src, dst) distinct link set; `n` is the 1-row corpus count."""
    src = F.col("src")
    return (
        docs.crossJoin(F.broadcast(n))
        .select(F.col("doc_id").alias("src"), "n")
        .select(
            "src",
            F.explode(
                F.array(
                    (src * 7 + 1) % F.col("n"),
                    (src * src + 3) % F.col("n"),
                    F.floor(src / F.lit(2)).cast("long"),
                )
            ).alias("dst"),
        )
        .distinct()
    )


def pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    edges = _edges(docs, n)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = docs.crossJoin(F.broadcast(n)).select(
        F.col("doc_id").alias("v"),
        (F.lit(1.0) / F.col("n")).alias("pr"),
    )
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(deg, "src")
            .join(ranks, edges.src == F.col("v"))
            .select("dst", (F.col("pr") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            docs.crossJoin(F.broadcast(n))
            .join(contribs, docs.doc_id == contribs.dst, "left")
            .select(
                F.col("doc_id").alias("v"),
                (
                    F.lit(1.0 - PR_DAMPING) / F.col("n")
                    + F.lit(PR_DAMPING) * F.coalesce("inflow", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.select(
        F.col("v").alias("doc_id"), floor_round(F.col("pr"), 8).alias("pagerank")
    ).orderBy("doc_id")


# Oracle edge fragments — one per spelling the oracles use. All build the
# same deterministic 3-out-link graph as _edges: the unnest form (edges,
# or directed with self-loops dropped), the UNION form (raw_edges, see
# TRIANGLE_SQL) with its undirected edge set und and degrees deg, and
# the degree-ordered orientation with the triangles it enumerates.
_UNNEST_EDGES_SQL = """
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src,
           unnest([(doc_id * 7 + 1) % (SELECT n FROM nn),
                   (doc_id * doc_id + 3) % (SELECT n FROM nn),
                   CAST(floor(doc_id / 2.0) AS BIGINT)]) AS dst
    FROM documents
  )
"""

_RAW_EDGES_SQL = """
raw_edges AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * doc_id + 3) % nn.n FROM documents, nn
  UNION
  SELECT doc_id, CAST(floor(doc_id / 2.0) AS BIGINT) FROM documents, nn
),"""

_UND_SQL = """
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw_edges WHERE src <> dst
"""

_UND_DEG_SQL = """
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
  ) GROUP BY 1
"""

_ORIENTED_SQL = """
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
              THEN u.b ELSE u.a END AS w
  FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b
"""

_TRIS_SQL = """
tris AS (
  SELECT e1.u AS x, e1.w AS y, e2.w AS z
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.w
  JOIN oriented e3 ON e3.u = e1.u AND e3.w = e2.w
)"""


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT d.doc_id AS v,
         {1.0 - PR_DAMPING} / (SELECT n FROM nn)
           + {PR_DAMPING} * coalesce(s.inflow, 0.0) AS pr
  FROM documents d LEFT JOIN (
    SELECT e.dst, sum(p.pr / g.outdeg) AS inflow
    FROM edges e JOIN deg g ON g.src = e.src
                 JOIN {prev} p ON p.v = e.src
    GROUP BY e.dst
  ) s ON s.dst = d.doc_id
)"""


PAGERANK_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
edges AS ({_UNNEST_EDGES_SQL}),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
pr0 AS (SELECT doc_id AS v, 1.0 / (SELECT n FROM nn) AS pr FROM documents),
{_pr_iter_sql("pr0", "pr1")},
{_pr_iter_sql("pr1", "pr2")},
{_pr_iter_sql("pr2", "pr3")}
SELECT v AS doc_id,
       floor(pr * 100000000 + 1e-6) / 100000000 AS pagerank
FROM pr3
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Triangle counting (training:graph-triangles) — the third classic next
# to traversal and PageRank; triangle density is a standard cohesion /
# spam-farm signal on link graphs. Algorithm is the degree-ordered
# orientation (Schank & Wagner 2005): orient every undirected edge
# from the (degree, id)-smaller endpoint to the larger, so each
# triangle is counted exactly once AND the join fan-out per vertex is
# bounded by its oriented out-degree (≤ O(√m) on any graph) — the
# trick that makes wedge-join triangle counting survive power-law
# graphs where a naive join explodes on hub vertices.
#
# Plan: two equi-joins (wedge build on the middle vertex, closure
# probe on the (u, w) pair), all hash joins on ids; per-vertex
# participation via explode + hash aggregate; top-k via TakeOrdered.
# Same deterministic link fixture as pagerank_fixed.
# ---------------------------------------------------------------------------

TRI_TOP = 10


def _und_deg_tris(docs: DataFrame, n: DataFrame):
    """(undirected edges, degree table, per-vertex triangle counts).

    Shared by triangle_count (R3) and local_clustering_coeff (R4-73) so
    both ride the identical degree-ordered-orientation plan."""
    und = (
        _edges(docs, n)
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("w").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("w").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closing = oriented.select(
        F.col("u").alias("x"), F.col("w").alias("z"), F.lit(1).alias("closed")
    )
    tris = wedges.join(closing, ["x", "z"]).select("x", "y", "z")
    per_vertex = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return und, deg, per_vertex


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    _, _, per_vertex = _und_deg_tris(docs, n)
    return (
        per_vertex.select(
            F.col("v").alias("doc_id"), "n_triangles"
        )
        .orderBy(F.desc("n_triangles"), F.asc("doc_id"))
        .limit(TRI_TOP)
    )


TRIANGLE_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
-- edge generation as UNION of the three maps (not unnest): DuckDB's
-- optimizer hits an internal binder assertion when least()/<> reference
-- an unnest-derived column under stacked DISTINCTs; UNION dedupes and
-- sidesteps it (semantically identical to pagerank's edges CTE)
{_RAW_EDGES_SQL}
und AS ({_UND_SQL}),
deg AS ({_UND_DEG_SQL}),
oriented AS ({_ORIENTED_SQL}),
{_TRIS_SQL}
SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT x AS v FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris
)
GROUP BY 1
ORDER BY n_triangles DESC, doc_id ASC
LIMIT {TRI_TOP}
"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities (R4-32, Kleinberg 1999) — the bipartite
# companion to PageRank: a page is a good AUTHORITY if good hubs link
# to it, and a good HUB if it links to good authorities. On web-corpus
# link graphs the hub score flags link farms / directory pages
# (candidates for exclusion) while authority complements PageRank as a
# quality prior. Same deterministic link fixture as pagerank_fixed.
#
# Semantics: h_0 = 1 for every vertex; K iterations of
#   a(v) = Σ_{u→v} h(u),  then L1-normalize a;
#   h(u) = Σ_{u→v} a(v),  then L1-normalize h.
# L1 (not L2) normalization keeps the update linear so the fixed
# number of iterations unrolls into plain SQL; the cross-engine fp
# divergence of a differently-ordered double sum is ~1e-15 relative,
# eight orders below the 8-decimal floor.
#
# Scale shape: per half-iteration ONE edge-keyed join plus ONE
# map-side-combinable hash aggregate (keyed dst for the authority
# pass, src for the hub pass) and a 1-row broadcast for the norm —
# identical exchange profile to PageRank, reusing the same edge
# table; K is constant so lineage stays bounded.
# ---------------------------------------------------------------------------

HITS_ITERS = 3


def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    edges = _edges(docs, n)
    hubs = docs.select(F.col("doc_id").alias("v"), F.lit(1.0).alias("h"))
    auths = None
    for _ in range(HITS_ITERS):
        a_raw = (
            edges.join(hubs, edges.src == F.col("v"))
            .groupBy("dst")
            .agg(F.sum("h").alias("a_raw"))
        )
        a_norm = a_raw.agg(F.sum("a_raw").alias("a_tot"))
        auths = (
            docs.join(a_raw, docs.doc_id == a_raw.dst, "left")
            .crossJoin(F.broadcast(a_norm))
            .select(
                F.col("doc_id").alias("v"),
                (F.coalesce("a_raw", F.lit(0.0)) / F.col("a_tot")).alias("a"),
            )
        )
        # Pin each half-iteration's scores (same pattern as dedup CC):
        # the norm aggregate and the downstream join BOTH consume the
        # raw-score subtree, so without a checkpoint the plan doubles
        # per normalization — exponential in K.
        auths = auths.localCheckpoint()
        h_raw = (
            edges.join(auths, edges.dst == F.col("v"))
            .groupBy("src")
            .agg(F.sum("a").alias("h_raw"))
        )
        h_norm = h_raw.agg(F.sum("h_raw").alias("h_tot"))
        hubs = (
            docs.join(h_raw, docs.doc_id == h_raw.src, "left")
            .crossJoin(F.broadcast(h_norm))
            .select(
                F.col("doc_id").alias("v"),
                (F.coalesce("h_raw", F.lit(0.0)) / F.col("h_tot")).alias("h"),
            )
        )
        hubs = hubs.localCheckpoint()
    return (
        auths.join(hubs, "v")
        .select(
            F.col("v").alias("doc_id"),
            floor_round(F.col("a"), 8).alias("authority"),
            floor_round(F.col("h"), 8).alias("hub"),
        )
        .orderBy("doc_id")
    )


def _hits_iter_sql(prev_h: str, out_a: str, out_h: str) -> str:
    # MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    # score CTE here is consumed twice (norm subquery + join) — the
    # oracle's analog of the Spark side's localCheckpoint.
    return f"""{out_a}_raw AS MATERIALIZED (
  SELECT e.dst AS v, sum(p.h) AS a_raw
  FROM edges e JOIN {prev_h} p ON p.v = e.src
  GROUP BY e.dst
),
{out_a} AS MATERIALIZED (
  SELECT d.doc_id AS v,
         coalesce(r.a_raw, 0.0)
           / (SELECT sum(a_raw) FROM {out_a}_raw) AS a
  FROM documents d LEFT JOIN {out_a}_raw r ON r.v = d.doc_id
),
{out_h}_raw AS MATERIALIZED (
  SELECT e.src AS v, sum(p.a) AS h_raw
  FROM edges e JOIN {out_a} p ON p.v = e.dst
  GROUP BY e.src
),
{out_h} AS MATERIALIZED (
  SELECT d.doc_id AS v,
         coalesce(r.h_raw, 0.0)
           / (SELECT sum(h_raw) FROM {out_h}_raw) AS h
  FROM documents d LEFT JOIN {out_h}_raw r ON r.v = d.doc_id
)"""


HITS_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
edges AS ({_UNNEST_EDGES_SQL}),
h0 AS (SELECT doc_id AS v, 1.0 AS h FROM documents),
{_hits_iter_sql("h0", "a1", "h1")},
{_hits_iter_sql("h1", "a2", "h2")},
{_hits_iter_sql("h2", "a3", "h3")}
SELECT a3.v AS doc_id,
       floor(a3.a * 100000000 + 1e-6) / 100000000 AS authority,
       floor(h3.h * 100000000 + 1e-6) / 100000000 AS hub
FROM a3 JOIN h3 ON h3.v = a3.v
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# k-core peel (R4-61, training:graph-kcore): the density filter next to
# PageRank/HITS/triangles — vertices surviving iterated removal of
# degree < K endpoints form the K-core (Seidman 1983), the standard
# "dense neighborhood" prior for link-farm and community detection.
# Same deterministic link fixture as pagerank_fixed, symmetrized to an
# undirected self-loop-free edge set. KCORE_ROUNDS peel rounds run as
# one degree hash aggregate + two LeftSemi hash joins each; the edge
# set is localCheckpoint-pinned per round because BOTH the next degree
# aggregate and the next semi-joins consume it (unpinned, the plan
# doubles per round — the HITS/CC lesson). Fixed rounds keep the two
# engines unrolled identically; the unit suite proves the fixture
# converges inside the budget, so the output IS the exact 4-core.
# Scale: every step is an equi-key hash op; per-round work shrinks
# monotonically (edges only ever get removed).
# ---------------------------------------------------------------------------

KCORE_K = 4
KCORE_ROUNDS = 4


def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    directed = _edges(docs, n).filter(F.col("src") != F.col("dst"))
    und = (
        directed.select("src", "dst")
        .union(directed.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    e = und.localCheckpoint()
    for _ in range(KCORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("src")
        )
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint()
        )
    return (
        e.groupBy("src")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .select(F.col("src").alias("doc_id"), "core_degree")
        .orderBy("doc_id")
    )


def _kcore_round_sql(prev: str, out: str) -> str:
    return f"""k{out} AS MATERIALIZED (
  SELECT src FROM (SELECT src, count(*) AS deg FROM e{prev} GROUP BY 1)
  WHERE deg >= {KCORE_K}
),
e{out} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{prev} e
  JOIN k{out} a ON a.src = e.src
  JOIN k{out} b ON b.src = e.dst
)"""


KCORE_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
directed AS ({_UNNEST_EDGES_SQL}  WHERE src <> dst
),
e0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM directed
    UNION ALL
    SELECT dst AS src, src AS dst FROM directed
  )
),
{_kcore_round_sql("0", "1")},
{_kcore_round_sql("1", "2")},
{_kcore_round_sql("2", "3")},
{_kcore_round_sql("3", "4")}
SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
FROM e4
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Degree assortativity (R4-66): Pearson correlation of endpoint
# degrees over the undirected edge list (Newman 2002) — one scalar
# that separates hub-attached topologies (r < 0, link farms, webby
# graphs) from peer-meshes (r > 0, social/citation cores); the natural
# companion statistic to pagerank/HITS/k-core over the same fixture.
# Both edge orientations contribute (the standard undirected
# convention), so Sx == Sy by construction and the formula reduces to
# integer sums only: degrees are ints, every accumulator is a sum of
# int products — engine-exact up to the final floor, no FP-order
# sensitivity. Scale shape: one degree hash aggregate, one fan-out-1
# join per endpoint (degree table is corpus-bounded, broadcastable at
# dim scale), one global aggregate. No window, no sort.
# ---------------------------------------------------------------------------


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    directed = _edges(docs, n).filter(F.col("src") != F.col("dst"))
    und = (
        directed.select("src", "dst")
        .union(directed.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    ends = (
        und.join(deg, "src")
        .select("dst", F.col("deg").alias("dx"))
        .join(deg.select(F.col("src").alias("dst"),
                         F.col("deg").alias("dy")), "dst")
    )
    s = ends.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "m",
        floor_round(F.col("sx") / F.col("m"), 6).alias("mean_end_degree"),
        floor_round(num / den, 6).alias("assortativity"),
    )


ASSORTATIVITY_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
directed AS ({_UNNEST_EDGES_SQL}  WHERE src <> dst
),
und AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM directed
    UNION ALL
    SELECT dst AS src, src AS dst FROM directed
  )
),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM und GROUP BY 1),
ends AS (
  SELECT a.deg AS dx, b.deg AS dy
  FROM und e
  JOIN deg a ON a.src = e.src
  JOIN deg b ON b.src = e.dst
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS sx,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM ends
)
SELECT m,
       CAST(floor(CAST(sx AS DOUBLE) / m * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS mean_end_degree,
       CAST(floor((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                  / (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS assortativity
FROM s
"""


# ---------------------------------------------------------------------------
# Local clustering coefficient (R4-73, Watts-Strogatz 1998) — the
# per-vertex refinement of triangle_count: C(v) = 2·T(v)/(d(v)·(d(v)−1)),
# the fraction of a page's neighbor pairs that also link each other.
# On link graphs high C with low PageRank flags cliquish link farms;
# C = 0 on a high-degree vertex flags a pure directory/hub. Completes
# the cohesion family (triangles = global, k-core = peel depth,
# assortativity = mixing, clustering = local density).
#
# Same deterministic link fixture and the same degree-ordered
# orientation as triangle_count (shared _und_deg_tris helper — one
# wedge join bounded by oriented out-degree, never a hub fan-out);
# per-vertex T and d then meet in two left joins from the vertex
# table, so isolated vertices keep degree 0 and coefficient 0.0.
# Exactness: T and d are exact integers; the coefficient is ONE
# division of exact integers, floored at 6.
# ---------------------------------------------------------------------------


def local_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    und, deg, per_vertex = _und_deg_tris(docs, n)
    coeff = F.when(
        F.col("degree") >= 2,
        floor_round(
            2.0
            * F.col("n_triangles")
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        docs.join(
            deg.select(F.col("v").alias("doc_id"), F.col("d").alias("degree")),
            "doc_id",
            "left",
        )
        .join(
            per_vertex.select(F.col("v").alias("doc_id"), "n_triangles"),
            "doc_id",
            "left",
        )
        .na.fill({"degree": 0, "n_triangles": 0})
        .select(
            "doc_id",
            F.col("degree").cast("long").alias("degree"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            coeff.alias("clustering"),
        )
        .orderBy("doc_id")
    )


LOCAL_CLUSTERING_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
{_RAW_EDGES_SQL}
und AS MATERIALIZED ({_UND_SQL}),
deg AS MATERIALIZED ({_UND_DEG_SQL}),
oriented AS MATERIALIZED ({_ORIENTED_SQL}),
{_TRIS_SQL},
pv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT x AS v FROM tris
    UNION ALL SELECT y FROM tris
    UNION ALL SELECT z FROM tris
  )
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(g.d, 0) AS BIGINT) AS degree,
       CAST(coalesce(pv.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN coalesce(g.d, 0) >= 2
            THEN CAST(floor(2.0 * coalesce(pv.n_triangles, 0)
                            / (g.d * (g.d - 1)) * 1000000 + 1e-6)
                      / 1000000 AS DOUBLE)
            ELSE 0.0 END AS clustering
FROM documents d
LEFT JOIN deg g ON g.v = d.doc_id
LEFT JOIN pv ON pv.v = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# BFS distance levels from a source page (R4-87, training:graph-bfs —
# the "crawl frontier" / link-distance prior: distance from a trusted
# seed is a classic quality signal, and level sets are what a
# distributed crawler actually schedules). Directed BFS over the link
# fixture from doc 0, K = BFS_ROUNDS frontier expansions: each round
# is ONE equi-join (frontier → out-edges) + ONE anti-join against the
# visited set + a distinct — all hash ops on ids; the visited set is
# localCheckpoint-pinned per round because round r+1's join AND
# anti-join both consume it (the HITS/CC plan-doubling lesson). The
# oracle unrolls the K rounds as MATERIALIZED CTEs. The contract is
# the K-LEVEL SET: every emitted distance is the exact shortest
# directed distance (first-reach = min), and vertices farther than K
# hops are absent by design (the bounded frontier a crawler actually
# schedules); the unit checks both against an unbounded Python BFS.
# ---------------------------------------------------------------------------

BFS_SOURCE = 0
BFS_ROUNDS = 4


def bfs_distance_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    edges = _edges(docs, n).persist()
    dist = spark.createDataFrame(
        [(BFS_SOURCE, 0)], "v long, dist int"
    ).localCheckpoint()
    frontier = dist.select("v")
    for r in range(1, BFS_ROUNDS + 1):
        reached = (
            edges.join(frontier, edges.src == frontier.v)
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        new = reached.join(dist.select("v"), "v", "left_anti").select(
            "v", F.lit(r).cast("int").alias("dist")
        )
        dist = dist.unionByName(new).localCheckpoint()
        frontier = new.select("v")
    return dist.select(
        F.col("v").alias("doc_id"), F.col("dist").cast("long").alias("dist")
    ).orderBy("doc_id")


def _bfs_round_sql(r: int) -> str:
    return f"""f{r} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS v
  FROM edges e JOIN f{r - 1} f ON e.src = f.v
  WHERE e.dst NOT IN (SELECT v FROM d{r - 1})
),
d{r} AS MATERIALIZED (
  SELECT v, dist FROM d{r - 1}
  UNION ALL
  SELECT v, {r} AS dist FROM f{r}
)"""


BFS_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
edges AS MATERIALIZED ({_UNNEST_EDGES_SQL}),
d0 AS MATERIALIZED (SELECT CAST({BFS_SOURCE} AS BIGINT) AS v, 0 AS dist),
f0 AS MATERIALIZED (SELECT v FROM d0),
{",".join(_bfs_round_sql(r) for r in range(1, BFS_ROUNDS + 1))}
SELECT v AS doc_id, CAST(dist AS BIGINT) AS dist
FROM d{BFS_ROUNDS}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Power-law degree exponent MLE (R4-94, Clauset-Shalizi-Newman 2009 —
# the continuous-approximation estimator α = 1 + n / Σ ln(d / d_min)
# over degrees ≥ d_min): whether a link graph's degree tail is
# power-law-ish (α ≈ 2-3 for webby graphs) decides if hub-aware
# strategies (degree-ordered orientation, skew salting) are needed —
# the planning statistic behind the triangle/k-core machinery above.
# The degree table collapses to a DEGREE-VALUE histogram first, so ln
# runs once per distinct degree (domain-bounded), each term
# n_d·floor6(ln(d/d_min)) is an exact BIGINT after the per-value
# floor (ln's cross-engine ulp is 10 orders below the slack), and the
# final α is one division. Undirected degrees from the shared link
# fixture; d_min fixed at 2 (degree-1 leaves are not tail).
# ---------------------------------------------------------------------------

PL_DMIN = 2


def degree_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    und, deg, _ = _und_deg_tris(docs, n)
    hist = (
        deg.filter(F.col("d") >= PL_DMIN)
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("n_d"))
    )
    term = (
        F.col("n_d")
        * F.floor(
            F.log(F.col("d").cast("double") / PL_DMIN) * 1000000 + 1e-6
        ).cast("long")
    )
    agg = hist.agg(
        F.sum("n_d").cast("long").alias("n_tail"),
        F.sum(term).cast("long").alias("sum_ln_i"),
    )
    return agg.select(
        "n_tail",
        "sum_ln_i",
        floor_round(
            1.0
            + F.col("n_tail").cast("double")
            * 1000000.0
            / F.col("sum_ln_i"),
            6,
        ).alias("alpha_mle"),
    )


POWERLAW_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
{_RAW_EDGES_SQL}
und AS ({_UND_SQL}),
deg AS ({_UND_DEG_SQL}),
hist AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_d
  FROM deg WHERE d >= {PL_DMIN} GROUP BY 1
),
agg AS (
  SELECT CAST(sum(n_d) AS BIGINT) AS n_tail,
         CAST(sum(n_d * CAST(floor(ln(CAST(d AS DOUBLE) / {PL_DMIN})
                                   * 1000000 + 1e-6) AS BIGINT))
              AS BIGINT) AS sum_ln_i
  FROM hist
)
SELECT n_tail, sum_ln_i,
       CAST(floor((1.0 + CAST(n_tail AS DOUBLE) * 1000000.0 / sum_ln_i)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS alpha_mle
FROM agg
"""


# ---------------------------------------------------------------------------
# Link prediction scores (R4-171, training:link-prediction — the
# classic "pages that should link but don't" signal; in a crawl
# pipeline the same scores rank discovery candidates and detect
# template families whose near-identical link sets imply mirrored
# content). For every NON-adjacent pair (u, v) sharing at least one
# common neighbor in the undirected link fixture: common-neighbor
# count, Jaccard overlap of the neighborhoods, and Adamic-Adar
# Σ_w 1/ln(deg(w)) over the shared neighbors w.
#
# Exactness: each AA term is put on an integer 1e-6 grid BEFORE the
# sum (floor(1e6/ln(deg_w))) so the aggregate is an exact BIGINT sum —
# accumulation order cannot perturb it and the ranking runs on the
# integer grid with (cn, u, v) tiebreaks (the rounded-grid decision
# rule). deg(w) ≥ 2 for every wedge center (it has two neighbors), so
# ln is never 0. Jaccard is a single exact rational, floored at 6.
#
# Scale shape: wedge enumeration fans out deg(w)²/2 pairs per center —
# the clique hazard of docs/PLANS.md §18 — so centers above
# LP_HUB_CAP are EXCLUDED, the production practice for
# common-neighbor features (a celebrity/hub contributes ~0 AA weight
# anyway: 1/ln(deg) → 0). The cap makes per-center fan-out a
# constant; candidate volume is then linear in edges. Existing edges
# drop via one LeftAnti hash join; the final cut is a TakeOrdered on
# the grid, no global sort. Reference anchor: relationship suggestion
# over shared-neighborhood evidence (agent_decision.py:43-105) — this
# is the structural (non-embedding) counterpart.
# ---------------------------------------------------------------------------

LP_HUB_CAP = 64
LP_TOP = 50


def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    und, deg, _ = _und_deg_tris(docs, n)
    adj = und.select(
        F.col("a").alias("w"), F.col("b").alias("x")
    ).unionAll(und.select(F.col("b").alias("w"), F.col("a").alias("x")))
    # d >= 2 guard: a degree-1 vertex cannot center a wedge anyway,
    # and ln(1) = 0 would be an ANSI divide-by-zero on non-contiguous
    # id corpora (adversarial-sweep find: appended high-id docs leave
    # dangling degree-1 link targets)
    centers = deg.where(
        (F.col("d") <= LP_HUB_CAP) & (F.col("d") >= 2)
    ).select(
        F.col("v").alias("w"),
        F.floor(1e6 / F.log(F.col("d").cast("double")) + 1e-6)
        .cast("long")
        .alias("aa_grid_term"),
    )
    wedge = (
        adj.select("w", F.col("x").alias("u"))
        .join(adj.select("w", F.col("x").alias("v")), "w")
        .where(F.col("u") < F.col("v"))
        .join(centers, "w")
    )
    cand = wedge.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("cn"),
        F.sum("aa_grid_term").cast("long").alias("aa_grid"),
    )
    non_edges = cand.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("v").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("v").alias("v"), F.col("d").alias("dv"))
    return (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            # "capped": cn counts only common neighbors passing the
            # 2<=d<=LP_HUB_CAP center filter while du/dv are full
            # degrees — a deliberate production trade (hubs contribute
            # ~0 AA weight), named so consumers don't read it as the
            # true neighborhood Jaccard
            floor_round(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard_capped"),
            (F.col("aa_grid").cast("double") / 1e6).alias("adamic_adar"),
            F.col("aa_grid"),
        )
        .orderBy(
            F.desc("aa_grid"), F.desc("cn"), F.asc("u"), F.asc("v")
        )
        .limit(LP_TOP)
    )


LINK_PREDICTION_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
{_RAW_EDGES_SQL}
und AS MATERIALIZED ({_UND_SQL}),
deg AS MATERIALIZED ({_UND_DEG_SQL}),
adj AS MATERIALIZED (
  SELECT a AS w, b AS x FROM und UNION ALL SELECT b, a FROM und
),
centers AS (
  SELECT v AS w,
         CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)) + 1e-6) AS BIGINT)
           AS aa_grid_term
  FROM deg WHERE d <= {LP_HUB_CAP} AND d >= 2
),
cand AS (
  SELECT a1.x AS u, a2.x AS v,
         CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(c.aa_grid_term) AS BIGINT) AS aa_grid
  FROM adj a1
  JOIN adj a2 ON a2.w = a1.w AND a1.x < a2.x
  JOIN centers c ON c.w = a1.w
  GROUP BY 1, 2
),
non_edges AS (
  SELECT * FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.a = c.u AND e.b = c.v)
)
SELECT ne.u, ne.v, ne.cn,
       CAST(floor(CAST(ne.cn AS DOUBLE)
                  / CAST(gu.d + gv.d - ne.cn AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS jaccard_capped,
       CAST(ne.aa_grid AS DOUBLE) / 1000000.0 AS adamic_adar,
       ne.aa_grid
FROM non_edges ne
JOIN deg gu ON gu.v = ne.u
JOIN deg gv ON gv.v = ne.v
ORDER BY ne.aa_grid DESC, ne.cn DESC, ne.u ASC, ne.v ASC
LIMIT {LP_TOP}
"""


# ---------------------------------------------------------------------------
# Semi-supervised label propagation, K fixed synchronous rounds
# (R4-183, training:label-propagation — the classic "spread the
# trusted labels" pass: seed a few pages with known classes, let
# labels flow over the link graph; web-quality pipelines use exactly
# this to extend a small human-labeled set). Seeds: doc_id <
# LPA_SEEDS carry label doc_id % LPA_CLASSES, permanently. Each
# round, every NON-seed vertex takes the majority label among its
# labeled neighbors from the PREVIOUS round (count desc, label asc
# tie-break — a deterministic argmax on integers); vertices with no
# labeled neighbor keep their previous state. K = LPA_ROUNDS.
#
# Distinct from connected components (min-label fixpoint, rows-only):
# LPA's majority vote is not monotone, so the round count is part of
# the CONTRACT (K fixed) and the whole operator unrolls into both
# engines exactly — argmax decisions are pure integer (count, label)
# comparisons, no floats anywhere.
#
# Scale shape: per round ONE join (prev labels → adjacency) + ONE
# (vertex, label) count aggregate + ONE integer argmax aggregate —
# all hash ops on vertex ids; prev labels localCheckpoint-pinned per
# round (the §19 plan-doubling pin: each round's output feeds BOTH
# the next round's join and its keep-previous fallback).
# ---------------------------------------------------------------------------

LPA_SEEDS = 24
LPA_CLASSES = 4
LPA_ROUNDS = 3


def label_propagation_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n"))
    und, _, _ = _und_deg_tris(docs, n)
    adj = und.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("w")))
    adj = adj.localCheckpoint(eager=True)
    labels = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") < LPA_SEEDS,
            (F.col("doc_id") % LPA_CLASSES).cast("long"),
        ).alias("label"),
        (F.col("doc_id") < LPA_SEEDS).alias("is_seed"),
    ).localCheckpoint(eager=True)
    for _r in range(LPA_ROUNDS):
        nbr = (
            adj.join(
                labels.where(F.col("label").isNotNull()).select(
                    F.col("doc_id").alias("w"), F.col("label").alias("nl")
                ),
                "w",
            )
            .groupBy(F.col("v").alias("doc_id"), F.col("nl"))
            .agg(F.count("*").cast("long").alias("c"))
        )
        vote = (
            nbr.groupBy("doc_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"),
                        (-F.col("nl")).alias("neg"),
                    )
                ).alias("m")
            )
            .select("doc_id", (-F.col("m.neg")).cast("long").alias("maj"))
        )
        labels = (
            labels.join(vote, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("is_seed"), F.col("label"))
                .otherwise(F.coalesce(F.col("maj"), F.col("label")))
                .alias("label"),
                "is_seed",
            )
            .localCheckpoint(eager=True)
        )
    return labels.select(
        "doc_id",
        "label",
        F.col("is_seed").cast("boolean").alias("is_seed"),
    ).orderBy("doc_id")


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""
nbr_{out} AS (
  SELECT a.v AS doc_id, p.label AS nl, CAST(count(*) AS BIGINT) AS c
  FROM adj a JOIN {prev} p ON p.doc_id = a.w
  WHERE p.label IS NOT NULL
  GROUP BY 1, 2
),
vote_{out} AS (
  SELECT doc_id, nl AS maj FROM (
    SELECT doc_id, nl,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, nl ASC) AS rk
    FROM nbr_{out}
  ) WHERE rk = 1
),
{out} AS MATERIALIZED (
  SELECT p.doc_id,
         CASE WHEN p.is_seed THEN p.label
              ELSE coalesce(v.maj, p.label) END AS label,
         p.is_seed
  FROM {prev} p LEFT JOIN vote_{out} v ON v.doc_id = p.doc_id
)"""


LABEL_PROPAGATION_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
{_RAW_EDGES_SQL}
und AS MATERIALIZED ({_UND_SQL}),
adj AS MATERIALIZED (
  SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und
),
l0 AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id < {LPA_SEEDS}
              THEN CAST(doc_id % {LPA_CLASSES} AS BIGINT) END AS label,
         doc_id < {LPA_SEEDS} AS is_seed
  FROM documents
),
{",".join(_lpa_round_sql(f"l{r}", f"l{r + 1}") for r in range(LPA_ROUNDS))}
SELECT doc_id, label, is_seed
FROM l{LPA_ROUNDS}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Bradley-Terry strength fit over pairwise preferences (R4-184,
# training:bradley-terry — the model behind reward-model data
# analysis: given "A beat B" comparisons, estimate latent strengths;
# RLHF preference sets are audited with exactly this fit before
# training). Comparison fixture (deterministic, stated rule):
# adjacent documents (doc_id, doc_id+1) from DIFFERENT sources form a
# match between their sources; the longer document (n_chars) wins,
# ties are dropped. Items are the ~20 sources.
#
# Fit: BT_ITERS rounds of the classic MM update
#   p_i ← W_i / Σ_j n_ij / (p_i + p_j),  then rescale to Σp = n_items
# with every update QUANTIZED (stated rule): each denominator term
# lands on an exact 1e-9 BIGINT grid before the per-item sum, and the
# rescaled strengths are re-floored onto the 1e-9 grid at the end of
# every round — so all cross-item aggregation is exact integer
# arithmetic and both engines replay the identical fit step for step
# (the MMR greedy-walk lesson, docs/PLANS.md §19).
#
# Scale shape: the comparison aggregate is one self-join on doc_id+1
# (equi) + one hash agg; each MM round joins the directed match table
# to the K-item strength table (broadcast) and re-aggregates per
# item — per-round cost is O(matches), lineage pinned by
# localCheckpoint per round.
# ---------------------------------------------------------------------------

BT_ITERS = 3
BT_GRID = 1_000_000_000  # 1e-9 quantization grid


def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("source").alias("source_b"),
        F.col("n_chars").alias("n_chars_b"),
    )
    matches = (
        docs.join(nxt, "doc_id")
        .where(
            (F.col("source") != F.col("source_b"))
            & (F.col("n_chars") != F.col("n_chars_b"))
        )
        .select(
            F.least("source", "source_b").alias("i"),
            F.greatest("source", "source_b").alias("j"),
            F.when(
                (
                    (F.col("n_chars") > F.col("n_chars_b"))
                    & (F.col("source") < F.col("source_b"))
                )
                | (
                    (F.col("n_chars_b") > F.col("n_chars"))
                    & (F.col("source_b") < F.col("source"))
                ),
                1,
            )
            .otherwise(0)
            .alias("i_won"),
        )
    )
    pair = matches.groupBy("i", "j").agg(
        F.count("*").cast("long").alias("n_ij"),
        F.sum("i_won").cast("long").alias("w_i"),
    )
    directed = pair.select(
        F.col("i").alias("item"), F.col("j").alias("opp"),
        "n_ij", F.col("w_i").alias("w"),
    ).unionByName(
        pair.select(
            F.col("j").alias("item"), F.col("i").alias("opp"),
            "n_ij", (F.col("n_ij") - F.col("w_i")).alias("w"),
        )
    ).localCheckpoint(eager=True)
    items = directed.groupBy("item").agg(
        F.sum("w").cast("long").alias("wins"),
        F.sum("n_ij").cast("long").alias("matches"),
    ).localCheckpoint(eager=True)
    n_items = items.count()  # bounded: the source dimension
    p = items.select("item", F.lit(float(1.0)).alias("p"))
    for _r in range(BT_ITERS):
        pj = p.select(F.col("item").alias("opp"), F.col("p").alias("p_opp"))
        denom = (
            directed.join(F.broadcast(p), "item")
            .join(F.broadcast(pj), "opp")
            .select(
                "item",
                F.floor(
                    F.col("n_ij").cast("double")
                    * BT_GRID
                    / (F.col("p") + F.col("p_opp"))
                    + 1e-6
                )
                .cast("long")
                .alias("t"),
            )
            .groupBy("item")
            .agg(F.sum("t").cast("long").alias("dg"))
        )
        raw = (
            items.join(denom, "item")
            .select(
                "item",
                F.floor(
                    F.col("wins").cast("double")
                    * BT_GRID
                    * BT_GRID
                    / F.col("dg").cast("double")
                    + 1e-6
                )
                .cast("long")
                .alias("pg"),
            )
        )
        tot = raw.agg(F.sum("pg").cast("long").alias("s"))
        p = (
            raw.crossJoin(F.broadcast(tot))
            .select(
                "item",
                (
                    F.floor(
                        F.col("pg").cast("double")
                        * float(n_items)
                        * BT_GRID
                        / F.col("s").cast("double")
                        + 1e-6
                    ).cast("long")
                    / F.lit(float(BT_GRID))
                ).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        items.join(p, "item")
        .select(
            F.col("item").alias("source"),
            "wins",
            "matches",
            floor_round(F.col("p"), 6).alias("strength"),
        )
        .orderBy(F.desc("strength"), F.asc("source"))
    )


def _bt_round_sql(prev: str, out: str) -> str:
    return f"""
denom_{out} AS (
  SELECT d.item,
         CAST(sum(CAST(floor(CAST(d.n_ij AS DOUBLE) * {BT_GRID}
                             / (pi.p + pj.p) + 1e-6) AS BIGINT))
              AS BIGINT) AS dg
  FROM directed d
  JOIN {prev} pi ON pi.item = d.item
  JOIN {prev} pj ON pj.item = d.opp
  GROUP BY 1
),
raw_{out} AS (
  SELECT i.item,
         CAST(floor(CAST(i.wins AS DOUBLE) * {BT_GRID} * {BT_GRID}
                    / CAST(g.dg AS DOUBLE) + 1e-6) AS BIGINT) AS pg
  FROM items i JOIN denom_{out} g ON g.item = i.item
),
{out} AS MATERIALIZED (
  SELECT item,
         CAST(floor(CAST(pg AS DOUBLE)
                    * (SELECT CAST(count(*) AS DOUBLE) FROM items)
                    * {BT_GRID}
                    / (SELECT CAST(sum(pg) AS DOUBLE) FROM raw_{out})
                    + 1e-6) AS BIGINT) / CAST({BT_GRID} AS DOUBLE) AS p
  FROM raw_{out}
)"""


BRADLEY_TERRY_SQL = f"""
WITH pairs_src AS (
  SELECT least(a.source, b.source) AS i,
         greatest(a.source, b.source) AS j,
         CASE WHEN (a.n_chars > b.n_chars AND a.source < b.source)
                OR (b.n_chars > a.n_chars AND b.source < a.source)
              THEN 1 ELSE 0 END AS i_won
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.source <> b.source AND a.n_chars <> b.n_chars
),
pair AS (
  SELECT i, j, CAST(count(*) AS BIGINT) AS n_ij,
         CAST(sum(i_won) AS BIGINT) AS w_i
  FROM pairs_src GROUP BY 1, 2
),
directed AS MATERIALIZED (
  SELECT i AS item, j AS opp, n_ij, w_i AS w FROM pair
  UNION ALL
  SELECT j, i, n_ij, n_ij - w_i FROM pair
),
items AS MATERIALIZED (
  SELECT item, CAST(sum(w) AS BIGINT) AS wins,
         CAST(sum(n_ij) AS BIGINT) AS matches
  FROM directed GROUP BY 1
),
p0 AS MATERIALIZED (SELECT item, CAST(1.0 AS DOUBLE) AS p FROM items),
{",".join(_bt_round_sql(f"p{r}", f"p{r + 1}") for r in range(BT_ITERS))}
SELECT i.item AS source, i.wins, i.matches,
       CAST(floor(f.p * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS strength
FROM items i JOIN p{BT_ITERS} f ON f.item = i.item
ORDER BY strength DESC, source ASC
"""
