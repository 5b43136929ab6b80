"""Iterative graph analytics: PageRank over the nation trade graph.

Complements the connected-components operator (operators/graph.py) with
the other canonical iterative graph algorithm. The graph is built from
the fact tables (customer-nation → supplier-nation edges weighted by
lineitem count), so the expensive stage is a standard TPC-H-shaped
multi-join; the iteration itself runs over a nation-cardinality
edge list.

Determinism across engines for an ITERATIVE float algorithm is the
interesting part: ranks are kept as ×1e12 fixed-point BIGINTs, each
edge contribution is floor(rank*0.85*w/out_w + 0.5) — a fixed IEEE
sequence identical on both engines — and the per-node combine is exact
integer summation (order-independent). Errors therefore do not drift
run-to-run or engine-to-engine even after repeated iterations; this is
the same discipline a 1000-executor PageRank needs to be reproducible
under AQE re-partitioning.

Reference analog: none (the reference has no graph ops) — LLM-pipeline
extension (link-graph quality signals for crawl curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dround, sql_dround
from ..session import load_tables
from .registry import query

_PR_ITERS = 3
_PR_SCALE = 1_000_000_000_000  # 1e12 fixed point
_PR_N = 25  # nation-table cardinality (pinned TPC-H constant)
_PR_R0 = _PR_SCALE // _PR_N
_PR_TELEPORT = int(0.15 * _PR_SCALE) // _PR_N
_PR_DAMP = 0.85


def _sql_iteration(prev: str, cur: str, i: int) -> str:
    return f"""
c{i} AS (
    SELECT e.dst AS node,
           CAST(SUM(CAST(FLOOR(CAST(r.rank_micro AS DOUBLE) * {_PR_DAMP}
                * e.w / e.out_w + 0.5) AS BIGINT)) AS BIGINT) AS contrib
    FROM edges e JOIN {prev} r ON r.node = e.src
    GROUP BY 1
),
{cur} AS (
    SELECT n.node,
           CAST({_PR_TELEPORT} AS BIGINT) + COALESCE(c.contrib, 0) AS rank_micro
    FROM nodes n LEFT JOIN c{i} c USING (node)
)"""


@query(
    "pagerank_trade_graph",
    oracle=f"""
WITH edges0 AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
outw AS (SELECT src, SUM(w) AS out_w FROM edges0 GROUP BY 1),
edges AS (SELECT e.src, e.dst, e.w, o.out_w FROM edges0 e JOIN outw o USING (src)),
nodes AS (SELECT n_nationkey AS node FROM nation),
r0 AS (SELECT node, CAST({_PR_R0} AS BIGINT) AS rank_micro FROM nodes),
{_sql_iteration('r0', 'r1', 1)},
{_sql_iteration('r1', 'r2', 2)},
{_sql_iteration('r2', 'r3', 3)}
SELECT na.n_name AS nation,
       r.rank_micro,
       CAST(r.rank_micro AS DOUBLE) / {float(_PR_SCALE)} AS pagerank
FROM r3 r JOIN nation na ON na.n_nationkey = r.node
""",
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration weighted PageRank over the customer→supplier nation graph.

    Scale: the edge build is the only full-scan stage — lineitem⋈orders
    shuffles on orderkey while customer/supplier/nation dims broadcast;
    it aggregates straight down to ≤625 (src, dst) rows. Each iteration
    is then a broadcast join + integer agg over that bounded edge list,
    and driver state is never more than the 25-row rank vector — the
    same shape a web-scale PageRank has (edges partition-local, rank
    vector re-broadcast per superstep).
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    edges0 = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    outw = edges0.groupBy("src").agg(F.sum("w").alias("out_w"))
    # outw is node-cardinality (model-sized) — broadcast it so the edge
    # list never shuffles for the normalization join (the plan otherwise
    # re-plans this as a per-iteration SortMergeJoin). The edge list is
    # MATERIALIZED once (localCheckpoint, the connected_components
    # pattern): its lineage is the full fact-table multi-join that
    # every superstep would otherwise re-run, and unlike persist() the
    # blocks are freed by the ContextCleaner when the frame is dropped
    # — a returned lazy DataFrame has no unpersist point.
    edges = edges0.join(F.broadcast(outw), "src").localCheckpoint(
        eager=True
    )
    nodes = t["nation"].select(F.col("n_nationkey").cast("bigint").alias("node"))
    ranks = nodes.select("node", F.lit(_PR_R0).cast("bigint").alias("rank_micro"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    F.col("rank_micro").cast("double")
                    * F.lit(_PR_DAMP)
                    * F.col("w")
                    / F.col("out_w")
                    + 0.5
                )
                .cast("bigint")
                .alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("contrib"))
        )
        # contrib aggregates to node cardinality — broadcast it into the
        # rank update so no superstep shuffles the node table
        ranks = nodes.join(F.broadcast(contrib), "node", "left").select(
            "node",
            (
                F.lit(_PR_TELEPORT).cast("bigint")
                + F.coalesce(F.col("contrib"), F.lit(0).cast("bigint"))
            ).alias("rank_micro"),
        )
    return ranks.join(
        F.broadcast(t["nation"]), ranks.node == F.col("n_nationkey")
    ).select(
        F.col("n_name").alias("nation"),
        "rank_micro",
        (F.col("rank_micro").cast("double") / F.lit(float(_PR_SCALE))).alias(
            "pagerank"
        ),
    )


# --------------------------------------------------------------------------
# Synchronous label propagation (3 supersteps) over the symmetrized
# trade graph — the cheap community-detection sibling of PageRank.
# Entirely integer: votes are edge-weight sums, the winner is an
# argmax with a (votes DESC, label ASC) tiebreak, isolated nodes keep
# their own label. Deterministic by construction on both engines (no
# float appears anywhere).
# --------------------------------------------------------------------------

_LPA_ITERS = 3

_EDGES_SQL = """
edges0 AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
sym AS (
    SELECT src, dst, w FROM edges0
    UNION ALL
    SELECT dst, src, w FROM edges0
),
sedges AS (
    SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM sym GROUP BY 1, 2
),
nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation)"""


def _sql_lpa_iter(t: int) -> str:
    p = t - 1
    return f"""
v{t} AS (
    SELECT e.src AS node, l.lbl, CAST(SUM(e.w) AS BIGINT) AS votes
    FROM sedges e JOIN l{p} l ON l.node = e.dst
    GROUP BY 1, 2
),
r{t} AS (
    SELECT node, lbl,
           ROW_NUMBER() OVER (
               PARTITION BY node ORDER BY votes DESC, lbl
           ) AS rn
    FROM v{t}
),
l{t} AS (
    SELECT p.node, COALESCE(r.lbl, p.lbl) AS lbl
    FROM l{p} p LEFT JOIN r{t} r ON r.node = p.node AND r.rn = 1
)"""


@query(
    "label_propagation_communities",
    oracle=f"""
WITH {_EDGES_SQL.lstrip()},
l0 AS (SELECT node, node AS lbl FROM nodes),
{_sql_lpa_iter(1).lstrip()},
{_sql_lpa_iter(2).lstrip()},
{_sql_lpa_iter(3).lstrip()}
SELECT na.n_name AS nation, l.lbl AS community,
       COUNT(*) OVER (PARTITION BY l.lbl) AS community_size
FROM l{_LPA_ITERS} l JOIN nation na ON na.n_nationkey = l.node
""",
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade-graph communities after 3 synchronous LPA supersteps.

    Scale: same edge-build as pagerank_trade_graph (the one full-scan
    stage); each superstep is a broadcast of the node→label map into a
    weight-summing vote aggregation plus a per-node argmax window over
    neighbor-cardinality groups. All-integer messages mean no
    fixed-point protocol is even needed — LPA at web scale is this
    exact shape with the label map sharded instead of broadcast.
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    from pyspark.sql.window import Window

    edges0 = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    sym = edges0.select("src", "dst", "w").unionAll(
        edges0.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    # materialized for the supersteps — same rationale as pagerank's
    # edge list: bounded size, full-scan lineage, cleaner-freed
    sedges = (
        sym.groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    nodes = t["nation"].select(
        F.col("n_nationkey").cast("bigint").alias("node")
    )
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(_LPA_ITERS):
        votes = (
            sedges.join(
                F.broadcast(
                    labels.select(
                        F.col("node").alias("dst"), F.col("lbl")
                    )
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.sum("w").alias("votes"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("votes"), "lbl")
        winners = (
            votes.select("node", "lbl", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lbl").alias("new_lbl"))
        )
        labels = labels.join(winners, "node", "left").select(
            "node", F.coalesce("new_lbl", "lbl").alias("lbl")
        )
    out_w = Window.partitionBy("lbl")
    return labels.join(
        F.broadcast(t["nation"]), labels.node == F.col("n_nationkey")
    ).select(
        F.col("n_name").alias("nation"),
        F.col("lbl").alias("community"),
        F.count("*").over(out_w).alias("community_size"),
    )


# --------------------------------------------------------------------------
# Triangle counting + local clustering coefficients, completing the
# graph family (components, PageRank, label propagation). The a<b<c
# ordered 3-way self-join enumerates each triangle exactly once; all
# counting is integer and the coefficient is one ratio per node.
# --------------------------------------------------------------------------


@query(
    "triangle_count_trade_graph",
    oracle=f"""
WITH {_EDGES_SQL.lstrip()},
und AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM sedges WHERE src <> dst
),
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
node_tri AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY 1
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
    ) GROUP BY 1
)
SELECT na.n_name AS nation, d.degree,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2 THEN
           {sql_dround('2.0 * COALESCE(t.n_triangles, 0)'
                       ' / (d.degree * (d.degree - 1))', 6)}
       END AS clustering_coeff
FROM deg d
LEFT JOIN node_tri t USING (node)
JOIN nation na ON na.n_nationkey = d.node
""",
)
def triangle_count_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation and clustering coefficient.

    Scale: the ordered (a<b<c) join is the standard distributed
    triangle enumeration — each edge list is shuffled by its join key
    and every triangle is produced exactly once; on power-law graphs
    the production form adds degree-ordering (orient edges low→high
    degree) to bound the join fan-out, which the a<b orientation
    approximates here. Node grain stays nation-cardinality.
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    edges0 = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
    )
    und = (
        edges0.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    e1 = und
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")),
        )
        .select("a", "b", "c")
    )
    node_tri = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    cc = F.when(
        F.col("degree") >= 2,
        dround(
            2.0
            * F.coalesce(F.col("n_triangles"), F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ),
    )
    return (
        deg.join(node_tri, "node", "left")
        .join(F.broadcast(t["nation"]), F.col("node") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "degree",
            F.coalesce("n_triangles", F.lit(0).cast("bigint")).alias(
                "n_triangles"
            ),
            cc.alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) over the trade graph — the
# directional complement to PageRank: customer nations that BUY from
# many strong suppliers are hubs, supplier nations BOUGHT FROM by many
# strong hubs are authorities; one score cannot express both roles.
# Two full hub→authority→hub iterations, max-normalized each phase so
# the fixed point stays in ×1e6 integer scale. Same determinism
# discipline as pagerank_trade_graph: raw phase sums are exact
# wide-integer dot products (DECIMAL(38,0) / HUGEINT), and the only
# float op per phase is one double division + floor-quantize —
# identical IEEE sequences on both engines, so repeated iterations
# cannot drift.
#
# Scale: the fact-table multi-join aggregates straight down to ≤625
# (src, dst) rows (localCheckpoint'd once, the pagerank pattern); each
# phase is a broadcast join + integer agg over that bounded edge list.
# --------------------------------------------------------------------------

_HITS_SCALE = 1_000_000
_HITS_ITERS = 2


def _hits_phase_sql(i: int, out: str, prev: str, key: str, other: str) -> str:
    """One normalize phase: out[node] from prev[] via edges on `key`."""
    return f"""
{out}raw AS (
    SELECT e.{other} AS node,
           CAST(SUM(CAST(p.score AS HUGEINT) * e.w) AS HUGEINT) AS raw
    FROM edges e JOIN {prev} p ON p.node = e.{key}
    GROUP BY 1
),
{out}mx AS (SELECT MAX(raw) AS mx FROM {out}raw),
{out} AS (
    SELECT n.node,
           COALESCE(CAST(FLOOR(CAST(r.raw AS DOUBLE) / CAST(m.mx AS DOUBLE)
                                * {_HITS_SCALE} + 0.5) AS BIGINT), 0)
               AS score
    FROM nodes n LEFT JOIN {out}raw r USING (node) CROSS JOIN {out}mx m
)"""


@query(
    "hits_hub_authority",
    oracle=f"""
WITH edges0 AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
edges AS (SELECT * FROM edges0),
nodes AS (SELECT n_nationkey AS node FROM nation),
h0 AS (SELECT node, CAST({_HITS_SCALE} AS BIGINT) AS score FROM nodes),
{_hits_phase_sql(1, 'a1', 'h0', 'src', 'dst')},
{_hits_phase_sql(1, 'h1', 'a1', 'dst', 'src')},
{_hits_phase_sql(2, 'a2', 'h1', 'src', 'dst')},
{_hits_phase_sql(2, 'h2', 'a2', 'dst', 'src')}
SELECT na.n_name AS nation,
       a.score AS authority_micro,
       h.score AS hub_micro,
       CAST(a.score AS DOUBLE) / {float(_HITS_SCALE)} AS authority,
       CAST(h.score AS DOUBLE) / {float(_HITS_SCALE)} AS hub
FROM a2 a
JOIN h2 h ON a.node = h.node
JOIN nation na ON na.n_nationkey = a.node
""",
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration max-normalized HITS over the nation trade graph."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    edges = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
        # materialize once: every phase re-reads the bounded edge list,
        # not the fact-table lineage (the pagerank pattern)
        .localCheckpoint(eager=True)
    )
    nodes = t["nation"].select(
        F.col("n_nationkey").cast("bigint").alias("node")
    )

    def phase(prev: DataFrame, key: str, other: str) -> DataFrame:
        raw = (
            edges.join(
                F.broadcast(prev.withColumnRenamed("node", key)), key
            )
            .groupBy(F.col(other).alias("node"))
            .agg(
                F.sum(F.col("score").cast("decimal(38,0)") * F.col("w"))
                .alias("raw")
            )
        )
        mx = raw.agg(F.max("raw").alias("mx"))
        return (
            nodes.join(F.broadcast(raw), "node", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.coalesce(
                    F.floor(
                        F.col("raw").cast("double")
                        / F.col("mx").cast("double")
                        * _HITS_SCALE
                        + 0.5
                    ).cast("bigint"),
                    F.lit(0).cast("bigint"),
                ).alias("score"),
            )
        )

    hub = nodes.select(
        "node", F.lit(_HITS_SCALE).cast("bigint").alias("score")
    )
    for _ in range(_HITS_ITERS):
        auth = phase(hub, "src", "dst")
        hub = phase(auth, "dst", "src")
    return (
        auth.withColumnRenamed("score", "authority_micro")
        .join(
            hub.withColumnRenamed("score", "hub_micro"), "node"
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("node") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "authority_micro",
            "hub_micro",
            (F.col("authority_micro").cast("double") / float(_HITS_SCALE))
            .alias("authority"),
            (F.col("hub_micro").cast("double") / float(_HITS_SCALE)).alias(
                "hub"
            ),
        )
    )


# --------------------------------------------------------------------------
# Graph topology card: reciprocity + degree assortativity (Newman
# 2002) over the trade graph — the remaining canonical whole-graph
# statistics beside PageRank/LPA/triangles/HITS. The raw 25-nation
# graph is near-complete, so the STRUCTURAL stats run on the
# mean-thresholded backbone (keep directed edges with
# w * n_edges > total_w — integer cross-multiplication, no float
# threshold), while WEIGHT reciprocity (Squartini et al. 2013,
# Σ min(w_uv, w_vu) / Σ w_uv) runs on the full directed graph where
# weights carry the signal. Assortativity uses Newman's edge-moment
# form cleared of denominators — r = (4M·Σjk − (Σ(j+k))²) /
# (2M·Σ(j²+k²) − (Σ(j+k))²) — so every cross-row sum is an exact
# bigint and the single division happens once. Self-loops excluded
# from all three (standard convention).
#
# Scale: the edge build is the one full-scan stage (same
# lineitem⋈orders shuffle as pagerank_trade_graph, dims broadcast);
# every statistic after it is an exact integer reduce over the
# bounded (≤ nations²) edge list.
# --------------------------------------------------------------------------


@query(
    "graph_reciprocity_assortativity",
    oracle=f"""
WITH edges0 AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
dir AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM edges0 WHERE src <> dst),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_e, CAST(SUM(w) AS BIGINT) AS w_t
    FROM dir
),
wrec AS (
    SELECT CAST(SUM(LEAST(a.w, COALESCE(b.w, 0))) AS BIGINT) AS w_min
    FROM dir a LEFT JOIN dir b ON a.src = b.dst AND a.dst = b.src
),
kept AS (
    SELECT d.src, d.dst, d.w FROM dir d, tot
    WHERE d.w * tot.n_e > tot.w_t
),
krec AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(COUNT(b.src) AS BIGINT) AS n_recip
    FROM kept a LEFT JOIN kept b ON a.src = b.dst AND a.dst = b.src
),
und AS (
    SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM kept GROUP BY 1, 2
),
deg AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
    GROUP BY 1
),
em AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(da.d * db.d) AS BIGINT) AS sjk,
           CAST(SUM(da.d + db.d) AS BIGINT) AS sjpk,
           CAST(SUM(da.d * da.d + db.d * db.d) AS BIGINT) AS sj2
    FROM und u JOIN deg da ON u.a = da.n JOIN deg db ON u.b = db.n
)
SELECT tot.n_e AS n_directed_edges,
       krec.n_kept AS n_backbone_edges,
       em.m AS n_backbone_und_edges,
       CASE WHEN krec.n_kept > 0 THEN
           {sql_dround("krec.n_recip * 1.0 / krec.n_kept", 6)}
       END AS edge_reciprocity,
       CASE WHEN tot.w_t > 0 THEN
           {sql_dround("wrec.w_min * 1.0 / tot.w_t", 6)}
       END AS weight_reciprocity,
       CASE WHEN 2 * em.m * em.sj2 - em.sjpk * em.sjpk > 0 THEN
           {sql_dround(
               "(4.0 * em.m * em.sjk - CAST(em.sjpk AS DOUBLE) * em.sjpk)"
               " / (2.0 * em.m * em.sj2"
               "    - CAST(em.sjpk AS DOUBLE) * em.sjpk)", 6)}
       END AS degree_assortativity
FROM tot, wrec, krec, em
""",
)
def graph_reciprocity_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reciprocity + Newman degree assortativity of the trade graph."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier"
    )
    edges0 = (
        t["lineitem"]
        .join(
            t["orders"],
            t["lineitem"].l_orderkey == t["orders"].o_orderkey,
        )
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    # bounded (≤ nations²) — materialize once, reuse across the stats
    dir_e = edges0.filter(F.col("src") != F.col("dst")).localCheckpoint(
        eager=True
    )
    tot = dir_e.agg(
        F.count("*").cast("bigint").alias("n_e"),
        F.sum("w").cast("bigint").alias("w_t"),
    )
    rev = dir_e.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.col("w").alias("w_rev"),
    )
    wrec = (
        dir_e.join(F.broadcast(rev), ["src", "dst"], "left")
        .agg(
            F.sum(
                F.least(F.col("w"), F.coalesce(F.col("w_rev"), F.lit(0)))
            )
            .cast("bigint")
            .alias("w_min")
        )
    )
    kept = dir_e.crossJoin(F.broadcast(tot)).filter(
        F.col("w") * F.col("n_e") > F.col("w_t")
    ).select("src", "dst", "w")
    krev = kept.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.lit(1).alias("has_rev"),
    )
    krec = kept.join(F.broadcast(krev), ["src", "dst"], "left").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.count("has_rev").cast("bigint").alias("n_recip"),
    )
    und = (
        kept.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.lit(1).alias("_one"))
        .select("a", "b")
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("dja"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("djb"))
    em = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum(F.col("dja") * F.col("djb")).cast("bigint").alias("sjk"),
            F.sum(F.col("dja") + F.col("djb"))
            .cast("bigint")
            .alias("sjpk"),
            F.sum(
                F.col("dja") * F.col("dja") + F.col("djb") * F.col("djb")
            )
            .cast("bigint")
            .alias("sj2"),
        )
    )
    out = (
        tot.crossJoin(wrec).crossJoin(krec).crossJoin(em)
    )
    den = 2 * F.col("m") * F.col("sj2") - F.col("sjpk") * F.col("sjpk")
    return out.select(
        F.col("n_e").alias("n_directed_edges"),
        F.col("n_kept").alias("n_backbone_edges"),
        F.col("m").alias("n_backbone_und_edges"),
        F.when(
            F.col("n_kept") > 0,
            dround(F.col("n_recip") * 1.0 / F.col("n_kept"), 6),
        ).alias("edge_reciprocity"),
        F.when(
            F.col("w_t") > 0,
            dround(F.col("w_min") * 1.0 / F.col("w_t"), 6),
        ).alias("weight_reciprocity"),
        F.when(
            den > 0,
            dround(
                (
                    4.0 * F.col("m") * F.col("sjk")
                    - F.col("sjpk").cast("double") * F.col("sjpk")
                )
                / (
                    2.0 * F.col("m") * F.col("sj2")
                    - F.col("sjpk").cast("double") * F.col("sjpk")
                ),
                6,
            ),
        ).alias("degree_assortativity"),
    )


# --------------------------------------------------------------------------
# k-core decomposition (coreness capped at 3) of the mean-thresholded
# trade backbone — the remaining canonical whole-graph operator, and
# the repo's first ITERATE-UNTIL-CONVERGENCE entry (PageRank/LPA/HITS
# all run fixed supersteps): peeling repeatedly deletes nodes of
# degree < k until a fixpoint. Convergence is provable, not assumed:
# every non-fixpoint round removes >= 1 node, so |V| rounds suffice —
# the oracle unrolls exactly _KC_ITERS = 25 rounds (the pinned
# TPC-H nation cardinality), while the Spark side early-exits on the
# first round that removes nothing (the production shape: a driver
# loop whose per-round state is ONE integer count — never O(data))
# and provably lands on the same fixpoint. Entirely integer — no
# quantization protocol needed.
# Scale: the edge build is the one full-scan stage; each peel round
# is a membership semi-join + degree agg over the bounded backbone
# edge list with the shrinking node set broadcast.
# --------------------------------------------------------------------------

_KC_ITERS = 25  # = nation cardinality: guaranteed past the fixpoint

_BACKBONE_SQL = """
edges0 AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
dir AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM edges0 WHERE src <> dst),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_e, CAST(SUM(w) AS BIGINT) AS w_t
    FROM dir
),
und AS MATERIALIZED (
    -- 2x-mean cut (vs the 1x reciprocity backbone): peeling needs a
    -- non-trivial fringe; at 1x the sf0.01 backbone is dense enough
    -- that every node sits in the 3-core (a constant output column)
    SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM dir, tot WHERE dir.w * tot.n_e > 2 * tot.w_t
    GROUP BY 1, 2
)"""


def _kcore_peel_sql(k: int) -> str:
    """Unrolled peel rounds s{k}_0 .. s{k}_{_KC_ITERS}.

    Every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and a
    chain where each round references the previous twice would expand
    exponentially (and re-open the parquet per reference — observed
    as "Too many open files" at 25 rounds)."""
    parts = [
        f"""
s{k}_0 AS MATERIALIZED (
    SELECT a AS n FROM und UNION SELECT b FROM und
)"""
    ]
    for i in range(1, _KC_ITERS + 1):
        p = i - 1
        parts.append(f"""
s{k}_{i} AS MATERIALIZED (
    SELECT n FROM (
        SELECT x.n, COUNT(*) AS d FROM (
            SELECT u.a AS n, u.b AS m FROM und u
            UNION ALL SELECT u.b, u.a FROM und u
        ) x
        JOIN s{k}_{p} sa ON x.n = sa.n
        JOIN s{k}_{p} sb ON x.m = sb.n
        GROUP BY 1
    ) WHERE d >= {k}
)""")
    return ",".join(parts)


@query(
    "kcore_trade_backbone",
    oracle=f"""
WITH {_BACKBONE_SQL.lstrip()},
{_kcore_peel_sql(2).lstrip()},
{_kcore_peel_sql(3).lstrip()},
deg AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM und UNION ALL SELECT b FROM und
    ) GROUP BY 1
)
SELECT na.n_name AS nation,
       CAST(COALESCE(deg.d, 0) AS BIGINT) AS backbone_degree,
       CAST(CASE WHEN s3.n IS NOT NULL THEN 3
                 WHEN s2.n IS NOT NULL THEN 2
                 WHEN deg.n IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS coreness_capped
FROM nation na
LEFT JOIN deg ON deg.n = na.n_nationkey
LEFT JOIN s2_{_KC_ITERS} s2 ON s2.n = na.n_nationkey
LEFT JOIN s3_{_KC_ITERS} s3 ON s3.n = na.n_nationkey
""",
)
def kcore_trade_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness (capped at 3) via fixpoint peeling on the backbone."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier",
        "nation",
    )
    edges0 = (
        t["lineitem"]
        .join(
            t["orders"],
            t["lineitem"].l_orderkey == t["orders"].o_orderkey,
        )
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    dir_e = edges0.filter(F.col("src") != F.col("dst"))
    tot = dir_e.agg(
        F.count("*").cast("bigint").alias("n_e"),
        F.sum("w").cast("bigint").alias("w_t"),
    )
    und = (
        dir_e.crossJoin(F.broadcast(tot))
        .filter(F.col("w") * F.col("n_e") > 2 * F.col("w_t"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.lit(1).alias("_one"))
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    stubs = und.select(
        F.col("a").alias("n"), F.col("b").alias("m")
    ).unionAll(und.select(F.col("b").alias("n"), F.col("a").alias("m")))

    def peel(k: int):
        cur = und.select(F.col("a").alias("n")).unionAll(
            und.select(F.col("b").alias("n"))
        ).distinct().localCheckpoint(eager=True)
        prev = cur.count()  # O(1) driver state per round, never O(data)
        for _ in range(_KC_ITERS):
            nxt = (
                stubs.join(F.broadcast(cur), "n")
                .join(
                    F.broadcast(cur.withColumnRenamed("n", "m")), "m"
                )
                .groupBy("n")
                .agg(F.count("*").alias("d"))
                .filter(F.col("d") >= k)
                .select("n")
                .localCheckpoint(eager=True)
            )
            c = nxt.count()
            cur = nxt
            if c == prev:  # fixpoint: nothing removed this round
                break
            prev = c
        return cur

    core2 = peel(2).withColumn("c2", F.lit(1))
    core3 = peel(3).withColumn("c3", F.lit(1))
    deg = stubs.groupBy("n").agg(F.count("*").cast("bigint").alias("d"))
    return (
        t["nation"]
        .select(
            F.col("n_nationkey").cast("bigint").alias("n"),
            F.col("n_name").alias("nation"),
        )
        .join(F.broadcast(deg), "n", "left")
        .join(F.broadcast(core2), "n", "left")
        .join(F.broadcast(core3), "n", "left")
        .select(
            "nation",
            F.coalesce(F.col("d"), F.lit(0))
            .cast("bigint")
            .alias("backbone_degree"),
            F.when(F.col("c3").isNotNull(), 3)
            .when(F.col("c2").isNotNull(), 2)
            .when(F.col("d").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("coreness_capped"),
        )
    )


# --------------------------------------------------------------------------
# Link prediction (Adamic-Adar / resource-allocation / Jaccard) over
# the customer×part co-purchase bipartite graph — the canonical
# who-will-buy-together signal, and the first *predictive* graph op
# beside the descriptive set (pagerank/HITS/k-core/...). The wedge
# join is bounded the way a 100-TB co-purchase graph must be: parts
# above MEAN popularity are hubs and carry ~zero AA signal
# (1/ln(pop) → 0), so the candidate space is Σ_{pop≤avg} pop² ≤
# avg·|bip| — linear in the bipartite size, never all-pairs (measured:
# 23 k / 307 k / 3.0 M wedges at sf0.001/0.01/0.1). The mean cap is
# DATA-RELATIVE (round-8 vacuous-parity lesson: fixed thresholds go
# dead under regeneration). AA/RA terms quantize to ×1e12 ints per
# shared part BEFORE the pair reduce, so scores are exact integer sums
# (order-independent under AQE); top-100 is fully tie-broken
# (aa DESC, cn DESC, u, v) so the SET is deterministic and Spark plans
# it as TakeOrderedAndProject, not a global sort.
#
# Reference analog: none (no graph ops in the reference) — extends the
# graph family with link prediction (Adamic & Adar 2003; Zhou et al.
# 2009 resource allocation).
# --------------------------------------------------------------------------


@query(
    "adamic_adar_copurchase",
    oracle=f"""
WITH bip AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM bip GROUP BY 1),
avgp AS (SELECT AVG(n) AS a FROM pc),
kp AS (SELECT p, n FROM pc, avgp WHERE n >= 2 AND n <= a),
kb AS (SELECT b.c, b.p, k.n FROM bip b JOIN kp k USING (p)),
deg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM kb GROUP BY 1),
wedge AS (
    SELECT a.c AS u, b.c AS v,
           CAST(FLOOR(1000000000000.0 / ln(a.n) + 0.5) AS BIGINT) AS aat,
           CAST(FLOOR(1000000000000.0 / a.n + 0.5) AS BIGINT) AS rat
    FROM kb a JOIN kb b ON a.p = b.p AND a.c < b.c
),
pairs AS (
    SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
           CAST(SUM(aat) AS BIGINT) AS aa_micro,
           CAST(SUM(rat) AS BIGINT) AS ra_micro
    FROM wedge GROUP BY 1, 2
),
j AS (
    SELECT p.u, p.v, p.cn, p.aa_micro, p.ra_micro,
           du.d AS du, dv.d AS dv
    FROM pairs p
    JOIN deg du ON du.c = p.u
    JOIN deg dv ON dv.c = p.v
)
SELECT u AS cust_a, v AS cust_b, cn AS common_parts,
       {sql_dround('aa_micro / 1000000000000.0', 6)} AS aa_score,
       {sql_dround('ra_micro / 1000000000000.0', 6)} AS ra_score,
       {sql_dround('cn * 1.0 / (du + dv - cn)', 6)} AS jaccard
FROM j
ORDER BY aa_micro DESC, cn DESC, u, v
LIMIT 100
""",
)
def adamic_adar_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-100 AA/RA/Jaccard customer pairs, mean-capped wedge join."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    li, orders = t["lineitem"], t["orders"]
    bip = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    pc = bip.groupBy("p").agg(F.count("*").cast("bigint").alias("n"))
    avgp = pc.agg(F.avg("n").alias("a"))
    kp = pc.join(F.broadcast(avgp)).filter(
        (F.col("n") >= 2) & (F.col("n") <= F.col("a"))
    ).select("p", "n")
    kb = bip.join(kp, "p")
    deg = kb.groupBy("c").agg(F.count("*").cast("bigint").alias("d"))
    a = kb.select(
        F.col("p"),
        F.col("c").alias("u"),
        F.floor(1000000000000.0 / F.log("n") + 0.5)
        .cast("bigint")
        .alias("aat"),
        F.floor(1000000000000.0 / F.col("n") + 0.5)
        .cast("bigint")
        .alias("rat"),
    )
    b = kb.select(F.col("p"), F.col("c").alias("v"))
    wedge = a.join(b, "p").filter(F.col("u") < F.col("v"))
    pairs = wedge.groupBy("u", "v").agg(
        F.count("*").cast("bigint").alias("cn"),
        F.sum("aat").cast("bigint").alias("aa_micro"),
        F.sum("rat").cast("bigint").alias("ra_micro"),
    )
    j = (
        pairs.join(
            deg.select(F.col("c").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("c").alias("v"), F.col("d").alias("dv")),
            "v",
        )
    )
    top = j.orderBy(
        F.desc("aa_micro"), F.desc("cn"), "u", "v"
    ).limit(100)
    return top.select(
        F.col("u").alias("cust_a"),
        F.col("v").alias("cust_b"),
        F.col("cn").alias("common_parts"),
        dround(F.col("aa_micro") / 1000000000000.0, 6).alias("aa_score"),
        dround(F.col("ra_micro") / 1000000000000.0, 6).alias("ra_score"),
        dround(
            F.col("cn") * 1.0 / (F.col("du") + F.col("dv") - F.col("cn")),
            6,
        ).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# Densest subgraph via parallel peeling (Bahmani/Kumar/Vassilvitskii,
# VLDB 2012): repeatedly drop every node whose induced degree is
# <= 2(1+eps)*rho(S) and keep the densest prefix — a (2+2eps)-approx
# in O(log N) rounds, the MapReduce formulation exactly. eps = 0.5 so
# the keep test is the pure-integer d*N > 3*E and 25-node backbones
# empty within 10 rounds. Entirely integer until the displayed
# density; the best round is picked by exact cross-multiplied
# fraction comparison (E_i*N_j vs E_j*N_i), never by rounded doubles.
# --------------------------------------------------------------------------

_DS_ROUNDS = 10


def _ds_round_sql(i: int) -> str:
    p = i - 1
    return f"""
ds_{i} AS MATERIALIZED (
    SELECT n FROM (
        SELECT x.n, COUNT(*) AS d,
               MAX(st.nn) AS nn, MAX(st.ee) AS ee
        FROM (
            SELECT u.a AS n, u.b AS m FROM und u
            UNION ALL SELECT u.b, u.a FROM und u
        ) x
        JOIN ds_{p} sa ON x.n = sa.n
        JOIN ds_{p} sb ON x.m = sb.n
        CROSS JOIN (
            SELECT CAST((SELECT COUNT(*) FROM ds_{p}) AS BIGINT) AS nn,
                   CAST((SELECT COUNT(*) FROM und u
                         JOIN ds_{p} ia ON u.a = ia.n
                         JOIN ds_{p} ib ON u.b = ib.n) AS BIGINT) AS ee
        ) st
        GROUP BY 1
    ) WHERE d * nn > 3 * ee
)"""


_DS_STATS = "\nUNION ALL\n".join(
    f"""
    SELECT {i} AS round,
           CAST((SELECT COUNT(*) FROM ds_{i}) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM und u
                 JOIN ds_{i} ia ON u.a = ia.n
                 JOIN ds_{i} ib ON u.b = ib.n) AS BIGINT) AS n_edges"""
    for i in range(0, _DS_ROUNDS + 1)
)


@query(
    "densest_subgraph_peel",
    oracle=f"""
WITH {_BACKBONE_SQL.lstrip()},
ds_0 AS MATERIALIZED (
    SELECT a AS n FROM und UNION SELECT b FROM und
),
{",".join(_ds_round_sql(i).lstrip() for i in range(1, _DS_ROUNDS + 1))},
stats AS MATERIALIZED ({_DS_STATS}),
flagged AS (
    SELECT s.round, s.n_nodes, s.n_edges,
           NOT EXISTS (
               SELECT 1 FROM stats o
               WHERE o.n_nodes > 0 AND s.n_nodes > 0
                 AND (o.n_edges * s.n_nodes > s.n_edges * o.n_nodes
                      OR (o.n_edges * s.n_nodes = s.n_edges * o.n_nodes
                          AND o.round < s.round))
           ) AND s.n_nodes > 0 AS is_densest
    FROM stats s
)
SELECT round, n_nodes, n_edges,
       CASE WHEN n_nodes > 0
            THEN {sql_dround('n_edges * 1.0 / n_nodes', 6)} END AS density,
       is_densest
FROM flagged
""",
)
def densest_subgraph_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bahmani-et-al parallel peeling on the nation trade backbone.

    Scale: the edge build is the one data-sized stage (same plan as
    kcore_trade_backbone); every peel round is a degree agg over the
    bounded backbone with the shrinking node set broadcast, and the
    per-round state collected to the driver is TWO scalars (N_i, E_i)
    — O(rounds) driver state, never O(data). The keep test
    d*N > 3*E and the best-round pick are exact bigint arithmetic, so
    the peel trajectory reproduces at any partitioning; only the
    displayed density divides. Reference has no graph ops (closest:
    groupby rollups, transform.py:1); completes the graph family's
    descriptive set (pagerank/k-core/HITS) with the density extremum.
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier"
    )
    edges0 = (
        t["lineitem"]
        .join(
            t["orders"],
            t["lineitem"].l_orderkey == t["orders"].o_orderkey,
        )
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    dir_e = edges0.filter(F.col("src") != F.col("dst"))
    tot = dir_e.agg(
        F.count("*").cast("bigint").alias("n_e"),
        F.sum("w").cast("bigint").alias("w_t"),
    )
    und = (
        dir_e.crossJoin(F.broadcast(tot))
        .filter(F.col("w") * F.col("n_e") > 2 * F.col("w_t"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.lit(1).alias("_one"))
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    stubs = und.select(
        F.col("a").alias("n"), F.col("b").alias("m")
    ).unionAll(und.select(F.col("b").alias("n"), F.col("a").alias("m")))

    cur = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    stats: list[tuple[int, int, int]] = []
    for i in range(_DS_ROUNDS + 1):
        if stats and stats[-1][1] == 0:
            stats.append((i, 0, 0))  # empty is absorbing: no job needed
            continue
        nn = cur.count()
        ee = (
            und.join(F.broadcast(cur.withColumnRenamed("n", "a")), "a")
            .join(F.broadcast(cur.withColumnRenamed("n", "b")), "b")
            .count()
        )
        stats.append((i, nn, ee))
        if i < _DS_ROUNDS and nn > 0:
            cur = (
                stubs.join(F.broadcast(cur), "n")
                .join(F.broadcast(cur.withColumnRenamed("n", "m")), "m")
                .groupBy("n")
                .agg(F.count("*").alias("d"))
                .filter(F.col("d") * F.lit(nn) > 3 * F.lit(ee))
                .select("n")
                .localCheckpoint(eager=True)
            )
    rows = []
    for i, nn, ee in stats:
        best = nn > 0 and not any(
            on > 0
            and (
                oe * nn > ee * on
                or (oe * nn == ee * on and oi < i)
            )
            for oi, on, oe in stats
        )
        dens = (
            None
            if nn == 0
            else __import__("math").floor(ee * 1.0 / nn * 1000000 + 0.5)
            / 1000000.0
        )
        rows.append((i, nn, ee, dens, best))
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("round", IntegerType()),
            StructField("n_nodes", LongType()),
            StructField("n_edges", LongType()),
            StructField("density", DoubleType()),
            StructField("is_densest", BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# --------------------------------------------------------------------------
# Weighted directed modularity of the REGION partition of the nation
# trade graph — "is intra-region trade denser than chance?" as one
# number per region plus the global Q. Unlike the iterative community
# ops (label propagation, k-core, peeling) this is a CLOSED-FORM
# partition-quality score: Q = Σ_r [ W_rr/W − (S_r_out·S_r_in)/W² ]
# (Leicht-Newman directed form), so the whole query is the fact-scan
# edge aggregation plus region-grain arithmetic. Every aggregate (edge
# weights, strengths, intra sums, Σ S_out·S_in) is an exact bigint;
# each output double is ONE fixed-order chain from those ints — the
# global Q derives from exact global sums, never a float sum over the
# per-region doubles.
# --------------------------------------------------------------------------


@query(
    "trade_modularity_regions",
    oracle=f"""
WITH edges0 AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
dir AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM edges0 WHERE src <> dst),
e AS (
    SELECT a.n_regionkey AS ra, b.n_regionkey AS rb, d.w
    FROM dir d
    JOIN nation a ON d.src = a.n_nationkey
    JOIN nation b ON d.dst = b.n_nationkey
),
wt AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM e),
sout AS (SELECT ra AS rk, CAST(SUM(w) AS BIGINT) AS s_out FROM e GROUP BY 1),
sin AS (SELECT rb AS rk, CAST(SUM(w) AS BIGINT) AS s_in FROM e GROUP BY 1),
intra AS (
    SELECT ra AS rk, CAST(SUM(w) AS BIGINT) AS w_in
    FROM e WHERE ra = rb GROUP BY 1
),
per AS (
    SELECT rg.r_name AS region,
           COALESCE(i.w_in, 0) AS w_in,
           COALESCE(so.s_out, 0) AS s_out,
           COALESCE(si.s_in, 0) AS s_in
    FROM region rg
    LEFT JOIN intra i ON i.rk = rg.r_regionkey
    LEFT JOIN sout so ON so.rk = rg.r_regionkey
    LEFT JOIN sin si ON si.rk = rg.r_regionkey
),
gq AS (
    SELECT CAST(SUM(w_in) AS BIGINT) AS sw_in,
           CAST(SUM(s_out * s_in) AS BIGINT) AS sprod
    FROM per
)
SELECT p.region,
       p.w_in AS intra_weight, p.s_out AS out_strength,
       p.s_in AS in_strength,
       {sql_dround(
           '''CAST(p.w_in AS DOUBLE) / t.wt
              - (CAST(p.s_out AS DOUBLE) * p.s_in)
                / (CAST(t.wt AS DOUBLE) * t.wt)''', 6)} AS q_contrib,
       {sql_dround(
           '''CAST(g.sw_in AS DOUBLE) / t.wt
              - CAST(g.sprod AS DOUBLE)
                / (CAST(t.wt AS DOUBLE) * t.wt)''', 6)} AS q_total
FROM per p CROSS JOIN wt t CROSS JOIN gq g
""",
)
def trade_modularity_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted modularity of the region partition, per region.

    Scale: the fact scan + (nation,nation) groupBy is the one
    data-sized stage (the same backbone build as kcore/densest — at
    most 625 directed edges regardless of SF); everything after is
    25-edge / 5-region arithmetic with broadcast joins. The global Q
    rides exact integer sums (Σ W_rr and Σ S_out·S_in) so it is
    bit-identical at any partitioning — never a float fold over the
    per-region contributions. Reference has no graph ops (closest:
    groupby rollups, scripts/transform.py:1); completes the community
    family (label propagation assigns, this SCORES a partition).
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier",
        "nation", "region",
    )
    dir_e = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("bigint").alias("w"))
        .filter(F.col("src") != F.col("dst"))
    )
    nat = t["nation"].select("n_nationkey", "n_regionkey")
    e = (
        dir_e.join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("src"),
                                   F.col("n_regionkey").alias("ra"))),
            "src",
        )
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("dst"),
                                   F.col("n_regionkey").alias("rb"))),
            "dst",
        )
        .select("ra", "rb", "w")
    )
    wt = e.agg(F.sum("w").cast("bigint").alias("wt"))
    sout = e.groupBy(F.col("ra").alias("rk")).agg(
        F.sum("w").cast("bigint").alias("s_out")
    )
    sin = e.groupBy(F.col("rb").alias("rk")).agg(
        F.sum("w").cast("bigint").alias("s_in")
    )
    intra = (
        e.filter(F.col("ra") == F.col("rb"))
        .groupBy(F.col("ra").alias("rk"))
        .agg(F.sum("w").cast("bigint").alias("w_in"))
    )
    per = (
        t["region"]
        .select(F.col("r_name").alias("region"),
                F.col("r_regionkey").alias("rk"))
        .join(F.broadcast(intra), "rk", "left")
        .join(F.broadcast(sout), "rk", "left")
        .join(F.broadcast(sin), "rk", "left")
        .select(
            "region",
            F.coalesce("w_in", F.lit(0)).cast("bigint").alias("w_in"),
            F.coalesce("s_out", F.lit(0)).cast("bigint").alias("s_out"),
            F.coalesce("s_in", F.lit(0)).cast("bigint").alias("s_in"),
        )
    )
    glob = per.agg(
        F.sum("w_in").cast("bigint").alias("sw_in"),
        F.sum(F.col("s_out") * F.col("s_in")).cast("bigint").alias("sprod"),
    )
    q_contrib = (
        F.col("w_in").cast("double") / F.col("wt")
        - (F.col("s_out").cast("double") * F.col("s_in"))
        / (F.col("wt").cast("double") * F.col("wt"))
    )
    q_total = (
        F.col("sw_in").cast("double") / F.col("wt")
        - F.col("sprod").cast("double")
        / (F.col("wt").cast("double") * F.col("wt"))
    )
    return (
        per.crossJoin(F.broadcast(wt))
        .crossJoin(F.broadcast(glob))
        .select(
            "region",
            F.col("w_in").alias("intra_weight"),
            F.col("s_out").alias("out_strength"),
            F.col("s_in").alias("in_strength"),
            dround(q_contrib, 6).alias("q_contrib"),
            dround(q_total, 6).alias("q_total"),
        )
    )


# --------------------------------------------------------------------------
# Closeness centrality (4-hop truncated multi-source BFS) — the
# distance-based centrality beside the spectral (pagerank/HITS) and
# density-based (k-core/densest/modularity) families. Truncation at 4
# hops is explicit semantics ("k-step reach closeness"): both engines
# run the SAME 4 relaxation rounds, so parity holds at any density,
# and on the observed trade graph (diameter ≤ 2) 4 rounds IS the full
# BFS. Harmonic closeness is carried as an exact ×1e6 integer sum
# (1/d quantized per pair) so cross-engine double-summation order can
# never flip the hash.
# --------------------------------------------------------------------------

_CLO_HOPS = 4


def _clo_round_sql(prev: str, cur: str) -> str:
    # AS MATERIALIZED: each round references the previous one twice —
    # plain CTEs would inline exponentially (kcore precedent).
    return f"""
{cur} AS MATERIALIZED (
    SELECT origin, node, MIN(dist) AS dist FROM (
        SELECT origin, node, dist FROM {prev}
        UNION ALL
        SELECT d.origin, e.dst AS node, d.dist + 1 AS dist
        FROM {prev} d JOIN cedges e ON e.src = d.node
    ) GROUP BY 1, 2
)"""


@query(
    "closeness_centrality_trade",
    oracle=f"""
WITH cdir AS MATERIALIZED (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
    GROUP BY 1, 2
),
ctot AS (SELECT COUNT(*) AS n_e, CAST(SUM(w) AS BIGINT) AS w_t FROM cdir),
cund AS MATERIALIZED (
    -- 2x-mean backbone cut (kcore precedent): the full trade graph is
    -- COMPLETE at sf0.01 (closeness would be constant 1.0 — the
    -- vacuous-output class); distances only vary on a sparse backbone
    SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM cdir, ctot WHERE cdir.w * ctot.n_e > 2 * ctot.w_t
    GROUP BY 1, 2
),
cedges AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM cund
    UNION
    SELECT b AS src, a AS dst FROM cund
),
d0 AS MATERIALIZED (
    SELECT n_nationkey AS origin, n_nationkey AS node, 0 AS dist
    FROM nation
),
{','.join(_clo_round_sql(f'd{i}', f'd{i + 1}').lstrip() for i in range(_CLO_HOPS))}
SELECT na.n_name AS nation,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_reachable,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       CASE WHEN SUM(dist) = 0 THEN 0.0
            ELSE {sql_dround('(COUNT(*) - 1) * 1.0 / SUM(dist)', 6)} END AS closeness,
       CAST(SUM(CASE WHEN dist > 0
                     THEN CAST(FLOOR(1000000.0 / dist) AS BIGINT)
                     ELSE 0 END) AS DOUBLE) / 1000000.0 AS harmonic
FROM d{_CLO_HOPS} d
JOIN nation na ON na.n_nationkey = d.origin
GROUP BY 1
""",
)
def closeness_centrality_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness + harmonic centrality per nation, 4-hop truncated BFS.

    Scale: the edge build is the single full-scan stage (same
    lineitem⋈orders shuffle as pagerank_trade_graph, dims broadcast)
    collapsing to ≤625 directed pairs; each BFS round is a
    broadcast-join + MIN-combine over the ≤|V|² distance table (625
    rows) — model-sized state, re-broadcast per superstep, exactly the
    Pregel shape. Harmonic sums are ×1e6-quantized integers (order-
    independent); closeness is one final division.
    Reference analog: none (graph-analytics extension).
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    cdir = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(
            F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    ctot = cdir.agg(
        F.count("*").alias("n_e"), F.sum("w").cast("bigint").alias("w_t")
    )
    # 2x-mean backbone cut — see oracle comment (full graph is complete)
    cund = (
        cdir.crossJoin(F.broadcast(ctot))
        .filter(F.col("w") * F.col("n_e") > 2 * F.col("w_t"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    edges = (
        cund.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(cund.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = t["nation"].select(
        F.col("n_nationkey").cast("bigint").alias("origin")
    )
    d = nodes.select(
        "origin", F.col("origin").alias("node"), F.lit(0).alias("dist")
    )
    for _ in range(_CLO_HOPS):
        step = (
            d.join(F.broadcast(edges), d["node"] == edges["src"])
            .select("origin", F.col("dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"))
        )
        d = (
            d.union(step)
            .groupBy("origin", "node")
            .agg(F.min("dist").alias("dist"))
        )
    harm_fp = F.when(
        F.col("dist") > 0, F.floor(1000000.0 / F.col("dist")).cast("bigint")
    ).otherwise(F.lit(0))
    agg = d.groupBy("origin").agg(
        (F.count("*") - 1).cast("bigint").alias("n_reachable"),
        F.sum("dist").cast("bigint").alias("sum_dist"),
        F.sum(harm_fp).cast("bigint").alias("harm_i"),
    )
    nation = t["nation"].select(
        F.col("n_nationkey").cast("bigint").alias("origin"),
        F.col("n_name").alias("nation"),
    )
    return agg.join(F.broadcast(nation), "origin").select(
        "nation",
        "n_reachable",
        "sum_dist",
        F.when(F.col("sum_dist") == 0, F.lit(0.0))
        .otherwise(
            dround(
                F.col("n_reachable") * 1.0 / F.col("sum_dist"), 6
            )
        )
        .alias("closeness"),
        (F.col("harm_i").cast("double") / 1000000.0).alias("harmonic"),
    )
