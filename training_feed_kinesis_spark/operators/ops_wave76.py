"""Wave 76: second-order graph analytics on the co-purchase graph —
clustering coefficients, link prediction, attribute modularity.

Builds on the shared support-thinned edge set (graph.py:42) and the
degree-oriented triangle machinery (graph.py:124):

  * ``graph_clustering_coeff``: per-node local clustering coefficient
    2T(v)/(d(v)(d(v)−1)) — triangle incidence read off the SAME
    arboricity-bounded oriented join, exploded to its three corners.
  * ``graph_linkpred_scores``: Jaccard + Adamic–Adar scores for
    wedge-connected NON-adjacent pairs (the classic link-prediction
    candidates): exact neighborhood overlap from the wedge census, top
    20 under an integer-exact ordering.
  * ``graph_modularity_brand``: Newman modularity contribution per
    p_brand community — does co-purchase structure align with brand?
    Q_b = e_b/m − (d_b/2m)², all from one edge pass + broadcast dims.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .graph import _EDGES_SQL, _degree_oriented, _edges

CAT = "2.L graph analytics"

_SYM_SQL = """
    sym AS (
      SELECT pa AS a, pb AS b FROM edges
      UNION ALL
      SELECT pb AS a, pa AS b FROM edges
    ),
    deg AS (SELECT a AS node, COUNT(*)::BIGINT AS d FROM sym GROUP BY a)
"""


def _sym_deg(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    sym = e.select(F.col("pa").alias("a"), F.col("pb").alias("b")).unionByName(
        e.select(F.col("pb").alias("a"), F.col("pa").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    return sym, deg


@register(
    "graph_clustering_coeff",
    CAT,
    _EDGES_SQL
    + ","
    + _SYM_SQL
    + """
    ,
    tri AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e1.pb = e2.pa
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    corners AS (
      SELECT unnest([a, b, c]) AS node FROM tri
    ),
    tcount AS (SELECT node, COUNT(*)::BIGINT AS n_tri FROM corners GROUP BY 1)
    SELECT d.node, d.d AS degree,
           COALESCE(t.n_tri, 0)::BIGINT AS n_tri,
           CAST((2 * 2 * COALESCE(t.n_tri, 0) * 10000 + d.d * (d.d - 1))
                // (2 * d.d * (d.d - 1)) AS BIGINT) AS cc_x1e4
    FROM deg d LEFT JOIN tcount t USING (node)
    WHERE d.d >= 2
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: cc(v) = 2T(v)/(d(v)(d(v)−1))
    — how close a node's neighborhood is to a clique, the standard
    community-structure / spam-pattern signal. Triangle incidence comes
    from the SAME degree-oriented join as graph_triangles (each triangle
    explodes to its three corners — no per-corner re-join), so the
    fan-out stays arboricity-bounded; degrees are node-count-sized.
    Nodes below degree 2 are excluded (coefficient undefined). Emitted
    as integer half-up 1e-4 units — no float in the ratio.

    The oracle counts the same triangle set under the simpler pa<pb
    orientation — corner multisets are orientation-invariant."""
    e = _edges(spark, sf_dir).select("pa", "pb")
    sym, deg = _sym_deg(e)
    o = _degree_oriented(e)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.array(
                F.col("e1.src"), F.col("e1.dst"), F.col("e2.dst")
            ).alias("corners")
        )
    )
    tcount = tri.select(F.explode("corners").alias("node")).groupBy(
        "node"
    ).agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tcount, "node", "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "CAST((4 * COALESCE(n_tri, 0) * 10000 + d * (d - 1))"
                " DIV (2 * d * (d - 1)) AS BIGINT)"
            ).alias("cc_x1e4"),
        )
    )


@register(
    "graph_linkpred_scores",
    CAT,
    _EDGES_SQL
    + ","
    + _SYM_SQL
    + """
    ,
    wedges AS (
      SELECT s1.b AS x, s1.a AS ctr, s2.b AS y
      FROM sym s1
      JOIN deg dctr ON dctr.node = s1.a AND dctr.d <= 64
      JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
    ),
    cand AS (
      SELECT w.x, w.y, COUNT(*)::BIGINT AS common,
             ROUND(SUM(1.0 / ln(dc.d)), 4) AS adamic_adar
      FROM wedges w JOIN deg dc ON dc.node = w.ctr
      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.pa = w.x AND e.pb = w.y)
      GROUP BY w.x, w.y
    )
    SELECT c.x, c.y, c.common,
           CAST((2 * c.common * 10000 + (dx.d + dy.d - c.common))
                // (2 * (dx.d + dy.d - c.common)) AS BIGINT) AS jaccard_x1e4,
           c.adamic_adar
    FROM cand c
    JOIN deg dx ON dx.node = c.x
    JOIN deg dy ON dy.node = c.y
    ORDER BY CAST((2 * c.common * 10000 + (dx.d + dy.d - c.common))
                  // (2 * (dx.d + dy.d - c.common)) AS BIGINT) DESC,
             c.x ASC, c.y ASC
    LIMIT 20
    """,
)
def graph_linkpred_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: for every NON-adjacent
    pair sharing at least one neighbor (the wedge-generated candidate
    set — never all pairs), the exact neighborhood Jaccard
    |N(x)∩N(y)|/|N(x)∪N(y)| and Adamic–Adar Σ 1/ln d(b) over common
    neighbors (rare shared neighbors weigh more). Top 20 under a total
    order on the INTEGER 1e-4 Jaccard (ties broken by node ids) — the
    "customers who bought these also bought" candidate list.

    Scale shape: wedge fan-out is deg² at the center, so centers above
    degree 64 are EXCLUDED from wedge generation (broadcast semi join
    on the degree table — the same hot-key discipline as
    llm_stopshingle_jaccard's df cap; a celebrity hub mediates
    near-zero link-prediction signal anyway, and the cap bounds the
    join at 64²/2 rows per center). At every test sf the max degree is
    below the cap, so the oracle applies the identical restriction and
    results are unchanged. The anti join against existing edges and
    the degree joins are all equi-joins on node keys."""
    e = _edges(spark, sf_dir).select("pa", "pb")
    sym, deg = _sym_deg(e)
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    dctr = deg.filter(F.col("d") <= 64).select(F.col("node").alias("_ctr_ok"))
    wedges = s1.join(
        F.broadcast(dctr), F.col("s1.a") == F.col("_ctr_ok")
    ).join(
        s2,
        (F.col("s1.a") == F.col("s2.a")) & (F.col("s1.b") < F.col("s2.b")),
    ).select(
        F.col("s1.b").alias("x"),
        F.col("s1.a").alias("ctr"),
        F.col("s2.b").alias("y"),
    )
    non_adj = wedges.join(
        e,
        (F.col("pa") == F.col("x")) & (F.col("pb") == F.col("y")),
        "left_anti",
    )
    dc = deg.alias("dc")
    cand = (
        non_adj.join(F.broadcast(dc), F.col("dc.node") == F.col("ctr"))
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.round(F.sum(1.0 / F.log(F.col("dc.d"))), 4).alias("adamic_adar"),
        )
    )
    dx, dy = deg.alias("dx"), deg.alias("dy")
    scored = (
        cand.join(F.broadcast(dx), F.col("dx.node") == F.col("x"))
        .join(F.broadcast(dy), F.col("dy.node") == F.col("y"))
        .select(
            "x",
            "y",
            "common",
            F.expr(
                "CAST((2 * common * 10000 + (dx.d + dy.d - common))"
                " DIV (2 * (dx.d + dy.d - common)) AS BIGINT)"
            ).alias("jaccard_x1e4"),
            "adamic_adar",
        )
    )
    return scored.orderBy(
        F.col("jaccard_x1e4").desc(), F.col("x").asc(), F.col("y").asc()
    ).limit(20)


@register(
    "graph_modularity_brand",
    CAT,
    _EDGES_SQL
    + ","
    + _SYM_SQL
    + """
    ,
    labeled AS (
      SELECT e.pa, e.pb, px.p_brand AS brand_a, py.p_brand AS brand_b
      FROM edges e
      JOIN part px ON px.p_partkey = e.pa
      JOIN part py ON py.p_partkey = e.pb
    ),
    m AS (SELECT COUNT(*)::BIGINT AS m FROM edges),
    within AS (
      SELECT brand_a AS brand, COUNT(*)::BIGINT AS within_edges
      FROM labeled WHERE brand_a = brand_b GROUP BY 1
    ),
    dsum AS (
      SELECT p.p_brand AS brand, COUNT(*)::BIGINT AS n_nodes,
             SUM(d.d)::BIGINT AS deg_sum
      FROM deg d JOIN part p ON p.p_partkey = d.node
      GROUP BY 1
    )
    SELECT ds.brand, ds.n_nodes, COALESCE(w.within_edges, 0)::BIGINT
             AS within_edges,
           ds.deg_sum,
           ROUND(CAST(COALESCE(w.within_edges, 0) AS DOUBLE) / t.m
                 - pow(CAST(ds.deg_sum AS DOUBLE) / (2 * t.m), 2), 4) + 0.0
             AS q_contrib
    FROM dsum ds LEFT JOIN within w ON w.brand = ds.brand CROSS JOIN m t
    """,
)
def graph_modularity_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition of the co-purchase
    graph: per brand community, Q_b = e_b/m − (d_b/2m)² (within-edge
    share minus the configuration-model expectation). Positive
    contributions mean co-purchases concentrate within the brand —
    attribute assortativity answered without running any community
    detection (the companion to graph_label_propagation, which finds
    communities; this scores a GIVEN partition).

    Scale shape: one edge pass labeled by two broadcast dim joins, a
    brand-grain rollup, and a broadcast scalar m — every term of Q is a
    ratio of exact integers, so both engines round identical doubles.
    ``+ 0.0`` on both engines: a Q_b in (-5e-5, 0) rounds to -0.0 in
    DuckDB and 0.0 in Spark, and adding 0.0 turns both into 0.0."""
    e = _edges(spark, sf_dir).select("pa", "pb")
    sym, deg = _sym_deg(e)
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    px, py = part.alias("px"), part.alias("py")
    labeled = (
        e.join(F.broadcast(px), F.col("px.p_partkey") == F.col("pa"))
        .join(F.broadcast(py), F.col("py.p_partkey") == F.col("pb"))
        .select(
            F.col("px.p_brand").alias("brand_a"),
            F.col("py.p_brand").alias("brand_b"),
        )
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    within = (
        labeled.filter(F.col("brand_a") == F.col("brand_b"))
        .groupBy(F.col("brand_a").alias("brand"))
        .agg(F.count(F.lit(1)).alias("within_edges"))
    )
    dsum = (
        deg.join(F.broadcast(part), F.col("p_partkey") == F.col("node"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("deg_sum"),
        )
    )
    return (
        dsum.join(within, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            "n_nodes",
            F.coalesce(F.col("within_edges"), F.lit(0))
            .cast("long")
            .alias("within_edges"),
            "deg_sum",
            (
                F.round(
                    F.coalesce(F.col("within_edges"), F.lit(0)).cast("double")
                    / F.col("m")
                    - F.pow(
                        F.col("deg_sum").cast("double") / (2 * F.col("m")), 2
                    ),
                    4,
                )
                + 0.0
            ).alias("q_contrib"),
        )
    )
