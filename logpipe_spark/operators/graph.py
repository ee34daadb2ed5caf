"""Graph analytics: weighted PageRank over an edge list.

The reference forwards event streams between hosts; the natural analytics
companion is ranking the nodes of the flow graph those streams describe
(which event types / services / tools sit at the center of the traffic).
PageRank over the transition graph built by
:func:`logpipe_spark.operators.asof.transition_matrix` answers that, and
the same operator ranks any (src, dst, weight) edge list — document link
graphs for corpus quality weighting included (reference scope: the flow
topology implied by `logpipe-output-tcp.c` peer fan-out, ranked instead
of just traversed).

Cross-engine determinism: every quantity is a BIGINT under fixed-point
arithmetic — ranks are scaled by ``scale``, damping by parts-per-million,
edge shares by parts-per-billion, and every division is integer ``div``.
Integer SUM is associative and order-independent, so the DuckDB oracle
matches bit for bit regardless of partial-aggregation order (the reason
floats are banned here: float contribution sums would differ in the last
ulp by reduction order). Floors only ever DROP mass, so the total rank is
bounded by ``scale`` and no intermediate exceeds
``(damping_ppm/1e6) * scale * 1e9 < 2^63`` for the default
``scale = 1e10``; keep ``scale ≤ 1e10`` unless you re-derive the bound.

100 TB shape: per iteration, ranks (one row per NODE — tiny next to the
edge list) join the prepared edges on ``src`` and the contributions hash-
aggregate by ``dst``: two shuffles of id+long rows, payload never moves.
The edge preparation (groupBy src for out-weights) happens ONCE outside
the loop and is localCheckpointed so iterations do not re-derive it.
Dangling nodes (no out-edges) simply contribute nothing — their damped
mass is dropped, the standard simplification; ranks remain comparable
because every node keeps the same teleport base.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000
PPB = 1_000_000_000
#: the defaults of :func:`pagerank`, and the only values
#: :func:`pagerank_oracle_sql` mirrors
DAMPING_PPM = 850_000
SCALE = 10_000_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_ppm: int = DAMPING_PPM,
    scale: int = SCALE,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-point weighted PageRank. Returns (node, pr) with ``pr`` the
    BIGINT rank scaled by ``scale``; ``sum(pr) <= scale`` (floors and
    dangling nodes only drop mass).

    ``edges`` is any (``src``, ``dst``[, weight]) relation — duplicates are
    collapsed by summing weights (or counting rows when ``weight_col`` is
    None), so a raw transition log works as-is. Self-loops are legal.
    The recurrence (mirrored token for token by :func:`pagerank_oracle_sql`):

        share_ppb(e) = (w_e * 1e9) div W_src
        u(v)         = (r(v) * damping_ppm) div 1e6
        r'(v)        = ((1e6 - damping_ppm) * scale) div (1e6 * n)
                       + sum over in-edges e: (u(src_e) * share_ppb(e)) div 1e9
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    if not 0 < damping_ppm < PPM:
        raise ValueError(f"damping_ppm must be in (0, 1e6): {damping_ppm}")
    if scale > 10_000_000_000:
        raise ValueError(
            f"scale {scale} > 1e10 breaks the 64-bit overflow bound"
        )

    w_expr = (
        F.sum(F.col(weight_col).cast("long"))
        if weight_col
        else F.count(F.lit(1)).cast("long")
    )
    counts = edges.groupBy(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).agg(w_expr.alias("w"))
    # one-time prep, pinned so the iteration loop never re-derives it
    counts = counts.localCheckpoint(eager=True)

    outw = counts.groupBy("src").agg(F.sum("w").alias("ow"))
    prepared = (
        counts.join(outw, "src")
        .select(
            "src",
            "dst",
            F.expr(f"(w * {PPB}) div ow").cast("long").alias("share_ppb"),
        )
        .localCheckpoint(eager=True)
    )
    nodes = (
        counts.select(F.col("src").alias("node"))
        .union(counts.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # n is ONE scalar (the node count) — a driver-side count here is the
    # same O(1) collect the connected-components loop already does
    n = nodes.count()
    if n == 0:
        raise ValueError("edge list is empty")
    base = ((PPM - damping_ppm) * scale) // (PPM * n)

    ranks = nodes.select("node", F.lit(scale // n).cast("long").alias("pr"))
    for _ in range(iterations):
        contrib = (
            prepared.join(ranks, prepared.src == ranks.node)
            .select(
                "dst",
                F.expr(
                    f"((pr * {damping_ppm}) div {PPM} * share_ppb) div {PPB}"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("c"), F.lit(0)))
                .cast("long")
                .alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank_oracle_sql(edges_cte: str, iterations: int = 5) -> str:
    """DuckDB mirror of :func:`pagerank` at its default damping and scale,
    with the iterations unrolled as chained CTEs (aggregates
    are not legal in a recursive CTE's recursive term). ``edges_cte`` is
    a SQL relation producing (src, dst, w) — weights pre-collapsed or
    not, the first CTE re-collapses exactly like the operator."""
    d, scale, n_iter = DAMPING_PPM, SCALE, int(iterations)
    steps = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        steps.append(
            f"""r{i} AS (
  SELECT x.node,
         CAST((({PPM - d} * {scale}) // ({PPM} * nn.n))
              + COALESCE(SUM(((p.pr * {d}) // {PPM} * e.share_ppb) // {PPB}), 0)
           AS BIGINT) AS pr
  FROM pr_nodes x CROSS JOIN nn
  LEFT JOIN pr_edges e ON e.dst = x.node
  LEFT JOIN {prev} p ON p.node = e.src
  GROUP BY x.node, nn.n
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(steps)
    return f"""
WITH pr_raw AS ({edges_cte}),
pr_counts AS (
  SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst,
         CAST(SUM(w) AS BIGINT) AS w
  FROM pr_raw GROUP BY 1, 2
),
pr_outw AS (SELECT src, SUM(w) AS ow FROM pr_counts GROUP BY 1),
pr_edges AS (
  SELECT c.src, c.dst, CAST((c.w * {PPB}) // o.ow AS BIGINT) AS share_ppb
  FROM pr_counts c JOIN pr_outw o USING (src)
),
pr_nodes AS (
  SELECT src AS node FROM pr_counts UNION SELECT dst FROM pr_counts
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pr_nodes),
r0 AS (
  SELECT node, CAST({scale} // nn.n AS BIGINT) AS pr FROM pr_nodes, nn
),
{chain}
SELECT node, pr FROM {prev}
"""


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count of the undirected graph described by an edge
    list (direction, duplicates, and self-loops are normalised away) —
    the density diagnostic for near-dup pair graphs (how clique-like are
    the clusters CC is about to merge?) and service topologies.

    Returns ONE row ``(n_nodes, n_edges, n_wedges, n_triangles)``.

    100 TB shape — the textbook degree-orientation plan: every canonical
    edge is oriented from its LOWER (degree, node) endpoint to its
    higher one, which bounds every oriented out-degree by O(sqrt(m));
    the wedge self-join on the oriented source therefore cannot blow up
    on a hub vertex (a star's center has out-degree 0 or 1 after
    orientation, not n). Wedges close into triangles via one hash
    equi-join back against the oriented edges — every triangle matches
    exactly once, anchored at its lowest-ranked vertex. All shuffles
    move (id, id) pairs only; no window, no cartesian, no payload.

    ``edges``: (``src``, ``dst``).
    """
    a, b = F.col("src").cast("long"), F.col("dst").cast("long")
    und = (
        edges.select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: lower (deg, node) endpoint -> higher; ties cannot happen
    # on node (u != v), so the order is total and the orientation acyclic
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(
                F.struct(F.col("v").alias("s"), F.col("u").alias("d"))
            )
            .alias("e")
        )
        .select("e.s", "e.d")
    )
    o1 = oriented.select(F.col("s"), F.col("d").alias("x"))
    o2 = oriented.select(F.col("s"), F.col("d").alias("y"))
    # deduped wedge (x, y): canonical id order is enough — the closing
    # oriented edge between x and y exists in exactly one direction
    wedges = o1.join(o2, "s").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("s", "d").alias("x"), F.greatest("s", "d").alias("y")
    )
    # one aggregate per side, ONE 1-row×1-row crossJoin to lay them side
    # by side (n_edges = Σdeg/2 spares a third aggregate over `und`)
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce((F.sum("deg") / 2).cast("long"), F.lit(0)).alias(
            "n_edges"
        ),
    )
    wt = (
        wedges.join(closing.withColumn("hit", F.lit(1)), ["x", "y"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_wedges"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_triangles"),
        )
    )
    return base.crossJoin(wt).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles"
    )
