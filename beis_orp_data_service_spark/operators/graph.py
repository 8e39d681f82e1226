"""Graph as DataFrames — the TypeDB entity/relation/attribute store
(misc/bulk_enrichment/bulk_migration/schema/orp-pbeta-gdb-schema.tql)
re-expressed as three joinable tables (SURVEY §1.1): ``entities``
(node_id, entity_type, EAV attrs), ``edges`` (publication/partOf
relations with role columns), and the ``documents`` wide table.

Operators:
- Q12 EAV pivot: TypeDB answers arrive as (entity, attr, value) rows;
  singleton attributes unwrap to scalars, multi-valued attributes
  (keyword, regulatory_topic — extract_graph_elems.py:25-27) collapse
  to sorted lists (helpers.py:50-71).
- Q13 1-hop traversal: docs ⋈ edges ⋈ dimension, both directions
  (search_functions.py:21-27,100-116).
- Q14 grouped related-docs with a page_size cap (search_functions.py:68-85).
- graph build: the stream updater's extractElements
  (extract_graph_elems.py:20-110) — wide document rows → node/edge rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from beis_orp_data_service_spark.checkpointing import stage_checkpoint


def unpivot_eav(df: DataFrame, id_col: str, attrs: list[str]) -> DataFrame:
    """Wide row → EAV rows (the shape TypeDB answers arrive in,
    helpers.py:50-59): stack the attribute columns."""
    pairs = ", ".join(f"'{a}', CAST({a} AS STRING)" for a in attrs)
    return df.selectExpr(
        id_col, f"stack({len(attrs)}, {pairs}) AS (attr, value)"
    ).filter(F.col("value").isNotNull())


def eav_pivot(
    eav: DataFrame,
    id_col: str,
    scalar_attrs: list[str],
    list_attrs: list[str] | None = None,
) -> DataFrame:
    """Q12 — EAV rows → one wide row per entity. Scalar attrs unwrap
    via max (singleton per entity); multi-valued attrs collapse to a
    sorted, '|'-serialized list (deterministic, engine-agnostic)."""
    aggs: list[Column] = [
        F.max(F.when(F.col("attr") == a, F.col("value"))).alias(a)
        for a in scalar_attrs
    ]
    for a in list_attrs or []:
        aggs.append(
            F.concat_ws(
                "|",
                F.sort_array(
                    F.collect_list(F.when(F.col("attr") == a, F.col("value")))
                ),
            ).alias(a)
        )
    return eav.groupBy(id_col).agg(*aggs)


def traverse(
    left: DataFrame,
    edges: DataFrame,
    right: DataFrame,
    left_key: str,
    edge_left: str,
    edge_right: str,
    right_key: str,
) -> DataFrame:
    """Q13 — 1-hop relation traversal as a 3-way join; the dimension side
    should be broadcast by the caller when small."""
    return left.join(edges, left[left_key] == edges[edge_left]).join(
        right, edges[edge_right] == right[right_key]
    )


def related_grouped(
    edges: DataFrame, group_col: str, collect_col: str, cap: int
) -> DataFrame:
    """Q14 — per dimension key, a capped sorted list of related ids
    (page_size cap, search_functions.py:68-85)."""
    return edges.groupBy(group_col).agg(
        F.slice(F.sort_array(F.collect_list(collect_col)), 1, cap).alias("related"),
        F.count("*").alias("n_related"),
    )


def reachability(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """N-hop reachability with min-hop distances — the multi-hop
    extension of the Q13 1-hop traverse (the reference's TQL can chain
    relation hops; relationally it is iterated equi-joins). Input:
    ``edges (src, dst)`` directed, ``sources (node)``. Output one row
    per reachable node: ``(node, hops)`` = fewest hops from any source.

    Frontier BFS: per level one equi-join shuffle (frontier × edges,
    both keyed on the node) + an anti-join against the visited set, so
    each node is expanded exactly once — level cost is O(frontier
    out-degree), never O(graph). ``localCheckpoint`` per level keeps
    the plan flat (every frame a LogicalRDD scan, no lineage growth);
    the per-level emptiness check is a scalar count, the standard
    driver action for iterative closure. Cycles terminate because a
    revisited node is never re-expanded."""
    visited = sources.select(
        F.col("node"), F.lit(0).cast("bigint").alias("hops")
    ).transform(stage_checkpoint, label="reachability:init")
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), F.lit(h).cast("bigint").alias("hops"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .transform(stage_checkpoint, label="reachability:frontier")
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).transform(
            stage_checkpoint, label="reachability:visited"
        )
        frontier = nxt
    return visited


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Weighted single/multi-source shortest paths, bounded hops —
    Bellman-Ford relaxation on DataFrames. Input: ``edges (src, dst,
    w)`` with NON-NEGATIVE integer weights (integer arithmetic keeps
    the result bit-identical cross-engine, so the oracle can unroll
    the same relaxations as chained CTEs), ``sources (node)``. Output
    ``(node, dist)`` = minimum total weight over paths of at most
    ``max_hops`` edges from any source.

    Per round: one equi-join shuffle (current dists × edges on the
    node key) + a map-side-combined MIN aggregate — never a window,
    never per-node pandas. The hop bound makes the round count FIXED
    (no per-round driver emptiness action, unlike :func:`reachability`
    where early exit pays for itself on shallow graphs);
    ``localCheckpoint`` per round keeps the plan flat. Negative-cycle
    safety comes free from the hop bound."""
    dist = sources.select(
        F.col("node"), F.lit(0).cast("bigint").alias("dist")
    ).transform(stage_checkpoint, label="shortest_paths:init")
    for _ in range(max_hops):
        relaxed = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).cast("bigint").alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(stage_checkpoint, label="shortest_paths:round")
        )
    return dist


def shortest_paths_oracle_sql(
    edges_cte: str, sources_cte: str, max_hops: int = 3
) -> str:
    """DuckDB twin: unrolls the same ``max_hops`` relaxation rounds as
    chained CTEs (d0 = sources at 0; d(i) = per-node MIN over d(i-1)
    UNION relaxed edges) — identical arithmetic, so hash-grade.
    ``edges_cte`` must yield (src, dst, w); ``sources_cte`` (node)."""
    ctes = [
        f"e AS ({edges_cte})",
        f"d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM ({sources_cte}))",
    ]
    for i in range(1, max_hops + 1):
        ctes.append(
            f"d{i} AS (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{i - 1} UNION ALL "
            f"SELECT e.dst AS node, d{i - 1}.dist + e.w AS dist "
            f"FROM d{i - 1} JOIN e ON e.src = d{i - 1}.node) GROUP BY node)"
        )
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT node, dist FROM d{max_hops}"
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    damping_milli: int = 850,
    scale: int = 1_000_000,
    init: DataFrame | None = None,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Integer-exact PageRank, fixed iteration count (Page et al. 1999;
    the related-document/citation ranking a regulatory graph store
    serves next to Q13/Q14 traversals).

    All arithmetic is scaled-integer (rank in micro-units, ``DIV``
    division), so every engine computes bit-identical ranks — no float
    summation-order drift — which is what makes a HASH-grade oracle
    possible for an iterative algorithm. Per iteration: every node's
    rank splits evenly over its out-edges (integer DIV; dangling mass
    is dropped, deterministically), contributions aggregate per target
    (one shuffle, map-side combined), and
    ``rank' = (1000-d)·scale DIV 1000 + d·incoming DIV 1000``.

    Scale shape: ``iterations`` shuffles over the edge list — the same
    per-round cost class as :func:`reachability`; no driver-side data,
    no lineage growth (the rank table is tiny relative to edges and is
    localCheckpointed per round). The degree-annotated edge list and
    the node list are checkpointed ONCE before the loop — a
    localCheckpoint boundary per iteration would otherwise recompute
    the degree groupBy and the node derivation every round (exchange
    reuse cannot span checkpointed plans). Fixed iterations rather than
    a convergence test keeps the oracle replayable; pass ``init``
    (a previous ``(node, pr_micro)`` result) to continue iterating
    toward convergence instead of restarting from uniform ranks.

    ``sources`` switches to PERSONALIZED PageRank (Haveliwala 2002 —
    the related-document ranking primitive the reference's Q14 grouped
    related-docs view approximates): the teleport mass lands only on
    the source set (base term zero elsewhere) and the initial rank is
    concentrated there, so ranks measure proximity TO the sources, not
    global centrality. Same integer arithmetic, same oracle story; the
    source set is broadcast (a query-sized dimension).

    Returns ``(node, pr_micro)``.
    """
    # one edge scan per round: degrees pre-joined onto the edges
    edges_deg = (
        edges.join(
            edges.groupBy("src").agg(F.count("*").alias("_deg")), "src"
        )
        .select("src", "dst", "_deg")
        .transform(stage_checkpoint, eager=False, label="pagerank:edges_deg")
    )
    base = (1000 - damping_milli) * scale // 1000
    if sources is None:
        nodes_c = nodes.select(
            "node", F.lit(base).cast("bigint").alias("_base"),
            F.lit(scale).cast("bigint").alias("_init"),
        ).transform(stage_checkpoint, eager=False, label="pagerank:nodes")
    else:
        src = sources.select("node", F.lit(1).alias("_is_src"))
        nodes_c = (
            nodes.join(F.broadcast(src), "node", "left")
            .select(
                "node",
                F.when(F.col("_is_src") == 1, F.lit(base))
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("_base"),
                F.when(F.col("_is_src") == 1, F.lit(scale))
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("_init"),
            )
            .transform(stage_checkpoint, eager=False, label="pagerank:nodes_ppr")
        )
    if init is not None:
        pr = init.select("node", F.col("pr_micro").cast("bigint"))
    else:
        pr = nodes_c.select(F.col("node"), F.col("_init").alias("pr_micro"))
    pr = pr.transform(stage_checkpoint, eager=False, label="pagerank:init")
    for _ in range(iterations):
        contrib = (
            edges_deg.join(pr, edges_deg.src == pr.node)
            .select(F.col("dst").alias("node"), F.expr("pr_micro DIV _deg").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_inc"))
        )
        pr = (
            nodes_c.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.col("_base")
                    + F.expr(
                        f"{damping_milli} * coalesce(_inc, CAST(0 AS BIGINT)) DIV 1000"
                    )
                ).alias("pr_micro"),
            )
            .transform(stage_checkpoint, eager=False, label="pagerank:round")
        )
    return pr


def sequential_edges(
    events: DataFrame,
    part_col: str,
    order_cols: list[str],
    node_col: str,
) -> DataFrame:
    """Sequential co-activity edge builder: an undirected edge between
    the actors of CONSECUTIVE events within each ``part_col`` stream
    (who acted right after whom, per event type / channel / thread).
    The standard interaction-graph construction that stays LINEAR in
    the event count — unlike same-bucket co-occurrence cliques, whose
    C(bucket,2) pair blow-up is quadratic in bucket size and unusable
    at 100 TB.

    One window shuffle (partition by stream, order by ``order_cols`` —
    pass a unique tiebreak, e.g. [ts, event_id], so the sequence is
    deterministic), then normalize to (a, b) with a < b, drop self
    loops, distinct. Returns the undirected edge set (a, b).

    Scale note: the window sorts each ``part_col`` stream in ONE task,
    so the stream key must be bounded — at corpus scale pass a
    compound key (e.g. ``concat(event_type, day)``): consecutive-pair
    edges are local, so bucketing the stream by day loses only the
    one boundary pair per bucket (≤ #buckets edges) while capping
    per-task sort size.
    """
    # Window scale: bounded only if the caller keys the stream as
    # documented above (compound key caps per-task sort size; boundary
    # loss ≤ one pair per bucket).
    w = Window.partitionBy(part_col).orderBy(*[F.col(c) for c in order_cols])
    nxt = events.select(
        F.col(node_col).alias("_u"),
        F.lag(node_col, -1).over(w).alias("_v"),
    ).where(F.col("_v").isNotNull() & (F.col("_u") != F.col("_v")))
    return nxt.select(
        F.least("_u", "_v").alias("a"), F.greatest("_u", "_v").alias("b")
    ).distinct()


def _triangles_driver(spark, edge_rows) -> DataFrame:
    """Driver-local twin of :func:`triangle_counts` — same
    degree-ordered orientation, each triangle counted once at its
    smallest-(deg, id) apex; equality-tested against the distributed
    spelling in tests/test_graph_skew.py. Python cost is
    O(Σ out-deg²) ≤ O(m^1.5), bounded by the caller's probe
    threshold."""
    pairs = [(r["a"], r["b"]) for r in edge_rows]
    deg: dict = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    out: dict = {}
    for a, b in pairs:
        u, v = (a, b) if (deg[a], a) < (deg[b], b) else (b, a)
        out.setdefault(u, set()).add(v)
    tri: dict = {}
    for u, nb in out.items():
        ordered = sorted(nb, key=lambda n: (deg[n], n))
        for i, x in enumerate(ordered):
            ox = out.get(x)
            if not ox:
                continue
            for y in ordered[i + 1 :]:
                if y in ox:
                    for n in (u, x, y):
                        tri[n] = tri.get(n, 0) + 1
    return spark.createDataFrame(
        sorted((int(n), int(c)) for n, c in tri.items()),
        "node bigint, n_triangles bigint",
    )


def triangle_counts(
    edges: DataFrame, driver_threshold: int = 50_000
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (Ortmann & Brandes 2014; the compact-forward / Latapy 2008 family —
    the MapReduce formulation is Suri & Vassilvitskii 2011, WWW).

    Input: undirected distinct edges (a, b) with a < b, no self loops.
    Each edge is oriented from its (degree, id)-smaller endpoint to the
    larger, so every out-neighborhood has size O(sqrt(m)) regardless of
    hub skew — THE property that makes the wedge join survive
    power-law graphs at scale (a raw neighbor self-join on an
    unoriented hub of degree d generates d^2 wedges; orientation caps
    it at 2m wedges total... bounded by a_m = arboricity-ish sqrt(m)).
    Every triangle is generated exactly once, at its smallest-(deg,id)
    apex.

    Three equi-join shuffles: degree groupBy, wedge self-join on the
    apex, closure semi-join on the wedge's (x, y) pair; then one
    explode + map-side-combined count. Returns (node, n_triangles) for
    nodes in >= 1 triangle; node ids must be NUMERIC (bigint — the
    graph kernels' documented precondition; the adaptive driver twin
    emits bigint).

    Adaptive execution (r14, the dup_clusters convention): the edge
    table is materialized once and probed with a bounded
    limit+collect; below ``driver_threshold`` edges the orientation +
    wedge scan runs driver-local (equality-tested), else the
    distributed joins below run unchanged. The triangle threshold is
    LOWER than the closure kernels' (50k vs 1M): the driver wedge scan
    is O(m^1.5), not O(m).
    """
    if driver_threshold:
        e = edges.select("a", "b").transform(
            stage_checkpoint, label="triangles:edges"
        )
        probe = e.limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            return _triangles_driver(e.sparkSession, probe)
        edges = e
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "da")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("deg", "db")
    )
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lt, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    wedges = o1.join(o2, "u").where(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "leftsemi").select("u", "x", "y")
    return (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_counts_oracle_sql(edges_cte: str) -> str:
    """DuckDB twin: same orientation, wedge join, closure semi-join.
    ``edges_cte`` must be a SELECT yielding (a, b) distinct undirected
    edges with a < b."""
    return f"""
    WITH edges AS ({edges_cte}
    ), deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
      GROUP BY node
    ), oriented AS (
      SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
                  THEN e.a ELSE e.b END AS u,
             CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
                  THEN e.b ELSE e.a END AS v,
             CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
                  THEN db.deg ELSE da.deg END AS dv
      FROM edges e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
    ), tri AS (
      SELECT o1.u, o1.v AS x, o2.v AS y
      FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u
      WHERE ((o1.dv < o2.dv) OR (o1.dv = o2.dv AND o1.v < o2.v))
        AND EXISTS (SELECT 1 FROM oriented c WHERE c.u = o1.v AND c.v = o2.v)
    )
    SELECT node, count(*) AS n_triangles FROM (
      SELECT u AS node FROM tri
      UNION ALL SELECT x FROM tri
      UNION ALL SELECT y FROM tri)
    GROUP BY node
    """


def _lpa_driver(
    spark,
    edge_rows,
    node_rows,
    iterations: int,
    node_type,
) -> DataFrame:
    """Driver-local twin of :func:`label_propagation`'s loop — EXACT
    same synchronous rounds (neighbor mode label, ties to the smallest
    label, isolated nodes reset to their own id), equality-tested
    against the distributed spelling in tests/test_graph.py. Runs when
    the edge set fits the driver (probed, threshold-bounded): the
    distributed loop is ``iterations`` × (join + 2 aggregates +
    checkpoint) driver-orchestrated jobs whose scheduling overhead
    dominates the small graphs it converges on."""
    from pyspark.sql import types as T

    nbrs: dict = {}
    for r in edge_rows:
        a, b = r["a"], r["b"]
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    nodes_l = [r["node"] for r in node_rows]
    labels = {n: n for n in nodes_l}
    for _ in range(iterations):
        new = {}
        for n in nodes_l:
            cnt: dict = {}
            for m in nbrs.get(n, ()):
                if m in labels:
                    lm = labels[m]
                    cnt[lm] = cnt.get(lm, 0) + 1
            if cnt:
                # mode, ties to the SMALLEST label — the distributed
                # argmax is max(struct(cnt, -label))
                new[n] = min(cnt, key=lambda l: (-cnt[l], l))
            else:
                new[n] = n  # coalesce(_mode, node): isolated keeps own id
        labels = new
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("label", node_type)]
    )
    return spark.createDataFrame(
        sorted(labels.items()), schema
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made deterministic and hash-oracle-checkable: every
    node starts labeled with its own id; each round it adopts its
    neighbors' MODE label — most frequent, ties to the SMALLEST label
    (the textbook random tie-break is what makes vanilla LPA
    irreproducible; min-tie-break fixes the run), isolated nodes keep
    their own. Fixed ``iterations`` (oracle unrolls the same rounds as
    chained CTEs — the pagerank replayability move).

    Per round: one labels⋈edges equi-join shuffle, a map-side-combined
    (node, label) count, then a per-node argmax as ``max(struct(cnt,
    -label))`` — ALSO map-side combinable, no window funnel. The label
    table is localCheckpointed per round so plans stay flat. Input
    ``edges`` is undirected (a, b) pairs; both directions are derived
    here.

    Returns (node, label).

    PRECONDITION: node ids are NUMERIC — the single-pass argmax rides
    on ``max(struct(cnt, -label))`` (larger count wins, then smaller
    label), and the negation needs a signed numeric label. String node
    ids should be dictionary-encoded first (the usual move before any
    iterative graph kernel: ints shuffle and compare cheaper anyway).
    """
    if driver_threshold:
        # Materialize the edge pipeline ONCE at full parallelism, then
        # probe with a bounded limit+collect (the dup_clusters
        # adaptive-closure convention — a bare limit() would run the
        # pipeline through CollectLimit's incremental escalation).
        # Both paths consume the checkpointed tables; nothing runs
        # twice. The distributed loop is unchanged above the threshold.
        edges = edges.select("a", "b").transform(
            stage_checkpoint, label="lpa:probe_edges"
        )
        e_probe = edges.limit(driver_threshold + 1).collect()
        if len(e_probe) <= driver_threshold:
            nodes = nodes.select("node").transform(
                stage_checkpoint, label="lpa:probe_nodes"
            )
            n_probe = nodes.limit(driver_threshold + 1).collect()
            if len(n_probe) <= driver_threshold:
                return _lpa_driver(
                    edges.sparkSession,
                    e_probe,
                    n_probe,
                    iterations,
                    nodes.schema["node"].dataType,
                )
    both = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    both = both.transform(stage_checkpoint, eager=False, label="lpa:edges")
    nodes_c = nodes.select("node").transform(
        stage_checkpoint, eager=False, label="lpa:nodes"
    )
    labels = nodes_c.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        counts = (
            both.join(labels, both.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        mode = counts.groupBy("node").agg(
            (-F.max(F.struct(F.col("_cnt"), (-F.col("label")).alias("_nl")))["_nl"]).alias(
                "_mode"
            )
        )
        labels = (
            nodes_c.join(mode, "node", "left")
            .select(
                "node", F.coalesce(F.col("_mode"), F.col("node")).alias("label")
            )
            .transform(stage_checkpoint, eager=False, label="lpa:round")
        )
    return labels


def label_propagation_oracle_sql(edges_cte: str, iterations: int = 3) -> str:
    """DuckDB twin: the same synchronous min-tie-break rounds unrolled.
    ``edges_cte`` yields (a, b) undirected distinct edges."""
    rounds = []
    prev = "l0"
    for i in range(1, iterations + 1):
        rounds.append(
            f"""cnt{i} AS (
      SELECT e.dst AS node, p.label, count(*) AS c
      FROM bidir e JOIN {prev} p ON p.node = e.src
      GROUP BY e.dst, p.label
    ), mode{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM cnt{i})
      WHERE rn = 1
    ), l{i} AS (
      SELECT v.node, coalesce(m.label, v.node) AS label
      FROM v LEFT JOIN mode{i} m USING (node)
    )"""
        )
        prev = f"l{i}"
    joined = ", ".join(rounds)
    return f"""
    WITH edges AS ({edges_cte}
    ), bidir AS (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL SELECT b, a FROM edges
    ), v AS (
      SELECT DISTINCT node FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
    ), l0 AS (
      SELECT node, node AS label FROM v
    ), {joined}
    SELECT node, label FROM {prev}
    """


def _kcore_driver(spark, edge_rows, k: int, rounds: int) -> DataFrame:
    """Driver-local twin of :func:`kcore`'s peel loop — identical fixed
    synchronous rounds (degree < k drop + edge refilter), equality-
    tested against the distributed spelling in tests/test_graph.py."""
    edges = [(r["a"], r["b"]) for r in edge_rows]

    def _deg(es):
        d: dict = {}
        for a, b in es:
            d[a] = d.get(a, 0) + 1
            d[b] = d.get(b, 0) + 1
        return d

    for _ in range(rounds):
        keep = {n for n, d in _deg(edges).items() if d >= k}
        edges = [(a, b) for a, b in edges if a in keep and b in keep]
    return spark.createDataFrame(
        sorted((int(n), int(d)) for n, d in _deg(edges).items()),
        "node bigint, degree bigint",
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """k-core peeling (Seidman 1983; the standard cohesion filter for
    interaction graphs — spam rings and scrape farms survive high-k
    cores, organic users don't): repeatedly drop nodes of degree < k
    and re-filter the edge set. Runs a FIXED ``rounds`` of synchronous
    peels — deterministic and exactly replayable as ``rounds`` chained
    SQL CTEs (the unrolled-oracle convention of pagerank/
    label_propagation). Peeling is monotone, so extra rounds past
    convergence are no-ops; the true k-core needs rounds ≥ peel depth
    (tested on planted clique/chain graphs).

    Each round ``localCheckpoint``s the surviving edge set (the
    dup_clusters convention): every round consumes the previous one
    THREE times (degree count + two semi-joins), so a lazy spelling is
    a 3^rounds plan-tree blow-up.

    Per round: one explode + map-side-combined degree aggregate and
    two semi-joins — every stage keyed on the node, no window funnel.
    Input (a, b) canonical undirected edges. Output (node, degree):
    degrees within the ``rounds``-peeled edge set."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")

    def _degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    e = edges.transform(stage_checkpoint, label="kcore:init")
    if driver_threshold:
        # adaptive driver-local peel (the dup_clusters convention):
        # probe the ALREADY-materialized canonical edge table with one
        # bounded limit+collect; below the threshold the fixed peel
        # rounds run as plain Python set arithmetic — identical output
        # (equality-tested) without rounds × (aggregate + 2 semi-joins
        # + checkpoint) of driver-orchestrated job latency. The
        # distributed loop below is unchanged at scale.
        probe = e.select("a", "b").limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            return _kcore_driver(e.sparkSession, probe, k, rounds)
    for _ in range(rounds):
        keep = _degrees(e).where(F.col("degree") >= k).select("node")
        e = (
            e.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .transform(stage_checkpoint, label="kcore:round")
        )
    return _degrees(e).select(
        F.col("node").cast("bigint"), F.col("degree").cast("bigint")
    )


def kcore_oracle_sql(edges_cte: str, k: int, rounds: int = 4) -> str:
    """DuckDB twin of :func:`kcore` — the same ``rounds`` peels
    unrolled as chained CTEs over the caller's edge CTE."""
    parts = [f"e0 AS ({edges_cte})"]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT a AS node FROM e{r - 1}
        UNION ALL SELECT b AS node FROM e{r - 1})
      GROUP BY node HAVING COUNT(*) >= {k}
    )"""
        )
        parts.append(
            f"""e{r} AS (
      SELECT e.a, e.b FROM e{r - 1} e
      JOIN d{r} da ON e.a = da.node
      JOIN d{r} db ON e.b = db.node
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT CAST(node AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM (
      SELECT a AS node FROM e{rounds}
      UNION ALL SELECT b AS node FROM e{rounds})
    GROUP BY node
    """
