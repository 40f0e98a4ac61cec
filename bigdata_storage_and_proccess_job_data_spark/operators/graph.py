"""Link-graph analytics: PageRank, degrees, triangles over an edge
DataFrame.

The reference has no graph operators (SURVEY.md §2.6); this joins
connected_components (operators/neardup.py, the dedup-cluster step) as
the second iterative graph primitive -- authority scoring for document
graphs (hyperlinks, citations, user-item interactions), the classic
quality prior for crawl-corpus curation (e.g. the OPIC/harmonic-rank
features in CommonCrawl-derived training sets). Weighted edges and a
personalized teleport set make it the random-walk-with-restart form
used for recommendation ("rank items near THESE seeds").

Power iteration, all DataFrame ops: each round is one equi-join of the
rank vector against the edge list (shuffle on src) plus one hash agg on
dst -- O(|E|) per round, no adjacency matrix, no driver-side graph.
Dangling mass (rank parked on nodes with no out-edges) is redistributed
to the teleport vector each round via a one-row broadcast scalar, the
standard Page-Brin correction that keeps the rank vector a probability
distribution (sums to 1 every round -- tested).

Every iterative operator here runs its passes through
operators/_iterate.py, whose docstring holds the one lineage policy
(checkpointing, release, convergence aggregates). Pagerank's other
driver-side materializations are the node count and (personalized
only) the in-graph seed count -- two bounded longs, like the
documented scalar collects elsewhere in the engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.operators._iterate import (
    _iterate,
)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 15,
    weight_col: str | None = None,
    personalize: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the directed graph ``edges``: (node, rank) for
    every node appearing as a source or destination, ranks summing to 1.
    NULL endpoints drop; self-loops count like any edge. Fixed
    ``iters`` rounds of power iteration -- no per-round convergence
    collect, each round one checkpoint job (operators/_iterate.py);
    10-20 rounds is the standard operating range (residual decays as
    damping^iters).

    Unweighted (default): duplicate edges collapse, each out-edge gets
    an equal share. ``weight_col``: duplicate (src, dst) edge weights
    SUM, shares are weight-proportional, non-positive weights drop.

    ``personalize``: a DataFrame whose FIRST column lists seed nodes --
    the teleport (and dangling) mass concentrates uniformly on the
    seeds instead of all nodes, giving random-walk-with-restart
    proximity to the seed set (seeds outside the graph are ignored; an
    empty in-graph seed set raises). Iteration starts from the teleport
    vector, so non-personalized behavior is unchanged (uniform)."""
    if not 0 < damping < 1:
        raise ValueError("damping must be in (0, 1)")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    sel = [F.col(src).alias("_s"), F.col(dst).alias("_d")]
    if weight_col is not None:
        sel.append(F.col(weight_col).cast("double").alias("_w"))
    e0 = edges.select(*sel).filter(
        F.col("_s").isNotNull() & F.col("_d").isNotNull()
    )
    if weight_col is not None:
        e = (
            e0.filter(F.col("_w") > 0)
            .groupBy("_s", "_d")
            .agg(F.sum("_w").alias("_w"))
            .persist()
        )
        deg = e.groupBy("_s").agg(F.sum("_w").alias("_deg")).persist()
    else:
        e = e0.distinct().withColumn("_w", F.lit(1.0)).persist()
        deg = (
            e.groupBy("_s")
            .agg(F.count(F.lit(1)).cast("double").alias("_deg"))
            .persist()
        )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # bounded driver scalar (one long)
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))

    d = float(damping)
    if personalize is None:
        tele = nodes.withColumn("_t", F.lit(1.0 / n)).persist()
    else:
        seed_col = personalize.columns[0]
        seeds = personalize.select(
            F.col(seed_col).alias("node")
        ).distinct()
        in_graph = nodes.join(seeds, "node").persist()
        m = in_graph.count()  # bounded driver scalar (one long)
        if m == 0:
            e.unpersist()
            nodes.unpersist()
            deg.unpersist()
            in_graph.unpersist()
            raise ValueError("no personalization seed is in the graph")
        tele = (
            nodes.join(
                in_graph.withColumn("_t", F.lit(1.0 / m)), "node", "left"
            )
            .select("node", F.coalesce(F.col("_t"), F.lit(0.0)).alias("_t"))
            .persist()
        )
        in_graph.unpersist()

    def power_step(ranks: DataFrame, _i: int, _seen) -> DataFrame:
        contribs = (
            e.join(ranks.select(F.col("node").alias("_s"), "rank"), "_s")
            .join(deg, "_s")
            .groupBy("_d")
            .agg(
                F.sum(F.col("rank") * F.col("_w") / F.col("_deg")).alias(
                    "_c"
                )
            )
        )
        dangling = ranks.join(deg, ranks.node == deg._s, "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")
        )
        return (
            nodes.join(
                contribs.select(F.col("_d").alias("node"), "_c"),
                "node",
                "left",
            )
            .join(tele, "node")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - d) * F.col("_t")
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_dang") * F.col("_t")
                    )
                ).alias("rank"),
            )
        )

    try:
        ranks, _ = _iterate(
            tele.select("node", F.col("_t").alias("rank")), power_step, iters
        )
        return ranks
    finally:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
        tele.unpersist()


def undirected_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Canonical undirected edge set: distinct (a, b) with a < b.
    Self-loops and NULL endpoints drop; (u, v) and (v, u) collapse.
    The normalization every undirected graph op here builds on."""
    a = F.least(F.col(src), F.col(dst))
    b = F.greatest(F.col(src), F.col(dst))
    return (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def degrees(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, out_deg, in_deg, deg) for every node in ``edges``.
    out/in count distinct directed neighbors; ``deg`` is the undirected
    distinct-neighbor degree (a reciprocal pair counts once). One scan,
    three hash aggs on key columns -- no joins wider than node id."""
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )
    outd = e.groupBy(F.col("_s").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ind = e.groupBy(F.col("_d").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    und = (
        undirected_edges(e, "_s", "_d")
        .select(
            F.explode(F.array(F.col("a"), F.col("b"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        und.join(outd, "node", "left")
        .join(ind, "node", "left")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            "deg",
        )
    )


def _node_degrees(und: DataFrame) -> DataFrame:
    """(node, _deg) over the canonical undirected frame -- every node
    of the graph appears (degree >= 1 by construction), so the frame
    doubles as the node universe for per-node rollups."""
    return (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )


def _orient_by(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered orientation (Cohen / compact-forward): each
    undirected edge points from its lower-(degree, id) endpoint to the
    higher one. A strict total order, so the oriented graph is a DAG
    and every node's out-degree is O(sqrt(|E|)) -- the property that
    keeps a web-scale hub's triangle work off a single reducer."""
    e = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("_deg", "_da")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("_deg", "_db")
    )
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def _triangle_parts(und: DataFrame):
    """Shared core of the triangle family over a CANONICAL undirected
    frame (distinct, a < b -- i.e. undirected_edges output, ideally
    persisted by the caller). Returns ``(tri, hits, deg, adj)``:

    - ``tri``: the LAZY (x, y, z) triangle list, x < y < z;
    - ``hits``: the LAZY pre-explode (u, v, _zs) frame tri derives
      from -- one row per oriented edge with its full intersect
      array; _per_node_counts folds it to corner counts without the
      triangle-list explode;
    - ``deg``: the PERSISTED (node, _deg) frame the orientation was
      built from -- it contains every node of the graph, so per-node
      consumers (triangle_counts, clustering_coefficients) reuse it as
      the node universe instead of re-exploding + distinct-shuffling
      the edge set;
    - ``adj``: the PERSISTED sorted-adjacency frame (u, _nbrs) -- the
      ONLY materialized intermediate, V rows of O(sqrt(|E|)) longs.

    Formulation: edge-iterator over sorted adjacency arrays (Latapy's
    compact-forward on the degree-ordered DAG). Each oriented edge
    (u, v) finds its triangles as array_intersect(out(u), out(v)) --
    orientation makes each triangle x->y, x->z, y->z (x < y < z in
    (deg, id) order) match at exactly ONE edge, (x, y), with z in both
    out-sets. All intersection work is codegen'd JVM array math; the
    intersect explode produces one row per actual triangle, never the
    ~C(out-deg, 2)-fold wedge blow-up of the wedge-self-join
    formulation this replaced (measured 1.5x end-to-end on the sf0.1
    probe: 10.6M wedges vs ~36k triangles from 600k edges). Per-node
    adjacency rows are O(sqrt(|E|)) longs by the orientation bound, so
    no hub row can melt an executor.

    r14 restructure (one persist, one join, one materializing job --
    was two persists, a count-only job, and two adjacency joins): the
    edge stream is re-derived by EXPLODING the cached adjacency --
    (u, out(u), v) for v in out(u) -- which attaches out(u) for free,
    so only out(v) needs attaching, via a single equi-join on v
    (broadcast under the bytes-based gate at the join below; plain
    equi-join otherwise -- then the wide (out(u))-carrying rows cross
    the wire once, ~avg-degree x the adjacency's own size).
    The oriented frame itself is never cached and the broadcast gate's
    edge count comes from the same job that fills the adjacency cache
    (sum of out-degrees == |E|), so the old per-call count(*)-only
    pass over the oriented joins is gone. Same triangles, bit for bit.

    The caller must materialize everything derived from ``tri`` before
    unpersisting ``deg`` and ``adj``."""
    deg = _node_degrees(und).persist()
    try:
        o = _orient_by(und, deg)
        adj = o.groupBy("u").agg(
            F.array_sort(F.collect_list("v")).alias("_nbrs")
        ).persist()
    except Exception:
        deg.unpersist()
        raise
    try:
        # ONE materializing job: orients, groups, fills adj's cache
        # (and deg's, through the orientation's broadcast of it), and
        # returns the edge count that gates the broadcast decision
        n_edges = int(
            adj.agg(F.sum(F.size("_nbrs")).alias("n")).first()["n"] or 0
        )
    except Exception:
        adj.unpersist()
        deg.unpersist()
        raise
    edge_stream = adj.select(
        "u",
        F.col("_nbrs").alias("_nu"),
        F.explode("_nbrs").alias("v"),
    )
    adj_v = adj.select(
        F.col("u").alias("_jv"), F.col("_nbrs").alias("_nv")
    )
    # bytes-based broadcast gate (r15; was a 4M-EDGE count): the
    # adjacency's payload is 8 bytes per oriented edge (one long per
    # neighbor) -- estimate 16 B/edge with array + row overhead, and
    # broadcast below the byte budget. Broadcasting costs O(adj bytes)
    # per executor ONCE; the shuffle alternative ships every edge row
    # WITH its out(u) array -- sum over edges of |out(u)| longs, i.e.
    # ~avg-degree x the adjacency size (measured at the sf1 spot
    # fixture: 2.0 GB shuffled for a 42 MB adjacency, avg degree
    # ~265). The default budget (256 MiB ~= 16M edges) is the "few
    # hundred MB an executor comfortably holds" class, 3% of the 8g
    # default driver heap -- not a fixture constant (the sf0.1 probe
    # fits either gate); SPARK_GRAFT_TRI_BROADCAST_MAX_BYTES tunes it
    # for small-driver deployments. Billion-edge graphs (~16 GB)
    # correctly stay on the shuffle path.
    max_bytes = int(
        os.environ.get(
            "SPARK_GRAFT_TRI_BROADCAST_MAX_BYTES", str(256 << 20)
        )
    )
    if 16 * n_edges <= max_bytes:
        adj_v = F.broadcast(adj_v)
    # hits: one row per oriented edge with the FULL intersect array --
    # the shared pre-explode frame. tri explodes it to the (x,y,z)
    # list; _per_node_counts folds it to corner counts WITHOUT ever
    # materializing 3 rows per triangle (r14).
    hits = edge_stream.join(adj_v, F.col("v") == F.col("_jv")).select(
        "u", "v", F.array_intersect("_nu", "_nv").alias("_zs")
    )
    tri = hits.select(
        "u", "v", F.explode("_zs").alias("_z")
    ).select(
        F.least("u", "v", "_z").alias("x"),
        F.expr("array_sort(array(u, v, _z))[1]").alias("y"),
        F.greatest("u", "v", "_z").alias("z"),
    )
    return tri, hits, deg, adj


def _per_node_counts(hits: DataFrame) -> DataFrame:
    """(node, triangles) from the pre-explode hits frame in ONE pass:
    each edge (u, v) with S = out(u) & out(v) closes |S| triangles at
    u and at v and one at every z in S. The corner list per edge is
    posexplode(concat(array(u, v), S)) -- one primitive-array concat
    (an arraycopy, no per-element struct construction) -- and the
    weight is derived from the POSITION: slots 0-1 are u and v (each
    worth |S|), every later slot is a z (worth 1). 2|E| + T plain
    (pos, id) rows through a single Generate and the hash agg. The
    first r14 cut built the same rows as an array of (node, count)
    STRUCTS via a transform lambda -- one struct allocation per corner
    row (measured 1.23M rows per call on the sf0.1 bench probe:
    |E| = 599,061, T = 35,722), all deleted by reading the weight off
    the position instead; the gap widens with T on denser graphs.
    (The build before that exploded the triangle list and re-exploded
    array(x, y, z) on top: 3T rows plus an ordering projection per
    triangle.) Counts are identical in all three formulations: each
    enumerates every (triangle, corner) incidence exactly once."""
    return (
        hits.select(
            F.size("_zs").alias("_sz"),
            F.posexplode(
                F.concat(F.array("u", "v"), F.col("_zs"))
            ).alias("_i", "node"),
        )
        .groupBy("node")
        .agg(
            F.sum(
                F.when(F.col("_i") < 2, F.col("_sz")).otherwise(
                    F.lit(1)
                )
            )
            .cast("long")
            .alias("triangles")
        )
    )


def triangles(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    assume_undirected: bool = False,
) -> DataFrame:
    """Every triangle of the undirected graph, once: (x, y, z) with
    x < y < z. Edge-iterator over the degree-ordered orientation's
    sorted adjacency arrays (see _triangle_parts -- the skew-proof
    formulation): each oriented edge intersects its endpoints'
    out-sets, so triangles emerge directly, no wedge materialization
    and no closure join. Vertices never fan out by raw degree.

    ``assume_undirected=True`` declares the input ALREADY canonical
    (distinct, src < dst -- i.e. undirected_edges output) and skips
    re-canonicalizing: callers that normalize once and fan out pass it
    so the full edge set is distinct-shuffled exactly once per
    pipeline (r7 verdict #4)."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        if assume_undirected
        else undirected_edges(edges, src, dst)
    )
    tri, _hits, deg, adj = _triangle_parts(und)
    try:
        # Materialize before releasing the oriented frame.
        return tri.localCheckpoint()
    finally:
        adj.unpersist()
        deg.unpersist()


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    assume_undirected: bool = False,
) -> DataFrame:
    """(node, triangles) for every node of the undirected graph --
    nodes on no triangle report 0. One canonicalization, one shared
    degree frame (doubling as the node universe -- no second
    explode+distinct over the edges), and ONE materialization: the
    20k-row per-node aggregate is the only thing checkpointed, never
    the raw triangle list (r8 -- the old path checkpointed the full
    (x,y,z) list just to release the oriented cache, paying an extra
    job barrier in the most expensive headline probe). Counts fold
    straight off the per-edge intersect arrays (_per_node_counts,
    r14) -- the (x,y,z) list is never materialized here at all."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        if assume_undirected
        else undirected_edges(edges, src, dst).persist()
    )
    try:
        _tri, hits, deg, adj = _triangle_parts(und)
        try:
            per_node = _per_node_counts(hits)
            out = (
                deg.select("node")
                .join(per_node, "node", "left")
                .select(
                    "node",
                    F.coalesce("triangles", F.lit(0)).alias("triangles"),
                )
            )
            return out.localCheckpoint()
        finally:
            adj.unpersist()
            deg.unpersist()
    finally:
        if not assume_undirected:
            und.unpersist()


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: 2*T(v) / (d(v)*(d(v)-1))
    over the undirected graph, 0.0 where degree < 2. Output
    (node, deg, triangles, lcc) -- the transitivity profile used to
    spot tightly-knit near-dup neighborhoods vs hub-and-spoke link
    farms in document graphs. Shares _triangle_parts' degree frame for
    both the denominator and the node universe -- degrees are computed
    once per call."""
    und = undirected_edges(edges, src, dst).persist()
    try:
        _tri, hits, deg, adj = _triangle_parts(und)
    except Exception:
        und.unpersist()
        raise
    try:
        per_node = _per_node_counts(hits)
        out = (
            deg.join(per_node, "node", "left")
            .select(
                "node",
                F.col("_deg").alias("deg"),
                F.coalesce("triangles", F.lit(0)).alias("triangles"),
                F.when(F.col("_deg") < 2, F.lit(0.0))
                .otherwise(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("_deg") * (F.col("_deg") - F.lit(1)))
                )
                .alias("lcc"),
            )
        )
        return out.localCheckpoint()
    finally:
        adj.unpersist()
        deg.unpersist()
        und.unpersist()


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected graph: every node starts as its own community and each
    round adopts the label with the greatest neighbor weight, counting
    ITSELF as one vote (self-inclusion damps the classic two-cycle
    oscillation of pure synchronous LPA) and breaking ties toward the
    smallest label -- fully deterministic, unlike the random-order
    variants. Returns (node, label); nodes sharing a label share a
    community. Labels are member ids, not normalized ranks -- feed
    them to a groupBy or join as-is.

    Per round: one equi-join of the label vector against the
    bidirectional edge list + one (node, label) hash agg + one
    struct-max per node -- O(|E|) like pagerank, no driver-side graph
    (passes run through operators/_iterate.py). Duplicate edges
    collapse (unweighted) or their weights sum."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    und = undirected_edges(edges, src, dst)
    if weight_col is not None:
        w = (
            edges.filter(
                F.col(src).isNotNull() & F.col(dst).isNotNull()
            )
            .select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
                F.col(weight_col).cast("double").alias("_w"),
            )
            .filter((F.col("a") != F.col("b")) & (F.col("_w") > 0))
            .groupBy("a", "b")
            .agg(F.sum("_w").alias("_w"))
        )
    else:
        w = und.withColumn("_w", F.lit(1.0))
    bi = (
        w.select(
            F.col("a").alias("node"), F.col("b").alias("nbr"), "_w"
        )
        .union(
            w.select(
                F.col("b").alias("node"), F.col("a").alias("nbr"), "_w"
            )
        )
        .persist()
    )

    def vote_step(labels: DataFrame, _i: int, _seen) -> DataFrame:
        votes = (
            bi.join(labels.select(F.col("node").alias("nbr"), "label"), "nbr")
            .select("node", "label", "_w")
            .union(labels.select("node", "label", F.lit(1.0).alias("_w")))
            .groupBy("node", "label")
            .agg(F.sum("_w").alias("_v"))
        )
        # max weight, then MIN label among the maximizers -- two cheap
        # aggs keep the tiebreak type-generic (string ids can't ride a
        # negated struct-max)
        best = votes.groupBy("node").agg(F.max("_v").alias("_b"))
        return (
            votes.join(best, "node")
            .filter(F.col("_v") == F.col("_b"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    try:
        labels, _ = _iterate(
            bi.select("node").distinct().withColumn("label", F.col("node")),
            vote_step,
            iters,
        )
        return labels
    finally:
        bi.unpersist()


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
    directed: bool = True,
) -> DataFrame:
    """Unweighted shortest-path distance (hop count) from a seed SET:
    (node, dist) for every node reachable within ``max_hops``, dist 0
    for the seeds themselves -- the landmark-distance feature for link
    graphs (crawl depth, citation distance), and the exact counterpart
    of personalized PageRank's soft proximity. Unreachable nodes are
    simply absent. ``seeds``' first column is the seed ids.

    Frontier BFS, all DataFrame ops: each level is one equi-join of the
    CURRENT FRONTIER (not the whole distance table) against the edge
    list plus one anti-join against the known set -- O(edges touched by
    the frontier) per level, the delta-iteration formulation. The loop
    state is the distance table with its newest level flagged as the
    frontier; the frontier size is each pass's convergence aggregate
    (operators/_iterate.py), read from the pass's own checkpoint job,
    so the loop exits the moment the frontier drains."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    if not directed:
        e = e.union(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
    e = e.distinct().persist()
    seed_col = seeds.columns[0]
    start = (
        seeds.select(F.col(seed_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .select("node", F.lit(0).alias("dist"), F.lit(True).alias("_f"))
    )

    def bfs_step(known: DataFrame, i: int, _seen) -> DataFrame:
        nxt = (
            e.join(known.filter("_f").select(F.col("node").alias("_s")), "_s")
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(known.select("node"), "node", "left_anti")
            .select("node", F.lit(i + 1).alias("dist"), F.lit(True).alias("_f"))
        )
        return known.select("node", "dist", F.lit(False).alias("_f")).union(
            nxt
        )

    try:
        known, _ = _iterate(
            start, bfs_step, max_hops, until=[F.count_if("_f").alias("n")]
        )
        return known.select("node", "dist")
    finally:
        e.unpersist()


def tree_rollup(
    edges: DataFrame,
    values: DataFrame,
    child: str = "child",
    parent: str = "parent",
    node_col: str = "node",
    value_col: str = "value",
    max_depth: int = 20,
) -> DataFrame:
    """Parent-child hierarchy rollup (the OLAP org-tree / category-tree
    aggregate): for every node, the SUM of ``values`` over the node
    itself and all its descendants. ``edges`` is (child, parent) rows;
    ``values`` is (node, value) leaf-or-interior facts (missing nodes
    count 0, NULL values ignored). Cycles are cut by the depth bound;
    forests and multiple roots are fine. On a DAG a node with several
    parents contributes once per PATH to a shared ancestor
    (path-counting semantics -- the multi-category rollup); trees get
    the classic exact subtree sum.

    Formulation: bottom-up level propagation -- each round, every
    node's CURRENT subtotal flows one hop up (one equi-join of the
    subtotal delta frame against the edge list + one hash agg), so
    after depth-of-tree rounds each ancestor has absorbed its whole
    subtree. Only (node, partial) pairs ever shuffle; the fact table
    is aggregated to per-node subtotals FIRST, so fact volume touches
    one hash agg regardless of tree depth. The loop state is the
    running subtotal per node with the mass that arrived this round
    alongside (``_l``); the count of mass-carrying nodes is each
    pass's convergence aggregate (operators/_iterate.py), so the loop
    exits when a level carries no mass."""
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    e = edges.select(
        F.col(child).alias("_c"), F.col(parent).alias("_p")
    ).filter(
        F.col("_c").isNotNull()
        & F.col("_p").isNotNull()
        & (F.col("_c") != F.col("_p"))
    ).distinct().persist()
    own = (
        values.select(
            F.col(node_col).alias("_n"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .filter(F.col("_n").isNotNull() & F.col("_v").isNotNull())
        .groupBy("_n")
        .agg(F.sum("_v").alias("_v"))
    )

    def up_step(acc: DataFrame, _i: int, _seen) -> DataFrame:
        nxt = (
            e.join(
                acc.filter(F.col("_l").isNotNull()).select(
                    F.col("_n").alias("_c"), "_l"
                ),
                "_c",
            )
            .groupBy(F.col("_p").alias("_n"))
            .agg(F.sum("_l").alias("_l"))
        )
        return acc.select("_n", "_v").join(nxt, "_n", "full").select(
            "_n",
            F.when(F.col("_l").isNull(), F.col("_v"))
            .when(F.col("_v").isNull(), F.col("_l"))
            .otherwise(F.col("_v") + F.col("_l"))
            .alias("_v"),
            "_l",
        )

    try:
        acc, _ = _iterate(
            own.withColumn("_l", F.col("_v")),
            up_step,
            max_depth,
            until=[F.count_if(F.col("_l").isNotNull()).alias("n")],
        )
        total = acc.select("_n", "_v")
        # acc holds every valued node (and only nodes of e besides)
        nodes = (
            e.select(F.col("_c").alias("_n"))
            .union(e.select(F.col("_p").alias("_n")))
            .union(total.select("_n"))
            .distinct()
        )
        return nodes.join(total, "_n", "left").select(
            F.col("_n").alias(node_col),
            F.coalesce("_v", F.lit(0.0)).alias("subtree_total"),
        )
    finally:
        e.unpersist()


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph of the undirected
    graph in which every node keeps degree >= k -- the classic dense-
    region extractor (spam/link-farm detection on web graphs, core
    communities in interaction graphs) and the denoising complement of
    triangle counts' per-node transitivity. Returns (node, deg) with
    ``deg`` the node's WITHIN-CORE degree (>= k by construction); empty
    frame when no k-core exists.

    Iterative peel, all DataFrame ops: each round drops every node
    below k at once (two anti-joins on the small weak-node set) and
    recounts degrees over the shrunken edge list (one explode + hash
    agg) -- the synchronous-removal formulation whose round count is
    bounded by the graph's degeneracy ordering depth, not |V|. The
    count of nodes left below k is each round's convergence aggregate
    (operators/_iterate.py); a round that leaves none is the fixed
    point.

    ``max_iter`` guards pathological chains (a long path under k=2
    peels two ends per round); exceeding it RAISES rather than return
    a superset that silently is not the k-core."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    state, done = _iterate(
        _peel_start(undirected_edges(edges, src, dst)),
        lambda st, _i, _seen: _peel_step(st, k),
        max_iter,
        until=[F.count_if("_f").alias("weak")],
    )
    if not done:
        raise _peel_stalled("k_core", max_iter)
    return state.filter(_live()).select(
        F.col("a").alias("node"), F.col("_deg").alias("deg")
    )


def _live():
    """A live (not yet peeled) node row of the peel state."""
    return F.col("b").isNull() & F.col("core").isNull()


def _peel_start(und: DataFrame) -> DataFrame:
    """Peel-loop state over a CANONICAL undirected frame, one frame
    with two row kinds: edge rows (a, b) and one node row per node
    (a = node, b NULL) carrying its current degree ``_deg`` and, once
    peeled, its ``core``; ``_f`` flags live nodes below the round's
    threshold."""
    return (
        und.unionByName(
            _node_degrees(und).withColumnRenamed("node", "a"),
            allowMissingColumns=True,
        )
        .withColumn("core", F.lit(None).cast("int"))
        .withColumn("_f", F.lit(False))
    )


def _peel_step(state: DataFrame, k: int) -> DataFrame:
    """One synchronous peel round at threshold ``k``: drop every live
    node of degree < k with all its edges, recount degrees, and mark
    each node left without an edge as peeled at core k - 1."""
    edges = state.filter(F.col("b").isNotNull()).select("a", "b")
    nodes = state.filter(F.col("b").isNull()).select("a", "_deg", "core")
    weak = nodes.filter(F.col("_deg") < k).select("a")
    kept = edges.join(weak, "a", "left_anti").join(
        weak.withColumnRenamed("a", "b"), "b", "left_anti"
    )
    deg = _node_degrees(kept).select(
        F.col("node").alias("a"), F.col("_deg").alias("_nd")
    )
    node_rows = nodes.join(deg, "a", "left").select(
        "a",
        F.col("_nd").alias("_deg"),
        F.when(F.col("core").isNull() & F.col("_nd").isNull(), F.lit(k - 1))
        .otherwise(F.col("core"))
        .alias("core"),
        (F.col("_nd") < k).alias("_f"),
    )
    return kept.unionByName(node_rows, allowMissingColumns=True)


def _peel_stalled(what: str, rounds: int) -> RuntimeError:
    return RuntimeError(
        f"{what} did not reach a fixed point in {rounds} rounds; "
        "raise max_iter (long chains under small k peel slowly)"
    )


def core_numbers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter_per_k: int = 100,
    max_core: int = 10_000,
) -> DataFrame:
    """Full core decomposition: (node, core) where ``core`` is the
    largest k for which the node survives in the k-core -- THE standard
    graph-density feature (degeneracy ordering, spam-score tiers,
    influence shells) of which k_core answers one slice. Every node of
    the undirected graph appears; isolated-by-canonicalization nodes
    don't exist here (undirected_edges guarantees degree >= 1, so cores
    start at 1).

    Level-by-level peel: the k-core survivor graph at level k seeds the
    next level's peel, so each edge is processed only while it is still
    alive -- total work tracks the degeneracy ordering. Nodes dropped
    while peeling at level k+1 get core = k. Levels that would peel
    nothing are skipped: once level k reaches its fixed point, every
    survivor has degree >= m, the survivors' minimum degree, so the
    (k+1)..m cores all equal the k-core and the next level peeled is
    m + 1 (its dropped nodes get core m). The level count is thus the
    number of DISTINCT core values, not the degeneracy. One peel-loop
    state (k_core's) carries edges and per-node degrees and cores; each
    round observes the live-node count, the count below the level and
    the live minimum degree (operators/_iterate.py).
    ``max_core`` guards runaway loops (degeneracy cannot exceed
    sqrt(2|E|)); a core value above it raises."""
    lvl = {"k": 2, "rounds": 0}

    def level_step(state: DataFrame, _i: int, seen) -> DataFrame:
        if seen is not None and not seen["weak"]:
            lvl.update(k=seen["mindeg"] + 1, rounds=0)
        if lvl["k"] - 1 > max_core:
            raise RuntimeError(
                f"core_numbers exceeded max_core={max_core} levels"
            )
        if lvl["rounds"] == max_iter_per_k:
            raise _peel_stalled("core_numbers", max_iter_per_k)
        lvl["rounds"] += 1
        return _peel_step(state, lvl["k"])

    state, _ = _iterate(
        _peel_start(undirected_edges(edges, src, dst)),
        level_step,
        (max_core + 1) * max_iter_per_k,
        until=[
            F.count_if(_live()).alias("live"),
            F.count_if("_f").alias("weak"),
            F.min(F.when(_live(), F.col("_deg"))).alias("mindeg"),
        ],
    )
    return state.filter(F.col("b").isNull()).select(
        F.col("a").alias("node"), "core"
    )


def weighted_shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    max_iter: int = 50,
    directed: bool = True,
) -> DataFrame:
    """Weighted single-source (seed-SET) shortest paths: (node, dist)
    with dist = minimum total edge weight from any seed, 0.0 for the
    seeds -- the weighted counterpart of ``shortest_paths``' hop
    count, for graphs where edges carry cost (latency-weighted service
    graphs, toll/road networks, negative-log-probability transition
    graphs where min-sum = max-likelihood path).

    Bellman-Ford as delta iteration, all DataFrame ops: each round
    joins the FRONTIER (only the nodes whose distance improved last
    round, not the whole distance table) against the edge list, takes
    the per-destination min of (dist + w) in one hash agg, and keeps
    candidates that beat the incumbent via one left join -- O(edges
    out of the frontier) per round. For nonnegative weights the
    improved set drains within (hop count of the weighted shortest-
    path tree) rounds. The loop state is the distance table with the
    nodes improved this round flagged as the next frontier; the
    frontier size is each round's convergence aggregate
    (operators/_iterate.py), which detects termination. Unlike hop-BFS a node
    can re-enter the frontier when a cheaper longer-hop path arrives
    later -- that is the relaxation, not a bug.

    Negative weights are rejected up front (one bounded min(weight)
    scalar): with them Bellman-Ford needs |V|-1 full-edge rounds and a
    negative-cycle check -- a different cost class; this operator
    targets the nonnegative (Dijkstra-semantics) case. Raises
    RuntimeError if ``max_iter`` rounds don't drain the frontier (a
    diameter larger than max_iter, the connected_components cap
    precedent) rather than returning silently-unconverged upper
    bounds. Unreachable nodes are absent from the output.

    No reference analogue (the reference has no joins at all --
    SURVEY.md SS2.6); public-algorithm shape: delta-stepping /
    Pregel-style SSSP (Malewicz et al.) restated as DataFrame joins.
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    e = edges.select(
        F.col(src).alias("_s"),
        F.col(dst).alias("_d"),
        F.col(weight).cast("double").alias("_w"),
    ).filter(
        F.col("_s").isNotNull()
        & F.col("_d").isNotNull()
        & F.col("_w").isNotNull()
    )
    if not directed:
        e = e.union(
            e.select(
                F.col("_d").alias("_s"), F.col("_s").alias("_d"), "_w"
            )
        )
    e = e.persist()
    try:
        wmin = e.agg(F.min("_w")).first()[0]  # bounded scalar, once
        if wmin is not None and wmin < 0:
            raise ValueError(
                f"negative edge weight {wmin}: weighted_shortest_paths "
                "requires nonnegative weights"
            )
        seed_col = seeds.columns[0]
        start = (
            seeds.select(F.col(seed_col).alias("node"))
            .filter(F.col("node").isNotNull())
            .distinct()
            .select("node", F.lit(0.0).alias("dist"), F.lit(True).alias("_f"))
        )

        def relax_step(known: DataFrame, _i: int, _seen) -> DataFrame:
            cand = (
                e.join(
                    known.filter("_f").select(
                        F.col("node").alias("_s"), "dist"
                    ),
                    "_s",
                )
                .groupBy(F.col("_d").alias("node"))
                .agg(F.min(F.col("dist") + F.col("_w")).alias("_cand"))
            )
            better = F.coalesce(
                F.col("dist").isNull() | (F.col("_cand") < F.col("dist")),
                F.lit(False),
            )
            return known.select("node", "dist").join(cand, "node", "full").select(
                "node",
                F.when(better, F.col("_cand"))
                .otherwise(F.col("dist"))
                .alias("dist"),
                better.alias("_f"),
            )

        known, done = _iterate(
            start, relax_step, max_iter, until=[F.count_if("_f").alias("n")]
        )
        if not done:
            raise RuntimeError(
                f"weighted_shortest_paths did not converge in {max_iter} "
                "rounds; raise max_iter for high-diameter graphs"
            )
        return known.select("node", "dist")
    finally:
        e.unpersist()


def _walk_adjacency(
    edges: DataFrame,
    src: str,
    dst: str,
    salt: str,
    max_neighbors: "int | None",
    directed: bool,
) -> DataFrame:
    """Sorted neighbor-array adjacency shared by the walk generators
    (one hash agg), with the optional deterministic md5 hub downsample
    (rank neighbors by md5(node:nbr:salt), keep the smallest
    max_neighbors, re-sorted so the index coin stays
    position-independent)."""
    if max_neighbors is not None and max_neighbors < 1:
        raise ValueError("max_neighbors must be >= 1")
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    if not directed:
        e = e.union(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
    adj = (
        e.distinct()
        .groupBy(F.col("_s").alias("node"))
        .agg(F.array_sort(F.collect_list("_d")).alias("_nbrs"))
    )
    if max_neighbors is not None:
        coin = (
            "cast(conv(substring(md5(concat_ws(':', "
            "cast(node as string), "
            f"cast(nb as string), '{salt}')), 1, 15), 16, 10) as bigint)"
        )
        adj = adj.select(
            "node",
            F.expr(
                "array_sort(slice(array_sort(_nbrs, (a, b) -> "
                f"case when {coin.replace('nb', 'a')} < "
                f"{coin.replace('nb', 'b')} then -1 "
                f"when {coin.replace('nb', 'a')} > "
                f"{coin.replace('nb', 'b')} then 1 else 0 end), "
                f"1, {int(max_neighbors)}))"
            ).alias("_nbrs"),
        )
    return adj


def _uniform_pick(t: int, salt: str):
    """Step ``t``'s neighbor for walk (start, walk) at the joined
    ``_nbrs`` array: index md5(start:walk:t:salt) mod degree."""
    coin = F.expr(
        "conv(substring(md5(concat_ws(':', cast(start as string), "
        f"cast(walk as string), '{t}', '{salt}')), 1, 15), 16, 10)"
    ).cast("long")
    return F.element_at(
        F.col("_nbrs"), (coin % F.size("_nbrs") + 1).cast("int")
    )


def _walk_corpus(adj: DataFrame, walks_per_node: int, walk_len: int, step):
    """The walk generators' shared driver: ``walks_per_node`` walks
    from every node of ``adj``, ``walk_len`` passes of ``step(cur, t)``
    through operators/_iterate.py (every step's frontier checkpointed
    and kept), then one sort+agg folding the (walk, pos, node) trail
    into sequences."""
    starts = (
        adj.select(F.col("node").alias("start"))
        .crossJoin(
            F.broadcast(
                adj.sparkSession.range(walks_per_node).select(
                    F.col("id").cast("int").alias("walk")
                )
            )
        )
        .select("start", "walk", F.col("start").alias("_cur"))
    )
    steps, _ = _iterate(
        starts, lambda cur, i, _seen: step(cur, i + 1), walk_len, keep=True
    )
    trail = steps[0].select(
        "start", "walk", F.lit(0).alias("pos"), F.col("_cur").alias("node")
    )
    for t, cur in enumerate(steps[1:], start=1):
        trail = trail.union(
            cur.select("start", "walk", F.lit(t).alias("pos"), "_cur")
        )
    return (
        trail.groupBy("start", "walk")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "node"))).alias(
                "_tr"
            )
        )
        .select(
            "start",
            "walk",
            F.col("_tr.node").alias("seq"),
            (F.size("_tr") - 1).alias("hops"),
        )
    )


def random_walks(
    edges: DataFrame,
    walk_len: int,
    walks_per_node: int = 1,
    src: str = "src",
    dst: str = "dst",
    salt: str = "walk",
    max_neighbors: int | None = None,
    directed: bool = True,
) -> DataFrame:
    """Deterministic uniform random walks over the graph -- the
    DeepWalk/node2vec(p=q=1) corpus generator (Perozzi et al. 2014):
    every node WITH AT LEAST ONE OUT-EDGE starts ``walks_per_node``
    walks of ``walk_len`` steps (pure sinks have no step to take),
    and the emitted sequences are the skip-gram training corpus that
    turns a graph into embedding training data (the graph-modality
    twin of corpus.py's text pipelines). Walks stop early at sinks
    (nodes with no out-edges).

    Determinism is the repo's md5 coin: step t of walk (node, w) picks
    neighbor index md5(start:w:t:salt) mod degree within the node's
    SORTED neighbor array -- a pure function of (start, w, t, salt),
    reproducible across sessions, partitionings, and engines with no
    RNG state (pure-Python replica equality is the test).

    Scale shape: adjacency folds ONCE to a sorted neighbor array per
    node (one hash agg; array_sort of the collected out-set), then
    each step is ONE equi-join of the O(nodes x walks_per_node)
    frontier against that adjacency frame plus an O(1) element_at --
    walk state never grows beyond (walk id, current node), and the
    per-step join shuffles the frontier, not the graph. Positions
    accumulate as (walk, pos, node) rows and fold to sequences in one
    final sort+agg. Hub nodes make adjacency ROWS wide, not the join
    wide; ``max_neighbors`` md5-downsamples each out-set to a bounded
    array (deterministic per node) for degree-skewed graphs -- at
    corpus scale a 10M-degree hub's array must not ride every join.
    Steps run through operators/_iterate.py, which keeps every step's
    frontier for the trail.

    Returns (start, walk, seq: array of nodes, hops)."""
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    adj = _walk_adjacency(
        edges, src, dst, salt, max_neighbors, directed
    ).persist()

    def uniform_step(cur: DataFrame, t: int) -> DataFrame:
        return cur.join(adj.withColumnRenamed("node", "_cur"), "_cur").select(
            "start", "walk", _uniform_pick(t, salt).alias("_cur")
        )

    try:
        return _walk_corpus(adj, walks_per_node, walk_len, uniform_step)
    finally:
        adj.unpersist()


def walk_skipgram_pairs(
    walks: DataFrame,
    window: int,
    seq_col: str = "seq",
) -> DataFrame:
    """Skip-gram (center, context) pair extraction from walk
    sequences -- the step that turns ``random_walks`` output into
    embedding training rows (word2vec over node sequences). For every
    position i and offset 1..window, emits both directions with the
    signed offset; pair counts aggregate across all walks.

    Pure expression shape: ONE posexplode of each sequence + a
    bounded inline offset array -- rows out = positions x 2window
    before the hash agg, nothing per-row in Python, and the whole
    thing is SQL-expressible (DuckDB replay in the test).

    Returns (center, context, offset, n)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    offs = [o for o in range(-window, window + 1) if o != 0]
    return (
        walks.select(
            F.posexplode(F.col(seq_col)).alias("_i", "center"),
            F.col(seq_col).alias("_seq"),
        )
        .select(
            "center",
            F.explode(
                F.array(*[F.lit(o) for o in offs])
            ).alias("offset"),
            "_i",
            "_seq",
        )
        .select(
            "center",
            # get() is 0-based and NULL out of bounds (element_at
            # raises on index 0, which offset -pos-1 produces)
            F.get(
                F.col("_seq"), F.col("_i") + F.col("offset")
            ).alias("context"),
            "offset",
        )
        .filter(F.col("context").isNotNull())
        .groupBy("center", "context", "offset")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def pmi_pairs(
    pairs: DataFrame,
    center_col: str = "center",
    context_col: str = "context",
    n_col: str = "n",
    shift: float = 1.0,
    digits: int = 6,
) -> DataFrame:
    """(Shifted positive) pointwise mutual information over co-occurrence
    pair counts: pmi = ln(n * total / (n_center * n_context)) - ln(shift),
    clamped at 0 (the SPPMI matrix). Levy-Goldberg 2014: word2vec's
    skip-gram-negative-sampling factorizes exactly this matrix with
    shift = #negatives -- so ``random_walks`` -> ``walk_skipgram_pairs``
    -> ``pmi_pairs`` -> ``factorization.als_fit`` (center as user,
    context as item, sppmi as rating) is a complete deterministic
    graph-embedding pipeline from public building blocks, and the
    output vectors feed the existing knn_* / semantic_dedup stack.

    Scale shape: marginals are two hash aggs ON THE PAIR FRAME (rows =
    distinct pairs, not co-occurrence events) broadcast back; the total
    is a one-row broadcast scalar via cross join (the engine's
    documented one-row pattern). Zero-clamped rows are dropped --
    SPPMI is sparse by construction, and that sparsity is the point at
    corpus scale. Contract: ``pairs`` must be PRE-AGGREGATED (one row
    per (center, context), e.g. walk_skipgram_pairs output summed over
    offsets) -- duplicate pair rows would double-count the marginals.

    Returns (center, context, n, sppmi), sppmi stable-rounded."""
    if shift < 1.0:
        raise ValueError("shift must be >= 1 (ln would flip sign)")
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    n = F.col(n_col).cast("double")
    cm = pairs.groupBy(center_col).agg(
        F.sum(n_col).alias("_nc")
    )
    xm = pairs.groupBy(context_col).agg(
        F.sum(n_col).alias("_nx")
    )
    tot = pairs.agg(F.sum(n_col).alias("_tot"))
    pmi = (
        F.log(
            n
            * F.col("_tot").cast("double")
            / (F.col("_nc") * F.col("_nx"))
        )
        - F.log(F.lit(float(shift)))
    )
    return (
        pairs.join(F.broadcast(cm), center_col)
        .join(F.broadcast(xm), context_col)
        .crossJoin(F.broadcast(tot))
        .select(
            center_col,
            context_col,
            F.col(n_col).alias("n"),
            stable_round(pmi, digits).alias("sppmi"),
        )
        .filter(F.col("sppmi") > 0)
    )


def biased_random_walks(
    edges: DataFrame,
    walk_len: int,
    p: float = 1.0,
    q: float = 1.0,
    walks_per_node: int = 1,
    src: str = "src",
    dst: str = "dst",
    salt: str = "walk",
    max_neighbors: int | None = None,
    directed: bool = True,
) -> DataFrame:
    """node2vec second-order biased walks (Grover-Leskovec 2016),
    deterministic: from state (prev -> cur), the next neighbor nb is
    drawn with unnormalized weight 1/p if nb == prev (return), 1 if nb
    is also a neighbor of prev (BFS-ish stay-local), else 1/q
    (DFS-ish explore) -- p < 1 biases homophily/community structure, q
    < 1 structural roles. ``p = q = 1`` degenerates to
    ``random_walks``' uniform first-order chain (pinned in the test).

    Determinism (the repo coin, no RNG state): step t of walk
    (start, w) draws u = md5(start:w:t:salt)/2^60 and picks the first
    neighbor index whose cumulative weight reaches u * total -- a
    SEQUENTIAL fold in the sorted neighbor array's order, so the
    pure-Python replica reproduces every choice bit-for-bit (identical
    IEEE additions in identical order).

    Scale shape: ``random_walks``' frontier discipline plus ONE extra
    equi-join per step (the PREVIOUS node's adjacency, needed for the
    stay-local test -- second-order walks fundamentally carry (prev,
    cur) state); the weighted pick is two expression folds over the
    neighbor array (total, then cumulative select), O(degree) per
    frontier row inside codegen, no explode. ``max_neighbors``
    md5-bounds hub arrays exactly as in random_walks -- doubly
    important here since BOTH adjacency arrays ride each step.

    Returns (start, walk, seq, hops)."""
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be > 0")
    adj = _walk_adjacency(
        edges, src, dst, salt, max_neighbors, directed
    ).persist()
    padj = adj.select(
        F.col("node").alias("_prev"), F.col("_nbrs").alias("_pnbrs")
    )
    inv_p, inv_q = 1.0 / float(p), 1.0 / float(q)
    w_sql = (
        "case when nb = _prev then {ip!r} "
        "when _pnbrs is not null and array_contains(_pnbrs, nb) "
        "then 1.0 else {iq!r} end"
    ).format(ip=inv_p, iq=inv_q)

    def biased_step(cur: DataFrame, t: int) -> DataFrame:
        stepped = cur.join(adj.withColumnRenamed("node", "_cur"), "_cur")
        if t == 1:
            # no prev yet: random_walks' uniform index coin
            pick = _uniform_pick(1, salt)
        else:
            u60 = (
                "cast(conv(substring(md5(concat_ws(':', "
                "cast(start as string), cast(walk as string), "
                f"'{t}', '{salt}')), 1, 15), 16, 10) as double) "
                "/ 1152921504606846976.0"
            )
            tot = (
                "aggregate(_nbrs, cast(0.0 as double), "
                f"(acc, nb) -> acc + ({w_sql}))"
            )
            # cumulative-select fold: carry (running sum, picked idx);
            # first index whose cumsum reaches the precomputed
            # _target = u * total wins (hoisted to a column so the
            # fold is O(degree), not O(degree^2)); fp-edge coalesce
            # to the last index
            inner_w = (
                f"(case when element_at(_nbrs, i) = _prev then {inv_p!r} "
                "when _pnbrs is not null and "
                "array_contains(_pnbrs, element_at(_nbrs, i)) then 1.0 "
                f"else {inv_q!r} end)"
            )
            sel = (
                "aggregate(sequence(1, size(_nbrs)), "
                "struct(cast(0.0 as double) as s, "
                "cast(null as int) as pick), "
                "(acc, i) -> case when acc.pick is not null then acc "
                f"else named_struct('s', acc.s + {inner_w}, 'pick', "
                f"case when acc.s + {inner_w} >= _target "
                "then i else cast(null as int) end) end, "
                "acc -> coalesce(acc.pick, size(_nbrs)))"
            )
            stepped = stepped.join(padj, "_prev", "left").withColumn(
                "_target", F.expr(f"({u60}) * ({tot})")
            )
            pick = F.element_at(F.col("_nbrs"), F.expr(sel))
        return stepped.select(
            "start", "walk", F.col("_cur").alias("_prev"), pick.alias("_cur")
        )

    try:
        return _walk_corpus(adj, walks_per_node, walk_len, biased_step)
    finally:
        adj.unpersist()


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> float:
    """Newman modularity Q of a community assignment over the
    UNDIRECTED simple graph (duplicate/reversed edges collapse,
    self-loops drop -- the triangle-counting conventions): Q =
    sum over communities of [ e_c / m  -  (d_c / 2m)^2 ], with e_c =
    within-community edges, d_c = total degree of the community's
    nodes, m = edge count. The internal quality readout for
    label_propagation that davies_bouldin is for k-means: Q near 0 =
    no better than random, ~0.3+ = real structure (Newman 2006).
    Endpoints without a label contribute degree mass but no
    within-edges (they belong to no community -- penalizing, not
    ignoring, unlabeled coverage).

    Fully distributed: canonical-edge dedup, two label joins, two hash
    aggs, ONE summary row to the driver. Returns 0.0 for an empty
    graph (no structure to score)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        )
        .filter(
            F.col("_a").isNotNull()
            & F.col("_b").isNotNull()
            & (F.col("_a") != F.col("_b"))
        )
        .distinct()
        .localCheckpoint()  # three consumers below
    )
    la = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_l")
    ).distinct()
    m_row = e.agg(F.count(F.lit(1)).alias("m")).collect()[0]
    m = int(m_row["m"])
    if m == 0:
        return 0.0
    both = (
        e.join(la.withColumnRenamed("_n", "_a").withColumnRenamed("_l", "_la"), "_a")
        .join(la.withColumnRenamed("_n", "_b").withColumnRenamed("_l", "_lb"), "_b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("_c"))
        .agg(F.count(F.lit(1)).alias("_ec"))
    )
    deg = (
        e.select(F.col("_a").alias("_n"))
        .unionAll(e.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
        .join(la, "_n")
        .groupBy(F.col("_l").alias("_c"))
        .agg(F.sum("_d").alias("_dc"))
    )
    row = (
        deg.join(both, "_c", "left")
        .select(
            (
                F.coalesce(F.col("_ec"), F.lit(0)) / F.lit(float(m))
                - F.pow(F.col("_dc") / F.lit(2.0 * m), 2)
            ).alias("_q")
        )
        .agg(F.sum("_q").alias("q"))
        .collect()[0]  # bounded: ONE summary row
    )
    return float(row["q"] or 0.0)
