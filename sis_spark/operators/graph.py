"""Distributed connected components — the dedup-cluster finisher.

Near-duplicate detection (minhash_lsh_pairs, simhash_near_dups,
phash_near_dups, near_dup_pairs_banded) emits PAIRS; turning pairs into
dedup decisions needs the transitive closure: connected components of the
similarity graph, one canonical representative per component.  At 100 TB the
pair graph doesn't fit anywhere central, so this is the classic iterative
DataFrame algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond" — the min-label-propagation + pointer-jumping variant):

    comp(v) <- min(comp(v), min over neighbors u of comp(u))   # propagate
    comp(v) <- comp(comp(v))                                   # pointer jump

Label propagation alone needs O(diameter) rounds; the pointer-jumping step
(path halving over the functional node->comp map) brings convergence to
O(log n) rounds.  Per round the driver sees ONE scalar (the number of
changed labels) and the lineage is truncated with localCheckpoint — the
iterative-loop discipline of NOTES.md plan-shape lesson 6 (without
truncation Catalyst re-analysis of round-over-round lineage costs minutes
of driver CPU).

Works for any orderable node type (BIGINT ids, string doc/image ids): the
component label is the MINIMUM node id in the component — deterministic and
oracle-checkable (gate `connected_components` replays the closure as a
DuckDB recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; ``comp`` is the
    smallest node id reachable through undirected edges.

    Isolated nodes: pass them as self-loops (a == b) if they must appear in
    the output — the operator keys off the edge list alone.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(a.alias("u"), b.alias("v"))
        .union(edges.select(b.alias("u"), a.alias("v")))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .persist()
    )
    from .iterate import loop_truncate, new_loop_tag

    comp = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    _tag = new_loop_tag("cc")
    for _round in range(max_rounds):
        # propagate: min component label over the neighborhood
        nbr = (
            und.join(comp, und.v == comp.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        prop = (
            comp.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
        )
        # pointer jump: comp <- comp(comp) (node->comp is functional, so this
        # is path halving over the label forest)
        jump = prop.select(F.col("node").alias("cnode"), F.col("comp").alias("ccomp"))
        nxt = (
            prop.join(jump, prop.comp == jump.cnode, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("ccomp", "comp")).alias("comp"),
            )
        )
        # periodic parquet bounce: join-bearing localCheckpoint chains hit
        # an exponential execution cliff at ~18 links (operators/iterate.py)
        nxt = loop_truncate(nxt, _round, _tag)
        changed = (
            nxt.join(comp.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )  # the round's single driver scalar
        comp = nxt
        if changed == 0:
            break
    und.unpersist()
    return comp


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Near-dup pairs -> transitive dedup decision per document.

    Returns (id, cluster, keep): ``cluster`` is the component's canonical id
    (its minimum), ``keep`` marks exactly one survivor per cluster; rows with
    no near-dup partner keep themselves.  This is the standard LSH-dedup
    finishing move: candidate pairs from any generator (minhash/simhash/
    phash/embedding bands) in, keep-list out."""
    ids = all_ids.select(F.col(id_col).alias("node")).distinct()
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        ids.select(F.col("node").alias("a"), F.col("node").alias("b"))
    )
    comp = connected_components(edges)
    return comp.select(
        F.col("node").alias(id_col),
        F.col("comp").alias("cluster"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


def pagerank_exact(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """PageRank in EXACT integer arithmetic -> (node, rank).

    Ranks are scaled integers (total mass ``scale``); one iteration is

        rank'(v) = (scale * (d_den - d_num)) div (d_den * N)
                 + (d_num * sum over u->v of (rank(u) div outdeg(u))) div d_den

    with every division an integer floor-div, so two engines cannot
    diverge by an ulp — floor-div mass loss is deterministic and part of
    the operator's contract (the same trick as the k-means oracle's
    floor-divided centroid means).  Dangling nodes (no out-edges)
    simply leak their mass, the standard simplification.

    Plan shape per iteration: one equi-join (ranks x out-degrees), one
    partial-agg shuffle on the destination — the textbook distributed
    PageRank; lineage truncated per round (plan-shape lesson 6).
    ``edges``: (src, dst) distinct pairs.  ``nodes``: (node) — must cover
    every src/dst."""
    n = nodes.count()
    base = (scale * (d_den - d_num)) // (d_den * n)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges = edges.join(deg, "src").localCheckpoint()
    rank = nodes.select(
        F.col("node"), F.lit(scale // n).cast("long").alias("rank")
    ).localCheckpoint()
    for _ in range(iters):
        contrib = (
            edges.join(rank, edges["src"] == rank["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        rank = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"(CAST({d_num} AS BIGINT) * coalesce(s, CAST(0 AS BIGINT)))"
                        f" div {d_den}"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint()
        )
    return rank


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple graph ->
    (node, triangles).

    Degree-ordered orientation (Cohen / Suri–Vassilvitskii): orient every
    undirected edge from the lower-(degree, id) endpoint to the higher —
    each triangle then has exactly ONE wedge node with two out-edges, so
    the wedge self-join's size is bounded by sum of out-degree^2 with
    out-degree <= O(sqrt(|E|)) even on power-law graphs (the reason this
    survives skew at scale where a naive neighbor join explodes).  Two
    shuffle joins total: wedge build + closing-edge probe."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
        .localCheckpoint()
    )
    w1 = oriented.select(F.col("u"), F.col("w").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("w").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    per_node = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("x").alias("node")))
        .unionAll(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return per_node


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 60,
) -> DataFrame:
    """Nodes of the k-core (the maximal subgraph where every node has
    degree >= k) with their in-core degrees -> (node, deg).

    The classic peel: drop every node with degree < k, recompute, repeat
    until stable.  Each round is ONE degree aggregation + two semi-joins
    (both endpoints must survive); the driver sees a single scalar (the
    surviving edge count) per round, and the lineage is truncated with
    localCheckpoint (NOTES.md plan-shape lesson 6).  Convergence takes at
    most the peel depth, which is O(log n) on real degree-skewed graphs;
    the bound is ``max_rounds``.

    Scale: the working set only shrinks; every operation is a keyed
    shuffle on node id — no driver state, no collect of anything but the
    per-round count.
    """
    a, b = F.col(src), F.col(dst)
    cur = (
        edges.select(a.alias("u"), b.alias("v"))
        .union(edges.select(b.alias("u"), a.alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = cur.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        nxt = _peel_round(cur, k).localCheckpoint()
        n_next = nxt.count()
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    return cur.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def _peel_round(cur: DataFrame, k: int) -> DataFrame:
    """One k-core peel round: degree agg + two semi-joins (both endpoints
    must survive).  Factored out so test_plans can assert the round's plan
    shape — inside ``k_core`` each round is hidden behind localCheckpoint."""
    keep = (
        cur.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= k)
        .select("u")
    )
    return cur.join(keep, "u", "semi").join(
        keep.withColumnRenamed("u", "v"), "v", "semi"
    )


def k_core_sql(edges_select: str, k: int, rounds: int = 12) -> str:
    """DuckDB oracle for ``k_core``: the peel unrolled as ``rounds`` chained
    CTE blocks (idempotent once converged — the pagerank oracle pattern).
    ``edges_select`` must yield DISTINCT symmetric loop-free (u, v) rows.
    """
    # MATERIALIZED is load-bearing: e{i} and k{i} are each referenced twice
    # per round, and DuckDB inlines plain CTEs — 12 rounds of inlining would
    # expand e0 2^12 times (observed as "Too many open files" on the base
    # parquet scan).
    blocks = [f"e0 AS MATERIALIZED ({edges_select})"]
    for i in range(rounds):
        blocks.append(
            f"""d{i} AS (SELECT u, count(*) AS d FROM e{i} GROUP BY 1),
k{i} AS MATERIALIZED (SELECT u FROM d{i} WHERE d >= {int(k)}),
e{i + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i} e
  JOIN k{i} x ON x.u = e.u JOIN k{i} y ON y.u = e.v)"""
        )
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"""
SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
FROM e{rounds} GROUP BY 1"""
    )


def shortest_paths(
    edges: DataFrame,
    source,
    hops: int,
    src: str = "src",
    dst: str = "dst",
    w_col: str = "w",
) -> DataFrame:
    """Single-source shortest distances within <= ``hops`` edges ->
    (node, dist): distributed Bellman-Ford, one relax round per hop.

    The hop bound is part of the SEMANTICS (both the engine and the
    oracle run exactly ``hops`` rounds), which keeps the contract
    deterministic without knowing the graph's diameter; run it with
    hops >= diameter for the classic unbounded answer (each round is
    idempotent once converged).  Per round: one equi-join edges-on-dist +
    one min aggregation, localCheckpoint lineage truncation, nothing on
    the driver."""
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"),
        F.col(w_col).alias("w"),
    )
    dist = e.sparkSession.createDataFrame(
        [(source, 0)], ["node", "dist"]
    ).localCheckpoint()
    for _ in range(int(hops)):
        relaxed = (
            dist.join(e, dist["node"] == e["s"])
            .select(F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .union(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        dist = relaxed
    return dist


def shortest_paths_sql(
    edges_select: str, source, hops: int
) -> str:
    """DuckDB oracle for ``shortest_paths``: the relax rounds unrolled as
    chained MATERIALIZED CTEs (the k_core lesson: each round references
    the previous twice — plain CTE inlining is exponential in rounds).
    ``edges_select`` must yield (s, d, w)."""
    blocks = [
        f"e AS MATERIALIZED ({edges_select})",
        f"d0 AS MATERIALIZED (SELECT {source} AS node, CAST(0 AS BIGINT) AS dist)",
    ]
    for i in range(int(hops)):
        blocks.append(
            f"""d{i + 1} AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT e.d AS node, d{i}.dist + e.w AS dist
    FROM d{i} JOIN e ON e.s = d{i}.node
    UNION ALL SELECT node, dist FROM d{i}) t
  GROUP BY 1)"""
        )
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"\nSELECT node, dist FROM d{int(hops)}"
    )


def hits_exact(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999, public literature) in EXACT
    integer arithmetic -> (node, hub, auth), both scores max-normalized
    to ``scale`` each half-step:

        auth'(v) = sum over u->v of hub(u);  auth = auth' * scale div max(auth')
        hub'(u)  = sum over u->v of auth(v); hub  = hub' * scale div max(hub')

    Max-normalization (instead of the textbook L2) keeps every step an
    integer floor-div, so two engines cannot diverge by an ulp — the
    pagerank_exact contract applied to the coupled recurrence.  Nodes
    unreachable on a side score 0.

    Plan shape per iteration: two equi-join + partial-agg shuffles and
    two 1-row max aggregates; lineage truncated per round."""
    edges = edges.select("src", "dst").distinct().localCheckpoint()
    state = nodes.select(
        "node",
        F.lit(int(scale)).cast("long").alias("hub"),
        F.lit(int(scale)).cast("long").alias("auth"),
    ).localCheckpoint()
    z = F.lit(0).cast("long")
    for _ in range(int(iters)):
        araw = (
            edges.join(state, edges["src"] == state["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("ar"))
        )
        amax = araw.agg(F.max("ar")).first()[0] or 1
        auth = nodes.join(araw, "node", "left").select(
            "node",
            F.expr(f"coalesce(ar, CAST(0 AS BIGINT)) * {int(scale)} div {int(amax)}")
            .alias("auth"),
        )
        hraw = (
            edges.join(auth, edges["dst"] == auth["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hr"))
        )
        hmax = hraw.agg(F.max("hr")).first()[0] or 1
        state = (
            nodes.join(auth, "node", "left")
            .join(hraw, "node", "left")
            .select(
                "node",
                F.expr(
                    f"coalesce(hr, CAST(0 AS BIGINT)) * {int(scale)} div {int(hmax)}"
                ).alias("hub"),
                F.coalesce("auth", z).alias("auth"),
            )
            .localCheckpoint()
        )
    return state


def degree_assortativity_moments(edges: DataFrame) -> DataFrame:
    """Exact integer moments for degree assortativity over an UNDIRECTED
    simple graph -> one row (m, s_xy, s_x, s_x2): with each undirected
    edge counted in both directions (the standard convention), the
    Pearson assortativity is the rational
        r = (m*s_xy - s_x^2) / (m*s_x2 - s_x^2)
    where x/y are endpoint degrees — symmetric, so only one side's sums
    are needed.  Two aggregations + one equi-join, all int64."""
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    j = (
        und.join(deg, "src")
        .withColumnRenamed("d", "dx")
        .join(deg.select(F.col("src").alias("dst"), F.col("d").alias("dy")), "dst")
    )
    return j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("dx") * F.col("dy")).alias("s_xy"),
        F.sum("dx").alias("s_x"),
        F.sum(F.col("dx") * F.col("dx")).alias("s_x2"),
    )


def degree_assortativity_sql(edges_select: str) -> str:
    """DuckDB replay of ``degree_assortativity_moments``;
    ``edges_select`` -> (src, dst)."""
    return f"""
WITH e0 AS ({edges_select}),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
j AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM und JOIN deg dx ON dx.src = und.src
       JOIN deg dy ON dy.src = und.dst)
SELECT CAST(count(*) AS BIGINT) AS m,
       CAST(sum(dx * dy) AS BIGINT) AS s_xy,
       CAST(sum(dx) AS BIGINT) AS s_x,
       CAST(sum(dx * dx) AS BIGINT) AS s_x2
FROM j"""


def reciprocity_counts(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity -> one row (m, m_recip): the fraction
    of directed edges whose reverse also exists stays the exact rational
    m_recip / m.  One distinct + one self-join (semi on the reversed
    key), no driver state."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "semi")
    return e.agg(F.count(F.lit(1)).alias("m")).join(
        recip.agg(F.count(F.lit(1)).alias("m_recip"))
    )


def reciprocity_sql(edges_select: str) -> str:
    """DuckDB replay of ``reciprocity_counts``."""
    return f"""
WITH e AS (
  SELECT DISTINCT src, dst FROM ({edges_select}) s WHERE src <> dst),
r AS (
  SELECT count(*) AS m_recip FROM e
  WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src))
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS m,
       CAST(r.m_recip AS BIGINT) AS m_recip
FROM r"""


def label_prop(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Synchronous majority label propagation (community detection,
    Raghavan et al. 2007, public literature), deterministic variant:
    labels start as node ids; each round every node adopts the most
    frequent label among ITSELF + its neighbors (ties -> smallest
    label).  The bounded round count is part of the semantics (same
    contract as ``shortest_paths``).

    Per round: one equi-join + one count aggregation + one row_number
    pick over the (node, label) table — all keyed shuffles, nothing on
    the driver; localCheckpoint truncates lineage."""
    from pyspark.sql import Window

    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    lab = nodes.select(
        F.col(node).alias("n"), F.col(node).alias("label")
    ).localCheckpoint()
    w = Window.partitionBy("n").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(int(rounds)):
        votes = (
            lab.join(e, lab["n"] == e["s"])
            .select(F.col("d").alias("n"), "label")
            .union(lab)
        )
        lab = (
            votes.groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("n", "label")
            .localCheckpoint()
        )
    return lab.select(F.col("n").alias("node"), "label")


def label_prop_sql(
    edges_select: str, nodes_select: str, rounds: int = 3
) -> str:
    """DuckDB oracle for ``label_prop``: rounds unrolled as MATERIALIZED
    CTE blocks (each referenced twice -> the k_core inlining lesson).
    ``edges_select`` -> (s, d) directed rows; ``nodes_select`` -> (n)."""
    blocks = [
        f"""e AS MATERIALIZED (
  SELECT s, d FROM ({edges_select}) x WHERE s != d
  UNION SELECT d, s FROM ({edges_select}) y WHERE s != d)""",
        f"l0 AS MATERIALIZED (SELECT n, n AS label FROM ({nodes_select}) z)",
    ]
    for i in range(int(rounds)):
        blocks.append(
            f"""l{i + 1} AS MATERIALIZED (
  SELECT n, label FROM (
    SELECT n, label,
           row_number() OVER (PARTITION BY n
             ORDER BY cnt DESC, label ASC) AS rn
    FROM (
      SELECT n, label, count(*) AS cnt FROM (
        SELECT e.d AS n, l{i}.label FROM l{i} JOIN e ON e.s = l{i}.n
        UNION ALL SELECT n, label FROM l{i}) v
      GROUP BY 1, 2) c) p
  WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"\nSELECT n AS node, CAST(label AS BIGINT) AS label "
          f"FROM l{int(rounds)}"
    )


def link_predict(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Common-neighbor link prediction over the undirected simple graph:
    for every UNLINKED pair (a < b) sharing >= 1 neighbor ->
    (a, b, cn, deg_a, deg_b); Jaccard = cn / (deg_a + deg_b - cn) and
    Adamic-Adar are derivable downstream.

    Shape: one wedge self-join keyed on the shared neighbor (cost
    sum over u of deg(u)^2 — cap hub degrees upstream for power-law
    graphs, same guidance as triangle_count), one anti-join against the
    edge set, two broadcast-able degree joins."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (
        e.select(F.col("s").alias("u"), F.col("d").alias("a"))
        .join(e.select(F.col("s").alias("u"), F.col("d").alias("b")), "u")
        .filter(F.col("a") < F.col("b"))
    )
    cn = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn"))
    unlinked = cn.join(
        e.select(F.col("s").alias("a"), F.col("d").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        unlinked.join(deg.select(F.col("s").alias("a"),
                                 F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("s").alias("b"),
                         F.col("deg").alias("deg_b")), "b")
        .select("a", "b", "cn", "deg_a", "deg_b")
    )


def link_predict_sql(edges_select: str) -> str:
    """DuckDB replay of ``link_predict``; ``edges_select`` -> (s, d)."""
    return f"""
WITH e AS MATERIALIZED (
  SELECT s, d FROM ({edges_select}) x WHERE s != d
  UNION SELECT d, s FROM ({edges_select}) y WHERE s != d),
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
cn AS (
  SELECT w1.d AS a, w2.d AS b, CAST(count(*) AS BIGINT) AS cn
  FROM e w1 JOIN e w2 ON w1.s = w2.s AND w1.d < w2.d
  GROUP BY 1, 2),
ul AS (
  SELECT cn.* FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = cn.a AND e.d = cn.b))
SELECT ul.a AS a, ul.b AS b, ul.cn AS cn,
       da.deg AS deg_a, db.deg AS deg_b
FROM ul JOIN deg da ON da.s = ul.a JOIN deg db ON db.s = ul.b"""


def clustering_coeff(edges: DataFrame) -> DataFrame:
    """Per-node local clustering accumulators over the UNDIRECTED simple
    graph -> (node, triangles, deg): coefficient = 2*triangles /
    (deg*(deg-1)) stays an exact rational downstream; isolated-wedge
    nodes report triangles = 0 (left join + coalesce).

    Shape: ``triangle_count``'s degree-ordered wedge plan (bounded by
    sum(outdeg^2), outdeg = O(sqrt(E))) + one degree agg + one keyed
    join — nothing new shuffles the raw edge list twice."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tc = triangle_count(und.select(F.col("a").alias("src"),
                                   F.col("b").alias("dst")))
    return deg.join(tc, "node", "left").select(
        "node",
        F.coalesce("triangles", F.lit(0).cast("long")).alias("triangles"),
        "deg",
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> DataFrame:
    """Edges of the k-truss (the maximal subgraph where every edge lies in
    >= k-2 triangles) -> (a, b, support) with the IN-TRUSS support.

    The peel: enumerate triangles over the ordered edge set (a < b < c —
    the id-ordered orientation, so the wedge join is bounded by forward
    degrees), count per-edge support, drop edges below k-2, repeat until
    the edge count is stable.  Per round: one self-join triangle
    enumeration + one support agg + one join; driver traffic is one
    scalar; localCheckpoint truncates lineage (the k_core discipline).
    Cohen 2008 (public k-truss literature) — peel depth bounds rounds."""
    cur = (
        edges.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = cur.count()
    need = max(0, k - 2)
    sup = None
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        sup = _truss_support(cur)
        nxt = (
            sup.filter(F.col("support") >= need)
            .select("a", "b")
            .localCheckpoint()
        )
        n_next = nxt.count()
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    # final support over the surviving subgraph (recomputed so the
    # reported numbers are the in-truss supports, not a stale round's)
    return _truss_support(cur).filter(F.col("support") >= need)


def _truss_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support of the ordered edge set ``e`` (a < b) ->
    (a, b, support), edges in no triangle included with support 0."""
    e1 = e.select(F.col("a").alias("p"), F.col("b").alias("q"))
    e2 = e.select(F.col("a").alias("p"), F.col("b").alias("r"))
    e3 = e.select(F.col("a").alias("q"), F.col("b").alias("r"))
    tri = (
        e1.join(e2, "p").filter(F.col("q") < F.col("r")).join(e3, ["q", "r"])
    )
    per_edge = (
        tri.select(F.col("p").alias("a"), F.col("q").alias("b"))
        .unionAll(tri.select(F.col("p").alias("a"), F.col("r").alias("b")))
        .unionAll(tri.select(F.col("q").alias("a"), F.col("r").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    z = F.lit(0).cast("long")
    return e.join(per_edge, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", z).alias("support")
    )


def k_truss_sql(edges_select: str, k: int, rounds: int = 10) -> str:
    """DuckDB oracle for ``k_truss``: the peel unrolled as ``rounds``
    MATERIALIZED CTE rounds (idempotent once converged); ``edges_select``
    must yield DISTINCT ordered loop-free (a, b) rows."""
    need = max(0, int(k) - 2)

    def support(i: int) -> str:
        return f"""t{i} AS (
  SELECT e1.a AS p, e1.b AS q, e2.b AS r
  FROM e{i} e1 JOIN e{i} e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e{i} e3 ON e3.a = e1.b AND e3.b = e2.b),
s{i} AS MATERIALIZED (
  SELECT e.a, e.b, CAST(coalesce(c.sup, 0) AS BIGINT) AS support
  FROM e{i} e LEFT JOIN (
    SELECT a, b, count(*) AS sup FROM (
      SELECT p AS a, q AS b FROM t{i}
      UNION ALL SELECT p, r FROM t{i}
      UNION ALL SELECT q, r FROM t{i}) u
    GROUP BY 1, 2) c ON c.a = e.a AND c.b = e.b)"""

    blocks = [f"e0 AS MATERIALIZED ({edges_select})"]
    for i in range(rounds):
        blocks.append(support(i))
        blocks.append(
            f"e{i + 1} AS MATERIALIZED "
            f"(SELECT a, b FROM s{i} WHERE support >= {need})"
        )
    blocks.append(support(rounds))
    return (
        "WITH " + ",\n".join(blocks)
        + f"\nSELECT a, b, support FROM s{rounds} WHERE support >= {need}"
    )


def aa_contrib_sql() -> str:
    """Shared Spark/DuckDB text: the Adamic-Adar contribution of one
    shared neighbor with degree ``deg`` — floor(1e9 / ln(deg) + eps)
    quantized PER WEDGE so the per-pair integer sum is order-independent
    (wedge centers always have deg >= 2, so ln > 0)."""
    return (
        "CAST(floor(1.0e9 / ln(CAST(deg AS DOUBLE)) + 0.12345678987)"
        " AS BIGINT)"
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Adamic-Adar link prediction over the undirected simple graph: for
    every UNLINKED pair (a < b) sharing >= 1 neighbor -> (a, b, cn, aa_q)
    where aa_q = sum over shared neighbors u of floor(1e9/ln(deg(u))) —
    the quantize-per-term-then-sum discipline keeps the score exact
    int64 and summation-order-free (Adamic & Adar 2003, public
    literature).

    Shape: link_predict's wedge join keyed on the shared neighbor with
    the center's degree attached BEFORE the wedge build (one broadcast-
    able degree join), then one (a, b) agg + one anti-join."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # deg >= 2 BEFORE the contribution: a degree-1 node can never be a
    # wedge center, and ln(1) = 0 would divide-by-zero under ANSI
    ew = (
        e.join(deg, "s")
        .filter(F.col("deg") >= 2)
        .select(
            F.col("s").alias("u"), F.col("d"),
            F.expr(aa_contrib_sql()).alias("w"),
        )
    )
    wedges = (
        ew.select("u", F.col("d").alias("a"), "w")
        .join(ew.select("u", F.col("d").alias("b")), "u")
        .filter(F.col("a") < F.col("b"))
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("cn"), F.sum("w").alias("aa_q")
    )
    return scored.join(
        e.select(F.col("s").alias("a"), F.col("d").alias("b")),
        ["a", "b"],
        "left_anti",
    )


def adamic_adar_sql(edges_select: str) -> str:
    """DuckDB replay of ``adamic_adar``; ``edges_select`` -> (s, d)."""
    return f"""
WITH e AS MATERIALIZED (
  SELECT s, d FROM ({edges_select}) x WHERE s != d
  UNION SELECT d, s FROM ({edges_select}) y WHERE s != d),
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
ew AS (SELECT e.s AS u, e.d, {aa_contrib_sql()} AS w
       FROM e JOIN deg ON deg.s = e.s WHERE deg.deg >= 2),
sc AS (
  SELECT w1.d AS a, w2.d AS b, CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(w1.w) AS BIGINT) AS aa_q
  FROM ew w1 JOIN ew w2 ON w1.u = w2.u AND w1.d < w2.d
  GROUP BY 1, 2)
SELECT sc.a, sc.b, sc.cn, sc.aa_q FROM sc
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = sc.a AND e.d = sc.b)"""


def longest_path_h(
    edges: DataFrame,
    hops: int,
    src: str = "a",
    dst: str = "b",
    w_col: str = "w",
) -> DataFrame:
    """Hop-bounded longest path into each node (the critical-path DP of
    scheduling literature, bounded to ``hops`` relaxation rounds so it
    terminates on any graph and is exact on DAGs of depth <= hops):
    dist_0 = 0 everywhere; dist_k(v) = max(dist_{k-1}(v), max over edges
    (u, v, w) of dist_{k-1}(u) + w).  Returns (node, dist) with int64
    weights.

    Scale shape: one equi-join + one map-side-combined max per round
    (the Bellman-Ford shape of cost_distance, maximizing), localCheckpoint
    per round — rounds are a fixed constant, no driver state."""
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"),
        F.col(w_col).cast("long").alias("w"),
    )
    nodes = e.select(F.col("u").alias("node")).union(
        e.select(F.col("v").alias("node"))
    ).distinct()
    dist = nodes.select("node", F.lit(0).cast("long").alias("dist"))
    for _ in range(int(hops)):
        relax = (
            e.join(dist, e.u == dist.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.max(F.col("dist") + F.col("w")).alias("cand"))
        )
        dist = (
            dist.join(relax, "node", "left")
            .select(
                "node",
                F.greatest(F.col("dist"), F.coalesce("cand", "dist")).alias("dist"),
            )
            .localCheckpoint()
        )
    return dist


def longest_path_h_sql(edges_select: str, hops: int) -> str:
    """DuckDB replay of ``longest_path_h``; ``edges_select`` -> (a, b, w).
    Walks every path of <= hops edges (fine for oracle-scale graphs),
    then max per end node against the 0 floor."""
    return f"""
WITH RECURSIVE e AS (
  SELECT a AS u, b AS v, CAST(w AS BIGINT) AS w FROM ({edges_select}) s),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
walk(node, d, h) AS (
  SELECT node, CAST(0 AS BIGINT), 0 FROM nodes
  UNION ALL
  SELECT e.v, walk.d + e.w, walk.h + 1
  FROM walk JOIN e ON e.u = walk.node
  WHERE walk.h < {int(hops)})
SELECT node, max(d) AS dist FROM walk GROUP BY 1"""


def modularity_counts(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community modularity moments for a given partition -> one row
    per community (c, n_nodes, intra, dsum, m): Newman modularity

        Q = sum_c (intra_c / m  -  (dsum_c / (2m))^2)
          = sum_c (4*m*intra_c - dsum_c^2) / (4*m^2)

    stays an exact rational of the returned int64 moments (intra_c =
    intra-community edge count, dsum_c = sum of member degrees, m =
    total undirected edge count, replicated per row for downstream
    arithmetic).  The quality score behind every community-detection
    loop (label_prop's objective), exposed as its own aggregate.

    Input contract: ``edges`` (src, dst) undirected simple edges with
    src < dst (one row per edge, no self-loops); ``labels`` (node, c)
    total over edge endpoints.  Unlabeled isolated nodes contribute
    nothing to Q and may be absent.  Shape: two equi-joins + three
    partial-agg shuffles on (node)/(c) — no driver state, no self-join;
    communities is the natural partitioning at 100 TB."""
    e = edges.select("src", "dst")
    la = labels.select(F.col("node").alias("src"), F.col("c").alias("ca"))
    lb = labels.select(F.col("node").alias("dst"), F.col("c").alias("cb"))
    el = e.join(la, "src").join(lb, "dst")
    m_df = e.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    per_c = (
        labels.join(deg, "node", "left")
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce(F.col("deg"), F.lit(0))).alias("dsum"),
        )
    )
    intra = (
        el.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("intra"))
    )
    return (
        per_c.join(intra, "c", "left")
        .select(
            "c", "n_nodes",
            F.coalesce(F.col("intra"), F.lit(0)).alias("intra"),
            "dsum",
        )
        .crossJoin(F.broadcast(m_df))
    )


def modularity_sql(edges_select: str, labels_select: str) -> str:
    """DuckDB replay of ``modularity_counts``; ``edges_select`` ->
    (src, dst) with src < dst, ``labels_select`` -> (node, c)."""
    return f"""
WITH e AS ({edges_select}),
lab AS ({labels_select}),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u GROUP BY 1),
per_c AS (
  SELECT lab.c, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(COALESCE(deg.deg, 0)) AS BIGINT) AS dsum
  FROM lab LEFT JOIN deg ON deg.node = lab.node GROUP BY 1),
intra AS (
  SELECT la.c, CAST(count(*) AS BIGINT) AS intra
  FROM e JOIN lab la ON la.node = e.src
       JOIN lab lb ON lb.node = e.dst AND lb.c = la.c
  GROUP BY 1),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e)
SELECT per_c.c, per_c.n_nodes, COALESCE(intra.intra, 0) AS intra,
       per_c.dsum, m.m
FROM per_c LEFT JOIN intra ON intra.c = per_c.c, m"""


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int,
    salt: str = "rw",
) -> DataFrame:
    """Deterministic uniform random walks (the node2vec/DeepWalk corpus
    generator, derandomized for rerun-stable pipelines): from each start
    node, ``steps`` hops where hop t of walk w at node u moves to
    neighbor index hash_u60(w:t:u) mod degree(u) — a pure function of
    (walk, step, node), so reruns, resumed checkpoints, and the SQL
    oracle all follow identical paths.  Dead-end nodes terminate the
    walk (standard DeepWalk truncation).

    ``edges`` (src, dst) DIRECTED adjacency (pass both directions for
    undirected graphs); ``starts`` (walk, node).  Returns (walk, step,
    node) including step 0.  Shape: the ranked adjacency (row_number
    per src) is built once; each hop is one equi-join on
    (node, chosen-rank) — no driver state, localCheckpoint per round
    (plan-shape lesson 6)."""
    from .sampling import hash_u60

    adj = edges.select("src", "dst").distinct()
    ranked = adj.withColumn(
        "r", (F.row_number().over(
            Window.partitionBy("src").orderBy("dst")
        ) - 1).cast("long"),
    )
    degs = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranked = ranked.join(degs, "src").persist()
    cur = starts.select("walk", F.col("node")).withColumn(
        "step", F.lit(0).cast("long")
    )
    out = cur
    for t in range(int(steps)):
        key = F.concat_ws(":", F.col("walk"), F.lit(str(t)), F.col("node"))
        nxt = (
            cur.withColumn("u", hash_u60(key, salt))
            .join(ranked, F.col("node") == F.col("src"))
            .filter(F.col("r") == F.col("u") % F.col("deg"))
            .select(
                "walk",
                F.col("dst").alias("node"),
                F.lit(t + 1).cast("long").alias("step"),
            )
            .localCheckpoint()
        )
        out = out.unionByName(nxt)
        cur = nxt
    return out.select("walk", "step", "node")


def random_walks_sql(edges_select: str, starts_select: str, steps: int,
                     salt: str = "rw") -> str:
    """DuckDB replay of ``random_walks``: one chained CTE per hop with
    the identical md5-derived neighbor choice."""
    from .sampling import hash_u60_sql

    blocks = [f"""adj AS (SELECT DISTINCT src, dst FROM ({edges_select}) s),
ranked AS (
  SELECT src, dst,
         CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
  FROM adj),
w0 AS (SELECT walk, node, CAST(0 AS BIGINT) AS step FROM ({starts_select}) t)"""]
    for t in range(int(steps)):
        key = (f"CAST(w{t}.walk AS VARCHAR) || ':{t}:' || "
               f"CAST(w{t}.node AS VARCHAR)")
        blocks.append(f"""w{t + 1} AS (
  SELECT w{t}.walk, ranked.dst AS node, CAST({t + 1} AS BIGINT) AS step
  FROM w{t} JOIN ranked ON ranked.src = w{t}.node
   AND ranked.r = ({hash_u60_sql(key, salt)}) % ranked.deg)""")
    union = "\nUNION ALL\n".join(
        f"SELECT walk, step, node FROM w{t}" for t in range(int(steps) + 1)
    )
    return "WITH " + ",\n".join(blocks) + "\n" + union


def louvain_move(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous Louvain phase-1 local-move round (Blondel et al.
    2008, public literature): every node simultaneously picks, among its
    neighbor communities and its own, the community maximizing the
    modularity gain of joining it after removing itself,

        gain(u, c) ∝ score = 2*m*k(u,c) - deg(u) * (Σtot(c) - deg(u)*[c = c_u])

    (the standard ΔQ scaled by the positive constant 2m² — argmax
    preserved, exact int64, no floats anywhere).  Ties -> smallest
    community id; isolated nodes stay.  Iterating this round until no
    score improves is the Louvain inner loop; one round is exposed so
    the oracle can replay it exactly.

    Input contract matches ``modularity_counts``: ``edges`` (src, dst)
    undirected simple edges with src < dst, ``labels`` (node, c) total
    over edge endpoints.  Returns (node, c) with the post-move label.
    Shape: degree/Σtot/k(u,c) are three partial-agg shuffles plus one
    window argmax on node — no driver state, no self-join; int64 safe
    while 2*m*deg_max < 2^63 (document scale: m ≤ ~10^9 with degrees
    ≤ ~10^4)."""
    from pyspark.sql import Window

    e = edges.select("src", "dst")
    lab = labels.select("node", "c")
    m_df = e.agg(F.count(F.lit(1)).alias("m"))
    duo = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = duo.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    tot = (
        lab.join(deg, "node", "left")
        .groupBy(F.col("c").alias("cand"))
        .agg(F.sum(F.coalesce(F.col("deg"), F.lit(0))).alias("tot"))
    )
    kuc = (
        duo.join(
            lab.select(F.col("node").alias("dst"), F.col("c").alias("cand")),
            "dst",
        )
        .groupBy(F.col("src").alias("node"), "cand")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    own = lab.select("node", F.col("c").alias("cand")).withColumn(
        "k", F.lit(0).cast("long")
    )
    cands = (
        kuc.unionByName(own)
        .groupBy("node", "cand")
        .agg(F.max("k").alias("k"))
    )
    scored = (
        cands.join(lab, "node")
        .join(F.broadcast(tot), "cand")
        .join(deg.withColumnRenamed("node", "node_d"),
              F.col("node") == F.col("node_d"), "left")
        .crossJoin(F.broadcast(m_df))
        .withColumn("dg", F.coalesce(F.col("deg"), F.lit(0)))
        .withColumn(
            "score",
            2 * F.col("m") * F.col("k")
            - F.col("dg")
            * (F.col("tot")
               - F.when(F.col("cand") == F.col("c"), F.col("dg"))
               .otherwise(F.lit(0))),
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node", F.col("cand").alias("c"))
    )


def louvain_move_sql(edges_select: str, labels_select: str) -> str:
    """DuckDB replay of ``louvain_move``; ``edges_select`` -> (src, dst)
    with src < dst, ``labels_select`` -> (node, c)."""
    return f"""
WITH e AS MATERIALIZED (SELECT src, dst FROM ({edges_select}) s),
lab AS MATERIALIZED (SELECT node, c FROM ({labels_select}) t),
duo AS MATERIALIZED (
  SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM duo GROUP BY 1),
tot AS (
  SELECT lab.c AS cand, CAST(sum(COALESCE(deg.deg, 0)) AS BIGINT) AS tot
  FROM lab LEFT JOIN deg ON deg.node = lab.node GROUP BY 1),
kuc AS (
  SELECT duo.src AS node, lb.c AS cand, CAST(count(*) AS BIGINT) AS k
  FROM duo JOIN lab lb ON lb.node = duo.dst GROUP BY 1, 2),
cands AS (
  SELECT node, cand, max(k) AS k FROM (
    SELECT node, cand, k FROM kuc
    UNION ALL SELECT node, c AS cand, CAST(0 AS BIGINT) AS k FROM lab) u
  GROUP BY 1, 2),
scored AS (
  SELECT cands.node, cands.cand,
         2 * m.m * cands.k
         - COALESCE(deg.deg, 0)
         * (tot.tot - CASE WHEN cands.cand = lab.c
                           THEN COALESCE(deg.deg, 0) ELSE 0 END) AS score
  FROM cands
  JOIN lab ON lab.node = cands.node
  JOIN tot ON tot.cand = cands.cand
  LEFT JOIN deg ON deg.node = cands.node, m)
SELECT node, cand AS c FROM (
  SELECT node, cand,
         row_number() OVER (PARTITION BY node
                            ORDER BY score DESC, cand ASC) AS rn
  FROM scored) r WHERE rn = 1"""


def ppr_exact(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """Personalized PageRank in the same EXACT integer arithmetic as
    ``pagerank_exact`` -> (node, rank): teleport mass restarts at the
    ``seeds`` set instead of everywhere,

        rank'(v) = [v in S] * (scale*(d_den-d_num)) div (d_den*|S|)
                 + (d_num * sum_{u->v} (rank(u) div outdeg(u))) div d_den

    with rank0 = scale div |S| on seeds and 0 elsewhere — the
    random-walk-with-restart relevance score behind related-item /
    local-community queries.  Identical per-iteration plan shape
    (one equi-join + one dst-keyed partial agg, lineage truncated);
    ``seeds``: (node) subset of ``nodes``."""
    ns = seeds.count()
    base = (scale * (d_den - d_num)) // (d_den * ns)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges = edges.join(deg, "src").localCheckpoint()
    is_seed = seeds.select("node").withColumn("seed", F.lit(1))
    rank = (
        nodes.join(is_seed, "node", "left")
        .select(
            "node",
            F.when(F.col("seed").isNotNull(), F.lit(scale // ns))
            .otherwise(F.lit(0)).cast("long").alias("rank"),
        )
        .localCheckpoint()
    )
    for _ in range(iters):
        contrib = (
            edges.join(rank, edges["src"] == rank["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        rank = (
            nodes.join(contrib, "node", "left")
            .join(is_seed, "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("seed").isNotNull(), F.lit(base))
                    .otherwise(F.lit(0))
                    + F.expr(
                        f"(CAST({d_num} AS BIGINT) * coalesce(s, CAST(0 AS BIGINT)))"
                        f" div {d_den}"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint()
        )
    return rank


def boruvka_mst(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    w_col: str = "w",
    max_rounds: int = 20,
) -> DataFrame:
    """Minimum spanning forest (Boruvka 1926, the PRAM-friendly MST) ->
    (u, v, w) rows — the single-linkage clustering / dedup-threshold
    primitive (cut the forest at w <= t and run connected_components to
    get single-linkage clusters).

    Ties are broken by the TOTAL order (w, u, v) over canonical
    (u < v) edges — equal weights become a strict order, so the forest
    is UNIQUE and the oracle may replay any correct MST algorithm under
    the same order (gate `mst` replays Boruvka itself as chained
    MATERIALIZED CTEs).  Per round: endpoint->component lookup (two
    equi-joins), per-component argmin over a packed int64 order key
    (one map-side-combinable min agg), then contraction of the selected
    edge graph via connected_components (the graph has <= #components
    rows, shrinking geometrically).  Components at least halve per
    round -> O(log n) rounds; the only driver scalar per round is the
    emptiness check.  Contract: 0 <= u, v < 2^21 and 0 <= w < 2^21
    (packed key w*2^42 + u*2^21 + v must stay in int64)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
            F.col(w_col).cast("long").alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .select(
            "u", "v", "w",
            (F.col("w") * F.lit(1 << 42) + F.col("u") * F.lit(1 << 21)
             + F.col("v")).alias("ord"),
        )
        .persist()
    )
    comp = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    picked = None
    for _ in range(max_rounds):
        cu = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        ec = e.join(cu, "u").join(cv, "v").filter(F.col("cu") != F.col("cv"))
        both = ec.select(F.col("cu").alias("c"), "ord").union(
            ec.select(F.col("cv").alias("c"), "ord")
        )
        sel = (
            both.groupBy("c")
            .agg(F.min("ord").alias("ord"))
            .join(ec, "ord")
            .select("u", "v", "w", "cu", "cv")
            .distinct()
            .localCheckpoint()
        )
        if sel.isEmpty():
            break
        new_edges = sel.select("u", "v", "w")
        picked = new_edges if picked is None else picked.union(new_edges)
        cmap = connected_components(
            sel.select(F.col("cu").alias("a"), F.col("cv").alias("b"))
        ).select(F.col("node").alias("oldc"), F.col("comp").alias("newc"))
        comp = (
            comp.join(cmap, comp["comp"] == cmap["oldc"], "left")
            .select("node", F.coalesce("newc", "comp").alias("comp"))
            .localCheckpoint()
        )
    e.unpersist()
    if picked is None:
        return e.sparkSession.createDataFrame(
            [], "u BIGINT, v BIGINT, w BIGINT"
        )
    return picked


def boruvka_sql(
    edges_select: str, outer_rounds: int, cc_rounds: int = 6
) -> str:
    """DuckDB oracle for ``boruvka_mst``: the rounds unrolled as chained
    MATERIALIZED CTEs (the k_core lesson).  ``edges_select`` must yield
    (a, b, w); ``outer_rounds`` must be >= ceil(log2(largest component))
    and ``cc_rounds`` covers the per-round contraction (propagate+jump,
    O(log) of the selected-edge chain length)."""
    blocks = [
        f"""e AS MATERIALIZED (
  SELECT u, v, w, w * 4398046511104 + u * 2097152 + v AS ord FROM (
    SELECT least(a, b) AS u, greatest(a, b) AS v, min(w) AS w
    FROM ({edges_select}) raw WHERE a <> b GROUP BY 1, 2))""",
        """c0 AS MATERIALIZED (
  SELECT node, node AS comp FROM (
    SELECT u AS node FROM e UNION SELECT v FROM e))""",
    ]
    for r in range(1, int(outer_rounds) + 1):
        p = r - 1
        blocks.append(f"""ec{r} AS MATERIALIZED (
  SELECT e.u, e.v, e.w, e.ord, a.comp AS cu, b.comp AS cv
  FROM e JOIN c{p} a ON a.node = e.u JOIN c{p} b ON b.node = e.v
  WHERE a.comp <> b.comp)""")
        blocks.append(f"""sel{r} AS MATERIALIZED (
  SELECT DISTINCT ec.u, ec.v, ec.w, ec.cu, ec.cv
  FROM (SELECT c, min(ord) AS ord FROM (
          SELECT cu AS c, ord FROM ec{r}
          UNION ALL SELECT cv, ord FROM ec{r}) t GROUP BY 1) m
  JOIN ec{r} ec ON ec.ord = m.ord)""")
        blocks.append(f"""g{r} AS MATERIALIZED (
  SELECT cu AS x, cv AS y FROM sel{r} UNION SELECT cv, cu FROM sel{r})""")
        blocks.append(
            f"m{r}_0 AS MATERIALIZED (SELECT DISTINCT x AS node, x AS lab "
            f"FROM g{r})"
        )
        for j in range(1, int(cc_rounds) + 1):
            blocks.append(f"""m{r}_{j} AS MATERIALIZED (
  SELECT m.node,
         least(m.lab, coalesce(min(nb.lab), m.lab),
               coalesce(min(jp.lab), m.lab)) AS lab
  FROM m{r}_{j - 1} m
  LEFT JOIN g{r} g ON g.x = m.node
  LEFT JOIN m{r}_{j - 1} nb ON nb.node = g.y
  LEFT JOIN m{r}_{j - 1} jp ON jp.node = m.lab
  GROUP BY m.node, m.lab)""")
        blocks.append(f"""c{r} AS MATERIALIZED (
  SELECT c.node, coalesce(m.lab, c.comp) AS comp
  FROM c{p} c LEFT JOIN m{r}_{int(cc_rounds)} m ON m.node = c.comp)""")
    sels = " UNION ALL ".join(
        f"SELECT u, v, w FROM sel{r}" for r in range(1, int(outer_rounds) + 1)
    )
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"\nSELECT DISTINCT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,"
        f" CAST(w AS BIGINT) AS w FROM ({sels}) allsel"
    )


def scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_peels: int = 20,
    max_rounds: int = 60,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph -> (node, comp)
    with comp = the MINIMUM node id of the SCC (canonical, so the oracle
    can label by mutual reachability instead of replaying rounds).

    The FB-coloring peeling algorithm (Orzan 2004; Slota, Rajamanickam &
    Madduri 2014): per peel, (1) propagate the MAX label along edge
    direction to convergence — color(v) = max over ancestors of v among
    unassigned nodes; (2) color roots r (color(r) = r) seed a BACKWARD
    reachability restricted to their own color class, which marks
    exactly SCC(r); (3) assign, remove, repeat.  Every color class
    peels one SCC per iteration, so graphs whose node ids increase
    along the condensation order finish in one peel.  All rounds are
    one equi-join + one agg with localCheckpoint truncation; driver
    sees only convergence counts."""
    e_all = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
        .persist()
    )
    active = (
        e_all.select(F.col("s").alias("node"))
        .union(e_all.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    assigned = None
    for _ in range(max_peels):
        if active.isEmpty():
            break
        e = (
            e_all.join(active.withColumnRenamed("node", "s"), "s")
            .join(active.withColumnRenamed("node", "d"), "d")
            .select("s", "d")
            .localCheckpoint()
        )
        # (1) forward max-label propagation to convergence
        color = active.select("node", F.col("node").alias("c"))
        for _r in range(max_rounds):
            nbr = (
                e.join(color, e["s"] == color["node"])
                .groupBy(F.col("d").alias("node"))
                .agg(F.max("c").alias("nc"))
            )
            nxt = (
                color.join(nbr, "node", "left")
                .select(
                    "node",
                    F.greatest(F.col("c"), F.coalesce("nc", "c")).alias("c"),
                )
                .localCheckpoint()
            )
            changed = (
                nxt.join(color.withColumnRenamed("c", "old"), "node")
                .filter(F.col("c") != F.col("old"))
                .count()
            )
            color = nxt
            if changed == 0:
                break
        # (2) backward reachability from the color roots, within color
        ecol = (
            e.join(color.select(F.col("node").alias("s"),
                                F.col("c").alias("cs")), "s")
            .join(color.select(F.col("node").alias("d"),
                               F.col("c").alias("cd")), "d")
            .filter(F.col("cs") == F.col("cd"))
            .select("s", "d")
            .localCheckpoint()
        )
        mark = color.filter(F.col("node") == F.col("c")).select("node", "c")
        for _r in range(max_rounds):
            new = (
                ecol.join(mark, ecol["d"] == mark["node"])
                .select(F.col("s").alias("node"), "c")
                .union(mark)
                .groupBy("node")
                .agg(F.min("c").alias("c"))
                .localCheckpoint()
            )
            if new.count() == mark.count():
                mark = new
                break
            mark = new
        # (3) assign and remove (scc label = color root for now)
        assigned = mark if assigned is None else assigned.union(mark)
        active = (
            active.join(mark.select("node"), "node", "anti")
            .localCheckpoint()
        )
    e_all.unpersist()
    if assigned is None:
        return edges.sparkSession.createDataFrame([], "node LONG, comp LONG")
    # canonicalize: comp = min node of the SCC
    canon = assigned.groupBy("c").agg(F.min("node").alias("comp"))
    return assigned.join(canon, "c").select("node", "comp")


def scc_sql(edges_select: str) -> str:
    """DuckDB oracle for ``scc``: label every node by the minimum
    mutually-reachable node, via one recursive transitive closure
    (x reaches y) probed in both directions.  ``edges_select`` must
    yield (src, dst)."""
    return f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT src AS s, dst AS d FROM ({edges_select}) raw
  WHERE src IS NOT NULL AND dst IS NOT NULL),
n AS (SELECT s AS node FROM e UNION SELECT d FROM e),
reach(a, b) AS (
  SELECT node, node FROM n
  UNION
  SELECT r.a, e.d FROM reach r JOIN e ON e.s = r.b)
SELECT x.node, CAST(min(f.b) AS BIGINT) AS comp
FROM n x
JOIN reach f ON f.a = x.node
JOIN reach g ON g.a = f.b AND g.b = x.node
GROUP BY x.node"""


def betweenness_q(
    edges: DataFrame,
    sources: DataFrame,
    levels: int,
    q: int = 1 << 20,
) -> DataFrame:
    """Sampled-source betweenness centrality (Brandes 2001, the
    multi-source distributed formulation) -> (v, bc_q): forward BFS
    keeps (source, node, dist, sigma) for ALL sources at once (one
    frontier join + one sigma-sum per level), then the backward
    dependency accumulation runs levels top-down with the rational
    sigma ratio q-FIXED-POINT quantized per term:

        dq(s,v) = sum over shortest-path successors w of
                  (sigma(s,v) * (q + dq(s,w))) div sigma(s,w)

    bc_q(v) = sum over sources s != v of dq(s,v); true betweenness
    ~ bc_q / q.  The per-term floordiv is order-independent, so the
    oracle replays every level bit-for-bit.  ``levels`` bounds the BFS
    (exact when >= the eccentricity of every source, like
    shortest_paths); nodes unreachable from every source are absent.
    ``sources``: (node)."""
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .filter(F.col("u").isNotNull() & F.col("w").isNotNull())
        .distinct()
        .persist()
    )
    vis = sources.select(
        F.col("node").alias("s"),
        F.col("node").alias("v"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    frontier = vis
    max_l = 0
    for l in range(1, int(levels) + 1):
        cand = (
            frontier.join(e, frontier["v"] == e["u"])
            .groupBy("s", F.col("w").alias("nv"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumnRenamed("nv", "v")
        )
        new = (
            cand.join(vis.select("s", "v"), ["s", "v"], "anti")
            .select(
                "s", "v", F.lit(l).cast("long").alias("dist"), "sigma"
            )
            .localCheckpoint()
        )
        if new.isEmpty():
            break
        max_l = l
        vis = vis.union(new).localCheckpoint()
        frontier = new
    # backward accumulation, levels top-down
    dq_next = vis.filter(F.col("dist") == max_l).select(
        "s", "v", F.lit(0).cast("long").alias("dq")
    )
    acc = dq_next
    for l in range(max_l - 1, -1, -1):
        cur = vis.filter(F.col("dist") == l)
        nxt = (
            vis.filter(F.col("dist") == l + 1)
            .join(dq_next, ["s", "v"])
            .select(
                F.col("s").alias("ns"), F.col("v").alias("nw"),
                F.col("sigma").alias("sigma_w"), F.col("dq").alias("ndq"),
            )
        )
        contrib = (
            cur.select(F.col("s").alias("cs"), F.col("v").alias("cv"),
                       F.col("sigma").alias("sigma_v"))
            .join(e, F.col("cv") == e["u"])
            .join(nxt, (F.col("cs") == F.col("ns"))
                  & (e["w"] == F.col("nw")))
            .select(
                "cs", "cv",
                F.expr(f"(sigma_v * ({q} + ndq)) div sigma_w").alias("c"),
            )
            .groupBy(F.col("cs").alias("s"), F.col("cv").alias("v"))
            .agg(F.sum("c").alias("cd"))
        )
        dq_next = (
            cur.join(contrib, ["s", "v"], "left")
            .select("s", "v", F.coalesce("cd", F.lit(0)).alias("dq"))
            .localCheckpoint()
        )
        acc = acc.union(dq_next)
    e.unpersist()
    return (
        acc.filter(F.col("v") != F.col("s"))
        .groupBy("v")
        .agg(F.sum("dq").alias("bc_q"))
    )


def betweenness_sql(
    edges_select: str, sources_select: str, levels: int, q: int = 1 << 20
) -> str:
    """DuckDB oracle for ``betweenness_q``: forward levels then backward
    levels as chained MATERIALIZED CTEs.  ``edges_select`` -> (src,
    dst); ``sources_select`` -> (node).  ``levels`` must cover every
    source's eccentricity (levels beyond the true maximum are empty
    no-ops on both sides)."""
    L = int(levels)
    blocks = [
        f"""e AS MATERIALIZED (
  SELECT DISTINCT src AS u, dst AS w FROM ({edges_select}) raw
  WHERE src IS NOT NULL AND dst IS NOT NULL)""",
        f"""v0 AS MATERIALIZED (
  SELECT node AS s, node AS v, CAST(0 AS BIGINT) AS dist,
         CAST(1 AS BIGINT) AS sigma
  FROM ({sources_select}) src)""",
    ]
    for l in range(1, L + 1):
        p = l - 1
        blocks.append(f"""n{l} AS MATERIALIZED (
  SELECT f.s, e.w AS v, CAST({l} AS BIGINT) AS dist,
         CAST(sum(f.sigma) AS BIGINT) AS sigma
  FROM v{p} f JOIN e ON e.u = f.v
  WHERE f.dist = {p}
    AND NOT EXISTS (SELECT 1 FROM v{p} x WHERE x.s = f.s AND x.v = e.w)
  GROUP BY 1, 2)""")
        blocks.append(
            f"v{l} AS MATERIALIZED (SELECT * FROM v{p} "
            f"UNION ALL SELECT * FROM n{l})"
        )
    blocks.append(f"""d{L} AS MATERIALIZED (
  SELECT s, v, CAST(0 AS BIGINT) AS dq FROM v{L} WHERE dist = {L})""")
    for l in range(L - 1, -1, -1):
        blocks.append(f"""d{l} AS MATERIALIZED (
  SELECT c.s, c.v, CAST(coalesce(sum(
           (c.sigma * ({q} + d.dq)) // nx.sigma), 0) AS BIGINT) AS dq
  FROM v{L} c
  LEFT JOIN e ON e.u = c.v
  LEFT JOIN v{L} nx ON nx.s = c.s AND nx.v = e.w AND nx.dist = {l + 1}
  LEFT JOIN d{l + 1} d ON d.s = nx.s AND d.v = nx.v
  WHERE c.dist = {l}
  GROUP BY 1, 2)""")
    unions = " UNION ALL ".join(
        f"SELECT s, v, dq FROM d{l}" for l in range(0, L + 1)
    )
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"""
SELECT v, CAST(sum(dq) AS BIGINT) AS bc_q
FROM ({unions}) a WHERE v <> s GROUP BY v"""
    )


_MIS_MOD = 1000003          # priority modulus (prime, < 2^20)
_MIS_MUL = 2654435761       # Knuth multiplicative hash constant
_MIS_SHIFT = 1 << 20        # packs (priority, node) into one int64 key


def _mis_key(col):
    """Deterministic Luby priority packed with the node id for a total
    order: (v * MUL % MOD) << 20 | v — node ids must stay < 2^20."""
    return ((col * _MIS_MUL) % _MIS_MOD) * _MIS_SHIFT + col


def luby_mis(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 40,
) -> DataFrame:
    """Maximal independent set by DERANDOMIZED Luby rounds (Luby 1986,
    public literature) -> (node, round): a node joins the MIS when its
    packed (priority, id) key beats every still-active neighbor's; it and
    its neighbors then retire.  The priority is a fixed multiplicative
    hash, so the whole run is a pure function of the graph — replayable
    round-for-round by the oracle.

    Inputs: ``edges`` (a, b) — symmetrized, loop-free; ``nodes`` (node).
    Scale shape: each round is one neighbor-min aggregation + two
    semi/anti joins on node id; the active set only shrinks (by the MIS
    property at least one node retires per connected component per
    round, O(log n) rounds with the randomized key); per-round driver
    traffic is one pending count; lineage cut by localCheckpoint."""
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
    active = nodes.select("node").withColumn("pk", _mis_key(F.col("node"))) \
        .localCheckpoint()
    out = None
    for rnd in range(max_rounds):
        if active.limit(1).count() == 0:
            break
        act_e = (
            sym.join(active.select(F.col("node").alias("u")), "u", "semi")
            .join(active.select(F.col("node").alias("v")), "v", "semi")
        )
        nbr_min = (
            act_e.join(active.select(F.col("node").alias("v"),
                                     F.col("pk").alias("vpk")), "v")
            .groupBy("u").agg(F.min("vpk").alias("m"))
        )
        winners = (
            active.join(nbr_min, active.node == nbr_min.u, "left")
            .filter(F.col("m").isNull() | (F.col("pk") < F.col("m")))
            .select("node")
            .withColumn("round", F.lit(rnd).cast("long"))
            .localCheckpoint()
        )
        out = winners if out is None else out.unionByName(winners)
        nbrs = (
            act_e.join(winners.select(F.col("node").alias("u")), "u", "semi")
            .select(F.col("v").alias("node"))
        )
        retired = winners.select("node").unionByName(nbrs).distinct()
        active = active.join(retired, "node", "left_anti").localCheckpoint()
    return out


def luby_mis_sql(edges_select: str, nodes_select: str, rounds: int = 12) -> str:
    """DuckDB replay of ``luby_mis``: the identical packed-key rounds
    unrolled as MATERIALIZED CTE blocks (the k_core_sql discipline —
    every a{i}/e{i} is referenced more than once)."""
    pk = f"((node * {_MIS_MUL}) % {_MIS_MOD}) * {_MIS_SHIFT} + node"
    blocks = [
        f"a0 AS MATERIALIZED (SELECT node, {pk} AS pk FROM ({nodes_select}) n)",
        f"es AS MATERIALIZED (SELECT a AS u, b AS v FROM ({edges_select}) e)",
    ]
    sel_w = []
    for i in range(rounds):
        blocks.append(f"""e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM es e
  JOIN a{i} x ON x.node = e.u JOIN a{i} y ON y.node = e.v),
nm{i} AS (SELECT e.u, min(a2.pk) AS m FROM e{i} e
          JOIN a{i} a2 ON a2.node = e.v GROUP BY e.u),
w{i} AS MATERIALIZED (
  SELECT a.node FROM a{i} a LEFT JOIN nm{i} n ON n.u = a.node
  WHERE n.m IS NULL OR a.pk < n.m),
a{i + 1} AS MATERIALIZED (
  SELECT a.node, a.pk FROM a{i} a
  WHERE a.node NOT IN (SELECT node FROM w{i})
    AND a.node NOT IN (SELECT e.v FROM e{i} e
                       JOIN w{i} w ON w.node = e.u))""")
        sel_w.append(f"SELECT node, CAST({i} AS BIGINT) AS round FROM w{i}")
    return "WITH " + ",\n".join(blocks) + "\n" + "\nUNION ALL ".join(sel_w)


def conductance_counts(edges: DataFrame, labels: DataFrame,
                       scale: int = 1 << 20) -> DataFrame:
    """Per-community conductance phi(S) = cut(S) / min(vol(S), vol(V\\S))
    over a symmetric directed-edge list -> (label, cut, vol, phi_q) with
    phi_q = floor(cut * scale / min(vol, total - vol)) exact integer.
    Two partial aggs over one labeled edge set — the partition-quality
    twin of ``modularity_counts``."""
    lab_u = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lab_v = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    e = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .join(lab_u, "u").join(lab_v, "v")
    )
    vol = e.groupBy(F.col("lu").alias("label")).agg(
        F.count(F.lit(1)).alias("vol")
    )
    cut = (
        e.filter(F.col("lu") != F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    tot = e.count()
    j = vol.join(cut, "label", "left").fillna(0, subset=["cut"])
    other = F.lit(int(tot)).cast("long") - F.col("vol")
    denom = F.least(F.col("vol"), other)
    return j.select(
        "label", "cut", "vol",
        F.when(denom > 0,
               F.expr(f"(cut * {int(scale)}) div least(vol, {int(tot)} - vol)"))
        .cast("long").alias("phi_q"),
    )


def conductance_sql(edges_select: str, labels_select: str,
                    scale: int = 1 << 20) -> str:
    """DuckDB twin of ``conductance_counts`` (same integer floor)."""
    return f"""
WITH e AS MATERIALIZED (
  SELECT lu.label AS lu, lv.label AS lv
  FROM ({edges_select}) e
  JOIN ({labels_select}) lu ON lu.node = e.a
  JOIN ({labels_select}) lv ON lv.node = e.b),
tot AS (SELECT count(*) AS t FROM e),
vol AS (SELECT lu AS label, count(*) AS vol FROM e GROUP BY 1),
cut AS (SELECT lu AS label, count(*) AS cut FROM e WHERE lu != lv GROUP BY 1)
SELECT v.label, coalesce(c.cut, 0) AS cut, v.vol,
       CASE WHEN LEAST(v.vol, t.t - v.vol) > 0
            THEN (coalesce(c.cut, 0) * {int(scale)})
                 // LEAST(v.vol, t.t - v.vol) END AS phi_q
FROM vol v LEFT JOIN cut c ON c.label = v.label CROSS JOIN tot t"""


def simrank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    c_num: int = 4,
    c_den: int = 5,
    scale: int = 1 << 20,
) -> DataFrame:
    """Exact-integer SimRank (Jeh & Widom 2002, public literature) ->
    (a, b, s) for a < b with s > 0 after ``iters`` iterations:
    S(a, a) = scale; S'(a, b) = floor(c_num * sum_{i in I(a), j in I(b)}
    S(i, j) / (c_den * |I(a)| * |I(b)|)), every division an integer
    floor-div of positive operands — bit-exact, so the oracle chains one
    CTE block per iteration.

    Scale shape: the nonzero pair table is joined twice against the edge
    list (in-neighbor expansion) and re-aggregated per (a, b) — sparsity
    is preserved (zero pairs never materialize); indegrees are a tiny
    broadcast dimension."""
    e = edges.select(F.col("src"), F.col("dst"))
    indeg = e.groupBy(F.col("dst").alias("n")).agg(
        F.count(F.lit(1)).alias("d")
    )
    cur = nodes.select(
        F.col("node").alias("i"), F.col("node").alias("j"),
        F.lit(int(scale)).cast("long").alias("s"),
    )
    diag = cur
    for _ in range(int(iters)):
        num = (
            cur.join(e.select(F.col("src").alias("i"), F.col("dst").alias("a")), "i")
            .join(e.select(F.col("src").alias("j"), F.col("dst").alias("b")), "j")
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b").agg(F.sum("s").alias("t"))
        )
        nd = (
            num.join(indeg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
            .join(indeg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
            .select(
                F.col("a").alias("i"), F.col("b").alias("j"),
                F.expr(f"({int(c_num)} * t) div ({int(c_den)} * da * db)")
                .cast("long").alias("s"),
            )
            .filter(F.col("s") > 0)
        )
        cur = diag.unionByName(nd).localCheckpoint()
    return (
        cur.filter(F.col("i") < F.col("j"))
        .select(F.col("i").alias("a"), F.col("j").alias("b"), "s")
    )


def simrank_sql(
    edges_select: str,
    nodes_select: str,
    iters: int = 3,
    c_num: int = 4,
    c_den: int = 5,
    scale: int = 1 << 20,
) -> str:
    """DuckDB replay of ``simrank``: one MATERIALIZED pair-table block per
    iteration (positive operands: // == floor-div == Spark div)."""
    blocks = [
        f"e AS MATERIALIZED (SELECT src, dst FROM ({edges_select}) s)",
        "ind AS MATERIALIZED (SELECT dst AS n, count(*) AS d FROM e GROUP BY 1)",
        f"s0 AS MATERIALIZED (SELECT node AS i, node AS j, "
        f"CAST({int(scale)} AS BIGINT) AS s FROM ({nodes_select}) n)",
    ]
    for k in range(1, int(iters) + 1):
        blocks.append(f"""n{k} AS (
  SELECT ea.dst AS a, eb.dst AS b,
         ({int(c_num)} * sum(p.s)) // ({int(c_den)} * da.d * db.d) AS s
  FROM s{k - 1} p
  JOIN e ea ON ea.src = p.i JOIN e eb ON eb.src = p.j
  JOIN ind da ON da.n = ea.dst JOIN ind db ON db.n = eb.dst
  WHERE ea.dst != eb.dst
  GROUP BY ea.dst, eb.dst, da.d, db.d),
s{k} AS MATERIALIZED (
  SELECT i, j, s FROM s0
  UNION ALL
  SELECT a, b, s FROM n{k} WHERE s > 0)""")
    return (
        "WITH " + ",\n".join(blocks)
        + f"\nSELECT i AS a, j AS b, s FROM s{int(iters)} WHERE i < j"
    )


def harmonic_centrality(
    edges: DataFrame,
    sources: list,
    hops: int,
    scale: int = 1 << 20,
) -> DataFrame:
    """Sampled harmonic centrality (Marchiori & Latora 2000, public
    literature) -> (node, h_q): h(v) = sum over the sampled sources of
    floor(scale / d(s, v)) within <= ``hops`` unweighted edges (d = 0
    self terms excluded).  Per-term quantization makes the sum
    order-independent and exactly replayable.

    Scale shape: ONE multi-source Bellman-Ford — the distance table is
    keyed (src, node), so all sources relax in the same per-round
    equi-join + min agg (the betweenness forward-pass discipline)."""
    e = edges.select(F.col("a").alias("s"), F.col("b").alias("d"))
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(s), int(s), 0) for s in sources], ["src", "node", "dist"]
    ).localCheckpoint()
    for _ in range(int(hops)):
        dist = (
            dist.join(e, dist["node"] == e["s"])
            .select("src", F.col("d").alias("node"),
                    (F.col("dist") + 1).alias("dist"))
            .unionByName(dist)
            .groupBy("src", "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return (
        dist.filter(F.col("dist") > 0)
        .withColumn("t", F.expr(f"{int(scale)} div dist"))
        .groupBy("node")
        .agg(F.sum("t").alias("h_q"))
    )


def harmonic_centrality_sql(
    edges_select: str, sources: list, hops: int, scale: int = 1 << 20
) -> str:
    """DuckDB replay of ``harmonic_centrality`` (chained MATERIALIZED
    relax rounds keyed (src, node))."""
    src_rows = " UNION ALL ".join(
        f"SELECT CAST({int(s)} AS BIGINT) AS src, CAST({int(s)} AS BIGINT) AS node, "
        f"CAST(0 AS BIGINT) AS dist" for s in sources
    )
    blocks = [
        f"e AS MATERIALIZED (SELECT a AS s, b AS d FROM ({edges_select}) t)",
        f"d0 AS MATERIALIZED ({src_rows})",
    ]
    for i in range(int(hops)):
        blocks.append(f"""d{i + 1} AS MATERIALIZED (
  SELECT src, node, min(dist) AS dist FROM (
    SELECT d{i}.src, e.d AS node, d{i}.dist + 1 AS dist
    FROM d{i} JOIN e ON e.s = d{i}.node
    UNION ALL SELECT src, node, dist FROM d{i}) t
  GROUP BY 1, 2)""")
    return (
        "WITH " + ",\n".join(blocks)
        + f"""
SELECT node, sum({int(scale)} // dist) AS h_q
FROM d{int(hops)} WHERE dist > 0 GROUP BY 1"""
    )


def densest_subgraph_trace(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """Parallel densest-subgraph peel (Bahmani et al. 2012, eps = 1,
    public literature) -> (round, n, e, is_best): each round records the
    surviving (vertex count, edge count) then removes EVERY vertex with
    deg * n <= 4 * e (i.e. deg <= 2 * average density — the integer
    cross-multiplied form), guaranteeing O(log n) rounds; the densest
    recorded round is a 2(1+eps)-approximation.  is_best marks the max
    e/n by exact cross-comparison (ties -> earliest round).

    Scale shape: per round one degree aggregation + two semi-joins (the
    k_core peel discipline) and a 2-scalar driver read (n, e) — the
    trace IS the output, O(log n) rows."""
    sym = edges.select("a", "b")
    und = sym.filter(F.col("a") < F.col("b"))
    alive = nodes.select("node").localCheckpoint()
    cur = sym.localCheckpoint()
    trace = []
    for rnd in range(int(max_rounds)):
        n = alive.count()
        if n == 0:
            break
        e = cur.filter(F.col("a") < F.col("b")).count()
        trace.append((rnd, n, e))
        deg = cur.groupBy(F.col("a").alias("node")).agg(
            F.count(F.lit(1)).alias("d")
        )
        keep = (
            alive.join(deg, "node", "left").fillna(0, subset=["d"])
            .filter(F.col("d") * n > 4 * e)
            .select("node")
            .localCheckpoint()
        )
        alive = keep
        cur = (
            cur.join(keep, cur["a"] == keep["node"], "semi")
            .join(keep.withColumnRenamed("node", "b2"),
                  cur["b"] == F.col("b2"), "semi")
            .localCheckpoint()
        )
    best = 0
    for i, (r, n, e) in enumerate(trace):
        br, bn, be = trace[best]
        if e * bn > be * n:
            best = i
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(r, n, e, i == best) for i, (r, n, e) in enumerate(trace)],
        "round long, n long, e long, is_best boolean",
    )


def densest_subgraph_sql(
    edges_select: str, nodes_select: str, rounds: int = 30
) -> str:
    """DuckDB replay of ``densest_subgraph_trace`` (unrolled rounds; the
    argmax by exact cross-multiplication NOT EXISTS)."""
    blocks = [
        f"s0 AS MATERIALIZED (SELECT a, b FROM ({edges_select}) e)",
        f"a0 AS MATERIALIZED (SELECT node FROM ({nodes_select}) n)",
    ]
    sels = []
    for t in range(int(rounds)):
        blocks.append(f"""t{t} AS MATERIALIZED (
  SELECT (SELECT count(*) FROM a{t}) AS n,
         (SELECT count(*) FROM s{t} WHERE a < b) AS e),
k{t} AS MATERIALIZED (
  SELECT al.node FROM a{t} al
  LEFT JOIN (SELECT a AS node, count(*) AS d FROM s{t} GROUP BY 1) dg
    ON dg.node = al.node
  CROSS JOIN t{t}
  WHERE coalesce(dg.d, 0) * t{t}.n > 4 * t{t}.e),
a{t + 1} AS MATERIALIZED (SELECT node FROM k{t}),
s{t + 1} AS MATERIALIZED (
  SELECT s.a, s.b FROM s{t} s
  JOIN k{t} x ON x.node = s.a JOIN k{t} y ON y.node = s.b)""")
        sels.append(
            f"SELECT CAST({t} AS BIGINT) AS round, n, e FROM t{t} WHERE n > 0"
        )
    trace = "\nUNION ALL ".join(sels)
    return (
        "WITH " + ",\n".join(blocks)
        + f""",
tr AS MATERIALIZED ({trace})
SELECT round, n, e,
       NOT EXISTS (SELECT 1 FROM tr o
                   WHERE o.e * tr.n > tr.e * o.n
                      OR (o.e * tr.n = tr.e * o.n AND o.round < tr.round))
           AS is_best
FROM tr"""
    )


def greedy_matching(
    edges: DataFrame,
    weight_col: str = "w",
    max_rounds: int = 12,
) -> DataFrame:
    """Locally-dominant greedy matching (Preis 1999 / Manne-Bisseling,
    public literature) -> (u, v, w, round): an edge is matched in a round
    when its packed (max-weight, (u,v) tie-break) key beats every other
    still-active edge at BOTH endpoints; its endpoints then retire.  With
    distinct keys this computes the same matching as sequential greedy
    max-weight matching (a 1/2-approximation of maximum weight matching).

    Inputs: ``edges`` (u, v, w) with u < v (one row per undirected edge),
    w < 2^20, node ids < 2^20 (packed-key contract).  Rounds are a pure
    function of the graph, replayable by the oracle; capped at
    ``max_rounds`` (hash-spread weights retire most components in
    O(log n) rounds — the cap is part of the documented semantics).

    Scale shape per round: one explode to endpoint incidences, one
    per-node min aggregation, one join back — all keyed on node/edge ids;
    the active set only shrinks; lineage cut by localCheckpoint."""
    pk = (
        (F.lit((1 << 20) - 1) - F.col(weight_col)) * F.lit(1 << 40)
        + F.col("u") * F.lit(1 << 20) + F.col("v")
    )
    active = (
        edges.select("u", "v", F.col(weight_col).cast("long").alias("w"))
        .withColumn("pk", pk.cast("long"))
        .localCheckpoint()
    )
    out = None
    for rnd in range(max_rounds):
        if active.limit(1).count() == 0:
            break
        inc = active.select(F.col("u").alias("node"), "pk").unionByName(
            active.select(F.col("v").alias("node"), "pk")
        )
        nmin = inc.groupBy("node").agg(F.min("pk").alias("m"))
        winners = (
            active.join(nmin.withColumnRenamed("node", "u")
                        .withColumnRenamed("m", "mu"), "u")
            .join(nmin.withColumnRenamed("node", "v")
                  .withColumnRenamed("m", "mv"), "v")
            .filter((F.col("pk") == F.col("mu")) & (F.col("pk") == F.col("mv")))
            .select("u", "v", "w")
            .withColumn("round", F.lit(rnd).cast("long"))
            .localCheckpoint()
        )
        out = winners if out is None else out.unionByName(winners)
        ret = winners.select(F.col("u").alias("node")).unionByName(
            winners.select(F.col("v").alias("node"))
        ).distinct()
        active = (
            active.join(ret.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(ret.withColumnRenamed("node", "v"), "v", "left_anti")
            .localCheckpoint()
        )
    return out


def greedy_matching_sql(edges_select: str, rounds: int = 12) -> str:
    """DuckDB replay of ``greedy_matching``: identical packed-key rounds
    unrolled as MATERIALIZED CTE blocks (the luby_mis_sql discipline)."""
    pk = f"((1048575 - w) * 1099511627776 + u * 1048576 + v)"
    blocks = [
        f"a0 AS MATERIALIZED (SELECT u, v, CAST(w AS BIGINT) AS w, {pk} AS pk "
        f"FROM ({edges_select}) e)",
    ]
    sel = []
    for i in range(rounds):
        blocks.append(f"""inc{i} AS (
  SELECT u AS node, pk FROM a{i}
  UNION ALL SELECT v AS node, pk FROM a{i}),
nm{i} AS MATERIALIZED (SELECT node, min(pk) AS m FROM inc{i} GROUP BY 1),
w{i} AS MATERIALIZED (
  SELECT a.u, a.v, a.w FROM a{i} a
  JOIN nm{i} x ON x.node = a.u AND x.m = a.pk
  JOIN nm{i} y ON y.node = a.v AND y.m = a.pk),
a{i + 1} AS MATERIALIZED (
  SELECT a.u, a.v, a.w, a.pk FROM a{i} a
  WHERE a.u NOT IN (SELECT u FROM w{i} UNION ALL SELECT v FROM w{i})
    AND a.v NOT IN (SELECT u FROM w{i} UNION ALL SELECT v FROM w{i}))""")
        sel.append(f"SELECT u, v, w, CAST({i} AS BIGINT) AS round FROM w{i}")
    return "WITH " + ",\n".join(blocks) + "\n" + "\nUNION ALL ".join(sel)


def earliest_arrival(
    edges: DataFrame,
    src: int,
    rounds: int = 8,
) -> DataFrame:
    """Temporal-graph earliest arrival (foremost journey, Wu et al. 2014,
    public literature): over timestamped edges (u, v, t, d) an edge is
    traversable only if you are at u by its departure time t, arriving at
    v at t + d.  Round r relaxes every edge against the current arrival
    table and keeps per-node minima — arrivals only decrease, so rounds
    are a pure monotone function of the graph; ``rounds`` caps journeys
    at that many hops (documented semantics, replayed by the oracle).

    Output: (node, arrival) for nodes reachable from ``src`` within the
    round budget (source arrives at 0).

    Scale shape per round: one equi-join edges-to-arrivals on u + one
    min-aggregation on v — BFS cost, no per-path state; lineage cut per
    round by localCheckpoint (plan-shape lesson 6)."""
    spark = edges.sparkSession
    arr = spark.createDataFrame([(int(src), 0)], "node long, arrival long") \
        .localCheckpoint()
    e = edges.select(
        F.col("u"), F.col("v"),
        F.col("t").cast("long").alias("t"), F.col("d").cast("long").alias("d"),
    )
    for _ in range(rounds):
        relax = (
            e.join(arr.withColumnRenamed("node", "u"), "u")
            .filter(F.col("t") >= F.col("arrival"))
            .select(F.col("v").alias("node"),
                    (F.col("t") + F.col("d")).alias("arrival"))
        )
        arr = (
            arr.unionByName(relax)
            .groupBy("node").agg(F.min("arrival").alias("arrival"))
            .localCheckpoint()
        )
    return arr


def earliest_arrival_sql(edges_select: str, src: int, rounds: int = 8) -> str:
    """DuckDB replay of ``earliest_arrival`` (chained MATERIALIZED rounds)."""
    blocks = [
        f"e AS MATERIALIZED (SELECT u, v, CAST(t AS BIGINT) AS t, "
        f"CAST(d AS BIGINT) AS d FROM ({edges_select}) es)",
        f"a0 AS MATERIALIZED (SELECT CAST({int(src)} AS BIGINT) AS node, "
        f"CAST(0 AS BIGINT) AS arrival)",
    ]
    for i in range(rounds):
        blocks.append(f"""a{i + 1} AS MATERIALIZED (
  SELECT node, min(arrival) AS arrival FROM (
    SELECT node, arrival FROM a{i}
    UNION ALL
    SELECT e.v AS node, e.t + e.d AS arrival
    FROM e JOIN a{i} a ON a.node = e.u
    WHERE e.t >= a.arrival) u
  GROUP BY 1)""")
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT node, arrival FROM a{rounds}")


def wl_colors(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Weisfeiler-Lehman color refinement (1-WL, public literature — the
    graph-fingerprinting primitive of graph kernels and GNN expressivity):
    every node starts with the canonical initial label — md5 of its
    DEGREE (uniform seeds cannot refine a near-regular graph past its
    orbit count; the degree seed is the standard 1-WL start); each round
    recolors
    c'(v) = md5(c(v) || '|' || sorted neighbor colors joined by ',') —
    sort_array(collect_list(...)) makes the aggregation order-independent,
    and md5-over-text is hex-identical across engines.

    Output: (node, color) after ``rounds`` refinements.

    Scale shape per round: one equi-join to fetch neighbor colors + one
    keyed aggregation; color strings are constant-size hex; lineage cut
    per round."""
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("dg")
    )
    cur = (
        nodes.select("node")
        .join(deg, "node", "left")
        .select("node",
                F.md5(F.coalesce(F.col("dg"), F.lit(0))
                      .cast("string").cast("binary")).alias("c"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        nb = (
            sym.join(cur.select(F.col("node").alias("v"),
                                F.col("c").alias("nc")), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.array_join(F.array_sort(F.collect_list("nc")), ",").alias("ns"))
        )
        cur = (
            cur.join(nb, "node", "left")
            .select(
                "node",
                F.md5(F.concat(F.col("c"), F.lit("|"),
                               F.coalesce(F.col("ns"), F.lit("")))
                      .cast("binary")).alias("c"),
            )
            .localCheckpoint()
        )
    return cur.select("node", F.col("c").alias("color"))


def wl_colors_sql(edges_select: str, nodes_select: str, rounds: int = 3) -> str:
    """DuckDB replay of ``wl_colors`` (chained refinement CTEs)."""
    blocks = [
        f"es AS MATERIALIZED (SELECT a AS u, b AS v FROM ({edges_select}) e)",
        "dg AS (SELECT u AS node, count(*) AS dg FROM es GROUP BY 1)",
        f"c0 AS MATERIALIZED (SELECT n.node, "
        f"md5(CAST(coalesce(dg.dg, 0) AS STRING)) AS c "
        f"FROM ({nodes_select}) n LEFT JOIN dg ON dg.node = n.node)",
    ]
    for i in range(rounds):
        blocks.append(f"""nb{i} AS (
  SELECT e.u AS node, string_agg(x.c, ',' ORDER BY x.c) AS ns
  FROM es e JOIN c{i} x ON x.node = e.v
  GROUP BY 1),
c{i + 1} AS MATERIALIZED (
  SELECT a.node, md5(a.c || '|' || coalesce(n.ns, '')) AS c
  FROM c{i} a LEFT JOIN nb{i} n ON n.node = a.node)""")
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT node, c AS color FROM c{rounds}")


def stable_matching(
    pref_m: DataFrame,
    wkey: "object",
    n: int,
    rounds: int = 12,
) -> DataFrame:
    """Deterministic parallel Gale-Shapley per group (Gale & Shapley 1962;
    the simultaneous-proposal variant): each round every free man with
    preferences left proposes to his next-ranked woman; each woman keeps
    the best of (proposers + current fiance) by her packed key; losing
    proposers and dumped fiances advance their pointer.  All proposals of
    a round are simultaneous, so rounds are a pure function of the
    preference tables — the oracle unrolls them as CTE blocks.

    ``pref_m``: (g, m, w, rk) man-side ranking (rk = 1 best);
    ``wkey``: fn(g_col, w_col, m_col) -> integer Column, smaller = better
    (must stay < 2^20 before packing with m).

    Output: (g, m, w) final engagements (men may end unmatched only if
    they exhaust their list).  Scale shape per round: two joins + one
    packed-min aggregation, all keyed on (g, w); groups run lockstep."""
    spark = pref_m.sparkSession
    pref = pref_m.select("g", "m", "w", "rk").localCheckpoint()
    state = pref.select("g", "m").distinct().select(
        "g", "m", F.lit(0).cast("long").alias("ptr"),
        F.lit(None).cast("long").alias("ew"),
    ).localCheckpoint()
    for _ in range(rounds):
        prop = (
            state.filter(F.col("ew").isNull() & (F.col("ptr") < n))
            .join(pref, ["g", "m"])
            .filter(F.col("rk") == F.col("ptr") + 1)
            .select("g", "m", "w", F.lit(1).alias("is_prop"))
        )
        if prop.limit(1).count() == 0:
            break
        cur = state.filter(F.col("ew").isNotNull()).select(
            "g", "m", F.col("ew").alias("w"), F.lit(0).alias("is_prop")
        )
        cands = prop.unionByName(cur).withColumn(
            "pk", wkey(F.col("g"), F.col("w"), F.col("m")) * F.lit(1 << 20) + F.col("m")
        )
        win = cands.groupBy("g", "w").agg(F.min("pk").alias("mn"))
        outcome = cands.join(win, ["g", "w"]).select(
            "g", "m", "w",
            (F.col("pk") == F.col("mn")).alias("won"),
        )
        state = (
            state.join(outcome, ["g", "m"], "left")
            .select(
                "g", "m",
                (F.col("ptr") + F.when(F.col("won") == False, 1)  # noqa: E712
                 .otherwise(0)).alias("ptr"),
                F.when(F.col("won") == True, F.col("w"))  # noqa: E712
                .when(F.col("won") == False, F.lit(None).cast("long"))
                .otherwise(F.col("ew")).alias("ew"),
            )
            .localCheckpoint()
        )
    return state.filter(F.col("ew").isNotNull()).select(
        "g", "m", F.col("ew").alias("w")
    )


def stable_matching_sql(pref_select: str, wkey_sql: str, n: int,
                        rounds: int = 12) -> str:
    """DuckDB replay of ``stable_matching``; ``pref_select`` yields
    (g, m, w, rk); ``wkey_sql`` is an expression over g, w, m."""
    blocks = [
        f"pref AS MATERIALIZED (SELECT g, m, w, rk FROM ({pref_select}) p)",
        "st0 AS MATERIALIZED (SELECT DISTINCT g, m, CAST(0 AS BIGINT) AS ptr, "
        "CAST(NULL AS BIGINT) AS ew FROM pref)",
    ]
    for i in range(rounds):
        blocks.append(f"""pr{i} AS (
  SELECT s.g, s.m, p.w, 1 AS is_prop
  FROM st{i} s JOIN pref p ON p.g = s.g AND p.m = s.m AND p.rk = s.ptr + 1
  WHERE s.ew IS NULL AND s.ptr < {int(n)}),
cd{i} AS MATERIALIZED (
  SELECT g, m, w, is_prop,
         ({wkey_sql}) * {1 << 20} + m AS pk
  FROM (SELECT * FROM pr{i}
        UNION ALL
        SELECT g, m, ew AS w, 0 FROM st{i} WHERE ew IS NOT NULL) c),
wn{i} AS (SELECT g, w, min(pk) AS mn FROM cd{i} GROUP BY 1, 2),
oc{i} AS MATERIALIZED (
  SELECT c.g, c.m, c.w, c.pk = n.mn AS won
  FROM cd{i} c JOIN wn{i} n ON n.g = c.g AND n.w = c.w),
st{i + 1} AS MATERIALIZED (
  SELECT s.g, s.m,
         s.ptr + CASE WHEN o.won = false THEN 1 ELSE 0 END AS ptr,
         CASE WHEN o.won THEN o.w
              WHEN o.won = false THEN NULL
              ELSE s.ew END AS ew
  FROM st{i} s LEFT JOIN oc{i} o ON o.g = s.g AND o.m = s.m)""")
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT g, m, ew AS w FROM st{rounds} WHERE ew IS NOT NULL")


def rich_club(
    edges: DataFrame,
    ks: tuple = (2, 4, 6, 8),
) -> DataFrame:
    """Rich-club coefficients (Zhou & Mondragon 2004, public literature),
    exact: for each threshold k, phi(k) = 2*E_k / (N_k * (N_k - 1)) over
    the subgraph induced by nodes of degree > k — emitted as the integer
    triple (k, n_k, e_k); the rational is derivable downstream.

    Input: symmetrized loop-free (a, b) edges.  Scale shape: one degree
    aggregation + one semi-joined edge count per threshold (thresholds
    are a handful; each pass is an equi-join)."""
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("dg")
    ).localCheckpoint()
    und = edges.filter(F.col("a") < F.col("b"))
    out = None
    for k in ks:
        rich = deg.filter(F.col("dg") > int(k)).select("node")
        nk = rich.count()
        ek = (
            und.join(rich.withColumnRenamed("node", "a"), "a", "semi")
            .join(rich.withColumnRenamed("node", "b"), "b", "semi")
            .count()
        )
        spark = edges.sparkSession
        row = spark.createDataFrame(
            [(int(k), int(nk), int(ek))], "k long, n_k long, e_k long"
        )
        out = row if out is None else out.unionByName(row)
    return out


def rich_club_sql(edges_select: str, ks: tuple = (2, 4, 6, 8)) -> str:
    """DuckDB twin of ``rich_club``."""
    blocks = []
    for k in ks:
        blocks.append(f"""
SELECT {int(k)} AS k,
       (SELECT count(*) FROM (
          SELECT a FROM ({edges_select}) e GROUP BY a
          HAVING count(*) > {int(k)}) r) AS n_k,
       (SELECT count(*) FROM ({edges_select}) e
        WHERE e.a < e.b
          AND e.a IN (SELECT a FROM ({edges_select}) x GROUP BY a
                      HAVING count(*) > {int(k)})
          AND e.b IN (SELECT a FROM ({edges_select}) x GROUP BY a
                      HAVING count(*) > {int(k)})) AS e_k""")
    return " UNION ALL ".join(blocks)


def maximal_cliques_bounded(
    adj: DataFrame,
    n_nodes: int = 12,
) -> DataFrame:
    """Maximal-clique enumeration over per-key graphs of <= ``n_nodes``
    nodes, by PURE BITMASK ALGEBRA (no search tree): a subset mask S is a
    clique iff every member's closed adjacency covers S
    ((adj[i] | 1<<i) & S = S), and maximal iff no outside vertex is
    adjacent to all of S — both conditions explode over (key, mask,
    node) and reduce with bool_and, entirely in codegen integer bit ops
    (2^n masks per key; the brute *verifier* form — Bron-Kerbosch is the
    unbounded-n path, the oracle replays the identical definition).

    Input: (k, node, amask) closed-neighborhood-free adjacency bitmasks.
    Output: (k, n_cliques, max_size, best_mask) — maximal-clique count,
    maximum clique size, and the smallest maximum-size mask."""
    n = int(n_nodes)
    spark = adj.sparkSession
    masks = spark.range(1, 1 << n).select(F.col("id").alias("mask"))
    keys = adj.select("k").distinct()
    km = keys.join(masks)
    ex = km.join(adj, "k")
    member_ok = (
        ((F.expr("shiftleft(CAST(1 AS BIGINT), CAST(node AS INT))")
          .bitwiseOR(F.col("amask"))) .bitwiseAND(F.col("mask")) == F.col("mask"))
        | (F.expr("(mask div shiftleft(CAST(1 AS BIGINT), CAST(node AS INT))) % 2") == 0)
    )
    outside_ok = (
        (F.expr("(mask div shiftleft(CAST(1 AS BIGINT), CAST(node AS INT))) % 2") == 1)
        | ((F.col("amask").bitwiseAND(F.col("mask"))) != F.col("mask"))
    )
    c = (
        ex.groupBy("k", "mask")
        .agg(
            F.min(member_ok.cast("long")).alias("is_clique"),
            F.min(outside_ok.cast("long")).alias("is_maximal"),
        )
        .filter((F.col("is_clique") == 1) & (F.col("is_maximal") == 1))
        .withColumn("sz", F.expr("bit_count(mask)"))
    )
    pick = Window.partitionBy("k").orderBy(F.col("sz").desc(), "mask")
    return (
        c.withColumn("pk", F.row_number().over(pick))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_cliques"),
            F.max("sz").alias("max_size"),
            F.min(F.when(F.col("pk") == 1, F.col("mask"))).alias("best_mask"),
        )
    )


def maximal_cliques_sql(adj_select: str, n_nodes: int = 12) -> str:
    """DuckDB twin of ``maximal_cliques_bounded``."""
    n = int(n_nodes)
    return f"""
WITH adj AS MATERIALIZED (SELECT k, node, amask FROM ({adj_select}) a),
masks AS (SELECT unnest(range(1, {1 << n})) AS mask),
ex AS (
  SELECT ks.k, m.mask, a.node, a.amask
  FROM (SELECT DISTINCT k FROM adj) ks, masks m
  JOIN adj a ON a.k = ks.k),
c AS (
  SELECT k, mask,
         min(CASE WHEN (mask // (CAST(1 AS BIGINT) << CAST(node AS INT))) % 2 = 0
                   OR ((amask | (CAST(1 AS BIGINT) << CAST(node AS INT)))
                       & mask) = mask
              THEN 1 ELSE 0 END) AS is_clique,
         min(CASE WHEN (mask // (CAST(1 AS BIGINT) << CAST(node AS INT))) % 2 = 1
                   OR (amask & mask) <> mask
              THEN 1 ELSE 0 END) AS is_maximal
  FROM ex GROUP BY 1, 2),
mc AS (
  SELECT k, mask, bit_count(mask) AS sz,
         row_number() OVER (PARTITION BY k
             ORDER BY bit_count(mask) DESC, mask) AS pk
  FROM c WHERE is_clique = 1 AND is_maximal = 1)
SELECT k, count(*) AS n_cliques, max(sz) AS max_size,
       min(CASE WHEN pk = 1 THEN mask END) AS best_mask
FROM mc GROUP BY 1"""
