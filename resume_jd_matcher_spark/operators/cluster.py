"""Cluster resolution for near-duplicate candidate pairs (north-star
dedup suite, the step after MinHash/SimHash candidate generation).

LSH emits *pairs*; a training-data pipeline needs *clusters* — one
canonical representative per group of mutual near-duplicates, so the
keep/drop decision is transitive (A~B and B~C must land A, B, C in one
cluster even if A,C were never a candidate pair). That is connected
components over the candidate-pair graph.

The reference deduplicates nothing (every upload re-embeds everything,
``/root/reference/app.py:145-157``); this operator is the [EXT]
scale-path completion of V8 in SURVEY.md §2.C.

Implementation: cost-routed. A graph within the small-row limit of
``sources.io.DRIVER_LIMITS`` (the common case — LSH pairs are a sliver
of the corpus) collapses to a driver-side union-find after one bounded
fetch (``sources.io.driver_fetch``) and comes back as a local relation
(``sources.io.driver_frame``), whose consumers run no Spark job. Every
operator here that routes by size uses that limit. Larger graphs run the
large-star/small-star alternation (Kiveris et al., "Connected
Components in MapReduce and Beyond"): O(log² n) rounds regardless of
graph diameter, so long chains of borderline matches converge as fast
as dense near-dup blobs. ``max_iter`` bounds the rounds; a run that
hits it warns instead of returning silently-wrong labels.

Scale notes:
- ``localCheckpoint(eager=True)`` after every round truncates lineage —
  without it the plan doubles per iteration and Catalyst analysis time
  explodes long before data size matters.
- Each round is pure agg+join dataflow: no neighbourhood
  ``collect_list``, so a hub node never materializes its adjacency in
  one task.
- The convergence check is one scalar aggregate per round: the edge
  count and an order-independent hash of the edge set.
"""

from __future__ import annotations

import warnings
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resume_jd_matcher_spark.sources.io import DRIVER_LIMITS, driver_fetch, driver_frame


def _pairs(edges) -> list[tuple]:
    """A fetched two-column Arrow edge table as driver tuples."""
    return list(zip(edges.column(0).to_pylist(), edges.column(1).to_pylist()))


def connected_components(
    edges: DataFrame,
    src: str = "left_id",
    dst: str = "right_id",
    max_iter: int = 30,
) -> DataFrame:
    """Resolve an undirected edge list into components.

    Returns one row per node: ``(node, cluster_rep)`` where
    ``cluster_rep`` is the minimum node id reachable from ``node`` —
    the deterministic canonical representative.

    Cost-based routing: a graph within the small-row limit resolves
    with a driver-side union-find in one pass; a larger one
    runs the large-star/small-star loop for at most ``max_iter``
    rounds. Both routes produce identical labels.
    """
    small = driver_fetch(edges.select(src, dst), DRIVER_LIMITS["small_rows"])
    if small is not None:
        return _cc_local_df(edges.sparkSession, _pairs(small))
    return _cc_star(edges, src, dst, max_iter)


def _local_df(spark, rows, names: list[str]) -> DataFrame:
    """Driver-resolved rows of bigint columns as a local relation: its
    consumers run no Spark job."""
    schema = T.StructType([T.StructField(n, T.LongType()) for n in names])
    return driver_frame(spark, pd.DataFrame(rows, columns=names), schema)


def _cc_local_df(spark, pairs) -> DataFrame:
    parent = _union_find(pairs)
    rows = [(n, _uf_find(parent, n)) for n in parent]
    return _local_df(spark, rows, ["node", "cluster_rep"])


def _uf_find(parent: dict, x):
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:  # path compression
        parent[x], x = root, parent[x]
    return root


def _union_find(pairs) -> dict:
    """Driver-side union-find over an edge list (small-graph fast
    path; bounded by the small-row limit)."""
    parent: dict = {}

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = _uf_find(parent, a), _uf_find(parent, b)
        if ra != rb:  # union by min so the rep is the component min
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return parent


def _cc_star(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014):
    alternating rounds contract the graph toward per-component stars in
    O(log² n) rounds regardless of diameter.

    - large-star: m(u) = min(Γ(u) ∪ {u}) via a map-side-combined min
      agg; every neighbor v > u re-links to m(u) (join back on u).
    - small-star: edges canonicalized (hi, lo); m(hi) = min over its
      smaller neighbors; hi and every other small neighbor re-link
      to m(hi).

    Convergence = the edge set's count and order-independent hash are
    stable across a round; the final star edges give each node its
    component minimum directly. Output: (node, cluster_rep).
    """
    # symmetrize via ONE explode, not union(edges, swap(edges)) — the
    # union spelling evaluates the (possibly expensive) upstream edge
    # subplan twice; a candidate-pair producer like minhash LSH was
    # the whole front half of the distributed clustering runtime (r12)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("_e")
        )
        .select(F.col("_e.a").alias("a"), F.col("_e.b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # every endpoint, self-loops included (a node whose only edge is to
    # itself is its own component, as on the union-find route); consumed
    # once, at the very end, off the sym checkpoint
    all_nodes = sym.select(F.col("a").alias("node")).distinct()

    def edge_checksum(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count("*").alias("n"),
            # bit_xor: order-independent and overflow-free under ANSI
            F.coalesce(F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # canonical undirected edges (lo < hi): sym is symmetric and
    # distinct, so one orientation of it is exactly that set
    cur = sym.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("lo"), F.col("b").alias("hi")
    )
    prev_sum = edge_checksum(cur)
    converged = False
    # Measured dead end (r11, following the r10 verdict's suggestion):
    # coalescing each round's checkpointed edge frame to its measured
    # edge count (coalesce(1) at these graph sizes) SLOWED the kernel
    # 3.6 -> 5.2 s at sf0.1 — the narrow coalesce folds the round's
    # distinct/join reduce work into one task, which costs more than
    # the 32-task stage latency it saves. The 32-partition layout
    # stays.
    for _ in range(max_iter):
        both = cur.select(F.col("lo").alias("a"), F.col("hi").alias("b")).union(
            cur.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
        )
        # -- large-star --
        mins = (
            both.groupBy("a")
            .agg(F.min("b").alias("_mb"))
            .select("a", F.least("_mb", F.col("a")).alias("m"))
        )
        # no distinct here (r12): duplicate large-star edges are
        # absorbed by the min agg below and by ss's final distinct —
        # dropping it saves one shuffle per round (the duplicate
        # multiplicity is bounded by node degree, and the join fans
        # the SAME (lo, hi) pairs, never new ones)
        ls = (
            both.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(
                F.least("b", "m").alias("lo"), F.greatest("b", "m").alias("hi")
            )
            .filter(F.col("lo") != F.col("hi"))
        )
        # -- small-star over the large-star output --
        smins = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(smins, "hi")
            .select(F.col("lo").alias("v"), F.col("m"))
            .union(smins.select(F.col("hi").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(
                F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = ss
        cur_sum = edge_checksum(cur)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # The hi->lo member mapping below is only a valid labeling at
        # the star fixpoint — exiting via the range bound means the
        # labels may be WRONG, not just approximate.
        warnings.warn(
            f"connected components: large-star/small-star did not reach "
            f"the star fixpoint in max_iter={max_iter} rounds; labels may "
            f"be incorrect — raise max_iter",
            RuntimeWarning,
            stacklevel=3,
        )
    # final stars: every edge is (rep, node); nodes absent from any
    # edge (reps themselves / isolated after contraction) label self.
    member = cur.select(F.col("hi").alias("node"), F.col("lo").alias("rep"))
    return (
        all_nodes.join(member, "node", "left")
        .select(
            "node",
            F.coalesce("rep", F.col("node")).alias("cluster_rep"),
        )
    )


def dedup_clusters(
    candidates: DataFrame,
    src: str = "left_id",
    dst: str = "right_id",
    max_iter: int = 30,
) -> DataFrame:
    """Candidate pairs → per-document cluster assignment with sizes.

    Output: ``(doc_id, cluster_rep, cluster_size)`` for every document
    that appears in at least one candidate pair. Downstream keep/drop
    policy is then a trivial filter (``doc_id = cluster_rep`` keeps one
    representative per near-dup cluster). Routed like
    ``connected_components``.
    """
    small = driver_fetch(candidates.select(src, dst), DRIVER_LIMITS["small_rows"])
    if small is not None:
        # Small-graph fast path end to end: ONE materialization of the
        # candidate pairs; labels AND sizes resolve driver-side, zero
        # extra shuffles.
        parent = _union_find(_pairs(small))
        labels = {n: _uf_find(parent, n) for n in parent}
        sizes = Counter(labels.values())
        return _local_df(
            candidates.sparkSession,
            [(n, rep, sizes[rep]) for n, rep in labels.items()],
            ["doc_id", "cluster_rep", "cluster_size"],
        )
    comp = _cc_star(candidates, src, dst, max_iter)
    sizes = comp.groupBy("cluster_rep").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "cluster_rep")
        .select(
            F.col("node").alias("doc_id"),
            "cluster_rep",
            "cluster_size",
        )
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    id_col: str = "doc_id",
    round_dp: int = 8,
) -> DataFrame:
    """Deterministic fixed-iteration PageRank over a DIRECTED edge
    list (symmetrize before calling for undirected graphs) — the
    centrality lens on the near-dup graph: a document that
    near-matches many others is a template/boilerplate hub, exactly
    the doc a curation pass wants to inspect (cluster reps answer
    "which group", centrality answers "which document IS the
    pattern").

    Same oracle discipline as the Lloyd twin: fixed iterations,
    per-iteration rounding to ``round_dp`` (quantizes away
    float-summation-order noise so DuckDB replays the trajectory),
    lowest-possible determinism surface (no RNG, no convergence
    test). Simplification, documented: dangling/isolated mass is NOT
    redistributed — isolated nodes settle at (1-d)/N, which only
    rescales the ranking.

    Each iteration: contributions ride one equi-join of the slim
    (node, pr/deg) projection with the edge list, then one map-side-
    combined sum per destination — O(edges) shuffle per round, ONE
    job for the whole unrolled chain. Output: (id_col, pr).
    """
    # Materialize the edge list ONCE: it feeds deg + every iteration
    # (n_iter+1 consumers), and upstream edge derivations (e.g. the
    # full MinHash pipeline) must not re-run per round — same
    # checkpoint discipline as the connected-components loop above.
    edges = edges.localCheckpoint()
    n = nodes.count()  # bounded scalar: the node count
    base = (1.0 - damping) / n
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # The rank chain is LINEAR (each frame referenced exactly once by
    # the next), so the unrolled plan evaluates each round once with
    # no per-iteration action; r10 checkpointed every round, which
    # cost one eager job per iteration and measured 2x slower at
    # sf0.1 (3.2 s -> 1.5 s warm on the textrank graph). nodes is
    # checkpointed once: it feeds two subtrees per round.
    nodes_c = nodes.localCheckpoint()
    r = nodes_c.select(
        F.col(id_col).alias("node"),
        F.round(F.lit(1.0 / n), round_dp).alias("pr"),
    )
    for _ in range(n_iter):
        contrib = (
            edges.join(r, edges["src"] == r["node"])
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        r = (
            nodes_c.select(F.col(id_col).alias("node"))
            .join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce("c", F.lit(0.0)),
                    round_dp,
                ).alias("pr"),
            )
        )
    return r.select(F.col("node").alias(id_col), "pr")


def triangle_stats(
    pairs: DataFrame, left: str = "left_id", right: str = "right_id"
) -> DataFrame:
    """Triangle census of an undirected graph given as (left < right)
    edge pairs: edge/node/wedge/triangle counts and the global
    clustering coefficient 3·T / wedges (transitivity). On the
    near-dup graph this distinguishes DENSE duplicate blobs
    (clustering → 1: everything matches everything — true template
    clusters) from CHAINS of borderline matches (clustering → 0 —
    the LSH-transitivity artifacts a curator should re-verify).

    Distributed shape (compact-forward, Latapy 2008 — public
    literature): with edges oriented a < b, every triangle a < b < c
    is found exactly once by joining (a,b)⋈(b,c) on the middle vertex
    and closing with an equi-join on (a,c). Two hash equi-joins over
    the edge list — never a node-neighborhood crossJoin; the edge
    list is persisted across its three consumers (wedge-join sides
    and the closing probe). Integer aggregates throughout, so the
    oracle replays exactly.

    Output: single row (n_nodes, n_edges, n_wedges, n_triangles,
    clustering).
    """
    from resume_jd_matcher_spark.operators.dedup import _PERSISTED

    e = (
        pairs.select(F.col(left).alias("a"), F.col(right).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .persist()
    )
    # Registered with dedup's release list so bench loops reclaim the
    # edge cache via the same release_persisted() call.
    _PERSISTED.append(e)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    base = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum("deg") / F.lit(2)).cast("bigint").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / F.lit(2))
        .cast("bigint")
        .alias("n_wedges"),
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count("*").alias("n_triangles"))
    )
    out = base.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.lit(3.0)
            * F.col("n_triangles")
            / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).alias("clustering"),
    )
    return out


def local_clustering(
    pairs: DataFrame, left: str = "left_id", right: str = "right_id"
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998)
    of an undirected graph given as (left < right) edge pairs:
    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2. The
    node-level refinement of ``triangle_stats``' one-row global
    transitivity — on the near-dup graph it separates nodes inside
    dense template blobs (lcc → 1) from chain/bridge nodes
    (lcc → 0), the per-document signal a curator uses to decide
    which cluster members are safe to drop.

    Distributed shape: the same compact-forward triangle enumeration
    as ``triangle_stats`` (edges oriented a < b; each triangle found
    exactly once by two hash equi-joins), then each triangle row
    credits its THREE corners via one explode and a hash agg on the
    node id — never a neighborhood crossJoin. Degrees come from one
    explode+agg over the edge list; integer aggregates throughout so
    a SQL oracle replays exactly.

    Output: (node, deg, n_tri, lcc) for every node with deg ≥ 2,
    lcc rounded to 6 dp.
    """
    from resume_jd_matcher_spark.operators.dedup import _PERSISTED

    e = (
        pairs.select(F.col(left).alias("a"), F.col(right).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .persist()
    )
    _PERSISTED.append(e)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
    )
    out = (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - F.lit(1))).cast("double")
                + F.lit(1e-9),
                6,
            ).alias("lcc"),
        )
    )
    return out


def k_core(
    pairs: DataFrame,
    k: int = 3,
    n_rounds: int = 6,
    left: str = "left_id",
    right: str = "right_id",
) -> DataFrame:
    """Fixed-round k-core peel of an undirected (left < right) edge
    graph: repeatedly drop nodes with degree < k and the edges
    touching them (Seidman 1983; Batagelj-Zaversnik's peel, run a
    FIXED ``n_rounds`` so a SQL oracle can replay the trajectory as
    unrolled CTEs — the pagerank/Lloyd determinism discipline). On
    near-dup graphs the k-core isolates the dense template blobs
    from chains and pendants in 2-3 rounds; ``n_rounds`` defaults
    past observed convergence, and the last round's survivors carry
    their final in-core degree.

    Each round is one explode→hash-agg degree count plus two
    semi-joins of the edge list against surviving nodes — O(edges)
    per round, no neighborhood crossJoin; the edge frame is
    localCheckpointed per round to keep lineage flat (the CC-loop
    discipline).

    Output: (node, core_deg) for nodes surviving ``n_rounds`` peels.

    Cost-based routing (r13 — the ``connected_components`` /
    100k-edge LPA discipline): a near-dup candidate graph is usually
    a small fraction of the corpus, and each distributed peel round
    costs a checkpointed shuffle + two semi-joins of pure latency.
    When the deduped edge list fits on the driver (one bounded fetch,
    within the small-row limit) the identical fixed-round peel runs in
    one Python pass — exact integer degree counts, same edge-drop
    rule, same final filter, so the trajectory and output are
    bit-identical to the distributed loop. Above the bound the
    per-round loop runs unchanged.
    """
    dedup_e = (
        pairs.select(F.col(left).alias("a"), F.col(right).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    small = driver_fetch(dedup_e, DRIVER_LIMITS["small_rows"])
    if small is not None:
        return _k_core_local_df(pairs.sparkSession, _pairs(small), k, n_rounds)
    e = dedup_e.localCheckpoint()
    for _ in range(n_rounds):
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
    return (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )


def _k_core_local_df(spark, edges, k: int, n_rounds: int) -> DataFrame:
    """Driver-side twin of the distributed peel: identical fixed-round
    trajectory over a (bounded) deduped edge list."""
    es = list(edges)
    for _ in range(n_rounds):
        deg = Counter()
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n, d in deg.items() if d >= k}
        es = [(a, b) for a, b in es if a in keep and b in keep]
    final = Counter()
    for a, b in es:
        final[a] += 1
        final[b] += 1
    rows = [(n, d) for n, d in final.items() if d >= k]
    return _local_df(spark, rows, ["node", "core_deg"])


def label_propagation_sync(
    edges: DataFrame,
    n_iter: int = 4,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al.
    2007) over a SYMMETRIZED edge list: every node starts as its own
    label; each round every node adopts the most frequent label among
    its neighbors PLUS its own current label (the self-vote is the
    standard stabilizer — without it a symmetric pair 2-cycles
    forever), ties broken by the smallest label. Fixed ``n_iter``
    synchronized rounds, fully integer — the trajectory is exactly
    replayable (no RNG, no rounding, no convergence test).

    Cost-based routing, same philosophy as ``connected_components``:
    one bounded fetch doubles as the size probe — within the small-row
    limit the trajectory runs driver-side in one
    pass (each distributed round costs two shuffles, which at small
    edge counts is pure stage latency); above it, the DataFrame loop
    runs with the identical vote/tie semantics. Output: one row per
    node ``(node, community)``.
    """
    small = driver_fetch(edges.select(src, dst), DRIVER_LIMITS["small_rows"])
    if small is not None:
        return _lpa_local_df(edges.sparkSession, _pairs(small), n_iter)
    return _lpa_distributed(edges, n_iter, src, dst)


def _lpa_local_df(spark, pairs, n_iter: int) -> DataFrame:
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, [])
    lbl = {v: v for v in nbrs}
    for _ in range(n_iter):
        new = {}
        for v, ns in nbrs.items():
            votes: dict = {lbl[v]: 1}  # self-vote
            for u in ns:
                votes[lbl[u]] = votes.get(lbl[u], 0) + 1
            # max count, then min label
            new[v] = min(votes, key=lambda k: (-votes[k], k))
        lbl = new
    return _local_df(spark, sorted(lbl.items()), ["node", "community"])


def _lpa_distributed(
    edges: DataFrame, n_iter: int, src: str, dst: str
) -> DataFrame:
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # self-loop = the self-vote; flat lineage so each round is
    # O(edges), not a replay of the upstream edge derivation
    e = sym.unionByName(
        sym.select("a").distinct().select("a", F.col("a").alias("b"))
    ).localCheckpoint()
    labels = e.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(n_iter):
        votes = (
            e.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a", "lbl")
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        # top-1 as a max_by aggregate: one map-side-combinable
        # shuffle per round; (c, -lbl) is unique per node so the pick
        # is deterministic (max count, then min label)
        labels = votes.groupBy(F.col("a").alias("node")).agg(
            F.max_by(
                "lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))
            ).alias("lbl")
        )
    return labels.select("node", F.col("lbl").alias("community"))
