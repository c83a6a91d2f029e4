"""Iterative graph algorithms: connected components for dedup closure.

`minhash_dedup` uses greedy victim selection (drop the higher id of each
similar pair) — correct for pairs but not transitive: a~b, b~c, a!~c keeps
{a, c} even though all three are one duplicate cluster. Full clustering is
connected components over the similarity graph; CC is inherently iterative,
so this is the engine's representative iterative-algorithm pattern:

- large-star / small-star edge contraction (Kiveris et al. 2014): each
  round is one window over the CURRENT, geometrically shrinking edge set;
  O(log² n) rounds, 2-4 alternation cycles on real dup graphs.
- a driver finish: an input of at most `_LOCAL_EDGES` edge rows is
  closed by a min-root union-find in numpy instead — below that size a
  round is fixed engine cost around no compute.
- `localCheckpoint` each round truncates the lineage — without it the plan
  doubles every iteration and the driver OOMs on plan compilation long
  before data is a problem (the classic iterative-Spark trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# edge rows at or below which connected_components finishes on the driver
_LOCAL_EDGES = 2_000_000


def _min_roots(n: int, a, b):
    """Min-root union-find over ``n`` nodes and the edges (a[i], b[i]):
    hook each root onto the smallest root it shares an edge with, jump
    every node to its root, repeat until no edge joins two roots. Hooks
    point to smaller indices, so each root is its component's minimum."""
    import numpy as np

    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return parent
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(parent[parent], parent):
            parent = parent[parent]


def _driver_components(spark, t, id_field: StructField) -> DataFrame:
    """(id, component) over the collected (u, v) Arrow table ``t``; a null
    endpoint is never an edge and any null adds one (null, null) row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    u, v = t.column("u"), t.column("v")
    ids = np.unique(np.concatenate([u.drop_null().to_numpy(), v.drop_null().to_numpy()]))
    both = pc.and_(pc.is_valid(u), pc.is_valid(v))
    a, b = (np.searchsorted(ids, c.filter(both).to_numpy()) for c in (u, v))
    cols = [pa.array(ids), pa.array(ids[_min_roots(len(ids), a, b)])]
    if u.null_count or v.null_count:
        cols = [pa.concat_arrays([c, pa.nulls(1, c.type)]) for c in cols]
    comp = StructField("component", id_field.dataType, id_field.nullable)
    return spark.createDataFrame(
        pa.table(cols, names=["id", "component"]), StructType([id_field, comp])
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by star contraction with a driver finish.

    ``edges`` is an undirected pair list; returns (id, component) with
    component = the minimum node id in each component. A null endpoint
    is never an edge: it yields one (null, null) row.

    **Eager at construction**: this function runs the contraction loop
    (and therefore EXECUTES the caller's full upstream edge plan via
    an eager ``localCheckpoint``) as soon as it is called — the returned
    DataFrame is the already-converged label table, not a lazy plan.
    Callers building plans speculatively (e.g. for ``explain()`` only)
    pay the full compute up front. This is deliberate: deriving the
    iteration state lazily re-evaluated the upstream pair join during
    iteration 0 and the first convergence check (measured 43 s → 17 s
    warm on pj1 at sf0.1 from checkpointing first).

    Algorithm: alternating large-star / small-star edge contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    2014 — adopted round 13 over the previous min-label+pointer-jumping
    loop on measured evidence, SCALING.md round-13 CC section):

    - large-star(u): with m = min(N(u) ∪ {u}), re-hang every STRICTLY
      LARGER neighbor on m — emit (v, m) for v ∈ N(u), v > u.
    - small-star(u): orient edges (hi, lo); with m = min of u's smaller
      neighbors, emit (lo, m) for each smaller neighbor plus (u, m).
      Each small-star round then adds pointer-jump SHORTCUT edges
      (u, p(v)) for every surviving edge (u, v) whose root v is itself
      a child — the path-doubling device that keeps deep chains
      O(log diameter) in practice (see the inline measurement).

    Each round is one node-keyed min aggregate plus one edges⋈mins
    join on the CURRENT edge set — and the edge set CONTRACTS
    geometrically (measured on pj1's 10.5M-pair dup graph at the 10×
    decade: 10.5M → 260k → 37k → 32k fixpoint), so rounds after the
    first cost domain-sized work: O(|E|) moves in round 0, only the
    contracted remainder afterwards. Convergence (Kiveris Thm. 1/2):
    the alternation reaches the star fixpoint — every edge (node,
    component-min) — in O(log² n) rounds; real dup graphs
    (near-cliques + short chains) take 2-4 alternation cycles.
    The loop stops when the edge-set signature (count + hash sum) is
    unchanged through a full large+small cycle, checked only after
    small-star rounds so the surviving orientation is always
    (child, root). Every frame is localCheckpoint-ed per round:
    lineage stays flat (the classic iterative-Spark trap is plan
    growth, not data).

    ``max_iterations`` bounds ALTERNATION ROUNDS (one star operation
    each); the default 20 covers ten full cycles — far beyond any
    measured dup graph.

    Driver finish: an input of at most ``_LOCAL_EDGES`` rows is
    collected through Arrow and closed by `_min_roots` (3 jobs where the
    rounds took 37 on a 14-node graph); a larger one runs the rounds.
    Python-side driver memory per edge: 16 B of Arrow plus a numpy peak
    of 65 B on pj1's 964,854 pairs at sf0.1 (0.14 s), 99 B for 2M edges
    over 4M ids — about 230 MB at the bound. The driver JVM holds more
    on top (not measured): it buffers the collected Arrow batches, and the result frame
    goes back through it (above ~48 MB, Spark's Arrow local-relation
    threshold, as one partition per 10,000 rows: 400 at the bound).
    """
    import warnings

    # ONE materialization of the caller's plan; the driver finish, the
    # active edge set and the node set all derive from it. Deriving any
    # of them from the pre-checkpoint `edges` re-runs the caller's pair
    # join per branch (43s → 17s warm on pj1's PPJoin pairs at sf0.1;
    # an `edges`-derived node set OOM'd pj1's sf0.1 sweep in r13).
    raw = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    nodes = raw.select(F.col("u").alias("id")).union(
        raw.select(F.col("v").alias("id"))
    )
    # size the input in one job over the checkpointed blocks (the
    # DataFrame count() adds a shuffle and, under AQE, a second job);
    # only an input that fits is collected (toArrow is Arrow whatever
    # the session's pandas conf says)
    if raw._jdf.queryExecution().toRdd().count() <= _LOCAL_EDGES:
        return _driver_components(
            raw.sparkSession, raw.toArrow(), nodes.schema["id"]
        )
    e0 = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the original node set: self-loop-only and null-endpoint nodes
    # never enter the ACTIVE edge set (the filter above drops them) —
    # they are re-attached as their own component at the end
    all_nodes = nodes.distinct().localCheckpoint(eager=False)

    from pyspark.sql import Window

    e = e0
    prev_sig: tuple | None = None
    prev_n: int | None = None
    converged = False
    it = 0
    for it in range(max_iterations):
        # Star rounds compute a per-node neighbor minimum and re-key
        # every edge by it. Round 14: that is ONE window over the edge
        # frame partitioned by the node — the previous groupBy+self-join
        # form shuffled the edge set TWICE per round (once into the min
        # aggregate, once into the join probe) plus two sort-merge sorts;
        # the window pays one Exchange + one sort for the same rows
        # (guide §2.4: two operations keyed the same way share one
        # exchange — a window IS the aggregate+join fused). Skew posture
        # unchanged: a hot node's rows landed on one reducer under the
        # join too; WindowExec spills per group.
        if it % 2 == 0:  # large-star
            sym = e.union(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            w = Window.partitionBy("u")
            out = (
                sym.select(
                    "u",
                    "v",
                    F.least(F.min("v").over(w), F.col("u")).alias("m"),
                )
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
        else:  # small-star + pointer-jump shortcut
            hi_lo = e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            # ordered window: the running min over (u ORDER BY v) equals
            # the group min at EVERY row (row 1 is the min), and rn==1
            # tags exactly one row per group to emit the (u, m) self
            # edge — same rows as the old groupBy+join+union, one pass
            wv = Window.partitionBy("u").orderBy("v")
            ranked = hi_lo.select(
                "u",
                "v",
                F.min("v").over(wv).alias("m"),
                F.row_number().over(wv).alias("rn"),
            )
            child = F.struct(F.col("v").alias("u"), F.col("m").alias("v"))
            self_edge = F.struct(F.col("u").alias("u"), F.col("m").alias("v"))
            small = (
                ranked.select(
                    F.explode(
                        F.when(
                            F.col("rn") == 1, F.array(child, self_edge)
                        ).otherwise(F.array(child))
                    ).alias("s")
                )
                .select(F.col("s.u").alias("u"), F.col("s.v").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                # lazy inner checkpoint: both jump branches below share
                # the ONE materialization (same RDD), so small-star work
                # is not re-evaluated per branch
                .localCheckpoint(eager=False)
            )
            # pointer jump: for each edge (u, v) with v itself a child
            # (p = v's min root), ADD the shortcut (u, p). Connectivity
            # is preserved (shortcuts only), the star fixpoint is
            # untouched (roots have no parent row), and deep chains
            # contract in ~2/3 the rounds (measured: a 200/1000/5000-hop
            # path converges in 12/14/16 rounds vs 18/22/28 plain) at
            # the cost of one min-agg + one join on the CONTRACTED set.
            parent = small.groupBy("u").agg(F.min("v").alias("p"))
            out = small.union(
                small.join(
                    parent.select(F.col("u").alias("v"), "p"), "v"
                ).select(F.col("u"), F.col("p").alias("v"))
            )
        # lazy checkpoint: the signature aggregate right below is the
        # materializer, so each round costs ONE job; lineage is cut
        e = (
            out.filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # xxhash64 cast to decimal before the sum: summed raw BIGINTs
        # overflow int64 on a few million edges, an error under the
        # driver session's ANSI mode
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        # fixpoint test only after a small-star round: the alternation
        # is the unit, and the star edges are (child, root) there
        if it % 2 == 1:
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
            # STRUCTURAL early exit (round-13 optimization — measured
            # 2-3 confirmation rounds ≈ 1-1.5 s per CC call on the dup
            # graphs): after a small-star round every edge is oriented
            # (child > parent), so the set is a disjoint union of stars
            # iff (a) each child has exactly one edge and (b) no parent
            # is itself a child. A disjoint star union is ALREADY the
            # Kiveris fixpoint — large-star re-hangs nothing (every
            # neighbor of a child is its smaller root), small-star
            # re-emits the same edges, and each root is its star's
            # minimum (orientation) = its component's minimum
            # (contraction preserves connectivity). Gated on the edge
            # COUNT being unchanged from the immediately-preceding
            # large round, so the two tiny probe jobs never run on the
            # big early rounds.
            if sig[0] == prev_n:
                multi_child = (
                    e.groupBy("u")
                    .agg(F.count(F.lit(1)).alias("c"))
                    .filter(F.col("c") > 1)
                )
                parent_is_child = e.select("v").join(
                    e.select(F.col("u").alias("v")), "v", "left_semi"
                )
                if multi_child.isEmpty() and parent_is_child.isEmpty():
                    converged = True
                    break
        prev_n = sig[0]
    if not converged and it >= max_iterations - 1:
        warnings.warn(
            f"connected_components did not reach a fixed point in "
            f"{max_iterations} rounds — component labels may be split; "
            f"raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    # star edges are (child, root); roots label themselves, and nodes
    # outside the active set are singletons of their own minimum —
    # exactly the (id, component) contract
    star = e.select(
        F.col("u").alias("id"), F.col("v").alias("component")
    ).union(
        e.select(F.col("v").alias("id"), F.col("v").alias("component"))
    ).groupBy("id").agg(F.min("component").alias("component"))
    return all_nodes.join(star, "id", "left").select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
    )


def dedup_clusters(
    similar_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Duplicate clusters from a similar-pair list: (doc id, canonical id)
    where canonical = min doc id of the transitive cluster. Docs not in any
    pair are absent (they are their own canonical)."""
    return connected_components(similar_pairs, src, dst).select(
        F.col("id").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def transitive_minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Full transitive near-dedup: minhash pairs → connected components →
    keep each cluster's min-id representative. The exact-closure variant of
    `dedup.minhash_dedup` (which is greedy/pairwise)."""
    from .dedup import estimate_jaccard, lsh_candidate_pairs, minhash_signatures

    sigs = minhash_signatures(df, text_col, id_col).cache()
    pairs = lsh_candidate_pairs(sigs, id_col)
    sims = estimate_jaccard(sigs, pairs, id_col).filter(
        F.col("est_jaccard") >= threshold
    )
    clusters = dedup_clusters(sims)
    sigs.unpersist()  # the clusters are computed eagerly: nothing reads sigs
    victims = clusters.filter(F.col("doc_id") != F.col("canonical_id")).select(id_col)
    return df.join(victims, id_col, "left_anti")


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    reuse_edges: bool = True,
) -> DataFrame:
    """Global triangle count plus per-node participation over an
    undirected edge list — the density diagnostic for duplicate-pair
    graphs (template clusters are near-cliques: triangles explode;
    chains of drifting near-dups have none).

    The classic distributed lowering: orient every edge low→high (kills
    duplicate counting), join edges(a<b) with edges(b<c) to enumerate
    open wedges, then semi-join the closing edge (a<c). Cost is
    Σ deg(v)²/2 wedges — the standard bound; for power-law graphs cap the
    wedge explosion upstream with the same max-degree pruning cc2's hub
    report informs. Returns one row per node in ≥1 triangle plus the
    total under node id -1.

    Plan shape: the oriented edge list feeds THREE branches (ab/bc/ac)
    whose projections diverge before their first exchange and shuffle on
    different keys, so ReusedExchange cannot dedup them — without reuse
    the upstream edge build (for LSH graphs: the whole shingle/minhash/
    band pipeline) runs three times. ``reuse_edges`` applies the measured
    SCALING.md rule and localCheckpoints the edge list once. The global
    total derives from Σ per-node participation ÷ 3 (each triangle
    contributes exactly 3), so the wedge join runs once, not twice.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if reuse_edges:
        e = e.localCheckpoint(eager=False)
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (
        ab.join(bc, "b")
        .join(ac, ["a", "c"], "left_semi")
        .select("a", "b", "c")
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    total = per_node.agg(
        F.lit(-1).cast(per_node.schema["id"].dataType).alias("id"),
        F.expr("coalesce(sum(n_triangles), CAST(0 AS BIGINT)) div 3").alias(
            "n_triangles"
        ),
    )
    return per_node.unionAll(total)


def pagerank_quantized(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 3,
    damping: float = 0.85,
    quant: int = 1_000_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank with ORDER-INDEPENDENT arithmetic: ranks
    live as 1e-9-quantized BIGINTs, per-edge contributions are integer
    divisions (pr DIV degree), and each damping step re-quantizes with
    floor(d·S + 0.5) — so partial-aggregation order cannot change a
    single bit and the result is reproducible by any engine (the same
    discipline as st3's entropy / dr1's PSI, applied to an iterative
    algorithm). Undirected: each edge contributes both ways.

    Per iteration: one edges-sized join + one target-keyed sum
    (map-side combined) + a nodes-sized left join; lineage truncated
    with localCheckpoint like connected_components. The mass lost to
    integer division (< degree ranks per node) is deterministic and
    identical cross-engine — this is a ranking signal, not a
    probability measure.
    """
    bi = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = bi.select(F.col("u").alias("id")).distinct()
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("__deg"))
    totals = nodes.agg(F.count(F.lit(1)).alias("__n"))
    # (1-d)*q is computed as the two-step double expression on BOTH
    # engines (literal 0.15e9 differs from (1.0-0.85)*1e9 in the last ULP)
    base_expr = F.floor(
        (F.lit(1.0 - damping) * F.lit(float(quant)))
        / F.col("__n").cast("double")
        + F.lit(0.5)
    ).cast("long")
    init_expr = F.floor(
        F.lit(float(quant)) / F.col("__n").cast("double") + F.lit(0.5)
    ).cast("long")
    pr = nodes.crossJoin(F.broadcast(totals)).select(
        "id", init_expr.alias("pr_q")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contribs = (
            bi.join(deg, "u")
            .join(pr.select(F.col("id").alias("u"), "pr_q"), "u")
            .select(F.col("v").alias("id"), F.expr("pr_q DIV __deg").alias("__c"))
            .groupBy("id")
            .agg(F.sum("__c").alias("__s"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(totals))
            .join(contribs, "id", "left")
            .select(
                "id",
                (
                    base_expr
                    + F.floor(
                        F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0)).cast("double")
                        + F.lit(0.5)
                    ).cast("long")
                ).alias("pr_q"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.select(
        "id", "pr_q", (F.col("pr_q") / F.lit(float(quant))).alias("pagerank")
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "id",
    label_col: str = "label",
    iterations: int = 3,
) -> DataFrame:
    """Semi-supervised label propagation (weak supervision / label
    spreading): seed nodes keep their labels; every other node takes the
    MAJORITY label among its labeled neighbors each round, ties broken
    toward the lexicographically smallest label — fully deterministic,
    so the iterative result gets an exact oracle (the same list-state
    recursive-CTE technique as pagerank_quantized).

    Per iteration: one edges-sized join + a (node, label)-keyed count
    (map-side combined) + a min-struct argmax — no windows, no driver
    state; lineage truncated per round. Unlabeled nodes with no labeled
    neighbor stay NULL and may label in a later round (frontier
    expansion ≈ BFS from the seed set).
    """
    bi = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = bi.select(F.col("u").alias(id_col)).distinct()
    seed = seeds.select(F.col(id_col), F.col(label_col).alias("__seed"))
    labels = nodes.join(seed, id_col, "left").select(
        id_col, F.col("__seed").alias("__lbl")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        votes = (
            bi.join(
                labels.select(F.col(id_col).alias("v"), "__lbl"), "v"
            )
            .filter(F.col("__lbl").isNotNull())
            .groupBy(F.col("u").alias(id_col), "__lbl")
            .agg(F.count(F.lit(1)).alias("__n"))
            .groupBy(id_col)
            .agg(
                F.min(
                    F.struct((-F.col("__n")).alias("neg"), F.col("__lbl").alias("l"))
                )["l"].alias("__maj")
            )
        )
        labels = (
            labels.join(votes, id_col, "left")
            .join(seed, id_col, "left")
            .select(
                id_col,
                F.coalesce(
                    F.col("__seed"), F.col("__lbl"), F.col("__maj")
                ).alias("__lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select(F.col(id_col), F.col("__lbl").alias(label_col))


def k_core(
    edges: DataFrame,
    k: int = 3,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """k-core decomposition by iterative peeling: drop every node with
    undirected degree < k, recompute degrees on the surviving subgraph,
    repeat to fixpoint. Returns (id, core_degree) for the nodes of the
    k-core, with their degree INSIDE the core — the "dense template
    cluster" extractor for duplicate-pair graphs (a k-core survives even
    after its weakest members are peeled; triangle counts flag density,
    k-cores delimit it).

    Scale shape: each round is one degree aggregate plus two semi-joins
    of the edge list against the (node-sized, broadcast) survivor set,
    with the shrinking edge list localCheckpointed per round exactly as
    connected_components does — no round ever joins edges×edges.
    Peeling converges in O(max degeneracy ordering depth) rounds; real
    dup graphs (near-cliques + chains) converge in a handful.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        deg = (
            e.select(F.col("u").alias("id"))
            .unionAll(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        ).localCheckpoint(eager=False)
        # ONE aggregate job per round decides the fixpoint (was two:
        # deg.count() + keep.count() — round-13 job-count trim); the agg
        # also materializes deg's lazy checkpoint for the reuse below
        counts = deg.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("deg") >= k).alias("nk"),
        ).collect()[0]
        n_nodes, n_keep = counts["n"], counts["nk"]
        keep = deg.filter(F.col("deg") >= k).select("id")
        if n_keep == n_nodes:  # fixpoint (also terminates on empty graph)
            return deg.filter(F.col("deg") >= k).select(
                "id", F.col("deg").cast("long").alias("core_degree")
            )
        e = (
            e.join(F.broadcast(keep.withColumnRenamed("id", "u")), "u", "left_semi")
            .join(F.broadcast(keep.withColumnRenamed("id", "v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(f"k_core did not converge in {max_iterations} rounds")


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY source node to every
    node reachable within ``max_hops`` on the UNDIRECTED graph. Returns
    ``(id, hops)`` — sources themselves at hops 0. The level-synchronous
    frontier expansion every distributed graph engine uses (Pregel
    supersteps): each round is one frontier⋈edges equi-join, one distinct,
    one anti-join against the visited set.

    Scale shape: the edge list is symmetrized, hash-partitioned on the
    join side ONCE and localCheckpointed, so every round's frontier join
    reuses that partitioning instead of reshuffling the (big) edge list;
    only the (small) frontier and visited sets move per round. Lineage is
    truncated per round exactly as `connected_components` does — the
    iterative-Spark trap is plan growth, not data.

    ``sources`` must have a single column named ``id``.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition("a")
        .localCheckpoint(eager=False)
    )
    frontier = sources.select("id").distinct().localCheckpoint(eager=False)
    visited = frontier.withColumn("hops", F.lit(0).cast("long")).localCheckpoint(
        eager=False
    )
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(
            nxt.withColumn("hops", F.lit(h).cast("long"))
        ).localCheckpoint(eager=False)
        frontier = nxt
    return visited
