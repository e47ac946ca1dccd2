"""Connected components over duplicate-pair edges (cluster dedup).

Near-dup pair lists (MinHash/SimHash output) need to become clusters
("keep one doc per component") before a corpus can be filtered.  This
is iterative — not expressible as one SQL query — so it runs as a
driver-coordinated loop of pure DataFrame joins:

  labels(v) = v initially
  repeat: labels(v) = min(labels(v), min over neighbors' labels)
  until no label changes.

Each iteration is one shuffle (join edges->labels + groupBy-min); the
loop converges in O(component diameter) rounds — near-dup clusters
are shallow (most are 2-5 docs), so 3-6 rounds in practice.  Each
round eagerly checkpoints its labels (``_cache.checkpoint``),
truncating lineage so Catalyst never re-plans the accumulated loop.
Round 0 is seeded with min(id, min neighbor) (one aggregation, no
join), and every later round combines the edge relaxation with a
pointer jump (comp ← comp(comp)), the shortcutting idea from [Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14] —
remaining diameter halves per round, so convergence is O(log d) driver
round-trips instead of O(d).

Reference analogue: none; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from occupation_wage_etl_spark.operators._cache import cached, checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) for every vertex in ``edges``; component = min
    reachable vertex id.  Vertices not in any edge are absent (callers
    union singletons back if needed)."""
    # materialize the edge list ONCE before symmetrizing: the union reads
    # its input twice, and edge lists typically arrive as expensive
    # pipelines (LSH candidate joins) that must not be recomputed per
    # branch — or per iteration below.
    mat = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(checkpoint)
    sym = (
        mat.union(mat.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .transform(cached)
    )
    # round 0 seeds comp = min(id, min neighbor) with a single aggregation
    # (every neighbor's label is its own id initially, so the first relax
    # round needs no join) — saves one full join round.
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("nmin"))
        .select(
            F.col("u").alias("id"),
            F.least(F.col("u"), F.col("nmin")).alias("comp"),
        )
        .transform(checkpoint)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u")
            .agg(F.min("comp").alias("nmin"))
        )
        # pointer jump: comp(comp(id)) — composing label chains halves the
        # remaining diameter each round (O(log d) rounds instead of O(d)),
        # at the cost of one extra equi-join per round.  comp is always a
        # vertex id, so the self-join key always resolves.
        jump = labels.select(
            F.col("id").alias("pid"), F.col("comp").alias("pcomp")
        )
        # the convergence count rides the checkpoint job (one job per
        # round, no probe plan whose generated code varies per call)
        changed = Observation()
        labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .join(jump, labels.comp == jump.pid, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"),
                    F.coalesce(F.col("nmin"), F.col("comp")),
                    F.coalesce(F.col("pcomp"), F.col("comp")),
                ).alias("comp"),
                F.col("comp").alias("prev"),
            )
            .observe(
                changed,
                F.count_if(F.col("comp") != F.col("prev")).alias("n"),
            )
            .transform(checkpoint)  # eager: truncates lineage
            .select("id", "comp")
        )
        if changed.get["n"] == 0:
            break
    sym.unpersist()
    return labels.select(F.col("id"), F.col("comp").alias("component"))


def triangle_counts(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    deg: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle participation over an undirected edge list —
    the clustering-coefficient numerator (cohesion of near-dup
    neighborhoods; a cluster whose nodes close many triangles is a
    tight duplicate clique, a star is one template touching many docs).

    ``edges`` must be canonical (src < dst, no duplicates).  Edges are
    re-oriented by DEGREE rank (degree asc, id asc — the standard
    node-iterator++ optimization): wedges are enumerated only at each
    triangle's LOWEST-degree corner, so hub nodes never fan out and the
    wedge count is bounded by Σ out-deg² with out-deg = O(√m), instead
    of the Σ deg² an id-orientation pays (which goes quadratic exactly
    when near-dup graphs grow template hubs — an 83× wall-time blowup
    at 10× data in the sf1 rehearsal).  Per-node triangle COUNTS are
    orientation-invariant, so results (and the oracle) are unchanged.

    Plan: one degree aggregate joined back to both endpoints, a wedge
    self-join on the low corner, and a semi-join closing the third
    edge — all equi-joins on node keys.

    ``deg`` (optional): a precomputed UNFILTERED (node, d) degree table
    over the same edge list — callers that already aggregate degrees
    (clustering_coefficient) pass theirs so the union+groupBy runs once.

    Returns (node, n_triangles) for nodes in >= 1 triangle.
    """
    # persist the canonical edge list: degrees, orientation, the wedge
    # self-join AND the closing semi-join all consume it — without the
    # persist the (often expensive) upstream pair-generation pipeline
    # recomputes once per consumer.
    e0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(cached)
    if deg is None:
        deg = (
            e0.select(F.col("u").alias("node"))
            .unionAll(e0.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = e0.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("da"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).transform(cached)
    w1 = oe.select("a", F.col("b").alias("x"), F.col("db").alias("dx"))
    w2 = oe.select("a", F.col("b").alias("y"), F.col("db").alias("dy"))
    wedges = w1.join(w2, "a").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oe.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi").select(
        F.col("a"), F.col("x").alias("b"), F.col("y").alias("c")
    )
    # ONE pass over the triangle stream: explode the 3 corners inline
    # instead of unionAll of three projections — the union re-executed
    # the wedge join + closing semi-join once per branch (r12, measured
    # +1.5 s of q80's 4.7 s at sf0.1).  Same corner multiset, same
    # counts.
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which
    every node has degree ≥ k — the standard graph-curation filter for
    separating tightly-knit duplicate/template cliques (high core) from
    incidental near-dup links (shed in the first peels).

    Iterative peel: each round computes degrees over surviving edges
    and drops every node below k TOGETHER (the classic simultaneous
    peel — order-independent, so the result is deterministic and
    engine-portable).  Each round is one hash aggregate + two semi-joins
    keyed by node id, checkpointed to truncate lineage; the loop exits
    as soon as a round drops nobody.  Rounds needed = peel depth of the
    graph (shallow for near-dup graphs; bounded by ``max_rounds`` as a
    safety stop).

    Returns (node, core_degree): nodes of the k-core with their degree
    INSIDE the core (≥ k by construction).
    """
    mat = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(checkpoint)
    sym = mat.union(
        mat.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(checkpoint)

    alive = sym
    deg = alive.groupBy("u").agg(F.count(F.lit(1)).alias("core_degree"))
    converged = False
    for _ in range(max_rounds):
        keep = deg.filter(F.col("core_degree") >= k).select("u")
        dropped = (
            deg.filter(F.col("core_degree") < k).limit(1).count()
        )
        if dropped == 0:
            converged = True
            break
        alive = (
            alive.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .transform(checkpoint)
        )
        deg = alive.groupBy("u").agg(F.count(F.lit(1)).alias("core_degree"))
    if not converged and deg.filter(F.col("core_degree") < k).limit(1).count():
        # A silent return here would be a SUPERSET of the k-core (nodes
        # whose degree only drops below k in later peels) — and any
        # fixed-unroll oracle replaying the same rounds would quietly
        # agree with the wrong answer.  Fail loudly instead; peel depth
        # > max_rounds means the graph needs a bigger budget.
        raise RuntimeError(
            f"k_core did not converge within max_rounds={max_rounds}; "
            "raise max_rounds (peel depth exceeds the round budget)"
        )
    return deg.filter(F.col("core_degree") >= k).select(
        F.col("u").alias("node"), "core_degree"
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank over an undirected edge list, in FIXED-POINT integer
    arithmetic so results are bit-identical across engines, reruns, and
    partition orders (float PageRank sums neighbor contributions in
    shuffle order — nondeterministic at the ULP level).

    Ranks are integers scaled by ``scale`` (1e-12 resolution); damping
    is the exact rational ``damping_num/damping_den`` (default 17/20 =
    0.85).  Every update is integer multiply + floor division + exact
    integer sums:

        contrib(v)   = r(v) div deg(v)
        r'(v)        = (scale*(den-num)) div (den*n)
                       + (num * Σ_in contrib) div den

    The floor truncation loses < deg(v) * 1e-12 rank per round —
    immaterial for ranking, decisive for determinism.

    Scale shape per iteration: one shuffle join (contribs onto edges)
    + one hash agg keyed by node — the same shape as
    :func:`connected_components` but with a FIXED round count (no
    convergence job), so the driver never blocks on a count between
    rounds.  Isolated nodes (no edges) are out of scope — callers
    union them back at (1-d)/n if needed.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()

    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))

    ranks = deg.crossJoin(F.broadcast(n_nodes)).select(
        "u", "deg", "n",
        F.expr(f"CAST({scale} AS BIGINT) div n").alias("rank"),
    )
    for _ in range(iters):
        contribs = ranks.select(
            "u", F.expr("rank div deg").alias("contrib")
        )
        inbox = (
            sym.join(contribs, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            ranks.select("u", "deg", "n")
            .join(inbox, "u", "left")
            .select(
                "u", "deg", "n",
                (
                    F.expr(
                        f"CAST({scale * (damping_den - damping_num)} AS BIGINT)"
                        f" div (CAST({damping_den} AS BIGINT) * n)"
                    )
                    + F.expr(
                        f"(CAST({damping_num} AS BIGINT)"
                        f" * coalesce(s, CAST(0 AS BIGINT))) div {damping_den}"
                    )
                ).alias("rank"),
            )
        )
    return ranks.select(
        F.col("u").alias("node"),
        F.col("rank").alias("rank_scaled"),
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_degree: int = 1000,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge list: for
    every NON-adjacent pair (u, v) sharing >= 1 neighbor, score

        AA(u, v) = sum over common neighbors w of 1 / ln(deg(w))

    — the standard "which docs are probably duplicates we missed"
    readout over a near-dup graph (high AA = many tightly-connected
    mutual neighbors).

    Shape: one degree aggregate, a wedge self-join enumerated AT the
    common neighbor (so each candidate pair is found once per shared
    neighbor), an anti-join removing already-adjacent pairs, then a
    per-pair fold.  Hub neighbors are dropped BEFORE the wedge join
    (``deg > max_degree`` — a boilerplate template touching thousands
    of docs emits deg^2 wedges and carries ~zero AA weight anyway,
    1/ln(d) -> 0); that cap is what bounds the join output at corpus
    scale, the same policy as the MinHash band caps.  The per-pair
    1/ln(d) fold runs over the SORTED common-neighbor degree array
    (neighborhood-sized) so the double sum is order-deterministic in
    any engine.

    Returns (id_a, id_b, n_common, aa_score), id_a < id_b, scores > 0.

    The input edge list is canonicalized defensively (least/greatest +
    distinct, self-loops dropped) — a reversed or duplicated edge would
    otherwise survive the adjacency anti-join and be reported as a
    predicted link, and duplicate edges would double-count wedges.
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(cached)
    )
    sym = e0.unionAll(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("w")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # wedge enumeration at the common neighbor w, hubs pre-filtered
    nbrs = (
        sym.select(F.col("v").alias("w"), F.col("u").alias("n"))
        .join(F.broadcast(deg.filter(F.col("d") <= max_degree)), "w")
        .transform(cached)
    )
    a = nbrs.select("w", "d", F.col("n").alias("id_a"))
    b = nbrs.select("w", F.col("n").alias("id_b"))
    wedges = a.join(b, "w").filter(F.col("id_a") < F.col("id_b"))
    cand = wedges.join(e0.select(
        F.col("u").alias("id_a"), F.col("v").alias("id_b")
    ), ["id_a", "id_b"], "left_anti")
    return (
        cand.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            # ln() is not correctly-rounded-mandated by IEEE 754 — JVM
            # Math.log and libm differ by 1 ULP on some inputs — so the
            # score is 6dp-rounded, the repo's standard policy for
            # transcendental folds (see queries.py header).
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("d")),
                    F.lit(0.0),
                    lambda acc, d: acc
                    + F.lit(1.0) / F.log(d.cast("double")),
                ),
                6,
            ).alias("aa_score"),
        )
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int,
    node_col: str = "node",
    seed_col: str = "seed_label",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Semi-supervised label spread: seed labels on a subset of nodes,
    then ``rounds`` synchronous votes — every UNSEEDED node takes the
    most frequent label among its labeled neighbors (ties -> smallest
    label; seeds never change).  The standard trick for pushing a
    quality/topic label through a near-dup graph when only a slice is
    labeled.

    Synchronous + deterministic tie-break makes the result independent
    of partitioning and engine-portable (an unrolled SQL oracle
    replaying the same rounds gets bit-identical labels), unlike the
    classic async LPA.  Each round is one edge->label join + one
    count/argmax aggregate, checkpointed to truncate lineage.

    ``nodes``: (node_col, seed_col) with seed_col NULL for unseeded.
    Returns (node, label, seeded) for all nodes labeled after
    ``rounds`` (unreached nodes are absent).
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .transform(checkpoint)
    )
    seeds = (
        nodes.select(
            F.col(node_col).alias("node"),
            F.col(seed_col).alias("label"),
        )
        .filter(F.col("label").isNotNull())
        .transform(checkpoint)
    )
    labels = seeds.withColumn("seeded", F.lit(True))
    for _ in range(rounds):
        votes = (
            sym.join(
                labels.select(F.col("node").alias("v"), "label"), "v"
            )
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        # argmax votes, ties -> smallest label; seeds override
        best = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n_votes")).alias("neg"),
                        F.col("label").alias("label"),
                    )
                ).alias("top")
            )
            .select("node", F.col("top.label").alias("label"))
        )
        labels = (
            seeds.withColumn("seeded", F.lit(True))
            .unionByName(
                best.join(seeds.select("node"), "node", "left_anti")
                .withColumn("seeded", F.lit(False))
            )
            .transform(checkpoint)
        )
    return labels


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "id_a",
    dst: str = "id_b",
    seed_col: str = "node",
) -> DataFrame:
    """Level-synchronous BFS over an undirected edge list: the hop
    distance (<= ``max_hops``) from the nearest seed for every
    reachable node — "how far is this doc from a known-bad cluster"
    in a near-dup graph.

    Each level is one join (frontier -> neighbors) + one anti-join
    (drop already-visited) + a distinct, checkpointed so the loop
    never re-plans accumulated lineage.  Level-synchronous expansion
    makes the result independent of partition order — hop counts are
    the true shortest distances, engine-portable for an unrolled
    oracle.  The loop exits early when a frontier empties.

    Returns (node, hops), hops = 0 for the seeds themselves.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .transform(checkpoint)
    )
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .transform(checkpoint)
    )
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        found = Observation()
        nxt = (
            sym.join(frontier.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .observe(found, F.count(F.lit(1)).alias("n"))
            .transform(checkpoint)
        )
        if found.get["n"] == 0:
            break
        visited = visited.unionByName(
            nxt.withColumn("hops", F.lit(h))
        ).transform(checkpoint)
        frontier = nxt
    return visited


def clustering_coefficient(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Local clustering coefficient per node: 2·t(v) / (d(v)·(d(v)−1)).

    Distinguishes clique-ish near-dup neighborhoods (coeff → 1: a
    template family where every pair overlaps) from star hubs
    (coeff → 0: one boilerplate doc touching many unrelated docs) —
    the per-node refinement of :func:`triangle_counts`' corner counts.

    Composition: one degree hash-aggregate over the canonical edge
    list, the degree-oriented triangle count (wedges enumerated at the
    lowest-degree corner, see :func:`triangle_counts`), and a single
    equi-join — nodes in no triangle keep coeff 0 via the left join.
    Nodes of degree 1 are excluded (coefficient undefined).  The
    ratio is one int64→double division, bit-stable for the oracle.

    ``edges`` must be canonical (src < dst, no duplicates).
    """
    e0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(cached)
    # ONE degree aggregate serves both consumers: the coefficient's
    # denominator (filtered to degree >= 2 below) and the triangle
    # count's degree orientation (which needs it UNFILTERED) — the
    # previous shape ran the union+groupBy twice (guide §2.4).
    deg_all = cached(
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    deg = deg_all.filter(F.col("degree") >= 2)
    tri = triangle_counts(
        e0, "u", "v",
        deg=deg_all.select("node", F.col("degree").alias("d")),
    )
    return deg.join(tri, "node", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("long")
        .alias("n_triangles"),
        (
            (F.coalesce(F.col("n_triangles"), F.lit(0)) * F.lit(2)).cast(
                "double"
            )
            / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double")
        ).alias("coeff"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 10**12,
) -> DataFrame:
    """Personalized (seed-restart) PageRank — :func:`pagerank` with the
    restart mass concentrated on ``seeds`` (a one-column ``node``
    frame) instead of spread uniformly, the standard graph-expansion
    scorer ("what is close to this labeled slice"): relevance decays
    with distance from the seed set, so ranking non-seed nodes by it
    expands a trusted/flagged slice through near-dup structure.

    Same fixed-point integer determinism contract as :func:`pagerank`
    (every op is integer multiply / floor-div / exact sum; floats
    never appear), same per-iteration shape (one join + one hash agg,
    fixed round count).  Seeds outside the edge set are ignored;
    non-seed nodes start at rank 0 and receive only propagated mass.

    Deep runs (personalization is often iterated further than global
    PageRank to wash out the bipartite-path oscillation of early
    rounds) truncate lineage with a checkpoint every 8
    rounds — without it Catalyst's analysis of the accumulated join
    tree blows up past ~15 unrolled rounds; at the default 3 rounds
    the checkpoint never fires and the plan stays one lazy DAG.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()

    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    flagged = deg.join(
        F.broadcast(
            seeds.select(F.col("node").alias("u"), F.lit(1).alias("isd"))
        ),
        "u",
        "left",
    ).select("u", "deg", F.coalesce(F.col("isd"), F.lit(0)).alias("isd"))
    ns = flagged.agg(F.sum("isd").cast("long").alias("ns"))

    restart = F.when(
        F.col("isd") == 1,
        F.expr(
            f"CAST({scale * (damping_den - damping_num)} AS BIGINT)"
            f" div (CAST({damping_den} AS BIGINT) * ns)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    ranks = flagged.crossJoin(F.broadcast(ns)).select(
        "u", "deg", "isd", "ns",
        F.when(
            F.col("isd") == 1,
            F.expr(f"CAST({scale} AS BIGINT) div ns"),
        ).otherwise(F.lit(0).cast("long")).alias("rank"),
    )
    for i in range(iters):
        contribs = ranks.select(
            "u", F.expr("rank div deg").alias("contrib")
        )
        inbox = (
            sym.join(contribs, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            ranks.select("u", "deg", "isd", "ns")
            .join(inbox, "u", "left")
            .select(
                "u", "deg", "isd", "ns",
                (
                    restart
                    + F.expr(
                        f"(CAST({damping_num} AS BIGINT)"
                        f" * coalesce(s, CAST(0 AS BIGINT))) div {damping_den}"
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % 8 == 0 and (i + 1) < iters:
            ranks = checkpoint(ranks)
    return ranks.select(
        F.col("u").alias("node"),
        F.col("rank").alias("rank_scaled"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
) -> DataFrame:
    """Kleinberg HITS hubs & authorities over a DIRECTED edge list —
    the mutual-reinforcement scorer (good hubs point at good
    authorities, good authorities are pointed at by good hubs) behind
    link-graph curation ("which index pages concentrate the good
    documents") and bipartite incidence ranking.

    Runs ``rounds`` full update rounds UNNORMALIZED in exact integer
    arithmetic, h₀ = 1:

        aᵣ(d) = Σ_{s→d} hᵣ₋₁(s)      hᵣ(s) = Σ_{s→d} aᵣ(d)

    Skipping the per-round normalization keeps every operation an
    exact BIGINT sum (engine-portable, no float folds) and is
    RANK-equivalent to normalized HITS at any fixed round count —
    normalization divides every score by the same constant.  Growth
    bound: scores reach at most ``n·d_max²`` per round, so keep
    ``rounds ≤ 3`` on graphs where that product approaches 10¹⁸ (the
    default 2 gives the classic one-step co-citation refinement).

    Shape: two hash-join + hash-agg passes per round over the
    (deduplicated, cached) edge list — both sides shuffle only on the
    join key; no windows, no driver collect.  Returns
    ``(side, node, score)`` with side ∈ {'hub', 'authority'} — kept
    long-form because hub ids (src domain) and authority ids (dst
    domain) may share integer values without being the same entity
    (e.g. supplier 5 vs part 5 in a bipartite incidence graph).
    """
    if rounds < 1:
        raise ValueError(f"hits() needs rounds >= 1, got {rounds}")
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .transform(cached)
    )
    h = e.select(F.col("s").alias("n")).distinct().select(
        "n", F.lit(1).cast("long").alias("h")
    )
    a = None
    for _ in range(rounds):
        a = (
            e.join(h, e["s"] == h["n"])
            .groupBy("d")
            .agg(F.sum("h").alias("a"))
        )
        h = (
            e.join(a, "d")
            .groupBy(F.col("s").alias("n"))
            .agg(F.sum("a").alias("h"))
        )
    return (
        h.select(
            F.lit("hub").alias("side"),
            F.col("n").alias("node"),
            F.col("h").alias("score"),
        )
        .unionAll(
            a.select(
                F.lit("authority").alias("side"),
                F.col("d").alias("node"),
                F.col("a").alias("score"),
            )
        )
    )


def assortativity(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Degree assortativity coefficient of an undirected graph — the
    Pearson correlation between the degrees at the two ends of every
    edge (Newman 2002).  Positive: hubs attach to hubs (social-style
    cores); negative: hubs attach to leaves (star/boilerplate
    structure) — a one-number health readout for a near-dup graph
    (strongly negative = template hubs, the thing the wedge caps in
    :func:`adamic_adar` exist to survive).

    Exactness: over the symmetric orientation list the x- and
    y-marginals coincide, so the coefficient collapses to

        r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)

    — no square root at all.  All four moments are exact DECIMAL
    sums of BIGINT degree products; the single closing division is
    one IEEE op on two string-cast-exact doubles, bit-identical in
    any engine.  Input edges are canonicalized defensively (same
    contract as :func:`adamic_adar`).

    Shape: one degree aggregate, two degree joins onto the edge list,
    one scalar aggregate.  Returns 1 row (m_directed, assortativity);
    NULL when the graph is degree-regular (zero variance).
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e0.unionAll(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(cached)
    deg = sym.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("x"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("y"))
    pairs = sym.join(du, "u").join(dv, "v")
    d38 = "decimal(38,0)"
    mom = pairs.agg(
        F.count(F.lit(1)).cast(d38).alias("m"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
        "string"
    ).cast("double")
    den = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "string"
    ).cast("double")
    return mom.select(
        F.col("m").cast("long").alias("m_directed"),
        F.when(den != 0.0, num / den).alias("assortativity"),
    )
