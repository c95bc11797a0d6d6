"""Iterative graph operators — connected components for dedup clusters.

Near-dup pair generation (MinHash-LSH, SimHash, embedding cosine)
yields EDGES; turning them into duplicate CLUSTERS (pick one canonical
doc per group) is a connected-components problem. This is the standard
iterative min-label-propagation on DataFrames: each round every node
adopts the smallest component label among itself and its neighbors;
rounds needed = graph diameter (tiny for near-dup clusters).

Scale notes: each iteration is ONE equi-join (edges x labels) plus a
union-aggregation — all shuffle-partitioned by node id; labels are
checkpointed (localCheckpoint) every few rounds so the lineage doesn't
grow unboundedly. Convergence is probed with an exact label-sum
aggregate (labels only decrease, so an unchanged sum IS a fixed point)
rather than a changed-rows join+count — that removes the second join
the textbook formulation carries. For web-scale graphs swap in the
large-star/small-star variant; for dedup clusters this converges in
2-4 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# min-label CC truncates its label lineage every this many rounds
CHECKPOINT_EVERY = 5
# star-CC degree threshold of the auto skew switch (see
# connected_components_star's ``skew_robust`` notes)
SKEW_SWITCH_DEGREE = 5_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = smallest node id reachable."""
    # localCheckpoint the edge list first: it materializes once (the
    # symmetric closure and initial labels would otherwise recompute
    # the often-expensive pair-generation plan per branch) AND
    # truncates the caller's lineage — the iteration multiplies its
    # base plan, so a fat upstream plan (e.g. a chained pipeline)
    # would otherwise blow up Catalyst before the first checkpoint
    edges = edges.select(
        F.col(src).alias("id1"), F.col(dst).alias("id2")
    ).localCheckpoint(eager=True)
    # repartition on the join key BEFORE persisting: the per-iteration
    # join probes sym on b every round, and a persisted hash(b) layout
    # lets Catalyst elide sym's exchange each time — only the (tiny)
    # label frame shuffles per iteration
    sym = (
        edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .unionByName(edges.select(F.col("id2").alias("a"), F.col("id1").alias("b")))
        .distinct()
        .repartition(F.col("b"))
        .persist()
    )
    # seed labels with min(self, neighbors): the same shuffle the
    # textbook identity init (distinct over node ids) pays, but it IS
    # round one — computed as a bare groupBy instead of the
    # join + union + groupBy a loop round costs. Near-dup clusters are
    # mostly cliques (diameter 1), so seeding makes the loop's first
    # probe the converged one: one join round total instead of two.
    labels = (
        sym.groupBy(F.col("b").alias("node"))
        .agg(F.min("a").alias("nbr_min"))
        .select("node", F.least("node", "nbr_min").alias("comp"))
        .persist()
    )

    # labels only ever DECREASE (new comp = min over self + neighbors),
    # so an unchanged exact sum proves the fixed point — the convergence
    # probe is a scalar aggregate over the freshly-persisted generation
    # (doubling as its materialization) instead of a changed-rows
    # join + count. decimal(38,0) keeps the sum exact for any 64-bit id
    # space (n x 2^63 stays far below 10^38 for any feasible n).
    def _label_sum(frame: DataFrame):
        row = frame.agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).collect()
        return row[0].s

    prev_sum = _label_sum(labels)
    converged = False
    for i in range(max_iter):
        nbr = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("node"), "comp"
        )
        new_labels = (
            nbr.unionByName(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .persist()
        )
        cur_sum = _label_sum(new_labels)
        labels.unpersist()
        labels = new_labels
        if (i + 1) % CHECKPOINT_EVERY == 0:
            labels = labels.localCheckpoint(eager=True)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    sym.unpersist()
    edges.unpersist()
    if not converged:
        # returning the partial labels would be SILENTLY WRONG (some
        # nodes still carry a non-minimal component id) — at 100 TB a
        # quietly mislabeled cluster map poisons every downstream dedup
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(graph diameter exceeds max_iter); raise max_iter or use "
            f"connected_components_star, which needs O(log n) rounds on "
            f"high-diameter graphs"
        )
    return labels


def _local_contract_stars(e: DataFrame) -> DataFrame:
    """Per-partition connected components (vectorized hash-to-min with
    pointer jumping), emitted as star edges (component-local min id →
    member) — the standard LOCAL CONTRACTION step before a distributed
    CC loop (guide §2.2: do the work before the shuffle; same
    correctness argument as map-side partial aggregation).

    Why it is safe: within one partition, replacing that partition's
    edges by the star decomposition of their components preserves
    connectivity exactly; across partitions, a node appearing in
    several partitions carries membership edges in each, so the UNION
    of per-partition stars has THE SAME connected components as the
    input (each original edge lives wholly inside its partition's
    star). The global result — comp = min reachable id — is therefore
    invariant to partitioning even though the intermediate star set is
    not (property-tested against union-find on clustered and scattered
    partitionings).

    Why it pays: the contraction loop's round count is driven by
    component DIAMETER AS SEEN BY THE SHUFFLE; input that arrives
    clustered (per-user event chains land in one partition because the
    edge builder's lag window shuffled by user) collapses to depth-1
    stars in this single narrow pass, so the global loop converges in
    O(1) rounds instead of O(log diameter) full-volume rounds (r12
    measurement: 14 rounds → 1 at the 100x replica, 147→27 s). Adversarially
    scattered input degrades gracefully: one extra Arrow pass, rounds
    unchanged.

    Memory: per task, O(distinct node ids in the partition) numpy
    state — the id arrays themselves, far below the edge bytes the
    task already holds.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def contract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        los, his = [], []
        cols = None
        for pdf in batches:
            if cols is None:
                cols = list(pdf.columns)
            if len(pdf):
                los.append(pdf[cols[0]].to_numpy())
                his.append(pdf[cols[1]].to_numpy())
        if not los:
            return
        lo = np.concatenate(los)
        hi = np.concatenate(his)
        nodes, inv = np.unique(np.concatenate([lo, hi]), return_inverse=True)
        li, hi_i = inv[: len(lo)], inv[len(lo) :]
        # hash-to-min over indices: nodes[] is sorted, so index order ==
        # id order and the component min id == the min index
        parent = np.arange(len(nodes))
        while True:
            before = parent.copy()
            np.minimum.at(parent, hi_i, parent[li])
            np.minimum.at(parent, li, parent[hi_i])
            # pointer jumping until this round's relaxations settle
            while True:
                nxt = parent[parent]
                if np.array_equal(nxt, parent):
                    break
                parent = nxt
            if np.array_equal(parent, before):
                break
        member = parent != np.arange(len(nodes))
        yield pd.DataFrame(
            {
                cols[0]: nodes[parent[member]],
                cols[1]: nodes[member],
            }
        )

    return e.mapInPandas(contract, schema=e.schema)


def connected_components_star(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 50,
    skew_robust: bool | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds REGARDLESS of graph
    diameter, where min-label propagation (``connected_components``)
    needs O(diameter) rounds. Same contract: (node, comp) for every
    node appearing in ``edges``, comp = smallest reachable id.

    When to use which: each operator wins on its own graph shape.
    Near-dup clusters are mostly cliques of diameter 1-4, where
    min-label's seeded first round is already the fixed point; swapping
    this operator into ``dedup_clusters`` (raw edges checkpointed once,
    5 interleaved pairs of the perfbench ``corpus_pipeline`` workload on
    a 4-vCPU host, every run correct) made the ``dedup_documents`` job
    slower in every pair: medians 3.57 -> 6.35 s cold, 1.91 -> 2.40 s
    warm. Long-chain graphs (event chains, web link graphs, citation
    chains) have large diameters, and this one's O(log n) rounds win
    (``chain_components``; OPTIMIZATION_r12.md Change 3).

    Each round is two phases, each one aggregation + one equi-join on
    node keys (the same shuffle shape as a min-label round):

    - large-star: every node's strictly-larger neighbors re-attach to
      the minimum of its closed neighborhood;
    - small-star: every node's smaller-or-equal neighbors (and itself)
      re-attach to the minimum of that set.

    Lineage discipline: each generation is ``localCheckpoint(eager)``ed
    EVERY round. Each round's plan references the previous generation
    multiple times (both orientations of the sym union, plus both
    small-star branches), so un-truncated lineage grows exponentially
    in shared subtrees and Catalyst analysis (DeduplicateRelations)
    goes super-linear in round count. Rounds are O(log n), so the
    per-round materialization cost is bounded.

    Convergence probe: one scalar aggregate over the freshly
    checkpointed generation — (edge count, exact decimal sum of
    lo + hi) — never a cross-generation ``exceptAll`` (which drags the
    previous generation's plan back in). Why equality proves the fixed
    point: pre-dedup, each phase emits exactly one edge per input edge
    and only ever REWRITES an endpoint to something strictly smaller
    (large-star: (a,b) -> (min-of-neighborhood(a), b); small-star:
    (l,h) -> (min-of-group, l) plus the root self-attach), so the
    multiset sum of endpoints weakly decreases with equality iff both
    phases were the identity; ``distinct`` only removes rows, so an
    unchanged count means nothing collapsed. Equal (count, sum) ⇒ the
    canonical edge set is unchanged ⇒ fixed point — the same monotone
    argument as the min-label operator's label-sum probe above.

    ``skew_robust``: the default phases are WINDOW aggregates
    (min-over-group stays attached to the rows in one shuffle), which
    is the fastest plan on bounded-degree graphs — measured on 2M-edge
    chains at local[32]: window phases 31 s vs 50 s for
    groupBy+join large-star vs 120 s for groupBy+join both. But a
    window partition cannot be split: every row of a group lands in
    ONE task, and late contraction rounds concentrate each component's
    entire membership around its root, so a 10^8-10^9-member component
    makes that task a straggler (WindowExec spills rather than OOMs,
    but a single-task sort of 10^9 rows is minutes-to-hours that AQE
    cannot parallelize). ``skew_robust=True`` switches BOTH phases to
    partial-aggregating ``groupBy().agg(min)`` + equi-join back: the
    min is combined map-side (a hub group reduces to one row per input
    partition before the shuffle) and the re-attach join is an
    equi-join AQE can skew-split. Measured on deliberately skewed
    star graphs (every node in one group): parity at 2M and 20M
    members (±25%, host noise) — the robustness costs nothing there
    and only the bounded-degree fast path pays the extra exchanges.

    The DEFAULT (``skew_robust=None``) AUTO-SELECTS per round: when —
    and only when — a generation's edge count reaches
    ``SKEW_SWITCH_DEGREE`` (a degree-D group needs >= D edges, so
    smaller generations provably cannot hide a hub and pay NOTHING),
    a bucketed degree detector runs beside the convergence probe
    (4096 hash buckets over the exploded endpoints; map-side combine
    caps its shuffle at 4096 rows per partition), and the first round
    whose max-bucket-over-mean signal exceeds ``SKEW_SWITCH_DEGREE``
    flips every SUBSEQUENT round to the robust phases. Per-round, not a one-shot input probe, because the
    dangerous concentration is EMERGENT: a bounded-degree chain whose
    final component has 10^9 members develops its hub in the late
    contraction rounds, invisible in the input's degree distribution.
    The switch is one-way (concentration only grows under contraction).
    Pass ``skew_robust=True``/``False`` to force either plan — False
    restores the cheaper scalar probe too, for callers that KNOW their
    component sizes are bounded (near-dup clusters, short event chains).

    Local contraction: the per-partition vectorized CC pass
    (:func:`_local_contract_stars`) runs before the distributed loop.
    It leaves the (node, comp) output as is — the loop runs on the star
    decomposition, whose components are the same — but input that
    arrives clustered (per-user chains, per-document near-dup groups
    co-located by an upstream shuffle) contracts locally to depth-1
    stars, cutting the O(log diameter) full-volume rounds to the few
    needed to stitch cross-partition components (measured at the 100x
    chain replica: 14 rounds → 1, 147→27 s, OPTIMIZATION_r12.md
    Change 3). Checkpointing a generation only every k-th round was
    measured a wash at 100x and a loss at 10x (COVERAGE.md, round-11
    checkpoint-cadence A/B), so every round truncates.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # domain = every node appearing in edges, INCLUDING ones whose only
    # edges are self-loops (the contraction below drops self-loops, so
    # the node set must be captured first)
    all_nodes = (
        raw.select(F.col("a").alias("node"))
        .unionByName(raw.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = raw.where(F.col("a") != F.col("b")).select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    )
    # one narrow Arrow pass BEFORE the first shuffle; see
    # _local_contract_stars for the correctness argument. Output is
    # already canonical (root = component-local min < member).
    e = _local_contract_stars(e).distinct().localCheckpoint(eager=True)

    auto = skew_robust is None
    robust = bool(skew_robust)

    # decimal(38,0) keeps the endpoint sum exact for any 64-bit id
    # space (m x 2^64 stays far below 10^38 for any feasible m)
    def _probe(frame: DataFrame):
        """(edge count, exact endpoint sum, degree signal).  The
        count/sum convergence probe is the cheap scalar aggregate in
        EVERY mode.  The degree signal (third element, None when not
        computed) runs only in auto mode AND only when the edge count
        could possibly hide a hub: a group of degree D needs at least
        D edges, so while n < SKEW_SWITCH_DEGREE NO group can cross
        the threshold and the detector is skipped — sub-threshold
        graphs (every local test, near-dup clusters, sf0.1 chains) pay
        exactly zero for the auto default (an always-on per-node
        groupBy probe measured 15-20%% on the sf0.1 chain contract
        query).  When it does run, endpoints explode into 4096 hash
        buckets (map-side combine caps the shuffle at 4096 rows per
        partition) and the signal is max(bucket) - avg(bucket):
        background degree mass spreads uniformly by hash, so a hub of
        degree D lifts its own bucket ~D above the mean, and hash
        collisions only OVER-estimate — the detector can fire early
        (paying the robust phases' modest premium) but never miss a
        hub.  At n >= SKEW_SWITCH_DEGREE its cost is one extra
        aggregation over a frame the phases are about to shuffle
        several times — noise at that scale."""
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.col("lo").cast("decimal(38,0)")
                + F.col("hi").cast("decimal(38,0)")
            ).alias("s"),
        ).collect()[0]
        if not auto or robust or (row.n or 0) < SKEW_SWITCH_DEGREE:
            return row.n, row.s, None
        deg = (
            frame.select(F.explode(F.array("lo", "hi")).alias("_nd"))
            .groupBy(F.pmod(F.xxhash64("_nd"), F.lit(4096)).alias("_bk"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.max("_c").alias("mxb"), F.avg("_c").alias("avgb"))
            .collect()[0]
        )
        return row.n, row.s, (deg.mxb or 0) - (deg.avgb or 0.0)

    from pyspark.sql import Window

    cur = e
    n0, s0, mx0 = _probe(cur)
    prev = (n0, s0)
    if auto and mx0 is not None and mx0 > SKEW_SWITCH_DEGREE:
        robust = True
    for _ in range(max_iter):
        # Each phase is a grouped-minimum attached back to the group's
        # rows — expressed as a WINDOW aggregate, not the textbook
        # groupBy + self-join: the window computes min-over-group and
        # keeps the rows in ONE shuffle, where groupBy + join costs a
        # shuffle for the aggregate plus two more exchanges (and a
        # join) to re-attach it. Measured on chain_components: 100x
        # sf0.1 (10M-node chains) 183 s -> 127-146 s per run; sf0.1
        # steady-state median 9.6 s -> 8.1 s. (A probe-fold via lazy
        # localCheckpoint was also A/B-measured and was a wash at BOTH
        # scales — the per-round cost is shuffle work, not job
        # barriers — so the eager checkpoint stays.)
        #
        # -- large-star: over the symmetric neighborhood of u, attach
        #    every neighbor v > u to m = min(N(u) + {u})
        sym = cur.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            cur.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        if robust:
            # partial-aggregating min + skew-splittable equi-join back
            mins_u = sym.groupBy("u").agg(F.min("v").alias("_mn"))
            ls = (
                sym.join(mins_u, "u")
                .where(F.col("v") > F.col("u"))
                .select(
                    F.least(F.col("_mn"), F.col("u")).alias("lo"),
                    F.col("v").alias("hi"),
                )
                .where(F.col("lo") != F.col("hi"))
            )
        else:
            wu = Window.partitionBy("u")
            ls = (
                sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
                .where(F.col("v") > F.col("u"))
                .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
                .where(F.col("lo") != F.col("hi"))
            )
        # -- small-star: direct every edge from its larger endpoint;
        #    group by that endpoint, attach it and every smaller
        #    neighbor to the minimum of the set. One ordered window
        #    yields both the group minimum (first over the full frame)
        #    and a once-per-group marker for the root self-attach.
        #    ls is NOT deduped first: duplicates can't change a group
        #    minimum, row_number still fires once per group, and the
        #    final distinct removes duplicate outputs — dropping the
        #    intermediate distinct saves a full (lo, hi) shuffle.
        if robust:
            # the group-min frame doubles as the root self-attach rows
            mins_h = ls.groupBy("hi").agg(F.min("lo").alias("m"))
            ss_nbrs = ls.join(mins_h, "hi").select(
                F.col("m").alias("lo"), F.col("lo").alias("hi")
            )
            ss_self = mins_h.select(F.col("m").alias("lo"), F.col("hi"))
        else:
            wh = Window.partitionBy("hi").orderBy("lo")
            whf = wh.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            tagged = ls.select(
                "lo",
                "hi",
                F.first("lo").over(whf).alias("m"),
                F.row_number().over(wh).alias("rn"),
            )
            ss_nbrs = tagged.select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
            ss_self = tagged.where(F.col("rn") == 1).select(
                F.col("m").alias("lo"), F.col("hi")
            )
        gen = (
            ss_nbrs.unionByName(ss_self)
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # eager: phases execute and the generation lands in block
        # storage inside this call; lineage truncates here
        cur = gen.localCheckpoint(eager=True)
        n1, s1, mx1 = _probe(cur)
        if auto and mx1 is not None and mx1 > SKEW_SWITCH_DEGREE:
            robust = True  # one-way: concentration only grows
        if (n1, s1) == prev:
            converged = True
            break
        prev = (n1, s1)
    else:
        converged = False
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            f"rounds — contraction needs O(log n); a 64-bit-id graph "
            f"converges well inside the default 50, so this indicates a "
            f"logic regression, not an undersized max_iter"
        )
    # fixed point: stars (root=lo, member=hi). Nodes absent from the
    # final edge set are their own component's root.
    members = cur.select(F.col("hi").alias("node"), F.col("lo").alias("comp"))
    roots = all_nodes.join(
        cur.select(F.col("hi").alias("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("comp"))
    return members.unionByName(roots)


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """All docs with their duplicate-cluster id: docs in a near-dup
    pair get component = min doc id of the cluster; singletons are
    their own cluster. Downstream keeps ``cluster_id == doc_id`` rows
    for an exact-one-survivor dedup."""
    comps = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(comps, df[id_col] == comps.node, "left")
        .select(
            F.col(id_col),
            F.coalesce("comp", F.col(id_col)).alias("cluster_id"),
        )
    )


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list, computed
    entirely in scaled INTEGER arithmetic (ranks in units of
    1/``scale``, damping as the rational ``damping_num/damping_den``,
    default 17/20 = 0.85).

    Why fixed-point: float PageRank sums contributions in whatever
    order the shuffle delivers them, so two runs (or two engines)
    disagree in the low bits and results aren't reproducible. Integer
    ops are associative — every engine, partitioning, and run produces
    the IDENTICAL ranks, which makes the operator regression-testable
    value-for-value (the DuckDB oracle unrolls the same iterations).

    Returns (node, rank: double), rank = integer rank / scale (exact:
    all intermediates stay far below 2^53).

    Scale: each iteration is one equi-join of edges to ranks + one
    aggregation — both shuffle on node id, the classic Pregel-as-
    DataFrame pattern. Ranks are re-derived from the node list each
    round (no growing lineage; persist() per round, O(diameter)
    rounds).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .unionByName(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # degree is iteration-invariant: join it to the edge list ONCE and
    # persist, so each round pays a single rank join instead of two.
    # Persist PRE-PARTITIONED on src (guide §2.4: two operations keyed
    # the same way share one exchange): every iteration's rank join
    # requires clustering on src, so a one-time repartition before the
    # persist replaces an exchange of the (largest) edge frame PER
    # ITERATION with one at build — strictly fewer shuffles for any
    # iters >= 1. Interleaved bench-style A/B at sf0.1: warm medians
    # 3.05->2.72 s and 1.91->1.69 s (~0.9x), identical ranks.
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    e_deg = (
        e.join(deg, "src")
        .repartition(n_part, "src")
        .select("src", "dst", "outdeg")
        .persist()
    )
    nodes = e.select(F.col("src").alias("node")).distinct().persist()
    base = scale * (damping_den - damping_num) // damping_den
    ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
    # Rank lineage is a CHAIN (each round references the previous ranks
    # exactly once), so analysis cost grows only linearly in rounds —
    # unlike the CC operators, whose rounds reference the prior
    # generation multiple times and must truncate every round. Chains
    # only need periodic truncation: materializing every round inserts
    # a full job barrier per iteration (3 extra scheduler round-trips on
    # a 3-iter run) for no plan-size benefit, while never materializing
    # would re-execute the whole chain per action at high iteration
    # counts. localCheckpoint every few rounds bounds both.
    materialize_every = 5
    for i in range(iters):
        contribs = (
            e_deg.join(ranks, e_deg.src == ranks.node)
            .select(F.col("dst"), F.expr("r div outdeg").alias("c"))
        )
        sums = contribs.groupBy("dst").agg(F.sum("c").alias("t"))
        ranks = (
            nodes.join(sums, nodes.node == sums.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"(coalesce(t, 0L) * {damping_num}) div {damping_den}")
                ).alias("r"),
            )
        )
        if (i + 1) % materialize_every == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=True)
    out = ranks.select("node", (F.col("r").cast("double") / scale).alias("rank"))
    return out


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counts on an undirected graph, via
    degree-oriented wedge enumeration (Schank-Wagner node-iterator).

    Edges are canonicalized to distinct undirected pairs, each oriented
    from its LOWER-degree endpoint to its higher (ties by id). Wedges
    are generated from a common SOURCE — pairs of out-neighbors
    (y, z) of the same x with y ordered before z — and closed by an
    equi-join probing for the oriented edge y->z. Every triangle
    x < y < z (in degree order) is enumerated exactly once, as the
    wedge at its smallest-degree corner. Returns (node, n_triangles),
    nodes with zero triangles omitted.

    Why degree orientation rather than plain id orientation: under it
    every out-degree is O(sqrt(m)), so the wedge join's fan-out is
    bounded at sum(outdeg^2) = O(m^1.5) even on power-law graphs —
    whereas a path-shaped enumeration (join on e1.dst == e2.src) pairs
    in-edges with out-edges at the middle vertex, and a celebrity
    node's unbounded IN-degree makes that blow up at 100 TB. Costs two
    extra small shuffles up front (the degree aggregation + attach);
    all joins are equi-joins on vertex keys.
    """
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.select(a.alias("a"), b.alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    # orientation key: (deg, id) lexicographic via struct comparison
    ka = F.struct(F.col("da.deg").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("db.deg").alias("d"), F.col("b").alias("i"))
    e = (
        und.join(da, und.a == F.col("da.node"))
        .join(db, und.b == F.col("db.node"))
        .select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(ka < kb, kb).otherwise(ka).alias("dst_key"),
        )
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst_key") < F.col("e2.dst_key")),
        )
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("x"),
            F.col("e1.dst").alias("y"),
            F.col("e2.dst").alias("z"),
        )
    )
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
