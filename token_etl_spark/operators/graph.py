"""Distributed connected components — clusters near-duplicate pairs into
groups (the step after MinHash/SimHash pair generation: "keep one doc
per duplicate cluster").

Algorithm: min-label propagation with pointer doubling (each round every
node takes the min of its neighbors' labels AND its label's label) —
O(log diameter) rounds, each one join + one aggregation hash-partitioned
on the node id. Near-dup clusters have tiny diameters (pairs/triangles),
so 2-3 rounds close a real dedup graph. Lineage is truncated with
localCheckpoint every round — iterative Spark algorithms otherwise nest
plans until planning time dominates.

This is the standard Spark-native CC shape (GraphFrames implements the
same idea with large-star/small-star optimizations for long chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 10,
    probe_every: int = 1,
    pairs_ordered_distinct: bool = False,
) -> DataFrame:
    """(id_a, id_b) edges → (id, component) with component = min node id
    in the component. Converges in O(diameter) rounds (capped).

    The convergence probe is free: each round's eager checkpoint
    carries an ``Observation`` counting the labels that moved, and the
    count arrives with the checkpoint job itself — no probe job, no
    second scan, no old-vs-new join. Probing every round (the
    ``probe_every=1`` default) is therefore strictly cheaper than
    computing one already-converged extra round: dedup star graphs
    reach the fixpoint AT INIT (every member's min neighbor IS the
    cluster rep), so the old k=2 default always paid one full wasted
    round — measured 0.99 → 0.70 s per call on the sf0.1 ingest chain
    (rounds 2 → 1), identical components. ``probe_every=0`` disables
    probing entirely (pure fixed-iteration mode: zero driver syncs
    beyond the checkpoints).

    ``pairs_ordered_distinct=True`` declares the input pair set is
    already distinct with ``src < dst`` per row (the LSH star-edge /
    verified-candidate contract): the symmetrized edge union then
    cannot contain duplicates, and the edge-dedup ``distinct()`` — one
    full shuffle of the edge set — is skipped outright.

    Round 1 runs the neighbor-min hop WITHOUT the pointer-doubling
    join: dedup graphs (LSH stars) are at the fixpoint after the init
    labels already, so round 1 exists only to CONFIRM convergence, and
    the doubling join (one full label shuffle by component + one by id)
    never pays off there. The fixpoint is join-order independent —
    hop-stability alone implies labels are constant per component and
    equal to the component min (labels only take node-id values and
    never increase) — so skipping doubling changes the round count on
    deep chains only, never the result; rounds ≥ 2 keep doubling, so a
    diameter-d chain still converges in 1 + O(log d) rounds.

    If the iteration cap is hit with changes still flowing (probe mode
    only), the call RAISES instead of returning unconverged labels —
    every caller derives keep/representative decisions from the
    component == min-id contract, which only holds at the fixpoint.
    ``probe_every=0`` keeps the documented pure fixed-iteration mode
    (no probes, no guard, caller owns the contract)."""
    # Symmetrize (u→v and v→u) with a per-row explode INSIDE the one
    # eager checkpoint, instead of checkpointing the pairs and unioning
    # two reads of the blocks. History: referencing the caller's pair
    # plan twice without a cut executed the whole LSH+verify chain once
    # per branch (measured 10.5 s vs 5 s on the sf0.1 ingest chain);
    # the r15 fix checkpointed the PAIRS and built the union over the
    # blocks — one job, but every round then re-read the blocks twice
    # and the union doubled the round-1 exchange-map task count (64
    # tasks over 32 block splits). Folding the explode into the
    # checkpoint keeps the single eager job, stores the edge set once
    # in its final symmetric form, and every round reads it once.
    # EAGER, not lazy: under AQE a lazy checkpoint materializes the
    # upstream shuffle stages at the call but DEFERS the final stage,
    # which then recompiles per consumer (the r15 finding).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v").localCheckpoint(eager=True)
    if not pairs_ordered_distinct:
        # the dedup shuffle must not re-run per round — cut it once
        edges = edges.distinct().localCheckpoint(eager=True)
    # else: the checkpoint above already holds the symmetrized edge set
    # in its final form (distinct by the caller's ordered-pair contract);
    # every round reads those blocks once, narrowly.
    labels = edges.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("id"), F.least("component", F.col("u")).alias("component")
    )
    # init labels deliberately NOT checkpointed: round 1 references it
    # three times, but all three are the same aggregation subtree over
    # the same exchange (ReuseExchange serves them within the one job),
    # and rounds ≥ 2 use the round checkpoints — skipping the init
    # barrier saves a full job + barrier per CC call (measured A/B).
    changed = 0  # labels the last round moved (probe mode only)
    for it in range(max_iterations):
        # hop: min label among neighbors
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy("u")
            .agg(F.min("component").alias("neighbor_min"))
        )
        hopped = labels.join(neighbor_min, labels.id == neighbor_min.u, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("neighbor_min"), F.col("component"))
            ).alias("component"),
            F.col("component").alias("_prev"),
        )
        if it == 0:
            # no pointer doubling in round 1: dedup star graphs are at
            # the fixpoint after init, so round 1 only confirms
            # convergence and the doubling join is two wasted label
            # shuffles per CC call (docstring; fixpoint unaffected)
            doubled = hopped
        else:
            # pointer doubling: component ← component's component (turns
            # O(diameter) rounds into O(log diameter))
            parent = labels.select(
                F.col("id").alias("cid"), F.col("component").alias("cc")
            )
            doubled = hopped.join(parent, hopped.component == parent.cid, "left").select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("cc"), F.col("component"))).alias(
                    "component"
                ),
                "_prev",
            )
        if probe_every:
            # the round's change count rides on its checkpoint job
            moved = Observation()
            doubled = doubled.observe(
                moved, F.count_if(F.col("component") != F.col("_prev")).alias("n")
            )
        # localCheckpoint truncates lineage — without it each round's plan
        # nests the previous one and planning time grows without bound.
        labels = doubled.drop("_prev").localCheckpoint(eager=True)
        if probe_every:
            changed = moved.get["n"]
            if (it + 1) % probe_every == 0 and changed == 0:
                return labels
    if probe_every and changed > 0:
        # cap exit with probing on: labels may not have converged, and
        # every caller's keep/representative rule assumes the fixpoint
        # (component == cluster-min id) — fail loudly instead of
        # silently mislabeling. The final round's observed count
        # decides, whatever the cadence.
        raise RuntimeError(
            f"connected_components hit max_iterations={max_iterations} "
            "without converging; raise max_iterations (the component ="
            " min-id contract every keep-list rule relies on holds only"
            " at the fixpoint)"
        )
    return labels


def dedup_keep_list(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    pairs_ordered_distinct: bool = False,
) -> DataFrame:
    """Full-dataset dedup decision: every id → (id, keep) where keep is
    true for the representative (min id) of its duplicate cluster and for
    all singletons (ids appearing in no pair). ``pairs_ordered_distinct``
    passes through to :func:`connected_components` (skip the edge-dedup
    shuffle when the pair set is already distinct with id_a < id_b — the
    ``minhash_dedup`` / verified-LSH output contract).

    Raises ``RuntimeError`` (eagerly, at the call) when the pair graph
    does not converge within ``connected_components``' default
    ``max_iterations`` — a keep list from unconverged labels would keep
    the wrong documents."""
    comps = connected_components(pairs, pairs_ordered_distinct=pairs_ordered_distinct)
    # component IS the cluster-min id (the connected_components contract
    # keep_list_from_components already relies on), so the representative
    # needs no groupBy + join back — keep = (id == component) directly,
    # one shuffle and one join fewer per call.
    decided = comps.select(
        F.col("id").alias(id_col), (F.col("id") == F.col("component")).alias("keep")
    )
    singletons = all_ids.select(id_col).join(decided.select(id_col), id_col, "left_anti")
    return decided.unionByName(singletons.withColumn("keep", F.lit(True)))


def keep_list_from_components(
    comps: DataFrame, all_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """``dedup_keep_list`` for a precomputed (id, component) frame (e.g.
    ``minhash_dedup_clusters`` output) — skips the redundant component
    pass: keep = (id == component, the cluster min) plus all singletons."""
    decided = comps.select(
        F.col("id").alias(id_col), (F.col("id") == F.col("component")).alias("keep")
    )
    singletons = all_ids.select(id_col).join(decided.select(id_col), id_col, "left_anti")
    return decided.unionByName(singletons.withColumn("keep", F.lit(True)))


def keep_best_in_cluster(
    comps: DataFrame,
    scored_docs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware dedup retention: within each near-dup cluster keep
    the single HIGHEST-``score_col`` document (ties → min id) instead of
    the min-id representative ``dedup_keep_list`` uses. This is the
    retention policy production corpus pipelines actually run — e.g.
    FineWeb / Gopher-style dedup keeps the longest or highest-quality
    member of a duplicate cluster, because the min-id pick discards
    quality signal for free (Penedo et al. 2024, "The FineWeb Datasets",
    §3.3; Rae et al. 2021, Gopher App. A1.2).

    ``comps`` is the (id, component) frame from ``connected_components``
    / ``minhash_dedup_clusters``; ``scored_docs`` is the full-corpus
    (id_col, score_col) projection — it doubles as the id universe for
    singleton detection (ids appearing in no pair are kept
    unconditionally; their scores are never consulted). Returns every
    id → (id_col, keep).

    100 TB shape: one broadcast-or-shuffle join of the cluster frame
    (|clustered ids| rows, far smaller than the corpus after LSH) against
    the score projection, then ONE window partitioned by component —
    near-dup clusters are small by construction (the LSH bucket cap
    bounds them), so the per-component sort never concentrates a
    pathological partition the way a global window would. Singletons
    never enter the shuffle: they anti-join straight to keep=true,
    exactly like ``keep_list_from_components``.
    """
    from pyspark.sql import Window

    scores = scored_docs.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("_score")
    )
    w = Window.partitionBy("component").orderBy(F.col("_score").desc(), F.col("id"))
    decided = (
        comps.join(scores, "id")
        .withColumn("_rn", F.row_number().over(w))
        .select(F.col("id").alias(id_col), (F.col("_rn") == 1).alias("keep"))
    )
    singletons = (
        scored_docs.select(id_col)
        .join(decided.select(id_col), id_col, "left_anti")
    )
    return decided.unionByName(singletons.withColumn("keep", F.lit(True)))


def iterate_to_fixpoint(
    state: DataFrame,
    step,
    converged,
    max_iterations: int = 20,
    probe_every: int = 1,
) -> DataFrame:
    """Generic distributed fixpoint driver (the machinery behind
    connected components, generalized): repeatedly apply
    ``step(state) -> state`` until ``converged(old, new)`` or the
    iteration cap. Each round's result is ``localCheckpoint``ed so plan
    lineage stays flat — without it, iteration i's plan nests all i-1
    prior plans and Catalyst planning time grows without bound.

    ``converged`` gets both frames; typical probes are anti-join
    emptiness or an aggregate delta — each one small but SERIAL driver
    job. ``probe_every=k`` runs the probe only every k-th round (same
    trade as ``connected_components``: at most k-1 extra cheap rounds
    after the true fixpoint in exchange for 1/k the driver syncs). On a
    probe round the probe compares the round's INPUT to its OUTPUT — the
    single-round delta — which is the strictly-correct fixpoint test for
    both monotone probes (anti-join emptiness: no change this round ⇒
    fixpoint) and norm-delta probes (PageRank tol: interval deltas can
    partially cancel across rounds and under-report the last round's
    delta, so an interval probe could declare convergence early —
    ADVICE r3). Same sync count as the interval form.
    """
    state = state.localCheckpoint(eager=True)
    for it in range(max_iterations):
        new_state = step(state).localCheckpoint(eager=True)
        if converged is not None and (it + 1) % max(probe_every, 1) == 0:
            if converged(state, new_state):
                return new_state
        state = new_state
    return state


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iterations: int = 15,
    tol: float | None = 1e-6,
    src: str = "src",
    dst: str = "dst",
    probe_every: int = 3,
) -> DataFrame:
    """Power-iteration PageRank over (src, dst) edges → (id, rank),
    built on ``iterate_to_fixpoint``.

    Per round: one shuffle to sum incoming contributions (map-side
    combinable). Dangling nodes (no out-edges) redistribute uniformly via
    a scalar correction so ranks sum to the node count, matching the
    standard formulation. Out-degrees are precomputed once and joined per
    round — at 100 TB both frames hash on node id and AQE handles hub
    skew.

    Tol-mode convergence is probed only every ``probe_every`` rounds, and
    the probe measures the SINGLE-ROUND L1 delta (the probe round's input
    vs output — per-component deltas can change sign across rounds and
    partially cancel, so an interval delta is NOT an upper bound on the
    last round's delta; ADVICE r3). Serial driver-sync job count stays
    iterations/probe_every.
    """
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    out_deg = edges.groupBy(src).agg(F.count("*").alias("out_deg"))
    e = edges.join(out_deg, src).select(
        F.col(src).alias("from_id"), F.col(dst).alias("to_id"), "out_deg"
    ).localCheckpoint(eager=True)

    init = nodes.withColumn("rank", F.lit(1.0))

    # dangling node SET is static; only its rank mass changes per round
    dangling_ids = nodes.join(
        out_deg.withColumnRenamed(src, "id"), "id", "left_anti"
    ).localCheckpoint(eager=True)

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (
            e.join(ranks.withColumnRenamed("id", "from_id"), "from_id")
            .groupBy("to_id")
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("in_sum"))
        )
        # dangling rank mass enters the plan as a broadcast 1-row frame —
        # no driver-side collect per iteration
        dangling = ranks.join(dangling_ids, "id", "left_semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
        )
        return (
            nodes.join(contrib.withColumnRenamed("to_id", "id"), "id", "left")
            .join(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (
                        F.col("_dangling") / F.lit(float(n))
                        + F.coalesce(F.col("in_sum"), F.lit(0.0))
                    )
                ).alias("rank"),
            )
        )

    if tol is None:
        return iterate_to_fixpoint(init, step, None, max_iterations)

    def converged(old: DataFrame, new: DataFrame) -> bool:
        delta = (
            old.withColumnRenamed("rank", "old_rank")
            .join(new, "id")
            .agg(F.sum(F.abs(F.col("rank") - F.col("old_rank"))))
            .collect()[0][0]
        )
        return delta is not None and delta < tol * n

    return iterate_to_fixpoint(init, step, converged, max_iterations, probe_every)
