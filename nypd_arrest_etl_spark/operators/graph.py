"""Link-graph operators for crawl curation: PageRank over a directed
edge list (DataFrame[src, dst]).

Why this lives in a training-data engine: web-curation recipes weight
or threshold documents by host-graph centrality (seed quality lists,
harmonic/PageRank filtering a la CommonCrawl ranking) — so the engine
needs a graph primitive that runs on the same DataFrames as the rest
of the pipeline, not an external graph system.

Execution model (Spark-first, no GraphX/RDDs):
- Each iteration is ONE equi-join ranks><edges on src, which sends
  ``rank / odeg`` along every edge, plus ONE groupBy(node) that
  gathers each node's teleport row with the contributions sent to it.
  The edge list is partitioned on src once and carries each source's
  out-degree, so only the O(nodes) rank table and map-side partial
  sums of the contributions move.
- Fixed-iteration variants fold dangling mass (rank held by nodes
  with no out-edges) in through a broadcast 1-row aggregate, so the
  whole plan stays lazy and the oracle can replay it.
- Converged variants run ONE pinned plan per round: the round is
  materialized with ``localCheckpoint`` (lineage would otherwise grow
  linearly and re-execute the whole chain every round), and the
  driver scalars the loop needs — the L1 delta and the next round's
  dangling mass, the changed-label count, the surviving edge count —
  ride that same job as an ``Observation``. No round runs a separate
  probe job, the dangling mass enters the next round as a literal,
  and every pin the result does not need is freed before returning.

At 100 TB the edge list dwarfs the rank vector (|E| >> |V|): the edge
side stays put (one shuffle on src, reused every iteration — AQE keeps
the rank side's smaller shuffle), and per-iteration network cost is
O(|V|), which is the known floor for distributed power iteration.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _out_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct edge list [src, dst, odeg], hash-partitioned on src,
    each row carrying its source's out-degree (a window over the src
    partitioning, so it adds no shuffle of its own).

    NULL endpoints are dropped: a NULL src would silently vanish in
    the contribution join while still absorbing rank as a node, and a
    NULL dst is not a linkable target — neither is a meaningful graph
    vertex.
    """
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .na.drop(subset=["src", "dst"])
        .distinct()
        .withColumn(
            "odeg",
            F.count(F.lit(1)).over(Window.partitionBy("src")).cast("double"),
        )
    )


def _nodes(e: DataFrame) -> DataFrame:
    """Node table [node, dangling] of an ``_out_edges`` list: every
    endpoint once, ``dangling`` True iff it has no out-edge."""
    return (
        e.select(F.col("src").alias("node"), F.lit(False).alias("dangling"))
        .union(e.select(F.col("dst").alias("node"), F.lit(True).alias("dangling")))
        .groupBy("node")
        .agg(F.min("dangling").alias("dangling"))
    )


def _prepared(edges: DataFrame, src: str, dst: str):
    """Lazy (edges[src, dst, odeg], out-degrees[src, odeg], nodes) for
    the fixed-iteration variants; the out-degree table feeds their
    in-plan dangling aggregate. They stay uncached: runtime exchange
    reuse already deduplicates the repeated subtrees, and explicit
    caches here measured slower on the committed protocol."""
    e = _out_edges(edges, src, dst)
    return e, e.select("src", "odeg").distinct(), _nodes(e)


def _pinned(df: DataFrame):
    """Materialize ``df`` via ``localCheckpoint(eager=True)`` and
    return (pinned_df, free_handle). The handle unpersists exactly the
    checkpointed RDD's blocks (resolved by id at call time, so a block
    already reclaimed by ContextCleaner is a no-op) — the lifecycle
    pattern iterative loops need to keep peak storage at ~2 iterates
    instead of O(iterations)."""
    ck = df.localCheckpoint(eager=True)
    rdd_id = int(ck._jdf.queryExecution().analyzed().rdd().id())
    jsc = df.sparkSession.sparkContext._jsc

    def _free(i=rdd_id, jsc=jsc):
        r = jsc.getPersistentRDDs().get(i)
        if r is not None:
            r.unpersist(False)

    return ck, _free


def _pinned_observing(df: DataFrame, **metrics):
    """``_pinned`` with driver scalars riding the pin's own job:
    ``metrics`` maps names to aggregate Columns over ``df``'s rows.
    Returns (pinned_df, free_handle, {name: value}) — the loop's
    stopping probe costs no job of its own."""
    obs = Observation()
    ck, free = _pinned(
        df.observe(obs, *(c.alias(name) for name, c in metrics.items()))
    )
    return ck, free, obs.get


def _step(
    e: DataFrame,
    deg: DataFrame | None,
    tele: DataFrame,
    ranks: DataFrame,
    damping: float,
    dm: float | None = None,
) -> DataFrame:
    """One power-iteration step with an arbitrary teleport
    distribution ``tele``[node, t, ...] (t sums to 1) over ``ranks``
    [node, rank, ...]:

        rank' = (1-d)*t + d*(contribs + dangling_mass*t)

    ``tele`` must hold one row per node. The step returns its columns
    plus the new ``rank``, so whatever the teleport table carries (a
    dangling flag, the previous rank) rides the step without another
    join.

    Uniform PageRank is the special case t = 1/n; personalized
    PageRank passes the normalized seed weights (r9 VERDICT task 5:
    one teleport-parameterized iteration body instead of two copies of
    the power-iteration algebra). Dangling mass re-enters THROUGH the
    teleport distribution — for uniform t that is the classic uniform
    redistribution; for PPR it is the standard every-restart-respects-
    the-seeds convention. With ``dm`` None it is summed in the plan
    (ranks with no row in the out-degree table ``deg``) as a broadcast
    1-row aggregate, keeping a fixed-iteration chain lazy; a converged
    loop that observed the mass on the previous pinned round passes it
    as ``dm`` (and ``deg`` None) instead.

    Scatter-gather: each edge sends ``rank / odeg`` to its dst, and
    each node's teleport row and the contributions sent to it meet in
    ONE groupBy(node) — one shuffle of map-side partial sums, where a
    left join of teleport rows to per-dst sums shuffled twice."""
    sent = ranks.join(e, ranks["node"] == e["src"]).select(
        F.col("dst").alias("node"), (F.col("rank") / F.col("odeg")).alias("c")
    )
    nxt = (
        tele.withColumn("c", F.lit(None).cast("double"))
        .unionByName(sent, allowMissingColumns=True)
        .groupBy("node")
        .agg(
            # the one teleport row of each node holds every carried value
            *(F.first(c, ignorenulls=True).alias(c) for c in tele.columns[1:]),
            F.sum("c").alias("c"),
        )
    )
    if dm is None:
        dangling = (
            ranks.join(deg, ranks["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        nxt, mass = nxt.crossJoin(F.broadcast(dangling)), F.col("dm")
    else:
        mass = F.lit(dm)
    return nxt.select(
        *tele.columns,
        (
            F.lit(1.0 - damping) * F.col("t")
            + F.lit(damping)
            * (F.coalesce(F.col("c"), F.lit(0.0)) + mass * F.col("t"))
        ).alias("rank"),
    )


def _uniform_tele(nodes: DataFrame, n_nodes: float) -> DataFrame:
    return nodes.withColumn("t", F.lit(1.0 / n_nodes))


def _no_ranks(nodes: DataFrame) -> DataFrame:
    """The empty DataFrame[node, rank] of a graph with no node (every
    edge had a NULL endpoint), built without lineage so it outlives
    any freed pin."""
    schema = T.StructType([nodes.schema["node"], T.StructField("rank", T.DoubleType())])
    return nodes.sparkSession.createDataFrame([], schema)


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    round_to: int | None = 8,
    pin_every: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank -> DataFrame[node, rank].

    The iteration count is part of the result's definition (this is
    the oracle-replayable variant: k chained join+agg rounds are
    expressible as k SQL CTEs — see ORACLE_GRAPH_PAGERANK). Ranks sum
    to 1 at every step (dangling mass is redistributed, not dropped).
    ``round_to`` rounds the final rank so engines that sum float
    contributions in different orders still agree bit-for-bit; pass
    None for raw doubles.
    """
    if iterations < 1:
        raise ValueError("pagerank needs at least 1 iteration")
    e, deg, nodes = _prepared(edges, src, dst)
    n_nodes = nodes.count()
    if not n_nodes:
        return _no_ranks(nodes)
    tele = _uniform_tele(nodes, float(n_nodes))
    ranks = tele.select("node", F.col("t").alias("rank"))
    free_prev = None
    for i in range(iterations):
        ranks = _step(e, deg, tele, ranks, damping)
        # Each iterate is referenced twice by the next step, so the
        # lazy plan doubles per round and Catalyst's analysis cost
        # blows up super-linearly in the un-pinned depth; pin lineage
        # every ``pin_every`` rounds (values unchanged — only the
        # plan is truncated; superseded pins are freed as soon as the
        # next pin materializes). r12 cached every iterate instead —
        # measured a pessimization on the committed protocol (2.25 ->
        # 3.21 s): at small iteration counts runtime exchange reuse
        # already deduplicates execution and the plan stays tiny, so
        # short runs (the declared queries: <= 3 iterations) remain
        # fully lazy and byte-identical to r11. pin_every=3 bounds
        # the lazy window to 2^3 plan copies — r12's pin_every=8 let
        # deep runs accumulate 2^8 copies whose ANALYSIS alone took
        # minutes (the 85-214 s graph unit tests).
        if (i + 1) % pin_every == 0 and (i + 1) < iterations:
            ranks, free_now = _pinned(ranks)
            if free_prev is not None:
                free_prev()
            free_prev = free_now
    rank = F.col("rank") if round_to is None else F.round("rank", round_to)
    return ranks.select("node", rank.alias("rank"))


def pagerank_converged(
    edges: DataFrame,
    tol: float = 1e-8,
    max_iterations: int = 50,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, int, bool]:
    """Power iteration to an L1 fixed point ->
    (ranks, iterations_run, converged).

    ``converged`` is True iff the L1 delta dropped below ``tol``
    before the ``max_iterations`` cap — without it a truncated result
    is indistinguishable from a converged one (r9 ADVICE,
    graph.py:167); callers that only want the ranks can still ignore
    it, but audit paths should surface it. A graph with no node (every
    edge has a NULL endpoint) returns an empty DataFrame[node, rank],
    0 iterations, converged.

    One round is one pinned plan. The distinct edge list is pinned
    once with ``odeg`` attached, and the node table [node, dangling]
    is pinned from it with the node count observed on that job. Each
    round's rank table carries ``rank`` beside ``prev`` and is pinned
    with ``localCheckpoint(eager=True)`` — without the pin, round k's
    plan would embed all k-1 predecessors — while an Observation on
    the same job reads the two scalars the loop needs: the L1 delta
    ``sum(|rank - prev|)`` and the dangling mass the next round takes
    as a literal. Superseded rounds are freed as soon as their
    successor is pinned, and the edge and node pins before returning:
    the call leaves exactly one pin behind, the returned ranks.
    """
    if max_iterations < 1:
        raise ValueError("pagerank_converged needs at least 1 iteration")
    with ExitStack() as set_up:  # the returned ranks read neither pin
        e, free_e = _pinned(_out_edges(edges, src, dst))
        set_up.callback(free_e)
        nodes, free_nodes, size = _pinned_observing(
            _nodes(e), n=F.count(F.lit(1)), nd=F.count_if("dangling")
        )
        set_up.callback(free_nodes)
        if not size["n"]:
            return _no_ranks(nodes), 0, True
        ranks = _uniform_tele(nodes, float(size["n"])).withColumn("rank", F.col("t"))
        dm = size["nd"] / size["n"]  # every node starts at rank t = 1/n
        converged = False
        free_prev = None
        for it in range(1, max_iterations + 1):
            tele = ranks.select("node", "dangling", "t", F.col("rank").alias("prev"))
            ranks, free_now, seen = _pinned_observing(
                _step(e, None, tele, ranks, damping, dm=dm),
                delta=F.sum(F.abs(F.col("rank") - F.col("prev"))),
                dm=F.coalesce(
                    F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0)
                ),
            )
            if free_prev is not None:
                free_prev()
            free_prev, dm = free_now, seen["dm"]
            if seen["delta"] < tol:
                converged = True
                break
    return ranks.select("node", "rank"), it, converged


def pagerank_personalized(
    edges: DataFrame,
    teleport: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    round_to: int | None = 8,
    pin_every: int = 3,
) -> DataFrame:
    """Personalized PageRank: the teleport step jumps to ``teleport``'s
    distribution (DataFrame[node, weight], normalized here) instead of
    uniform — rank then measures proximity to the seed set, the form
    crawl curation uses to score hosts against a trusted seed list.

    Dangling mass also re-enters THROUGH the teleport distribution
    (the standard PPR convention: every restart respects the seeds).
    Nodes absent from ``teleport`` get weight 0; iteration starts AT
    the teleport distribution, so a 1-iteration result is already
    seed-relative. Same join/agg shape per iteration as ``pagerank``;
    the teleport column rides the O(|V|) rank table, adding no
    shuffle (it joins on the same node key).
    """
    if iterations < 1:
        raise ValueError("pagerank needs at least 1 iteration")
    e, deg, nodes = _prepared(edges, src, dst)
    w = teleport.select(
        F.col(teleport.columns[0]).alias("node"),
        F.col(teleport.columns[1]).cast("double").alias("w"),
    )
    tele = (
        nodes.join(w, "node", "left")
        .select("node", F.coalesce(F.col("w"), F.lit(0.0)).alias("w"))
    )
    total = tele.agg(F.sum("w")).collect()[0][0]
    if not total or total <= 0:
        raise ValueError(
            "teleport weights must sum to a positive value over the graph's nodes"
        )
    # r13: the r12 tele/per-iterate caches are reverted — PPR was the
    # round's worst graph regression on the committed protocol (1.22
    # -> 5.29 s, 0.23x): the eager `total` collect above forced every
    # cache (edge list included) to materialize through storage before
    # the query's real action even started. Exchange reuse already
    # deduplicates the repeated seed-join and iterate subtrees.
    tele = tele.select("node", (F.col("w") / F.lit(float(total))).alias("t"))
    ranks = tele.select("node", F.col("t").alias("rank"))
    free_prev = None
    for i in range(iterations):
        ranks = _step(e, deg, tele, ranks, damping)
        # same pin cadence + freed-superseded-pin lifecycle as
        # ``pagerank`` (declared queries run 2 iterations — no pins)
        if (i + 1) % pin_every == 0 and (i + 1) < iterations:
            ranks, free_now = _pinned(ranks)
            if free_prev is not None:
                free_prev()
            free_prev = free_now
    rank = F.col("rank") if round_to is None else F.round("rank", round_to)
    return ranks.select("node", rank.alias("rank"))


# ---------------------------------------------------------------------------
# Connected components — the second graph primitive crawl curation
# needs (host-cluster dedup groups; pairs with dedup_neardup_clusters'
# union-find clustering over similarity edges, operators/dedup.py).
# ---------------------------------------------------------------------------


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every edge, distinct, co-partitioned on src.

    Components are an UNDIRECTED notion, so each input edge
    contributes both directions. Self-loops are kept here: they never
    merge anything, but they make every endpoint a ``src``, so the
    node set is one shuffle-free distinct over this list — a node
    whose only edge is a self-loop stays its own singleton component,
    not a vanished vertex. NULL endpoints are dropped as in
    ``_out_edges`` (not meaningful vertices)."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .na.drop(subset=["src", "dst"])
    )
    return (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition("src")
    )


def _und_split(sym: DataFrame):
    """(self-loop-free edge list, nodes[node]) of a ``_symmetric``
    list; both keep its src partitioning."""
    return (
        sym.filter(F.col("src") != F.col("dst")),
        sym.select(F.col("src").alias("node")).distinct(),
    )


def _und_prepared(edges: DataFrame, src: str, dst: str):
    """Lazy symmetrized distinct edge list (co-partitioned on src) +
    nodes, uncached for the same reason as ``_prepared``; k_core pins
    its edge list per round instead."""
    return _und_split(_symmetric(edges, src, dst))


def _cc_round(und: DataFrame, comp: DataFrame) -> DataFrame:
    """One hash-min round: comp'[v] = min(comp[v], min over neighbors
    u of comp[u]), with the input label kept as ``prev``. ONE
    equi-join + ONE groupBy, both hash-partitioned on the reused edge
    partitioning — the same per-iteration shuffle posture as
    PageRank's ``_step`` (only the O(nodes) label table moves; the
    symmetrized edge list stays put)."""
    nbr = (
        comp.join(und, comp["node"] == und["src"])
        .groupBy("dst")
        .agg(F.min("comp").alias("nm"))
    )
    return (
        comp.join(nbr, comp["node"] == nbr["dst"], "left")
        .select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("nm"), F.col("comp"))
            ).alias("comp"),
            F.col("comp").alias("prev"),
        )
    )


def _cc_pointer_jump(comp: DataFrame) -> DataFrame:
    """comp''[v] = min(comp'[v], comp'[comp'[v]]) — pointer jumping,
    carrying ``prev`` through. Labels are node ids (mins over node-id
    sets), so the label row always exists; the left join + coalesce is
    belt-and-braces. This halves label-tree depth per application, so
    hash-min + jump converges in O(log diameter) rounds instead of
    O(diameter) — the difference between ~20 and ~10^4 rounds on a
    chain-shaped crawl frontier."""
    a, b = comp.alias("a"), comp.alias("b")
    return a.join(b, F.col("a.comp") == F.col("b.node"), "left").select(
        F.col("a.node").alias("node"),
        F.least(
            F.col("a.comp"), F.coalesce(F.col("b.comp"), F.col("a.comp"))
        ).alias("comp"),
        F.col("a.prev").alias("prev"),
    )


def connected_components(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    pin_every: int = 3,
) -> DataFrame:
    """Fixed-round hash-min connected components ->
    DataFrame[node, comp] (comp = min node id within ``rounds`` hops).
    The round count is part of the result's definition — this is the
    oracle-replayable variant (k plain hash-min rounds are k chained
    SQL CTEs, see ORACLE_GRAPH_COMPONENTS); labels are final component
    ids only once the graph's min-label has propagated everywhere,
    which ``connected_components_converged`` guarantees and flags.
    Reference anchor: the reference engine has no graph surface; this
    extends the crawl-curation layer (SURVEY §2 extensions).
    """
    if rounds < 1:
        raise ValueError("connected_components needs at least 1 round")
    und, nodes = _und_prepared(edges, src, dst)
    comp = nodes.select("node", F.col("node").alias("comp"))
    free_prev = None
    for i in range(rounds):
        comp = _cc_round(und, comp)
        # same pin cadence + lifecycle as ``pagerank`` (the declared
        # query runs 3 rounds — no pins, fully lazy, r11 shape)
        if (i + 1) % pin_every == 0 and (i + 1) < rounds:
            comp, free_now = _pinned(comp)
            if free_prev is not None:
                free_prev()
            free_prev = free_now
    return comp.select("node", "comp")


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    unpersist_into: list | None = None,
) -> DataFrame:
    """Fixed-round k-core peeling -> DataFrame[node] (the kept set
    after ``rounds`` peels). Each round drops every node whose CURRENT
    degree (over the surviving subgraph) is below ``k`` — dense
    communities survive, chains and stars dissolve. Crawl curation
    uses the k-core to isolate densely interlinked clusters (spam
    rings, mirror farms) that PageRank alone ranks highly.

    One groupBy (degrees) + two semi-joins (edge filter) per round,
    all hash-partitioned on the node key. Fixed rounds are the
    oracle-replayable form (chained CTEs, see ORACLE_GRAPH_KCORE);
    ``k_core_converged`` runs to the fixed point. Peeling strictly
    shrinks the edge set, so per-round cost only decreases.

    Storage lifecycle (r13, on top of the r12 plan-collapse win):
    ``kept`` is referenced by BOTH semi-joins and ``e`` by three
    branches per round, so the fully lazy plan tripled per round
    (3^rounds edge subtrees — 808 Exchanges at 3 rounds,
    plans/r12/graph_kcore_before.txt; collapsing it took the query
    3.63 -> 1.92 s on the driver's committed protocol). r12 collapsed
    it with lazy caches that stayed pinned until session clearCache —
    O(rounds) corpus-scale edge lists in storage. Now each round pins
    its survivor edge list with ``localCheckpoint(eager=True)`` (the
    same materialization the lazy cache paid at action time, plus
    lineage truncation, so the final plan is a flat aggregate over one
    pinned edge list) and immediately frees the previous round's
    blocks, bounding peak storage at ~2 rounds' edges no matter how
    many rounds run. The final round's pinned edges must outlive the
    returned (lazy) ``kept``; pass ``unpersist_into`` to receive a
    zero-arg handle that frees them after the result is fully
    consumed (checkpoint blocks cannot be recomputed — a later action
    on the result fails loudly, never silently wrong; same contract
    as ccnet_perplexity_buckets).
    """
    if rounds < 1:
        raise ValueError("k_core needs at least 1 round")
    und, _nodes = _und_prepared(edges, src, dst)
    e, free_e = _pinned(und)
    kept = None
    for i in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        kept = deg.filter(F.col("d") >= k).select(F.col("src").alias("node"))
        if (i + 1) < rounds:
            nxt, free_nxt = _pinned(
                e.join(kept.withColumnRenamed("node", "src"), "src", "semi")
                .join(kept.withColumnRenamed("node", "dst"), "dst", "semi")
                .select("src", "dst")
            )
            free_e()  # round i's edges are dead once round i+1 is pinned
            e, free_e = nxt, free_nxt
    if unpersist_into is not None:
        unpersist_into.append(free_e)
    return kept


def k_core_converged(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, int, bool]:
    """Peel to the fixed point -> (nodes, rounds_run, converged): the
    EXACT k-core (every surviving node has >= k surviving neighbors).
    Same per-round shape as ``k_core``; ``converged`` False means the
    cap truncated peeling (same contract as the other converged graph
    variants). An emptied graph converges immediately (the empty set
    IS the k-core).

    One round is one pinned plan: each round's surviving edge list is
    pinned with ``localCheckpoint(eager=True)`` and its edge count is
    observed on that same job. Peeling only removes edges, and a round
    that removes a node removes all its edges, so an unchanged edge
    count is exactly the unchanged node set — the fixed point — with
    no probe job of its own. Each superseded edge list is freed once
    its successor is pinned; the call leaves one pin behind, the final
    edge list under the returned nodes."""
    if max_rounds < 1:
        raise ValueError("k_core_converged needs at least 1 round")
    und, _nodes = _und_prepared(edges, src, dst)
    edge_count = F.count(F.lit(1))
    e, free_e, seen = _pinned_observing(und, m=edge_count)
    converged = False
    for it in range(1, max_rounds + 1):
        prev = seen["m"]
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        kept = deg.filter(F.col("d") >= k).select(F.col("src").alias("node"))
        nxt, free_nxt, seen = _pinned_observing(
            e.join(kept.withColumnRenamed("node", "src"), "src", "semi")
            .join(kept.withColumnRenamed("node", "dst"), "dst", "semi")
            .select("src", "dst"),
            m=edge_count,
        )
        free_e()  # round k-1's edges die once round k is pinned
        e, free_e = nxt, free_nxt
        if seen["m"] == prev:
            converged = True
            break
    return (
        e.select(F.col("src").alias("node")).distinct(),
        it,
        converged,
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph ->
    DataFrame[node, triangles] (nodes with zero triangles included).
    Triangles measure local clustering — the link-graph signal that
    separates organic communities from link farms (spam rings are
    near-bipartite: high degree, few triangles).

    Algorithm (compact-forward / degree orientation): orient each
    undirected edge from the LOWER (degree, node) endpoint to the
    higher, then one self-join of the oriented list on its source plus
    one semi-join against the oriented list finds each triangle
    exactly once. Degree orientation bounds every node's out-degree by
    O(sqrt(m)) on any graph, so the candidate-wedge join is O(m^1.5)
    worst case instead of sum(deg^2) — the difference between a hub
    with 10^6 neighbors generating 10^12 wedges and the same hub
    generating none (hubs sort HIGH, so wedges pivot only at low-degree
    nodes). The orientation changes the plan cost, never the result,
    so the DuckDB oracle can replay the plain node-id formulation.
    """
    und, nodes = _und_prepared(edges, src, dst)
    # deg feeds both endpoint-rank joins and fwd feeds three branches
    # (both wedge sides + the closing-edge list); the identical
    # aggregation/exchange subtrees are deduplicated at runtime by
    # exchange reuse — r12's explicit caches here were measured a
    # pessimization on the committed protocol (1.60 -> 2.36 s) and
    # are reverted (r13).
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranked = und.join(deg.withColumnRenamed("src", "node"),
                      und["src"] == F.col("node")).select(
        "src", "dst", F.col("d").alias("sd")
    )
    ranked = ranked.join(
        deg.withColumnRenamed("src", "node").withColumnRenamed("d", "dd"),
        ranked["dst"] == F.col("node"),
    ).select("src", "dst", "sd", "dd")
    # orient low (deg, id) -> high (deg, id); each undirected edge
    # survives exactly once
    fwd = ranked.filter(
        (F.col("sd") < F.col("dd"))
        | ((F.col("sd") == F.col("dd")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst")
    a, b = fwd.alias("a"), fwd.alias("b")
    wedges = a.join(
        b, (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst"))
    ).select(
        F.col("a.src").alias("p"),
        F.col("a.dst").alias("u"),
        F.col("b.dst").alias("v"),
    )
    closing = fwd.select(F.col("src").alias("u"), F.col("dst").alias("v")).union(
        fwd.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    tris = wedges.join(closing, ["u", "v"])  # (p,u,v) closed = one triangle
    # one explode instead of a 3-way union of the triangle list: the
    # same corner multiset, but ``tris`` (a join subtree) appears once
    # in the plan instead of three times
    corner_counts = (
        tris.select(F.explode(F.array("p", "u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return nodes.join(corner_counts, "node", "left").select(
        "node", F.coalesce(F.col("t"), F.lit(0)).alias("triangles")
    )


def connected_components_converged(
    edges: DataFrame,
    max_rounds: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, int, bool]:
    """Hash-min + pointer-jumping to a fixed point ->
    (comp, rounds_run, converged). ``converged`` False means the
    ``max_rounds`` cap truncated propagation and labels may still be
    merging (r9 ADVICE: never make the caller guess).

    One round is one pinned plan: one hash-min propagation followed
    by one pointer jump, pinned with ``localCheckpoint(eager=True)``
    so round k never replays rounds 1..k-1. The label table carries
    the round's input label as ``prev``, so the changed-label count
    that stops the loop is observed on the pin's own job. The
    symmetrized edge list is pinned once and the initial labels are a
    projection of it; superseded rounds and the edge pin are freed,
    so the call leaves one pin behind, the returned labels."""
    if max_rounds < 1:
        raise ValueError("connected_components_converged needs at least 1 round")
    with ExitStack() as set_up:  # the returned labels never read the edge pin
        sym, free_sym = _pinned(_symmetric(edges, src, dst))
        set_up.callback(free_sym)
        und, nodes = _und_split(sym)
        comp = nodes.select("node", F.col("node").alias("comp"))
        converged = False
        free_prev = None
        for it in range(1, max_rounds + 1):
            comp, free_now, seen = _pinned_observing(
                _cc_pointer_jump(_cc_round(und, comp)),
                changed=F.count_if(F.col("comp") != F.col("prev")),
            )
            if free_prev is not None:
                free_prev()
            free_prev = free_now
            if not seen["changed"]:
                converged = True
                break
    return comp.select("node", "comp"), it, converged
