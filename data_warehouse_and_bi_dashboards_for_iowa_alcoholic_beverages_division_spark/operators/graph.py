"""Distributed connected components — the clustering step of near-dup
deduplication (group pairwise matches into clusters, keep one canonical
document per cluster).

The reference repo has no graph step (its dedup is `distinct()`,
`utils.py:18`); this is part of the beyond-reference training-data
pipeline surface: MinHash/Jaccard emit *pairs*, but a keep/drop
decision needs *clusters* (A~B, B~C ⇒ {A,B,C} keeps exactly one doc).

Algorithm: iterative min-label propagation over the undirected edge
set. Each round every vertex adopts the minimum component id among
itself and its neighbors; convergence in O(graph diameter) rounds.
Near-dup graphs are dense little cliques (blocking guarantees all
members of an identical-content group pair up), so diameter is tiny —
2-4 rounds in practice. Each round is one shuffle on the edge list
plus a hash aggregate, all JVM-side; `localCheckpoint` truncates the
growing lineage so round N's plan does not replay rounds 1..N-1.

At 100 TB scale the same loop holds: the shuffled payload is two longs
per edge, and the iteration count is bounded by cluster diameter, not
corpus size. For adversarially chained graphs (long paths) pass
``algorithm="star"``: alternating large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond") —
same interface and output, O(log d) rounds instead of O(d). The
min-label default RAISES if it exits at ``max_iter`` unconverged
rather than silently returning mislabeled components.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation


def _observed_checkpoint(df: DataFrame, *metric_exprs):
    """Materialize ``df`` as a localCheckpoint with aggregate metrics
    riding the SAME pass via ``observe`` (CollectMetrics): the
    convergence probes below used to be a separate agg whose exchange
    + collect added two driver jobs per loop round on top of the
    checkpoint materialization. An observation is computed inside the
    materializing job itself — zero extra pass, zero extra shuffle,
    exact (the metrics run the identical aggregate expressions over
    the identical rows). ``Observation.get`` blocks until an ACTION
    completes; ``localCheckpoint(eager=True)`` runs through
    ``Dataset.withAction``, which posts the SQL-execution-end event
    the observation listens for, so the get below never hangs.
    r16 interleaved A/B at sf0.1 (5-rep medians, q190's real graph):
    star loop 3.52 → 3.26 s (55 → 49 jobs), min-label loop
    3.83 → 3.22 s (62 → 51 jobs); labels identical."""
    obs = Observation()
    out = df.observe(obs, *metric_exprs).localCheckpoint(eager=True)
    return out, obs.get


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge list as canonical (a < b) pairs, self-loops
    dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node connects its strictly-larger
    neighbors to the minimum of its neighborhood (incl. itself)."""
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("a"), F.col("v").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller-or-equal
    neighborhood (incl. itself) to that neighborhood's minimum. On
    canonical (a < b) pairs the ≤-neighborhood of b is exactly its a
    side."""
    m = e.groupBy("b").agg(F.min("a").alias("m"))
    center = m.select(F.col("m").alias("a"), F.col("b"))
    others = (
        e.join(m, "b")
        .where(F.col("a") != F.col("m"))
        .select(F.col("m").alias("a"), F.col("a").alias("b"))
    )
    return center.unionByName(others).distinct()


def _star_components(vertices: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction to star graphs —
    O(log diameter) rounds, each a constant number of (edge, two longs)
    shuffles, the Kiveris et al. shape that holds on adversarially
    chained graphs where min-label propagation needs O(diameter)
    rounds. Convergence = stable canonical edge set (count + order-
    insensitive hash checksum, then a final star-shape assertion that
    every non-center node has exactly one center — so a checksum
    collision cannot return a mislabeled result silently)."""
    # convergence checksum = an OBSERVATION riding the checkpoint
    # materialization (see _observed_checkpoint): one job per round
    # materializes the round AND yields the checksum — the former
    # separate checksum aggregate cost its own exchange + collect jobs
    # on every round, and at this loop's scale the per-job driver
    # latency IS the wall (r15/r16 profiles). bit_xor:
    # order-insensitive and overflow-free under ANSI mode (a SUM of
    # 64-bit hashes overflows long).
    _checksum_exprs = (
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("a", "b")).alias("h"),
    )

    e, m = _observed_checkpoint(_canonical_edges(edges), *_checksum_exprs)
    prev_sum = (m["n"], m["h"])
    converged = False
    for _ in range(max_iter):
        new_e, m = _observed_checkpoint(_small_star(_large_star(e)), *_checksum_exprs)
        # NB: unpersist() does NOT free localCheckpoint blocks (they
        # live in the checkpoint RDD, not the Dataset cache); it only
        # clears any cache-manager entry. The checkpoint blocks are
        # reclaimed by Spark's ContextCleaner once the round's
        # DataFrame (and its JVM RDD) is dereferenced — here each
        # round drops the previous reference, so at most two rounds'
        # edge lists (two longs per edge) are live at once, bounded
        # GC-based reclamation we accept and document rather than
        # reach into the RDD internals per round.
        e.unpersist()
        e = new_e
        cur = (m["n"], m["h"])
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        raise RuntimeError(
            f"star connected-components did not converge in {max_iter} rounds"
        )
    # star graphs: comp(b) = a; centers and isolated vertices are their
    # own component. Assert star shape — one center per node. Plain
    # count, not count_distinct: e is a distinct canonical (a, b) set
    # (every round ends in distinct()), so rows-per-b equals
    # centers-per-b — same answer without the distinct-agg
    # Expand + second exchange in the assert's plan.
    multi = e.groupBy("b").agg(F.count(F.lit(1)).alias("nc")).where("nc > 1")
    if multi.limit(1).count() > 0:
        raise RuntimeError(
            "star contraction checksum converged on a non-star edge set "
            "(hash collision or bug) — rerun with a larger max_iter"
        )
    comp = vertices.join(
        e.select(F.col("b").alias("node"), F.col("a").alias("comp")), "node", "left"
    ).select("node", F.coalesce("comp", "node").alias("comp"))
    e.unpersist()
    return comp


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    algorithm: str = "min_label",
) -> DataFrame:
    """``vertices``: one column ``node``; ``edges``: columns
    ``src``/``dst`` (undirected, any orientation). Returns
    ``(node, comp)`` where ``comp`` is the minimum node id reachable
    from ``node`` — a deterministic cluster id on any cluster shape.

    ``algorithm="min_label"`` (default) converges in O(diameter)
    rounds — right for dedup graphs (dense little cliques); it RAISES
    if still unconverged at ``max_iter`` instead of returning silently
    wrong labels. ``algorithm="star"`` is the large-star/small-star
    contraction — O(log diameter) rounds, the choice for long-path
    graphs."""
    if algorithm == "star":
        return _star_components(vertices, edges, max_iter)
    if algorithm != "min_label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # both orientations in ONE pass over the edge lineage (explode of a
    # two-struct array) — the former unionByName evaluated the upstream
    # edge pipeline twice inside the materializing job.
    #
    # SELF-LOOPS are appended once (one narrow pass over the vertex
    # list): min over N(v) ∪ {v} is then exactly one join + one
    # groupBy per round, where the loop used to also union the previous
    # labels back in and re-aggregate — a second |V|-row exchange per
    # round whose only job was keeping each node's own label in the
    # min-fold. The sym table is additionally PRE-PARTITIONED on the
    # join key before its checkpoint: every round's join re-shuffled
    # the (static) edge list by dst; localCheckpoint captures the
    # partitioning, so all rounds reuse it — one up-front shuffle of
    # (2|E| + |V|) rows replaces one per round. r16 interleaved A/B at
    # sf0.1 (5-rep medians): 4.22 s → 3.43 s (self-loops) → 2.90 s
    # (+pre-partition); identical labels on every tested graph. (The
    # measured-rejected alternatives live in OPTIMIZATION_r16.md:
    # double contraction regressed both loops.)
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .unionByName(
            vertices.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .repartition(width, "dst")
        # edge list is reused every round — lazy checkpoint, so it
        # materializes inside the FIRST round's observed-checkpoint job
        # rather than as its own up-front pass
        .localCheckpoint(eager=False)
    )

    # Convergence probe = an OBSERVATION riding each round's checkpoint
    # materialization (see _observed_checkpoint — no separate aggregate
    # job). Labels only ever DECREASE (min-fold), so a round changed
    # nothing iff the label total is unchanged. decimal(38,0) keeps the
    # sum EXACT (no float drift, no bigint overflow until ~1e38, far
    # past any id-sum at 100 TB), so the equality is as rigorous as the
    # former row-by-row join compare.
    _label_exprs = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
    )

    comp, m = _observed_checkpoint(
        vertices.select("node", F.col("node").alias("comp")), *_label_exprs
    )
    prev = (m["n"], m["s"])
    converged = False
    for _ in range(max_iter):
        # min over N(v) ∪ {v}: the self-loops in sym carry each node's
        # own previous label into the fold, so the single groupBy IS the
        # full min-label step (see the sym construction note above)
        new_comp, m = _observed_checkpoint(
            sym.join(comp, sym["dst"] == comp["node"])
            .groupBy("src")
            .agg(F.min("comp").alias("comp"))
            .select(F.col("src").alias("node"), "comp"),
            *_label_exprs,
        )
        cur = (m["n"], m["s"])
        comp = new_comp
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"min-label connected-components did not converge in {max_iter} "
            "rounds — the graph's diameter exceeds max_iter; use "
            'algorithm="star" (O(log d) rounds) or raise max_iter'
        )
    return comp


def dedup_clusters(
    docs: DataFrame,
    match_pairs: DataFrame,
    algorithm: str = "auto",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup keep-list: every document (``doc_id``) labelled with its
    cluster id (min doc id in its connected component; singletons are
    their own cluster) and ``keep`` = is-the-canonical-member.
    Downstream corpus filtering is then ``WHERE keep``.

    ``algorithm``: ``"min_label"`` / ``"star"`` pass through to
    :func:`connected_components`; ``"auto"`` (default) runs min-label
    — O(diameter) rounds, right for the dense little cliques real
    near-dup graphs are — and on its non-convergence raise falls back
    to the large-star/small-star contraction (O(log d) rounds), which
    handles the adversarial long-chain case without anyone having to
    remember a knob. Both algorithms label a component with its
    minimum node id, so the fallback is output-identical."""
    vertices = docs.select(F.col("doc_id").alias("node"))
    edges = match_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    if algorithm == "auto":
        try:
            comp = connected_components(vertices, edges, max_iter, "min_label")
        except RuntimeError:
            comp = connected_components(vertices, edges, max_iter, "star")
    else:
        comp = connected_components(vertices, edges, max_iter, algorithm)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


def pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)`` — the
    link-graph importance score a web-scale corpus pipeline uses for
    quality weighting (the original crawl-prioritization signal).

    Each iteration is one join of the rank vector against the edge
    list plus one aggregation on ``dst`` — the payload shuffled per
    round is (edge, one double), never the corpus. Dangling nodes
    (no out-edges) simply leak their mass, the standard simplification;
    ranks still order nodes by in-link weight. ``n_iter`` is a small
    constant: at any scale the cost is n_iter scans of the edge list.

    Cross-engine float parity (q163 oracle unrolls the same
    iterations in DuckDB CTEs): contributions fold per target in
    sorted source order — ``aggregate(array_sort(collect_list(...)))``
    vs ``list_sum(list(... ORDER BY src))`` — and every arithmetic
    expression uses one fixed tree, so the ranks are bit-identical
    before any rounding.
    """
    # checkpoint the static inputs and each round's rank vector —
    # without truncation the unrolled plan re-evaluates the edge
    # derivation once per nesting level and the previous ranks
    # O(n_iter^2) times (same device as connected_components above;
    # values are unaffected, folds stay order-pinned)
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nstat = nodes.agg(F.count("*").alias("n"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))

    r = nodes.crossJoin(F.broadcast(nstat)).select(
        "node", (F.lit(1.0) / F.col("n").cast("double")).alias("r")
    )
    prev: DataFrame | None = None
    for _ in range(n_iter):
        contribs = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                "dst",
                "src",
                (F.lit(damping) * (F.col("r") / F.col("deg").cast("double"))).alias("c"),
            )
        )
        agg = contribs.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("s")
        )
        r = (
            nodes.join(agg, nodes["node"] == agg["dst"], "left")
            .crossJoin(F.broadcast(nstat))
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("n").cast("double")
                    + F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        # the new round is eagerly materialized from its own blocks, so
        # the previous round's checkpoint is dead weight — drop the
        # reference so the ContextCleaner reclaims its blocks (see the
        # _star_components note: unpersist() itself cannot free
        # localCheckpoint storage; dereferencing is what releases it)
        if prev is not None:
            prev.unpersist()
        prev = r
    e.unpersist()
    nodes.unpersist()
    return r


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to a SEED set
    instead of uniformly — scores become 'importance relative to the
    seeds', the propagation signal quality-weighting pipelines use to
    spread a small trusted-label set over a link graph (TrustRank
    family). Same per-iteration shape as :func:`pagerank` — one edge
    join + one aggregation, (edge, double) payloads, n_iter edge
    scans at any scale — with the teleport vector a broadcast-joined
    per-node column. Seeds not present in the graph are ignored
    (mass is normalized over seeds ∩ nodes); contribution folds stay
    source-order-pinned so the oracle matches bit-for-bit."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    s = seeds.select("node").distinct().join(nodes, "node")
    # degenerate seed set (seeds ∩ nodes = ∅) would divide by ns=0 and
    # silently turn every rank NULL — fail loudly instead; the probe is
    # a driver-side count on the (tiny) seed intersection only
    if s.limit(1).count() == 0:
        raise ValueError(
            "personalized_pagerank: no seed appears in the graph "
            "(seeds ∩ nodes is empty) — ranks would be undefined"
        )
    sstat = s.agg(F.count("*").alias("ns"))
    # per-node teleport column: (1-d)/|S| on seeds, 0 elsewhere —
    # checkpointed once, reused every round
    tagged = (
        nodes.join(s.select(F.col("node"), F.lit(True).alias("is_seed")), "node", "left")
        .crossJoin(F.broadcast(sstat))
        .select(
            "node",
            F.when(
                F.col("is_seed"),
                (F.lit(1.0) - F.lit(damping)) / F.col("ns").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("tele"),
            F.when(F.col("is_seed"), F.lit(1.0) / F.col("ns").cast("double"))
            .otherwise(F.lit(0.0))
            .alias("r0"),
        )
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    r = tagged.select("node", F.col("r0").alias("r"))
    prev: DataFrame | None = None
    for _ in range(n_iter):
        contribs = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                "dst",
                "src",
                (F.lit(damping) * (F.col("r") / F.col("deg").cast("double"))).alias("c"),
            )
        )
        agg = contribs.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("s")
        )
        r = (
            tagged.join(agg, tagged["node"] == agg["dst"], "left")
            .select(
                "node",
                (F.col("tele") + F.coalesce(F.col("s"), F.lit(0.0))).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            prev.unpersist()
        prev = r
    e.unpersist()
    tagged.unpersist()
    return r
