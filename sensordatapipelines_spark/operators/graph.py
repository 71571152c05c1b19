"""Graph analytics over edge lists (charter extension, SURVEY.md §2.7).

Companion to ``dedup.connected_components``: where components CLUSTER the
near-duplicate graph, PageRank RANKS it — the standard centrality measure
for picking the canonical document of a duplicate family (the doc most
linked-to by near-dups) or for weighting crawl sources. Same iterative
shape as components: per-round state is (node, value) pairs partitioned by
node, ``localCheckpoint`` truncates lineage, and the loop runs unchanged on
a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from sensordatapipelines_spark.operators.utility import observe_cap, unpersist_checkpoint
from sensordatapipelines_spark.registry import register


class GraphCapAdvisory(UserWarning):
    """No longer emitted (the cap counters come back through
    ``observation=``); kept importable for callers that filter it."""


def symmetric_edges(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    s: str = "s",
    d: str = "d",
    distinct: bool = False,
) -> DataFrame:
    """Both orientations of every edge as an eager checkpoint of ``(s,
    d)`` rows: the undirected adjacency list the graph operators iterate
    over. ``distinct`` keeps one row per ordered pair.

    Each edge row yields its two orientations through one ``inline`` of
    a two-struct array, so ``edges`` is read once: a union of two
    column-swapped projections is not recognised as one subtree and runs
    an expensive upstream edge builder (a banded MinHash join, a
    co-occurrence explode) twice."""
    sym = edges.select(
        F.inline(
            F.array(
                F.struct(F.col(src_col).alias(s), F.col(dst_col).alias(d)),
                F.struct(F.col(dst_col).alias(s), F.col(src_col).alias(d)),
            )
        )
    )
    if distinct:
        sym = sym.distinct()
    return sym.localCheckpoint()


@register("pagerank")
def pagerank(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iters: int = 3,
    damping: float = 0.85,
    undirected: bool = True,
) -> DataFrame:
    """Power-iteration PageRank → ``(node, rank)`` after a FIXED number of
    rounds (fixed, not convergence-tested, so the run is exactly
    reproducible and an unrolled SQL oracle can replay it).

    ``rank_{t+1}(n) = (1-d)/N + d · Σ_{m→n} rank_t(m)/deg(m)``

    Scale shape per round: one equi-join of the (node, rank/deg) table onto
    the edge list (both keyed by node — co-partitioned after the first
    round) and one map-side-combining sum keyed by destination. Driver
    state: the node count N, a single long. Undirected mode doubles the
    edge list, which guarantees deg ≥ 1 for every node — no dangling-mass
    redistribution needed (documented constraint; pass directed edges only
    if every node has an out-edge).

    Single-action contract (ADVICE r9): the returned frame carries the
    un-materialized per-round join lineage — each ACTION replays the whole
    loop, and float shuffle-sum order is not bit-stable across replays.
    Act on it once (write/collect), or ``localCheckpoint()`` it yourself
    before multi-action use; the library does not pay that extra blocking
    job for the common single-action path (every declared query consumes
    it exactly once, and quantizes ranks before comparison)."""
    if undirected:
        e = symmetric_edges(edges, src_col, dst_col, "src", "dst", distinct=True)
    else:
        e = (
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .distinct()
            .localCheckpoint()
        )
    # e and nodes stay live: the returned lazy frame reads them on every
    # action.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # The node count rides the checkpoint job as an observed metric —
    # the separate count() action was one whole extra job for a scalar.
    _obs = Observation()
    nodes = (
        deg.select(F.col("src").alias("node"), "__deg")
        .observe(_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_nodes = int(_obs.get["n"])
    base = (1.0 - damping) / n_nodes
    ranks = nodes.select(
        "node", "__deg", F.lit(1.0 / n_nodes).alias("rank")
    )
    # No per-round localCheckpoint: ranks_t is consumed exactly ONCE per
    # round (inside contribs), so the lineage is LINEAR — no subtree
    # duplication to cut, and the plan depth is bounded by ``iters``.
    # Each checkpoint was a full blocking JOB (profiled: the query is
    # latency-bound, ~0.8 s of 32-core CPU inside ~6 s of wall — the wall
    # is sequential job turnarounds); folding all rounds into the single
    # final action removes ``iters`` jobs outright. Contrast ``kcore``,
    # whose per-round state feeds TWO consumers and must stay
    # materialized (guide §1.2 per-round job count; §3.3 plan growth is
    # the thing to watch, and it is linear here). Loops with caller-sized
    # ``iters`` stay bounded: checkpoint every 8th round to cap plan
    # depth without paying a job per round.
    for it in range(iters):
        contribs = (
            e.join(
                ranks.select(
                    F.col("node").alias("src"),
                    (F.col("rank") / F.col("__deg")).alias("__c"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            "__deg",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
            ).alias("rank"),
        )
        if it % 8 == 7 and it != iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


@register("triangle_count")
def triangle_count(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list → ``(node,
    n_triangles)`` — the clustering-structure readout of the near-dup
    graph (duplicate families are near-cliques; a high triangle count
    flags template/boilerplate blobs, a low one chance collisions).

    Scale shape: edges canonicalize to ``a < b`` once, then triangles
    enumerate via two equi-joins — (a,b)⋈(b,c) on the shared middle
    node, then a semi-check that (a,c) is an edge. Every join is keyed
    (shuffle by node), no cross product; the standard optimization of
    orienting edges low→high means each triangle is generated exactly
    once as a<b<c. Skewed hubs shuffle by their node id — salt or
    AQE-skew-split if one node dominates (SCALE.md)."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        # three consumers (both wedge sides + the closing semi-join) would
        # each re-derive the upstream edge computation — at 3× the cost of
        # a near-dup candidate join that is itself the expensive part
        # (measured: 14 s → 5 s on the gate). Materialize once.
        .localCheckpoint()
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    tri = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")),
        on=["x", "z"],
        how="left_semi",
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


@register("cooccurrence_edges")
def cooccurrence_edges(
    df: DataFrame,
    actor_col: str,
    bucket_cols: list[str] | tuple[str, ...],
    min_cooccur: int = 3,
    max_bucket_width: int = 10000,
    observation: Observation | None = None,
) -> DataFrame:
    """Co-occurrence graph builder: actors sharing at least
    ``min_cooccur`` distinct context buckets become an undirected edge →
    ``(u, w, n_cooccur)`` with ``u < w``. The generic entity-graph
    constructor (users co-active in the same hour, parts co-purchased in
    the same order, tokens co-occurring in a window).

    Scale shape: ONE keyed shuffle collects each bucket's sorted
    distinct actor set, pairs explode JVM-side from the sorted list
    (``market_basket_pairs`` pattern — fan-out bucket_width²/2, never a
    self-join that reshuffles the occurrence stream), and the pair count
    aggregates once. Mega-buckets are the skew risk: bound them upstream
    (a bucket that half the corpus touches carries no signal) — the
    explode fan-out is the square of the WIDEST bucket, which AQE splits
    but cannot shrink. An ``observation`` holds ``n_buckets`` /
    ``n_hot_buckets`` when the call returns; it checkpoints the kept
    lists (O(occurrences)) that the default call streams."""
    # No pre-``distinct()``: ``collect_set`` already dedups actors within
    # each bucket, so the (actor, bucket) distinct was a second full
    # exchange buying nothing (guide §2.4 — the set semantics are
    # identical, one keyed shuffle instead of two).
    occ = df.select(F.col(actor_col).alias("__a"), *bucket_cols)
    lists = occ.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_set("__a")).alias("__xs")
    )
    # Mega-bucket cap (the documented-but-unenforced skew risk, now
    # enforced): a bucket touched by half the corpus emits width²/2
    # pairs and carries no signal; buckets wider than
    # ``max_bucket_width`` are dropped whole (the ``max_band_df``
    # contract — pairs inside a dropped bucket are not listed).
    lists = observe_cap(
        lists, observation, F.size("__xs") > int(max_bucket_width),
        "n_buckets", "n_hot_buckets",
    ).filter(F.size("__xs") <= int(max_bucket_width))
    if observation is not None:
        lists = lists.localCheckpoint()  # see observe_cap
    combos = lists.select(
        F.explode(
            F.expr(
                "flatten(transform(__xs, (x, k) ->"
                " transform(slice(__xs, k + 2, size(__xs)),"
                " y -> struct(x as u, y as w))))"
            )
        ).alias("__p")
    )
    return (
        combos.select(F.col("__p.u").alias("u"), F.col("__p.w").alias("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .filter(F.col("n_cooccur") >= F.lit(int(min_cooccur)))
    )


@register("adamic_adar")
def adamic_adar(
    edges: DataFrame,
    src_col: str = "u",
    dst_col: str = "w",
    min_common: int = 2,
    top_k: int = 5,
    max_degree: int = 10000,
    observation: Observation | None = None,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected graph → the
    ``top_k`` strongest NON-edges per node: ``(u, w, n_common, aa_score,
    rank)``. Each shared neighbor z contributes 1/ln(deg z) — rare
    mutual contexts weigh more than hubs — the classic
    common-neighbor heuristic for "users who should meet" /
    "documents probably from one template family".

    Scale shape: candidate pairs stream from a self-equi-join of the
    neighbor list on the shared neighbor (fan-out deg²/2 per node —
    bound hubs upstream), existing edges drop via LEFT ANTI on the
    canonical pair, and ranking happens on an EXACT BIGINT: each
    1/ln(deg) term is
    quantized to 1e-6 before the sum (transcendental values never park
    on rounding half-way points), so the per-node top-k window is
    deterministic cross-engine — no float-rank flips. An ``observation``
    holds ``n_nodes`` / ``n_hub_nodes`` when the call returns."""
    # The symmetric list feeds the neighbor list and the existing-edge
    # anti-join. It stays non-distinct: its ``distinct`` below is part of
    # the neighbor-list plan (a distinct checkpoint costs one more job).
    sym = symmetric_edges(edges, src_col, dst_col)
    # Candidate generation = self-join of the neighbor list on the shared
    # neighbor z, NOT a per-row combination-array explode: co-activity
    # graphs are DENSE (the sf0.1 gate averages degree ~184), and
    # materializing a deg²/2-element struct array per adjacency row
    # before exploding is GC death — the equi-join streams the exact same
    # deg²/2 candidates per z through the shuffle without ever holding a
    # neighborhood's pairs in one buffer. The basket operators keep the
    # array explode — their widths are bucket-bounded constants;
    # neighborhoods aren't.
    nbr = sym.distinct()
    deg = nbr.groupBy("s").agg(F.count(F.lit(1)).alias("__deg"))
    term6 = F.round(F.lit(1e6) / F.log(F.col("__deg").cast("double"))).cast("long")
    # Hub cut (the minhash ``max_band_df`` pattern): a shared neighbor z
    # fans out deg(z)²/2 candidates, so ONE celebrity node on a power-law
    # graph is quadratic death no AQE split can shrink. Nodes with
    # deg > max_degree are excluded from MEDIATING candidates (they carry
    # ~no Adamic-Adar weight anyway: 1/ln(deg) → 0).
    if observation is not None:
        deg = observe_cap(
            deg, observation, F.col("__deg") > int(max_degree), "n_nodes", "n_hub_nodes"
        ).localCheckpoint()  # see observe_cap; one row per node
    keep = deg.filter(
        (F.col("__deg") >= 2) & (F.col("__deg") <= int(max_degree))
    )
    nbrt = nbr.join(keep, "s").select("s", "d", term6.alias("__t6"))
    # The weighted neighbor list feeds BOTH self-join sides, and its own
    # degree join re-evaluates the distinct twice more — without a cut the
    # (sym → distinct) shuffle runs 4×. O(2·edges) rows, the same storage
    # contract as the symmetric-list checkpoint above.
    nbrt = nbrt.localCheckpoint()
    if observation is not None:
        unpersist_checkpoint(deg)
    # Re-spread the probe side before the fan-out join: the neighbor list
    # is small, so AQE coalesces its shuffle to a couple of partitions —
    # and the deg²/2-amplified join OUTPUT inherits that, serializing the
    # map-side partial aggregation (measured: the 27M-candidate agg ran
    # on 2 tasks, 10.4 s; at full width it's ~2 s). A 2*deg-row shuffle
    # buys parallelism for a deg²/2-row stage. The partition count is
    # pinned explicitly — an unnumbered repartition is itself fair game
    # for AQE coalescing, which would undo the spread.
    n_part = int(sym.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    probe = nbrt.repartition(n_part, F.col("s"))
    scored = (
        probe.alias("a")
        .join(nbrt.alias("b"), "s")
        .filter(F.col("a.d") < F.col("b.d"))
        .select(
            F.col("a.d").alias("u"), F.col("b.d").alias("w"), F.col("a.__t6").alias("__t6")
        )
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("__t6").alias("__aa6"),
        )
        .filter(F.col("n_common") >= F.lit(int(min_common)))
    )
    # least/greatest collapses both orientations of an edge to one
    # canonical pair, so reading the symmetric list gives the same set.
    canon = sym.select(
        F.least(F.col("s"), F.col("d")).alias("u"),
        F.greatest(F.col("s"), F.col("d")).alias("w"),
    )
    new_pairs = scored.join(canon, ["u", "w"], "left_anti")
    wrank = Window.partitionBy("u").orderBy(
        F.col("__aa6").desc(), F.col("w").asc_nulls_last()
    )
    return (
        new_pairs.withColumn("rank", F.row_number().over(wrank))
        .filter(F.col("rank") <= F.lit(int(top_k)))
        .select(
            "u",
            "w",
            "n_common",
            (F.col("__aa6").cast("double") / F.lit(1e6)).alias("aa_score"),
            "rank",
        )
    )


@register("kcore")
def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 4,
    src_col: str = "u",
    dst_col: str = "w",
) -> DataFrame:
    """Bounded k-core peeling → the surviving subgraph's
    ``(node, degree)`` after ``rounds`` rounds of deleting nodes with
    degree < k. The standard "dense cohesive region" extractor (spam
    rings, template families, power-user cliques); a FIXED round count
    (like ``pagerank``'s fixed iterations) keeps the run deterministic
    and oracle-replayable — each round is one keyed degree aggregate +
    one semi-join filter, ``localCheckpoint`` truncates the loop
    lineage so the plan never grows superlinearly."""
    sym = symmetric_edges(edges, src_col, dst_col)
    # Deferred unpersist-on-supersede (VERDICT r9 #6): each round's new
    # sym checkpoint makes the previous round's blocks dead — release
    # them now instead of waiting for the driver GC. The final sym stays
    # live (the returned aggregate reads it).
    for _ in range(int(rounds)):
        alive = (
            sym.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= F.lit(int(k)))
            .select("s")
        )
        prev = sym
        sym = (
            sym.join(alive, "s", "left_semi")
            .join(alive.select(F.col("s").alias("d")), "d", "left_semi")
            .select("s", "d")
            .localCheckpoint()
        )
        unpersist_checkpoint(prev)
    return (
        sym.groupBy("s")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("s").alias("node"), "degree")
    )


@register("bfs_depths")
def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
    src_col: str = "u",
    dst_col: str = "w",
    node_col: str = "node",
) -> DataFrame:
    """Bounded-depth BFS over an undirected edge list → ``(node,
    depth)``: the minimum hop distance from ANY seed, up to
    ``max_depth`` (unreached nodes are absent). The neighborhood-
    expansion primitive behind influence radii, blast-radius audits and
    k-hop feature collection.

    Scale shape (100 TB): classic frontier expansion — each round joins
    the CURRENT FRONTIER (not the full label table) against the edge
    list, one keyed shuffle per round, minus already-visited via LEFT
    ANTI; rounds are bounded by ``max_depth`` by contract (the
    deterministic-round pattern of ``kcore``/``pagerank``), and
    ``localCheckpoint`` truncates lineage per round. Frontier size is
    the skew knob: a dense graph saturates (frontier → whole component)
    within a few hops, after which anti-joins shrink the work to zero."""
    sym = symmetric_edges(edges, src_col, dst_col, distinct=True)
    visited = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited
    # checkpoints ``visited`` reads; a compaction supersedes all of them.
    pending = [visited]
    # a frontier already folded into a compaction: dead once the next
    # round's frontier materializes.
    stale = None
    for d in range(1, int(max_depth) + 1):
        # The empty-frontier test rides the checkpoint job as an observed
        # metric (same fix as connected_components' convergence test):
        # ``isEmpty`` was a take() costing up to 4 extra jobs exactly on
        # the terminating round.
        obs = Observation()
        nxt = (
            frontier.join(sym, frontier.node == sym.s)
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        if stale is not None:
            unpersist_checkpoint(stale)
            stale = None
        if not obs.get["n"]:
            unpersist_checkpoint(nxt)
            break
        # No per-round checkpoint on visited: it is a pure UNION of frames
        # that are each already checkpointed (seeds + every nxt), so
        # re-consuming it costs RDD scans only — the per-round visited
        # checkpoint was a third blocking job per round storing a
        # cumulatively growing O(depth·nodes) copy for nothing (guide
        # §1.2 per-round job count). But each round's anti-join re-scans
        # every prior frontier block, so a caller-sized ``max_depth``
        # would grow O(depth²) scans — compact visited every 8th round
        # (pagerank's cadence) to bound both plan width and re-scan cost
        # without paying a job per round (ADVICE r9).
        visited = visited.unionByName(nxt)
        pending.append(nxt)
        if d % 8 == 0:
            visited = visited.localCheckpoint()
            # the compacted copy supersedes every folded-in block; the
            # current frontier stays until the next round has joined it
            for old in pending[:-1]:
                unpersist_checkpoint(old)
            pending = [visited]
            stale = nxt
        frontier = nxt
    if stale is not None:
        unpersist_checkpoint(stale)
    # only the per-round joins read sym; the result reads ``pending``
    unpersist_checkpoint(sym)
    return visited.select(
        F.col("node"), F.col("depth").cast("long").alias("depth")
    )


@register("jaccard_link_pred")
def jaccard_link_pred(
    edges: DataFrame,
    src_col: str = "u",
    dst_col: str = "w",
    min_common: int = 2,
    top_k: int = 5,
    max_degree: int = 10000,
    observation: Observation | None = None,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over an undirected graph →
    the ``top_k`` strongest NON-edges per node: ``(u, w, n_common,
    n_union, jaccard_e6, rank)`` with ``jaccard_e6 = |Γu∩Γw|·1e6 div
    |Γu∪Γw|`` — ALL-integer (exact integer division), so ranking can
    never float-flip cross-engine. The set-overlap complement to
    Adamic–Adar: degree-normalized instead of rarity-weighted.

    Scale shape: candidates stream from a self-equi-join of the neighbor
    list on the shared neighbor (never all-pairs); |∪| derives from the
    degree table (|u|+|w|−|∩|), so no second set-scan; existing edges
    drop via LEFT ANTI on the canonical pair; one per-node top-k window
    on (jaccard_e6 desc, w) — deterministic ties. An ``observation``
    holds ``n_nodes`` / ``n_hub_nodes`` when the call returns."""
    sym = symmetric_edges(edges, src_col, dst_col)
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    if observation is not None:
        deg = observe_cap(
            deg, observation, F.col("deg") > int(max_degree), "n_nodes", "n_hub_nodes"
        ).localCheckpoint()  # see observe_cap; one row per node
    # Hub cut (see adamic_adar): mediators with deg > max_degree are
    # excluded from candidate generation — deg(z)²/2 fan-out through one
    # celebrity node is the only quadratic term left in this plan.
    ok = deg.filter(F.col("deg") <= int(max_degree)).select("s")
    med = sym.join(ok, "s")
    a = med.select(F.col("s").alias("z"), F.col("d").alias("x"))
    b = med.select(F.col("s").alias("z"), F.col("d").alias("y"))
    common = (
        a.join(b, "z")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= int(min_common))
    )
    # Canonical existing-edge pairs derive from the CHECKPOINTED sym, not
    # the raw ``edges`` frame: least/greatest collapses both orientations
    # to the same canonical pair, so the set is identical — but reading it
    # off sym means an expensive upstream edge builder (the co-occurrence
    # explode) runs once per query instead of twice (guide §2.4: remove
    # recomputed subtrees before removing shuffles).
    # No ``.distinct()`` on canon: it feeds a LEFT ANTI join, where right-
    # side duplicates cannot change the result — the dedup was a full
    # exchange + aggregate spent on nothing (guide §2.4).
    canon = sym.select(
        F.least(F.col("s"), F.col("d")).alias("x"),
        F.greatest(F.col("s"), F.col("d")).alias("y"),
    )
    newp = common.join(canon, ["x", "y"], "left_anti")
    scored = (
        newp.join(deg.withColumnRenamed("s", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("s", "y").withColumnRenamed("deg", "dy"), "y")
        .withColumn("n_union", (F.col("dx") + F.col("dy") - F.col("n_common")).cast("long"))
        .withColumn(
            "jaccard_e6",
            F.expr("n_common * 1000000 DIV n_union").cast("long"),
        )
    )
    both = scored.select(
        F.col("x").alias("u"), F.col("y").alias("w"),
        "n_common", "n_union", "jaccard_e6",
    ).unionByName(
        scored.select(
            F.col("y").alias("u"), F.col("x").alias("w"),
            "n_common", "n_union", "jaccard_e6",
        )
    )
    win = Window.partitionBy("u").orderBy(F.desc("jaccard_e6"), F.asc_nulls_last(F.col("w")))
    return (
        both.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= int(top_k))
        .select("u", "w", F.col("n_common").cast("long").alias("n_common"),
                "n_union", "jaccard_e6", "rank")
    )
