"""Connected components over an edge list — the clustering step that
turns near-duplicate PAIRS (MinHash/SimHash/embedding candidates) into
dedup CLUSTERS with one kept representative per component.

No reference counterpart (the reference delegates all compute to the
warehouse, which has no iterative operator); this is the standard
hash-min label propagation used by large-scale dedup pipelines, with a
**frontier** (delta) iteration:

- state: one (vertex, label) row per vertex, label = smallest vertex id
  known reachable;
- iteration: only labels that IMPROVED last round (the frontier) flow
  one hop to their neighbors; every vertex keeps the min of its current
  label and the incoming frontier labels. Labels are monotone
  decreasing, so information a vertex propagated the round it last
  changed never needs re-sending — the classic semi-naive datalog /
  delta-iteration argument. Late rounds therefore join the edge list
  against a shrinking frontier instead of the full vertex set;
- termination: frontier empty (converges in O(component diameter)
  rounds; near-dup clusters are shallow — text corpora measure
  single-digit diameters). Exhausting ``max_iter`` with a non-empty
  frontier raises instead of returning silently split components.

Scale posture: per-round cost is one shuffle join of the edge list with
the FRONTIER (not all labels) plus a map-side-combinable min agg and a
narrow vertex-keyed merge join; per-task state is O(1) per key. The
driver's per-round control scalar, the frontier size, is observed in
the job that checkpoints the round (``checkpoint_observed``): no probe
job. Lineage is truncated each round with ``localCheckpoint`` so
the plan doesn't grow with iterations. Shuffle width is left to the
session (AQE coalesces the shrinking per-round shuffles at runtime);
no session-global conf is mutated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint_observed, track_cache

# Fixed-round loops on linear lineage (pagerank_integer,
# label_propagation) localCheckpoint their state every this many rounds:
# short loops run as one action, long ones keep a bounded plan depth.
_CHECKPOINT_EVERY = 8

# pagerank_integer: damping 85/100 over a total of 1e12 mass units (the
# oracle's _pagerank_iter_sql hardcodes the same three values).
_DAMPING_NUM = 85
_DAMPING_DEN = 100
_MASS = 1_000_000_000_000


def _both_directions(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u,v) and (v,u) rows from ONE scan of ``edges`` (explode of two
    structs) — a self-union would evaluate the upstream edge pipeline
    (often a whole LSH candidate generation) twice in the same plan."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("__u"), F.col(dst).alias("__v")),
                F.struct(F.col(dst).alias("__u"), F.col(src).alias("__v")),
            )
        ).alias("__e")
    ).select("__e.__u", "__e.__v")


def _cached_adjacency(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The static both-directions distinct ``(__u, __v)`` edge list of
    an iterative graph loop, cached pre-partitioned on the per-round
    join key ``__v``. Persisting keeps that partitioning visible to
    Catalyst (localCheckpoint's LogicalRDD drops it), so when the
    joined per-round frame is too large to broadcast the sort-merge
    join reads the cached edges with NO exchange — the edge list never
    re-shuffles, round after round. One repartition at init buys it."""
    return track_cache(_both_directions(edges, src, dst).distinct().repartition("__v"))


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    max_iter: int = 50,
) -> DataFrame:
    """Label each vertex of the undirected graph ``edges`` with the
    minimum vertex id of its connected component.

    Returns ``(vertex, component)`` for every vertex that appears in at
    least one edge (isolated vertices aren't represented in an edge
    list). Deterministic: no RNG, no order dependence.

    Raises ``RuntimeError`` if ``max_iter`` rounds don't reach the
    fixpoint (one-hop hash-min needs O(diameter) rounds, so a component
    with diameter > max_iter would otherwise be silently mislabeled).
    """
    und = _cached_adjacency(edges, src, dst)

    # initial label: min over self and direct neighbors — equivalently
    # the result of round 0 with every vertex in the frontier. Round-0
    # information no neighbor has seen yet: every vertex whose label
    # isn't its own id (a self-labeled vertex u has u < all its
    # neighbors, and each neighbor already took min(self, u) in init).
    labels, seen = checkpoint_observed(
        und.groupBy("__u").agg(F.least(F.min("__v"), F.first("__u")).alias("__lbl")),
        F.count_if(F.col("__lbl") != F.col("__u")).alias("frontier"),
    )
    # Lazy filter of the checkpointed labels — not worth its own job.
    frontier = labels.filter(F.col("__lbl") != F.col("__u"))

    # One hop per round. Each round's frontier size is observed in the
    # job that checkpoints the round, so the convergence test costs no
    # job of its own (an isEmpty() probe was a separate job of
    # 45-60 ms per round). Probe batching (two hops per probe) benched
    # WORSE on the whole CC family (+3-4 jobs, +0.3-0.9 s per query, r8):
    # the extra hop a batch runs past the fixpoint is a full
    # join+agg+checkpoint (3-4 AQE stage jobs); a lazy first-of-pair
    # checkpoint was worst — its two consumers (frontier and labels)
    # materialize through separate AQE plan compilations, so the
    # unmaterialized subtree ran TWICE instead of deduping through the
    # checkpoint RDD.
    for _ in range(max_iter):
        if seen["frontier"] == 0:
            break
        # frontier labels flow one hop; each touched vertex's candidate
        # is the min incoming frontier label
        cand = (
            und.join(frontier.select(F.col("__u").alias("__v"), "__lbl"), "__v")
            .groupBy("__u")
            .agg(F.min("__lbl").alias("__cand"))
        )
        # one materialization per round: frontier and labels are cheap
        # narrow projections of the checkpointed merge (lineage depth 1)
        merged, seen = checkpoint_observed(
            labels.join(cand, "__u", "left"),
            F.count_if(F.col("__cand") < F.col("__lbl")).alias("frontier"),
        )
        frontier = merged.filter(F.col("__cand") < F.col("__lbl")).select(
            "__u", F.col("__cand").alias("__lbl")
        )
        labels = merged.select(
            "__u", F.least("__lbl", F.coalesce("__cand", F.col("__lbl"))).alias("__lbl")
        )
    else:
        # all max_iter bodies ran without an early break; the labels are
        # only trustworthy if the LAST round emptied the frontier
        if seen["frontier"] > 0:
            raise RuntimeError(
                f"connected_components did not converge in max_iter={max_iter} rounds; "
                "a component's diameter exceeds the round budget — raise max_iter "
                "(labels at exhaustion would be silently split otherwise)"
            )

    return labels.select(F.col("__u").alias("vertex"), F.col("__lbl").alias("component"))


def pagerank_integer(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    iters: int = 5,
) -> DataFrame:
    """Deterministic integer-arithmetic PageRank over the undirected
    graph ``edges`` — centrality for ranking e.g. which document is the
    HUB of a boilerplate/near-dup neighborhood.

    Float PageRank cannot be value-checked across engines: each
    vertex's incoming contributions are summed in aggregation order,
    and float addition isn't associative. Here ALL state is an integer
    number of mass units (total ``_MASS``), every operation is
    integer mul/div/add, so the result is bit-identical across engines,
    partitionings, and retries. Integer-div truncation loses at most
    ``deg`` mass units per vertex per round — at 1e12 units a relative
    error ~1e-9, irrelevant for ranking, and both engines truncate
    identically (all values non-negative, so floor == truncate).

    Scale shape: per-iteration cost is one equi-join of the edge list
    (carrying the source degree) with the current rank vector plus a
    map-side-combinable sum keyed by destination — the same join+agg
    round as ``connected_components``. Lineage grows LINEARLY in rounds
    (each round reads the previous rank vector once), so short fixed
    loops run as ONE job with overlapping stages; every
    ``_CHECKPOINT_EVERY`` rounds the state is ``localCheckpoint``ed
    to bound plan depth for long runs without paying a materialization
    job per round. Undirected edges mean every vertex has incoming
    mass, so there are no dangling-mass corrections. Returns
    ``(vertex, pr_q)`` with ``pr_q`` in mass units.
    """
    from pyspark.sql.window import Window as W

    und = _both_directions(edges, src, dst).distinct()
    # edge list annotated once with the source degree and reused every
    # round. The degree comes from a WINDOW count (one scan, one
    # shuffle) instead of a groupBy + self-join, which would evaluate
    # the upstream edge pipeline twice during the cache fill. The
    # window leaves the output hash-partitioned by __u and the cache
    # preserves that partitioning for Catalyst, so the per-round join
    # is exchange-free on BOTH sides when the rank vector outgrows
    # broadcast: edges read cached-partitioned, and the rank vector
    # arrives partitioned by the same key from the previous round's
    # groupBy (alias-traced through the __v -> __u rename). The
    # round's ONLY full shuffle is the destination-keyed mass sum.
    und_deg = track_cache(
        und.select(
            "__u", "__v", F.count(F.lit(1)).over(W.partitionBy("__u")).alias("__deg")
        )
    )
    # vertex count and teleport base are SCALARS — one bounded driver
    # pull turns them into plan literals; leaving them as one-row
    # DataFrames re-broadcasts (and re-computes) the subtree each round
    n = und_deg.select("__u").distinct().count()
    if n == 0:
        return und_deg.select(
            F.col("__u").alias("vertex"), F.col("__deg").cast("long").alias("pr_q")
        )
    # python // == SQL div here: every operand is non-negative
    base = ((_DAMPING_DEN - _DAMPING_NUM) * (_MASS // n)) // _DAMPING_DEN
    pr = und_deg.select("__u").distinct().select(
        "__u", F.lit(_MASS // n).alias("__pr")
    )
    for i in range(iters):
        pr = (
            und_deg.join(pr, "__u")
            .select("__v", F.expr("__pr div __deg").alias("__sh"))
            .groupBy("__v")
            .agg(F.sum("__sh").alias("__s"))
            .select(
                F.col("__v").alias("__u"),
                (
                    F.lit(base) + F.expr(f"({_DAMPING_NUM} * __s) div {_DAMPING_DEN}")
                ).alias("__pr"),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < iters:
            pr = pr.localCheckpoint(eager=True)
    return pr.select(F.col("__u").alias("vertex"), F.col("__pr").alias("pr_q"))


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Cached canonical (u < v) distinct edge set — the shared base the
    triangle operators reuse so the upstream edge pipeline (often LSH
    pair generation) is evaluated exactly once."""
    return track_cache(
        edges.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .filter(F.col("u") < F.col("v"))  # drops self-loops
        .distinct()
    )


def _adjacency_deg(e: DataFrame) -> DataFrame:
    """``(x, y, dx)``: both directed versions of every canonical edge,
    annotated with the SOURCE endpoint's undirected degree by ONE
    window count — replacing the groupBy + two degree self-joins of the
    textbook formulation (three exchanges) with a single exchange on
    ``x``. Deliberately NOT cached: its only consumers (the census
    stats and the orientation agg) sit in the same action, where
    ReuseExchange already dedupes the window's exchange, and ``e`` —
    the expensive subtree — is cached upstream; measured at sf0.1 the
    eager cache was a pure materialization barrier (+0.5 s, +2 jobs on
    x94). The window's hash partitioning on ``x`` still makes the
    downstream per-vertex aggregation over ``x`` exchange-free."""
    from pyspark.sql.window import Window as W

    return _both_directions(e, "u", "v").select(
        F.col("__u").alias("x"),
        F.col("__v").alias("y"),
        F.count(F.lit(1)).over(W.partitionBy("__u")).alias("dx"),
    )


def triangles(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    _e: DataFrame | None = None,
    _und_deg: DataFrame | None = None,
) -> DataFrame:
    """Every triangle of the undirected graph ``edges``, each exactly
    once, as ``(a, b, c)`` — the classic degree-ordered orientation
    ("compact-forward"): orient each edge from its (degree, id)-smaller
    endpoint to the larger, enumerate wedges from each source's
    oriented out-neighbor ARRAY, and close them with a semi-join
    against the canonical edge set. Orienting by degree bounds every
    out-degree by O(sqrt(m)), so wedge generation materializes
    O(m^1.5) rows worst case instead of sum(deg^2) — and because the
    out-neighbor lists are sqrt-bounded they collect into per-vertex
    arrays, turning the wedge step into a map-side explode of in-array
    pairs instead of a shuffle self-join (the r8 rewrite: 33 -> 26
    jobs on the x94 census, pinned in BENCH_JOBS_BASELINE.json). All
    equi-joins; no cross product.
    """
    e = _canonical_edges(edges, src, dst) if _e is None else _e
    und_deg = _adjacency_deg(e) if _und_deg is None else _und_deg
    # both endpoint degrees per canonical edge: one (u,v)-keyed agg over
    # the two directed rows instead of two degree joins
    ed = (
        und_deg.select(
            F.least("x", "y").alias("u"),
            F.greatest("x", "y").alias("v"),
            F.when(F.col("x") < F.col("y"), F.col("dx")).alias("du_p"),
            F.when(F.col("x") > F.col("y"), F.col("dx")).alias("dv_p"),
        )
        .groupBy("u", "v")
        .agg(F.max("du_p").alias("du"), F.max("dv_p").alias("dv"))
    )
    a_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    orient = ed.select(
        F.when(a_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(a_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(a_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    # per-source oriented out-neighbors, sorted by (degree, id) — the
    # orientation order, so in-array pair (i < j) IS the wedge ordering
    # filter of the join formulation. Arrays are O(sqrt(m)) long by the
    # orientation bound, safe to collect per vertex at any graph size.
    nbrs = orient.groupBy("a").agg(
        F.sort_array(F.collect_list(F.struct("db", "b"))).alias("nb")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("nb"),
            lambda s, i: F.transform(
                # slice length: total size is a safe upper bound and
                # avoids re-evaluating a size() capture per element
                F.slice(F.col("nb"), i + F.lit(2), F.size(F.col("nb"))),
                lambda t: F.array(s["b"], t["b"]),
            ),
        )
    )
    wedges = nbrs.select("a", F.explode(pair_arr).alias("p")).select(
        "a", F.col("p")[0].alias("b1"), F.col("p")[1].alias("b2")
    )
    return (
        wedges.select(
            "a",
            "b1",
            "b2",
            F.least("b1", "b2").alias("u"),
            F.greatest("b1", "b2").alias("v"),
        )
        .join(e, ["u", "v"], "left_semi")
        .select(F.col("a"), F.col("b1").alias("b"), F.col("b2").alias("c"))
    )


def triangle_stats(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """One-row global triangle census of the undirected graph:
    ``(n_nodes, n_edges, n_wedges, n_triangles, global_cc)`` where
    ``n_wedges = sum(deg*(deg-1)/2)`` and ``global_cc`` is the global
    clustering coefficient ``3*triangles/wedges``, integer-quantized
    (``* 1e6 div wedges / 1e6``) so both engines emit the identical
    double. The degree/wedge statistics aggregate the SAME
    ``(x, y, dx)`` adjacency expression the triangle path orients —
    deliberately UNcached (see ``_adjacency_deg``: both consumers sit
    in one action where ReuseExchange dedupes the window's exchange,
    and the measured eager cache was a pure barrier); per-vertex
    degrees still fall out exchange-free off the window's hash
    partitioning on ``x``, so the census adds two bounded
    aggregations to the ``triangles`` plan."""
    e = _canonical_edges(edges, src, dst)
    und_deg = _adjacency_deg(e)
    # one row per vertex: every (x, *) row carries the same dx
    deg = und_deg.groupBy("x").agg(F.max("dx").alias("deg"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("CAST(sum(deg) div 2 AS BIGINT)").alias("n_edges"),
        F.expr("CAST(sum(deg * (deg - 1) div 2) AS BIGINT)").alias("n_wedges"),
    )
    tric = triangles(edges, src, dst, _e=e, _und_deg=und_deg).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return (
        stats.withColumn("__k", F.lit(1))
        .join(tric.withColumn("__k", F.lit(1)), "__k")
        .drop("__k")
        .withColumn(
            "global_cc",
            F.expr(
                "CASE WHEN n_wedges = 0 THEN 0.0 "
                "ELSE CAST(3 * n_triangles * 1000000 div n_wedges AS BIGINT) / 1e6 END"
            ),
        )
    )


def kcore_onion(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    k: int = 2,
    max_rounds: int = 8,
) -> DataFrame:
    """Bounded k-core ONION decomposition of the undirected graph
    ``edges`` — iterative vertex PEELING, the degree-based complement
    of label propagation: each round simultaneously removes every
    vertex whose degree among the still-alive vertices is below ``k``;
    a vertex's ``layer`` is the round that removed it (1-based), and
    ``layer = 0`` marks the surviving core. Peel depth separates
    incidental periphery (layer 1 leaves) from load-bearing dense
    structure (the core) — on a co-purchase or near-dup graph the core
    is the set that stays interesting after noise is stripped.

    Semantics are the BOUNDED peel: at most ``max_rounds`` simultaneous
    peels, so ``layer = 0`` means "alive after ``max_rounds`` rounds"
    — identical to the true k-core whenever peeling converges within
    the budget (the loop exits early at the fixpoint; the bound exists
    so a fixed-depth unrolled SQL oracle computes the *same* function
    on any input, converged or not, rather than a fixture-lucky one).

    No reference counterpart (the warehouse the reference delegates to
    has no iterative operator); standard distributed k-core as in
    Montresor et al., synchronous-peel variant.

    Scale posture: mirrors ``connected_components`` — the static
    both-directions edge list is ``_cached_adjacency`` (pre-partitioned
    on the join key, so the per-round degree join never re-shuffles
    the edges), and the alive set SHRINKS monotonically (broadcast-sized long before the edge list
    is). Per-round work is ONE equi-join + one map-side-combinable
    count: the u-side aliveness filter the textbook formulation also
    joins is REDUNDANT — a vertex peeled at round r had alive-degree
    < k there, and alive sets only shrink, so its alive-degree can
    never climb back to k; any vertex the degree filter passes is
    therefore still alive (the first rewrite joined alive on both
    endpoints and benched 75 jobs at sf0.1). The convergence test
    compares each round's alive count with the previous round's; the
    count is observed in the job that checkpoints the round
    (``checkpoint_observed``), so it costs no job of its own (a
    ``count()`` after the checkpoint was a partial aggregate, an
    exchange and a final aggregate, two jobs of 50-75 ms per round;
    anti-join ``isEmpty`` probes were full shuffle jobs). Layers fall
    out of SURVIVAL COUNTS at the end — union the per-round alive sets
    and count appearances per vertex, exactly the oracle's formulation
    — one final shuffle instead of one lazy anti-join per round
    re-evaluated at the output action.
    Deterministic: no RNG, no order dependence, integer degrees only.

    Returns ``(vertex, layer)`` for every vertex with at least one
    non-self-loop edge (self-loops are dropped — they say nothing
    about coreness and would inflate the degree), ``layer`` int
    (0 = core, else peel round).
    """
    # drop self-loops up front: a (u,u) edge would inflate u's degree
    # by one and shift its peel layer vs the textbook semantics (a
    # self-loop says nothing about coreness); CC tolerates them, the
    # degree-based peel does not
    und = _cached_adjacency(edges.filter(F.col(src) != F.col(dst)), src, dst)
    n_rows = F.count(F.lit(1)).alias("n")
    alive, seen = checkpoint_observed(und.select("__u").distinct(), n_rows)
    n_alive = seen["n"]
    rounds = [alive]  # alive after 0, 1, ... peels
    for _ in range(max_rounds):
        nxt, seen = checkpoint_observed(
            und.join(alive.select(F.col("__u").alias("__v")), "__v")
            .groupBy("__u")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") >= k)
            .select("__u"),
            n_rows,
        )
        n_nxt = seen["n"]
        if n_nxt == n_alive:
            break  # fixpoint: later rounds peel nothing
        rounds.append(nxt)
        alive, n_alive = nxt, n_nxt
        if n_nxt == 0:
            break  # graph fully peeled; nothing left to re-qualify
    # survival count s per vertex over the E+1 executed alive sets:
    # s = E+1 -> never peeled (core, layer 0); else peeled at round s
    surv = rounds[0]
    for r in rounds[1:]:
        surv = surv.unionByName(r)
    n_sets = len(rounds)
    return (
        surv.groupBy("__u")
        .agg(F.count(F.lit(1)).alias("__s"))
        .select(
            F.col("__u").alias("vertex"),
            F.when(F.col("__s") == n_sets, F.lit(0))
            .otherwise(F.col("__s"))
            .cast("int")
            .alias("layer"),
        )
    )


def tree_descend(
    edges: DataFrame,
    roots: DataFrame,
    *,
    child: str,
    parent: str,
    node: str,
    max_depth: int,
) -> DataFrame:
    """Root-down traversal of a forest/DAG by bounded frontier
    propagation — the org-chart / BOM-expansion shape (``WITH
    RECURSIVE`` in SQL engines): starting from ``roots``, each round
    attaches the children of the current frontier, carrying every
    non-``node`` column of ``roots`` (root labels, payload) down the
    tree and incrementing ``depth``. A node is reached only if its
    whole ancestor chain exists in ``edges`` — orphan subtrees are
    excluded, exactly the recursive-CTE semantics.

    Semantics are the BOUNDED descent: exactly ``max_depth`` rounds,
    so nodes deeper than ``max_depth`` are absent from the output —
    a total function both an iterative engine and a fixed-depth
    unrolled oracle compute identically on any input (same posture as
    ``kcore_onion``). Callers with a computable depth bound (e.g. a
    halving parent key: ``floor(log2(max_id))``) get exact semantics
    with zero convergence probes.

    Scale posture: the static child->parent edge list is cached
    pre-partitioned on the PARENT key (the per-round join key, visible
    to Catalyst, so the edges side never re-shuffles), and the frontier
    is ``localCheckpoint``ed per round (lineage truncation; the
    repo-standard iterative-state pattern — see the persist
    counter-datapoints in CLAUDE.md). There are NO per-round
    convergence probes: the loop runs to the caller's bound, which the
    caller should make tight — a round past frontier exhaustion is one
    cheap empty-join checkpoint job, not free. Per-round shuffled data
    is the FRONTIER only (one tree level), never the edge list; rounds
    scale with hierarchy DEPTH, not data volume. Measured vs Spark 4's
    ``WITH RECURSIVE`` UnionLoop on the same traversal at sf0.1:
    31 jobs / 2.6 s vs 66 jobs / 4.1 s (the UnionLoop re-plans every
    level; this loop is one join + one checkpoint per level).

    Returns one row per reached node: ``(node, depth, *payload)`` with
    roots at ``depth`` 0.
    """
    payload = [c for c in roots.columns if c != node]
    reserved = {"depth", "__n", "__c", "__p"}
    bad = sorted(reserved & set(payload))
    if bad:
        # a payload column named `depth` would silently shadow the
        # generated depth; the __-prefixed internals would collide in
        # the per-round join
        raise ValueError(f"roots payload columns collide with reserved names: {bad}")
    ed = track_cache(
        edges.select(F.col(child).alias("__c"), F.col(parent).alias("__p"))
        .repartition("__p")
    )
    frontier = roots.select(
        F.col(node).alias("__n"), F.lit(0).alias("depth"), *payload
    ).localCheckpoint(eager=True)
    levels = [frontier]
    for _ in range(max(0, int(max_depth))):
        frontier = (
            ed.join(frontier.withColumnRenamed("__n", "__p"), "__p")
            .select(
                F.col("__c").alias("__n"),
                (F.col("depth") + 1).alias("depth"),
                *payload,
            )
            .localCheckpoint(eager=True)
        )
        levels.append(frontier)
    tree = levels[0]
    for lv in levels[1:]:
        tree = tree.unionByName(lv)
    return tree.select(F.col("__n").alias(node), "depth", *payload)


def label_propagation(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    rounds: int = 4,
) -> DataFrame:
    """Bounded SYNCHRONOUS label propagation communities (Raghavan et
    al. 2007, deterministic variant) — the community-DETECTION member
    of the graph family: ``connected_components`` finds reachability
    classes (hash-min propagation), ``kcore_onion`` strips periphery by
    degree; LPA finds internally-dense groups by letting every vertex
    adopt, each round, the label carried by the PLURALITY of its
    neighbors (tie -> smallest label). Communities = label classes
    after exactly ``rounds`` synchronous updates.

    Semantics are the BOUNDED iteration, a total function on any input:
    labels start as the vertex's own id; round r computes every
    vertex's new label from the round r-1 labels wholesale (synchronous
    — no update-order dependence, unlike the asynchronous textbook
    variant, which is why this is deterministic and oracle-expressible
    as a fixed unrolled chain). The classic sync-LPA caveat (2-cycles
    on bipartite-ish structure) is accepted semantics, not a bug: the
    output is "the label state after R rounds", identical on both
    engines for ANY fixture.

    No reference counterpart (the reference delegates to a warehouse
    with no iterative operator).

    Scale posture: the static both-directions edge list is
    ``_cached_adjacency``, pre-partitioned on the neighbor key (never
    re-shuffles across rounds); per-round work is one edge-label
    equi-join + a two-level aggregation — (vertex, label) plurality counts, then a HashAggregate
    argmax via max(struct(count, -label)) (no sort window; the
    tie-break rides the struct's positional comparison). State is one
    row per vertex per round and each round's labels frame is consumed
    exactly ONCE (by the next round's join), so lineage grows LINEARLY
    — like ``pagerank_integer``, a short fixed loop runs as ONE action
    with overlapping stages, and ``localCheckpoint`` truncation is only
    paid every ``_CHECKPOINT_EVERY`` rounds to bound plan depth for
    long runs (4-round A/B at sf0.1: 28 -> 24 deterministic jobs,
    wall-neutral, values tuple-identical). Round count is FIXED —
    probe-free (the x75 rule: when the bound is known, never pay
    per-round convergence probes).

    Returns ``(vertex, community)`` — community = the label (a vertex
    id) the vertex holds after ``rounds`` updates. Self-loops dropped
    (a vertex voting for its own label distorts plurality).
    """
    und = _cached_adjacency(edges.filter(F.col(src) != F.col(dst)), src, dst)
    labels = (
        und.select("__u")
        .distinct()
        .select("__u", F.col("__u").alias("__lbl"))
        .localCheckpoint(eager=True)
    )
    for i in range(rounds):
        labels = (
            und.join(
                labels.select(F.col("__u").alias("__v"), "__lbl"), "__v"
            )
            .groupBy("__u", "__lbl")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("__u")
            .agg(
                F.max(
                    F.struct(
                        F.col("__c").alias("__c"),
                        (-F.col("__lbl")).alias("__nl"),
                    )
                ).alias("__m")
            )
            .select("__u", (-F.col("__m.__nl")).alias("__lbl"))
        )
        # last-round guard matches pagerank_integer: the final labels
        # frame has no further lineage to truncate, so a checkpoint
        # there is a pure materialization job
        if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < rounds:
            labels = labels.localCheckpoint(eager=True)
    return labels.select(
        F.col("__u").alias("vertex"), F.col("__lbl").alias("community")
    )
