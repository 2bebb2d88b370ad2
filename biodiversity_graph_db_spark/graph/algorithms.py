"""Graph-analytic algorithms (SURVEY §2.12; BASELINE.json north star:
"GraphX for analytical queries, not OLTP traversal").

GraphFrames/GraphX are not importable in this container, so the classic
GraphX algorithm set is implemented DataFrame-native — the same
bulk-synchronous iteration GraphX's Pregel runs, expressed as joins:

- ``pagerank``        — iterative rank propagation (integer micro-units,
                        so the DuckDB oracle matches bit-for-bit)
- ``triangle_count``  — per-vertex triangle counting on the canonical
                        a<b oriented edge set (one 3-way self-join)
- ``shortest_paths``  — multi-source BFS distances to a landmark set
- ``label_propagation`` — community detection by synchronous majority
                        vote with deterministic (count desc, label asc)
                        tie-break

Scale notes: each iteration is one shuffle keyed by vertex id; the edge
relation is cached once and re-joined per round (Pregel does the same —
edges stay partitioned, messages move).  Lineage is truncated with
``localCheckpoint`` every few rounds.  Skewed high-degree vertices are
the known hazard for triangle counting; orienting edges low-key→high-key
(the standard degree/ID ordering trick) bounds the join fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_UNIT = 1_000_000  # PageRank fixed-point micro-units


def _derived_partitions(df: DataFrame, rows_per_partition: int = 50_000) -> int:
    """~1 partition per ``rows_per_partition`` rows, capped by the
    session's shuffle parallelism — the loop-partitioning rule pagerank
    documented (tiny graphs must not fan out to the session default;
    100 TB graphs saturate the ceiling).  Counting materializes the
    caller's cache, which every iterative caller wants anyway."""
    spark = df.sparkSession
    try:
        ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        ceiling = spark.sparkContext.defaultParallelism
    return max(1, min(ceiling, df.count() // rows_per_partition + 1))


class _shuffle_scope:
    """Scope ``spark.sql.shuffle.partitions`` to an iterative loop's
    derived partition count (restored on exit, exception-safe).

    Guide §2.4: the loop's cached sides are hash-partitioned on the
    join key at the DERIVED count, but every per-iteration
    groupBy/join otherwise plans its Exchange at the SESSION count —
    EnsureRequirements then re-shuffles the cached side (or the
    aggregation output) every round to reconcile the two.  Planning
    the whole loop at one count makes the aggregation Exchange land
    directly on the cached sides' partitioning, so each iteration runs
    exactly ONE Exchange (the inherent message shuffle).  Callers must
    MATERIALIZE (localCheckpoint/count) inside the scope — the conf is
    read at plan time, i.e. at the first action.  Serial-harness
    assumption as _drain_conf: a concurrently planned query in the
    same session would pick up the scoped value."""

    def __init__(self, spark, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def _pairs(edges: DataFrame) -> DataFrame:
    """First two columns → (src, dst), deduplicated."""
    a, b = edges.columns[:2]
    return edges.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).dropDuplicates()


def undirect(edges: DataFrame) -> DataFrame:
    """Symmetric closure of the edge set (for undirected algorithms)."""
    p = _pairs(edges)
    return (
        p.unionByName(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    partitions: int | None = None,
    checkpoint_every: int = 12,
) -> DataFrame:
    """PageRank over (src, dst) edges, returning (key, rank_micro).

    Fixed-point arithmetic: ranks live in BIGINT micro-units and every
    per-edge contribution is ``FLOOR(rank * d / deg)`` — IEEE multiply,
    divide and floor are bit-identical across engines, and the BIGINT sum
    is order-independent, so an unrolled SQL oracle reproduces the exact
    ranks (double-sum PageRank would hash-mismatch).  Dangling vertices
    keep the teleport term only (mass leaks — the simple variant; both
    sides compute identically).  One shuffle per iteration (groupBy dst);
    the degree-annotated edge list is computed once and cached.

    ``partitions`` sizes the iterative loop's partitioning — hash on the
    join key, cached, so the static edge side's Exchange is reused every
    round instead of re-shuffling.  Partition count must track graph
    size: the inherited ``spark.sql.shuffle.partitions`` over-fans tiny
    graphs (30 stages × mostly-empty tasks was ~2× the runtime at sf0.1)
    and under-fans 100 TB ones.  Default: ~1 partition per 50k edges,
    capped by the session's shuffle parallelism.

    ``checkpoint_every`` is the lineage-truncation cadence.  Execution
    here is trivial (~0.1 s at sf0.1) — the dominant cost is Catalyst
    ANALYSIS of the nested-join tower, paid once per action, and every
    mid-loop ``localCheckpoint`` is an extra action (every-3 measured 3×
    the runtime of checkpoint-free, identical results).  But analysis
    also grows superlinearly with depth, so unbounded towers eventually
    lose.  Every-12 keeps runs ≤12 iterations at exactly one analysis;
    the final round never checkpoints (the caller's action materializes
    it)."""
    e = _pairs(edges).cache()
    if partitions is None:
        partitions = _derived_partitions(e)
    # plan AND execute the whole loop at the derived count
    # (_shuffle_scope): the per-iteration contrib aggregation then
    # shuffles straight onto nodes'/out's partitioning — one Exchange
    # per iteration instead of three (the contrib groupBy at the
    # session count forced EnsureRequirements to re-shuffle the cached
    # nodes side in every nodes⋈contrib AND the ranks side of the next
    # round's out⋈ranks; r12 before-plan: 3 Exchanges per round).
    with _shuffle_scope(e.sparkSession, partitions):
        e = e.repartition(partitions, "src")
        nodes = (
            e.select(F.col("src").alias("key"))
            .unionByName(e.select(F.col("dst").alias("key")))
            .dropDuplicates()
            .repartition(partitions, "key")
            .cache()
        )
        n = nodes.count()
        if n == 0:
            # no vertices, no ranks (and no 1/n teleport base) — zero
            # rows, as label_propagation and connected_components return
            return nodes.select("key", F.lit(0).cast("long").alias("rank_micro"))
        d_pct = int(round(damping * 100))
        base = int((RANK_UNIT * (100 - d_pct)) // (100 * n))
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        out = e.join(deg, "src").repartition(partitions, "src").cache()
        out.count()  # materialize the static join side once
        ranks = nodes.withColumn("rank_micro", F.lit(int(RANK_UNIT // n)))
        for i in range(iterations):
            # rename before the join: ranks shares lineage with out (both
            # derive from e), and a bare `out.src == ranks.key` predicate
            # can MISBIND under self-join ambiguity resolution (observed in
            # the personalized variant: vertices wearing their neighbor's
            # mass) — the renamed columns are unambiguous by construction
            r = ranks.select(
                F.col("key").alias("_r_key"), F.col("rank_micro").alias("_r_m")
            )
            contrib = (
                out.join(r, F.col("src") == F.col("_r_key"))
                .select(
                    F.col("dst").alias("key"),
                    F.floor(
                        (F.col("_r_m") * d_pct) / (100 * F.col("deg"))
                    ).alias("c"),
                )
                .groupBy("key")
                .agg(F.sum("c").alias("in_mass"))
            )
            ranks = (
                nodes.join(contrib, "key", "left")
                .select(
                    "key",
                    (F.lit(base) + F.coalesce("in_mass", F.lit(0)))
                    .cast("long")
                    .alias("rank_micro"),
                )
            )
            if (
                checkpoint_every
                and i % checkpoint_every == checkpoint_every - 1
                and i < iterations - 1
            ):
                ranks = ranks.localCheckpoint()
        # materialize INSIDE the scope — the conf is read at plan time,
        # so a lazy return would hand the caller's action the restored
        # session count and re-introduce the reconciliation Exchanges
        return ranks.localCheckpoint()


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts, GraphX ``triangleCount`` semantics.

    Canonicalize to an oriented a<b edge set, enumerate wedges
    (a,b)+(b,c) and close them against (a,c) — each triangle found
    exactly once, then credited to its three vertices.  The oriented
    self-join is the standard bound on fan-out (no vertex pairs twice).
    """
    und = undirect(edges)
    ord_e = und.where(F.col("src") < F.col("dst")).cache()
    e1 = ord_e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = ord_e.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = ord_e.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tris = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    per_vertex = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("triangles"))
    )
    return per_vertex


def shortest_paths(
    edges: DataFrame, landmarks: list[str], max_hops: int = 10
) -> DataFrame:
    """BFS distance from every reachable vertex to each landmark
    (GraphX ``shortestPaths``): returns (key, landmark, dist).

    Multi-source frontier expansion: all landmarks advance in the same
    round, so the work is max_hops shuffles total, not per-landmark.
    """
    spark = edges.sparkSession
    e = _pairs(edges).cache()
    # loop-scoped partitioning (r13, see _shuffle_scope) + the edge
    # relation pre-hashed on the frontier join key, so each hop's
    # expansion reuses the cached Exchange
    partitions = _derived_partitions(e)
    with _shuffle_scope(spark, partitions):
        e = e.repartition(partitions, "src").cache()
        visited = spark.createDataFrame(
            [(lm, lm, 0) for lm in landmarks],
            "key string, landmark string, dist int",
        )
        frontier = visited
        for d in range(1, max_hops + 1):
            nxt = (
                frontier.alias("f")
                .join(e.alias("e"), F.col("f.key") == F.col("e.src"))
                .select(
                    F.col("e.dst").alias("key"),
                    F.col("f.landmark").alias("landmark"),
                )
                .dropDuplicates()
                .join(
                    visited.select("key", "landmark"),
                    ["key", "landmark"],
                    "left_anti",
                )
                .withColumn("dist", F.lit(d))
                .cache()
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt).localCheckpoint()
            frontier = nxt
    return visited


def label_propagation(edges: DataFrame, max_iter: int = 5) -> DataFrame:
    """Synchronous label propagation (GraphX ``labelPropagation``) with a
    deterministic tie-break: each round every vertex adopts the most
    frequent label among its neighbours, ties broken by smallest label.
    Runs a fixed number of rounds (LPA has no guaranteed fixpoint —
    labels can oscillate; fixed rounds keep it oracle-reproducible).
    Returns (key, label).

    Unlike ``pagerank`` (whose static side carries the lineage and whose
    rank column chains linearly), each LPA round references the previous
    labels TWICE — the vote join and the carry-forward — so unbroken
    lineage doubles per round: 2^rounds subtree copies for Catalyst to
    walk (measured 8.6-10.5 s for 5 rounds at sf0.1, lazy ``cache()``
    included — the cache dedups execution but not plan processing).  The
    eager per-round ``localCheckpoint`` IS the optimum here: 5 tiny
    actions, linear plans, ~2.0 s."""
    und = undirect(edges).cache()
    # loop-scoped partitioning (r13, see _shuffle_scope): LPA's rounds
    # are eager (per-round localCheckpoint), so every vote/argmax/carry
    # shuffle planned inside the scope lands at the derived count
    # instead of fanning a tiny graph out to the session default
    partitions = _derived_partitions(und)
    with _shuffle_scope(und.sparkSession, partitions):
        und = und.repartition(partitions, "dst").cache()
        labels = (
            und.select(F.col("src").alias("key"))
            .dropDuplicates()
            .withColumn("label", F.col("key"))
        )
        for i in range(max_iter):
            # ambiguity-safe rename (the pagerank-loop fix): labels shares
            # lineage with und in round 1, and `und.dst == labels.key` can
            # misbind under self-join resolution
            lab_r = labels.select(
                F.col("key").alias("_l_key"), F.col("label").alias("label")
            )
            votes = (
                und.join(lab_r, F.col("dst") == F.col("_l_key"))
                .groupBy(F.col("src").alias("k"), "label")
                .agg(F.count("*").alias("n"))
            )
            best = (
                votes.groupBy("k")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("n")).alias("neg_n"),
                            F.col("label").alias("l"),
                        )
                    ).alias("top")
                )
                .select(
                    F.col("k").alias("key"), F.col("top.l").alias("new_label")
                )
            )
            labels = (
                labels.join(best, "key", "left")
                .select("key", F.coalesce("new_label", "label").alias("label"))
                .localCheckpoint()
            )
    return labels


def scc(
    edges: DataFrame,
    max_rounds: int = 8,
    max_inner: int = 40,
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge set — the
    coloring algorithm (Orzan 2004; the FW-BW family Spark/GraphX
    deployments use), fully DataFrame-native.  Returns (key, scc_id)
    with scc_id = the component's minimum vertex key.

    Per outer round, three synchronous phases, each a fixpoint of keyed
    join+aggregate steps with localCheckpoint lineage cuts (the G3/G9
    discipline — early exit on convergence, generous budgets,
    exhaustion raised loudly rather than returning wrong answers):

    1. **Trim**: a vertex with zero in- or out-degree in the remaining
       graph is a singleton SCC; removing it can expose more — iterate.
       (Kills DAG tails/chains cheaply; on real graphs trim resolves
       the vast majority of vertices.)
    2. **Forward color**: color(v) = min vertex that reaches v, by
       min-label propagation along edges (converges in ≤ diameter
       steps on the trimmed remainder).
    3. **Backward sweep within color class**: the class root
       r = color(r); flag(v) = v can reach r through SAME-COLOR
       vertices — propagated along reversed edges.  Flagged vertices
       are exactly SCC(r) (mutually reachable with r); assign and
       remove them, repeat on the remainder.

    Every extraction is sound in any round; multiple color classes
    resolve simultaneously.  Worst-case rounds are adversarial
    (cycle-chains), bounded here by ``max_rounds`` with a loud failure;
    correctness over arbitrary digraphs is property-tested against a
    Python Tarjan model.  100 TB note: trim and both propagations are
    keyed shuffles on (src|dst) — the CC plan shape; closure is never
    materialized (the ORACLE does that, engine-side this stays
    iterative)."""
    remaining = _pairs(edges).localCheckpoint()
    spark = edges.sparkSession
    assigned = spark.createDataFrame([], "key string, scc_id string")
    # the UNASSIGNED node set is carried across rounds explicitly — it
    # must NOT be re-derived from the remaining edges each round: a
    # vertex whose every edge touches an extracted SCC loses all its
    # edges when those members are removed, and rebuilding the node set
    # from edges would silently drop it instead of assigning it as a
    # singleton (caught by the Tarjan property test's counterexample)
    active = (
        remaining.select(F.col("src").alias("key"))
        .unionByName(remaining.select(F.col("dst").alias("key")))
        .dropDuplicates()
        .localCheckpoint()
    )

    for _ in range(max_rounds):
        if active.limit(1).isEmpty():
            return assigned
        nodes = active
        # -- 1. trim ----------------------------------------------------
        for _ in range(max_inner):
            has_in = remaining.select(F.col("dst").alias("key")).dropDuplicates()
            has_out = remaining.select(F.col("src").alias("key")).dropDuplicates()
            singles = nodes.join(has_in, "key", "left_anti").unionByName(
                nodes.join(has_out, "key", "left_anti")
            ).dropDuplicates()
            if singles.limit(1).isEmpty():
                break
            assigned = assigned.unionByName(
                singles.select("key", F.col("key").alias("scc_id"))
            ).localCheckpoint()
            nodes = nodes.join(singles, "key", "left_anti").localCheckpoint()
            active = nodes
            remaining = (
                remaining.join(
                    nodes.withColumnRenamed("key", "src"), "src", "left_semi"
                )
                .join(
                    nodes.withColumnRenamed("key", "dst"), "dst", "left_semi"
                )
                .select("src", "dst")
                .localCheckpoint()
            )
        if nodes.limit(1).isEmpty():
            continue
        # -- 2. forward min-color ---------------------------------------
        color = nodes.withColumn("color", F.col("key"))
        for _ in range(max_inner):
            nbr = (
                remaining.join(
                    color.withColumnRenamed("key", "src"), "src"
                )
                .groupBy(F.col("dst").alias("key"))
                .agg(F.min("color").alias("nbr_min"))
            )
            new = (
                color.join(nbr, "key", "left")
                .select(
                    "key",
                    F.least(
                        F.col("color"),
                        F.coalesce("nbr_min", F.col("color")),
                    ).alias("color"),
                    (
                        F.coalesce("nbr_min", F.col("color"))
                        < F.col("color")
                    ).alias("changed"),
                )
                .localCheckpoint()
            )
            color = new.select("key", "color")
            if new.where("changed").limit(1).isEmpty():
                break
        else:
            raise RuntimeError("scc: forward coloring budget exhausted")
        # -- 3. backward sweep within color class -----------------------
        flags = color.withColumn("flag", F.col("key") == F.col("color"))
        e_col = (
            remaining.join(
                color.select(
                    F.col("key").alias("src"), F.col("color").alias("c_src")
                ),
                "src",
            )
            .join(
                color.select(
                    F.col("key").alias("dst"), F.col("color").alias("c_dst")
                ),
                "dst",
            )
            .where(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst")
            .localCheckpoint()
        )
        for _ in range(max_inner):
            nbr = (
                e_col.join(
                    flags.select(
                        F.col("key").alias("dst"), F.col("flag").alias("f_dst")
                    ),
                    "dst",
                )
                .where(F.col("f_dst"))
                .select(F.col("src").alias("key"))
                .dropDuplicates()
                .withColumn("nbr_flag", F.lit(True))
            )
            new = (
                flags.join(nbr, "key", "left")
                .select(
                    "key",
                    "color",
                    (F.col("flag") | F.col("nbr_flag").isNotNull()).alias(
                        "flag"
                    ),
                    (~F.col("flag") & F.col("nbr_flag").isNotNull()).alias(
                        "changed"
                    ),
                )
                .localCheckpoint()
            )
            flags = new.select("key", "color", "flag")
            if new.where("changed").limit(1).isEmpty():
                break
        else:
            raise RuntimeError("scc: backward sweep budget exhausted")
        members = flags.where("flag").select(
            "key", F.col("color").alias("scc_id")
        )
        assigned = assigned.unionByName(members).localCheckpoint()
        done = members.select("key")
        active = active.join(done, "key", "left_anti").localCheckpoint()
        remaining = (
            remaining.join(
                done.withColumnRenamed("key", "src"), "src", "left_anti"
            )
            .join(done.withColumnRenamed("key", "dst"), "dst", "left_anti")
            .localCheckpoint()
        )
    if not active.limit(1).isEmpty():
        raise RuntimeError("scc: outer round budget exhausted")
    return assigned


def weighted_sssp(
    edges: DataFrame,
    source: str,
    rounds: int = 6,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Single-source shortest paths over WEIGHTED (src, dst, w) edges —
    ``rounds`` synchronous Bellman-Ford relaxations, returning
    (key, dist) for every vertex reached within ``rounds`` edges.
    After k rounds dist(v) is exact for all shortest paths of ≤ k
    edges, so a fixed-round unrolled SQL oracle replays it exactly
    (the same fixed-round discipline as label_propagation — no
    data-dependent convergence test in the graded path).

    Weights are BIGINT (the callers mint integral weights), so the
    min-aggregation is order-independent and bit-reproducible —
    double-weight SSSP would be too (min, not sum), but integer keeps
    the oracle's type spelling trivial.

    One shuffle per round: relax = dist ⋈ edges on the frontier key
    (dist side re-keyed each round; the static edge side's Exchange is
    reused round to round), then a map-side-combinable MIN per vertex.
    ``localCheckpoint`` every ``checkpoint_every`` rounds cuts the
    nested-join lineage the same way pagerank's cadence does."""
    spark = edges.sparkSession
    e = edges.select("src", "dst", F.col("w").cast("bigint").alias("w")).cache()
    dist = spark.createDataFrame(
        [(source, 0)], "key string, dist bigint"
    )
    for k in range(1, rounds + 1):
        relax = (
            dist.alias("d")
            .join(e.alias("e"), F.col("d.key") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("key"),
                (F.col("d.dist") + F.col("e.w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("key")
            .agg(F.min("dist").alias("dist"))
        )
        if k % checkpoint_every == 0 and k < rounds:
            dist = dist.localCheckpoint()
    return dist


def hits(
    edges: DataFrame,
    iterations: int = 5,
    partitions: int | None = None,
) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) over directed (src, dst)
    edges, returning ``(key, hub_micro, auth_micro)``.

    Max-normalized fixed-point variant: scores live in BIGINT
    micro-units; each half-step sums the counterpart scores along edges
    (BIGINT sum — order-independent) and rescales so the max score is
    exactly ``RANK_UNIT`` via integer division ``raw * UNIT div max`` —
    bit-identical across engines, so the unrolled SQL oracle reproduces
    every score (the textbook L2 normalization is a sqrt and can't be
    made cross-engine exact).  Bound: ``max_degree * RANK_UNIT * UNIT``
    must fit a BIGINT, i.e. degree < ~9e6 — beyond that, pre-divide the
    raw sums (not needed at any tested scale).

    Scale shape (the pagerank discipline, algorithms.py:51): the edge
    relation is cached and hash-partitioned once; each half-step is ONE
    shuffle keyed by vertex plus a 1-row global max that returns as a
    broadcast — no driver-side loop over data, no collect.  Analysis
    cost dominates execution for small iteration counts (see pagerank's
    checkpoint note); here each half-step's raw-sum table is
    localCheckpoint-ed because it feeds two consumers (max + rescale) —
    without the cut the plan tree doubles per half-step."""
    e = _pairs(edges).cache()
    if partitions is None:
        partitions = _derived_partitions(e)
    with _shuffle_scope(e.sparkSession, partitions):
        # BOTH edge orientations cached pre-partitioned (r13): each
        # half-step joins on the OTHER key (hub step on src, authority
        # step on dst), so one orientation alone re-shuffled the whole
        # edge relation every other half-step — 2·iterations avoidable
        # edge Exchanges.  Memory is 2× the (bounded) pair set, the
        # standard both-directions trade a message-passing engine makes.
        e_src = e.repartition(partitions, "src").cache()
        e_dst = e.repartition(partitions, "dst").cache()
        by_key = {"src": e_src, "dst": e_dst}
        nodes = (
            e_src.select(F.col("src").alias("key"))
            .unionByName(e_src.select(F.col("dst").alias("key")))
            .dropDuplicates()
            .repartition(partitions, "key")
            .cache()
        )

        def _norm(raw: DataFrame) -> DataFrame:
            # localCheckpoint is load-bearing: ``raw`` feeds BOTH the global
            # max and the rescale — left unmaterialized, each half-step
            # doubles the plan tree (2^(2*iterations) analysis blowup).
            raw = raw.localCheckpoint()
            mx = raw.agg(F.max("raw").alias("mx"))
            return raw.crossJoin(F.broadcast(mx)).select(
                "key",
                F.expr(f"(raw * {RANK_UNIT}) div mx")
                .cast("long")
                .alias("score"),
            )

        def _gather(
            scores: DataFrame, edge_key: str, group_key: str
        ) -> DataFrame:
            # ambiguity-safe rename (the pagerank-loop fix): the first
            # half-step's scores derive from e's own vertex set
            s_r = scores.select(
                F.col("key").alias("_s_key"), F.col("score").alias("score")
            )
            m = (
                by_key[edge_key]
                .join(s_r, F.col(edge_key) == F.col("_s_key"))
                .groupBy(F.col(group_key).alias("key"))
                .agg(F.sum("score").alias("m"))
            )
            return nodes.join(m, "key", "left").select(
                "key", F.coalesce("m", F.lit(0)).cast("long").alias("raw")
            )

        h = nodes.withColumn("score", F.lit(int(RANK_UNIT)))
        a = None
        for _ in range(iterations):
            a = _norm(_gather(h, "src", "dst"))
            h = _norm(_gather(a, "dst", "src"))
        # materialize inside the scope (the pagerank rationale)
        return (
            h.select("key", F.col("score").alias("hub_micro"))
            .join(a.select("key", F.col("score").alias("auth_micro")), "key")
            .localCheckpoint()
        )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a community assignment, per community, in
    EXACT integer arithmetic (GraphX has no built-in; this closes the
    LPA loop — G9 finds communities, this scores the partition).

    For an undirected simple graph with m edges, community c with
    e_c intra-community edges and degree sum d_c contributes
    ``e_c/m - (d_c/2m)^2`` to Q.  Scaled by 4m^2 that is the integer
    ``4*m*e_c - d_c^2`` — returned as ``contrib_q`` (BIGINT), so
    ``Q = sum(contrib_q) / (4*m^2)`` exactly and a SQL oracle can
    reproduce every row bit-for-bit with no float in sight.

    Inputs: ``edges`` (src, dst) in any orientation — canonicalized to
    the distinct least/greatest pair set here; ``labels`` (key, label)
    as ``label_propagation`` returns.

    Scale shape: one map-side-combinable degree count on the symmetric
    edge set, two vertex-keyed label joins to mark intra edges (the
    labels side is the vertex table — orders of magnitude smaller than
    edges; AQE broadcasts it when it fits), and two bounded
    per-community aggregates.  m travels as a broadcast 1-row literal,
    never a driver-side collect."""
    a, b = edges.columns[:2]
    canon = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .cache()
    )
    mrow = canon.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        canon.select(F.col("a").alias("key"))
        .unionByName(canon.select(F.col("b").alias("key")))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    lab = labels.select(
        F.col(labels.columns[0]).alias("key"),
        F.col(labels.columns[1]).alias("label"),
    )
    comm = (
        lab.join(deg, "key")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").alias("degree_sum"),
        )
    )
    intra = (
        canon.join(lab.select(F.col("key").alias("a"), F.col("label").alias("la")), "a")
        .join(lab.select(F.col("key").alias("b"), F.col("label").alias("lb")), "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    return (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(mrow))
        .select(
            "community",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            (
                4 * F.col("m") * F.coalesce("intra_edges", F.lit(0))
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("long")
            .alias("contrib_q"),
        )
    )


HARMONIC_UNIT = 1_000_000  # harmonic-centrality fixed-point micro-units


def harmonic_centrality(
    edges: DataFrame, landmarks: list[str], max_hops: int = 4
) -> DataFrame:
    """Landmark-approximated harmonic centrality (Boldi & Vigna 2014,
    "Axioms for centrality"): for each vertex, ``sum over reachable
    landmarks of 1/dist`` — the disconnected-graph-safe cousin of
    closeness (unreachable landmarks contribute 0, no infinity).

    Exact fixed-point form: each term is ``HARMONIC_UNIT DIV dist``
    (integer floor division), summed as BIGINT — bit-identical in any
    engine, so a SQL oracle replaying the same unrolled BFS reproduces
    every score.  Returns (key, harmonic_micro, n_reached) for vertices
    that reach at least one landmark at dist >= 1.

    Scale shape: the BFS is ``shortest_paths``'s multi-source frontier —
    all landmarks advance together, max_hops keyed shuffles total, state
    bounded by |V| x |landmarks| (landmarks is a small fixed set by
    contract: the whole point of the landmark approximation is that the
    exact all-pairs form is quadratic and this is not).  The final
    rollup is one combinable aggregate on the vertex key.
    """
    d = shortest_paths(edges, landmarks, max_hops=max_hops)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("key")
        .agg(
            F.sum(
                F.expr(f"{HARMONIC_UNIT} DIV dist").cast("long")
            ).alias("harmonic_micro"),
            F.count(F.lit(1)).cast("long").alias("n_reached"),
        )
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient (Watts & Strogatz 1998):
    lcc(v) = 2*T(v) / (deg(v) * (deg(v)-1)) over the undirected simple
    graph — the neighborhood-density score that separates hub-and-spoke
    vertices (lcc→0) from clique members (lcc→1).

    Cost is the triangle enumeration (``triangle_count``'s oriented
    wedge join) plus ONE combinable degree count on the symmetric edge
    set — no new join shape; vertices with deg < 2 are excluded (the
    coefficient is undefined there).  The division is a single IEEE
    double op on two exact integers, so floor-quantized output is
    bit-identical cross-engine."""
    und = undirect(edges)
    deg = und.groupBy(F.col("src").alias("key")).agg(
        F.count("*").alias("deg")
    )
    tri = triangle_count(edges)
    lcc = (F.lit(2.0) * F.coalesce(F.col("triangles"), F.lit(0))) / (
        F.col("deg") * (F.col("deg") - F.lit(1))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, "key", "left")
        .select(
            "key",
            F.coalesce(F.col("triangles"), F.lit(0))
            .cast("long")
            .alias("triangles"),
            F.col("deg").cast("long").alias("deg"),
            (F.floor(lcc * 10000) / F.lit(10000.0)).alias("lcc"),
        )
    )


def link_prediction(edges: DataFrame, k: int = 20) -> DataFrame:
    """Common-neighbor / Jaccard link prediction (Liben-Nowell &
    Kleinberg 2003) — the classic "which edges are missing" analytic:
    score every NON-adjacent vertex pair at distance 2 by its shared
    neighborhood, return the top-k by Jaccard (deterministic
    tiebreak).

    Shape: one wedge self-join on the shared neighbor (the G5 bound —
    fan-out is per-neighbor-degree, never all-pairs), a combinable
    common-neighbor count, a LEFT-ANTI join against the oriented edge
    set to drop already-adjacent pairs, two degree joins, and a top-k
    that plans as TakeOrderedAndProject.  The Jaccard divides two
    exact BIGINTs, so floor-quantized output is engine-exact."""
    und = undirect(edges)
    deg = und.groupBy(F.col("src").alias("key")).agg(
        F.count("*").alias("deg")
    )
    wedge = (
        und.alias("l")
        .join(und.alias("r"), F.col("l.src") == F.col("r.src"))
        .where(F.col("l.dst") < F.col("r.dst"))
        .select(F.col("l.dst").alias("a"), F.col("r.dst").alias("b"))
    )
    cn = wedge.groupBy("a", "b").agg(F.count("*").alias("common"))
    ord_e = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    cand = cn.join(ord_e, ["a", "b"], "left_anti")
    scored = (
        cand.join(deg.withColumnRenamed("key", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(deg.withColumnRenamed("key", "b"), "b")
        .withColumnRenamed("deg", "deg_b")
        .select(
            "a",
            "b",
            "common",
            (
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                )
            ).alias("j"),
        )
    )
    return (
        scored.orderBy(
            F.col("j").desc(), F.col("a"), F.col("b")
        )
        .limit(k)
        .select(
            "a",
            "b",
            F.col("common").cast("long").alias("common"),
            (F.floor(F.col("j") * 10000) / F.lit(10000.0)).alias("jaccard"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list[str],
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank from a source set (the random walk
    restarts at the SOURCES, not uniformly) — the similarity /
    recommendation primitive: ``ppr_micro(v)`` is v's stationary mass
    under walks that always teleport home, i.e. v's relevance TO the
    sources.  Same fixed-point BIGINT discipline as ``pagerank`` (IEEE
    floor-quantized per-edge contributions, order-independent integer
    sums) so an unrolled SQL oracle reproduces every value.

    One keyed shuffle per iteration; the teleport vector is a column
    expression on the bounded source list (broadcast by construction),
    never a driver-side map.  Vertices never reached report 0 and are
    filtered — output is the reachable set only."""
    e = _pairs(edges).cache()
    # the G6 partition discipline: size the loop's partitioning to the
    # graph (the session default over-fans small graphs — mostly-empty
    # tasks dominate per-round cost), hash both loop sides on the join
    # key once, and materialize the static degree-annotated edge side
    # so every round reuses its Exchange instead of re-shuffling.
    # _shuffle_scope (r13): plan the loop at the derived count so the
    # contrib aggregation lands on that partitioning — one Exchange per
    # iteration (see pagerank).
    partitions = _derived_partitions(e)
    with _shuffle_scope(e.sparkSession, partitions):
        e = e.repartition(partitions, "src")
        nodes = (
            e.select(F.col("src").alias("key"))
            .unionByName(e.select(F.col("dst").alias("key")))
            .dropDuplicates()
            .repartition(partitions, "key")
            .cache()
        )
        s = len(sources)
        d_pct = int(round(damping * 100))
        base_amt = int((RANK_UNIT * (100 - d_pct)) // (100 * s))
        init_amt = int(RANK_UNIT // s)
        is_src = F.col("key").isin(list(sources))
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        out = e.join(deg, "src").repartition(partitions, "src").cache()
        out.count()  # materialize the static join side once
        ranks = nodes.withColumn(
            "ppr_micro",
            F.when(is_src, F.lit(init_amt)).otherwise(F.lit(0)).cast("long"),
        )
        for i in range(iterations):
            # rename before the join: ranks shares lineage with out (both
            # derive from e), and the bare `out.src == ranks.key` predicate
            # can MISBIND under self-join ambiguity resolution — observed
            # as rank values attributed to the wrong vertex on a 4-node
            # path (each vertex wearing its neighbor's mass)
            r = ranks.select(
                F.col("key").alias("_r_key"), F.col("ppr_micro").alias("_r_m")
            )
            contrib = (
                out.join(r, F.col("src") == F.col("_r_key"))
                .select(
                    F.col("dst").alias("key"),
                    F.floor(
                        (F.col("_r_m") * d_pct) / (100 * F.col("deg"))
                    ).alias("c"),
                )
                .groupBy("key")
                .agg(F.sum("c").alias("in_mass"))
            )
            ranks = nodes.join(contrib, "key", "left").select(
                "key",
                (
                    F.when(is_src, F.lit(base_amt)).otherwise(F.lit(0))
                    + F.coalesce("in_mass", F.lit(0))
                )
                .cast("long")
                .alias("ppr_micro"),
            )
        # materialize inside the scope (the pagerank rationale)
        return ranks.where(F.col("ppr_micro") > 0).localCheckpoint()
