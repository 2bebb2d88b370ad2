"""Graph traversal + analytics (SURVEY §2.3, §2.12) — join-based, no
GraphFrames dependency (not available here; same algorithms, pure
DataFrame).

- 1-hop / k-hop expansion: equi-joins on the edges table (J1/J2)
- reachability (bfs): iterative frontier expansion with visited-set
- transitive closure (taxonomy IsA): join-to-fixpoint, depth-capped —
  Spark SQL has no recursive CTE; the closure is persisted/cached and
  reused (SURVEY §4.2)
- connected components: hash-min label propagation to fixpoint

Scale notes: every iteration is one shuffle on the join key; frontiers
are cached and cut (``_util.cut``) every few rounds to truncate
lineage — a lost cut block fails the job unless reliable cuts are on. The
taxonomy is depth≤14 (ranks, Population.fs:22-37), so closure terminates
in ≤14 rounds with |closure| ≈ |nodes| x avg-depth rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.graph.algorithms import _derived_partitions
from biodiversity_graph_db_spark.operators._util import cut, partition_scope


def out_hop(edges: DataFrame, relation: str | None = None) -> DataFrame:
    """J1: the (source_key, sink_key) pairs of one relation."""
    e = edges
    if relation is not None:
        e = e.where(F.col("relation") == relation)
    return e.select("source_key", "sink_key")


def k_hop(edges: DataFrame, start: DataFrame, relations: list[str]) -> DataFrame:
    """J2 chained hops: follow relations[0], then relations[1], ... from
    the start keys.  Returns (start_key, end_key)."""
    frontier = start.select(F.col(start.columns[0]).alias("start_key")).withColumn(
        "end_key", F.col("start_key")
    )
    for rel in relations:
        hop = out_hop(edges, rel)
        frontier = (
            frontier.alias("f")
            .join(hop.alias("h"), F.col("f.end_key") == F.col("h.source_key"))
            .select(F.col("f.start_key"), F.col("h.sink_key").alias("end_key"))
        )
    return frontier


def transitive_closure(
    parent_edges: DataFrame, max_depth: int = 14, assume_forest: bool = False
) -> DataFrame:
    """Ancestor closure of a forest/DAG given (child, parent) pairs —
    the taxonomy IsA rollup (§2.12; backbone chains built at insert time
    in TaxonomicBackbone.fs:68-107).  Iterate closure ⋈ edges to fixpoint.

    Returns (descendant, ancestor, depth) with depth ≥ 1.

    ``assume_forest=True`` is the fast path for single-parent hierarchies
    (the taxonomy: every taxon has exactly one IsA parent, so every
    (descendant, ancestor) path is unique): no dedup, no anti-join, no
    per-round materialization — just ``max_depth`` unrolled lazy joins
    that Catalyst plans as ONE job (the per-round count() barriers of the
    general path are pure driver latency when the depth bound is known,
    ≤14 ranks).  Only correct when no node has two parents; use the
    default fixpoint path for general DAGs.
    """
    edges = (
        parent_edges.select(
            F.col(parent_edges.columns[0]).alias("descendant"),
            F.col(parent_edges.columns[1]).alias("ancestor"),
        )
        .dropDuplicates()
        .cache()  # the static join side — never recompute it per round
    )
    step = edges.select(
        F.col("descendant").alias("e_desc"), F.col("ancestor").alias("e_anc")
    )
    closure = edges.withColumn("depth", F.lit(1))
    frontier = closure
    if assume_forest:
        for _ in range(max_depth - 1):
            frontier = (
                frontier.alias("f")
                .join(step.alias("s"), F.col("f.ancestor") == F.col("s.e_desc"))
                .select(
                    F.col("f.descendant").alias("descendant"),
                    F.col("s.e_anc").alias("ancestor"),
                    (F.col("f.depth") + 1).alias("depth"),
                )
            )
            closure = closure.unionByName(frontier)
        return closure
    for i in range(max_depth - 1):
        nxt = (
            frontier.alias("f")
            .join(step.alias("s"), F.col("f.ancestor") == F.col("s.e_desc"))
            .select(
                F.col("f.descendant").alias("descendant"),
                F.col("s.e_anc").alias("ancestor"),
                (F.col("f.depth") + 1).alias("depth"),
            )
            .dropDuplicates(["descendant", "ancestor"])
            .join(
                closure.select("descendant", "ancestor"),
                ["descendant", "ancestor"],
                "left_anti",
            )
            # localCheckpoint (not cache): materializes for the fixpoint
            # test AND truncates the logical plan — otherwise each round's
            # plan nests all previous rounds and Catalyst re-analyzes the
            # whole tower every iteration (driver time grows
            # quadratically with depth)
            .transform(cut)
        )
        if nxt.count() == 0:
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure


def bfs(edges: DataFrame, start_key: str, max_hops: int = 10) -> DataFrame:
    """Evidence reachability (§2.12): all keys reachable from start via
    out-edges, with hop distance.  Frontier expansion with visited-set
    anti-join."""
    spark = edges.sparkSession
    visited = spark.createDataFrame([(start_key, 0)], "key string, dist int")
    frontier = visited
    e = edges.select("source_key", "sink_key").dropDuplicates()
    for d in range(1, max_hops + 1):
        nxt = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.key") == F.col("e.source_key"))
            .select(F.col("e.sink_key").alias("key"))
            .dropDuplicates()
            .join(visited.select("key"), "key", "left_anti")
            .withColumn("dist", F.lit(d))
            .cache()
        )
        if nxt.isEmpty():
            break
        visited = cut(visited.unionByName(nxt))
        frontier = nxt
    return visited


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Component/orphan audit (§2.12, e.g. HasOrphanProxy): hash-min label
    propagation over the undirected edge set; component id = min key (as
    string) reachable, after at most ``max_iter`` rounds (at least one).
    Returns (key, component).

    Every non-NULL endpoint is a vertex, so a vertex whose only edge is a
    self-loop is its own component.  The loop is planned and run inside
    ``partition_scope`` at the graph's derived count, with the static
    symmetric edge set cached hash-partitioned on its join key (the
    pagerank/label_propagation discipline): each round then runs its
    message shuffle at the graph's size, not the session default.

    Round 1 needs no join (every label is still its own key, so a
    vertex's neighbour minimum is one aggregate over the edge set); each
    later round is one join plus one aggregate over the neighbours'
    labels and the vertex's own."""
    spark = edges.sparkSession
    und = (
        edges.select(
            F.inline(
                F.array(
                    F.struct(
                        F.col("source_key").alias("a"), F.col("sink_key").alias("b")
                    ),
                    F.struct(
                        F.col("sink_key").alias("a"), F.col("source_key").alias("b")
                    ),
                )
            )
        )
        .where(F.col("a").isNotNull())
        .cache()
    )
    partitions = _derived_partitions(und)
    with partition_scope(spark, partitions):
        # hashed on b, the dedup on (a, b) needs no second Exchange
        static = und.repartition(partitions, "b").dropDuplicates().cache()
        # carry the changed flag through the checkpoint so the fixpoint
        # test reads the materialized rows instead of re-running the
        # round (checkpoint-then-probe was recomputing every round)
        rnd = (
            static.groupBy(F.col("a").alias("key"))
            .agg(F.min("b").alias("nbr_min"))
            .select(
                "key",
                F.least("key", "nbr_min").alias("component"),  # skips NULL
                (F.col("nbr_min") < F.col("key")).alias("changed"),
            )
            .transform(cut)
        )
        for _ in range(max_iter - 1):
            if rnd.where("changed").limit(1).isEmpty():
                break
            labels = rnd.select("key", "component")
            # ambiguity-safe rename (the pagerank-loop fix)
            lab = labels.select(
                F.col("key").alias("_l_key"), F.col("component").alias("_l_c")
            )
            msgs = (
                static.join(lab, F.col("b") == F.col("_l_key"))
                .select(
                    F.col("a").alias("key"),
                    F.col("_l_c").alias("c"),
                    F.lit(False).alias("own"),
                )
                .unionByName(
                    labels.select(
                        "key", F.col("component").alias("c"), F.lit(True).alias("own")
                    )
                )
            )
            rnd = (
                msgs.groupBy("key")
                .agg(
                    F.min("c").alias("component"),
                    F.max(F.when(F.col("own"), F.col("c"))).alias("old"),
                )
                .select(
                    "key", "component", (F.col("component") < F.col("old")).alias("changed")
                )
                .transform(cut)
            )
    # every round's labels are a cut, so the caches can go
    static.unpersist()
    und.unpersist()
    return rnd.select("key", "component")
