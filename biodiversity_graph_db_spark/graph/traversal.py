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

from biodiversity_graph_db_spark.operators._util import cut


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
    string) reachable.  Returns (key, component)."""
    und = (
        edges.select(
            F.col("source_key").alias("a"), F.col("sink_key").alias("b")
        )
        .unionByName(
            edges.select(
                F.col("sink_key").alias("a"), F.col("source_key").alias("b")
            )
        )
        .dropDuplicates()
        .cache()
    )
    labels = (
        und.select(F.col("a").alias("key"))
        .dropDuplicates()
        .withColumn("component", F.col("key"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.b == labels.key)
            .groupBy(und.a)
            .agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("a", "key")
        )
        # carry the changed flag through the checkpoint so the fixpoint
        # test reads the materialized rows instead of re-running the
        # join+agg (checkpoint-then-probe was recomputing every round)
        new_labels = (
            labels.join(neighbor_min, "key", "left")
            .select(
                "key",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("nbr_min", F.col("component"))
                    < F.col("component")
                ).alias("changed"),
            )
            .transform(cut)
        )
        labels = new_labels.select("key", "component")
        if new_labels.where("changed").limit(1).isEmpty():
            break
    return labels
