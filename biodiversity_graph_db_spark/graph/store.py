"""GraphStore — the evidence graph as two DataFrames, with the reference's
mutation semantics (SURVEY §2.7, Storage.fs / Graph.fs).

The reference mutates an in-memory atom list and rewrites one JSON file per
change; here every mutation is a batch set-operation (anti-join + union —
the plain-parquet emulation of Delta ``MERGE``), and persistence is a
partitioned parquet write.  All checks (duplicate keys, FK endpoints,
relation signatures, edge dedup) are DataFrame ops that run distributed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.graph.schema import (
    EDGES_SCHEMA,
    NODES_SCHEMA,
    RELATION_SIGNATURES,
)
from biodiversity_graph_db_spark.operators._util import measured_cut, unsized


class GraphIntegrityError(ValueError):
    pass


def _measured(batch: DataFrame) -> DataFrame:
    """A caller batch, ready to join: one whose plan Spark cannot size
    (``spark.createDataFrame`` over local rows) comes back as a measured
    cut, so the probe and every anti-join and commit over it plan it as
    a broadcast, and its source is read once, not once per job."""
    return measured_cut(batch) if unsized(batch) else batch


@dataclass
class GraphStore:
    """An immutable snapshot of the graph; mutations return a new store
    (copy-on-write at DataFrame granularity — the Spark analogue of the
    reference's per-file copy-on-write, Storage.fs:239-275)."""

    spark: SparkSession
    nodes: DataFrame
    edges: DataFrame

    # -- construction ------------------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession) -> "GraphStore":
        # limit(0) optimizes to an empty LocalRelation, which Spark sizes
        # at 0 bytes; the bare frames would be unsized Scan ExistingRDDs
        return cls(
            spark,
            spark.createDataFrame([], NODES_SCHEMA).limit(0),
            spark.createDataFrame([], EDGES_SCHEMA).limit(0),
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "GraphStore":
        """S1 loadOrInitGraph (Storage.fs:195-220): full-graph scan.  The
        reference reads every atom file eagerly; we read two partitioned
        parquet tables lazily and cache hot dimensions on demand."""
        return cls(
            spark,
            spark.read.parquet(f"{path}/nodes"),
            spark.read.parquet(f"{path}/edges"),
        )

    def save(self, path: str) -> None:
        """S6 saveAtoms (Storage.fs:124-154): partitioned by node_type /
        relation, mirroring the per-type consolidated files."""
        self.nodes.write.partitionBy("node_type").mode("overwrite").parquet(
            f"{path}/nodes"
        )
        self.edges.write.partitionBy("relation").mode("overwrite").parquet(
            f"{path}/edges"
        )

    def cache(self) -> "GraphStore":
        return GraphStore(self.spark, self.nodes.cache(), self.edges.cache())

    def save_bucketed(self, table_prefix: str, n_buckets: int = 64) -> None:
        """Bucketed storage — the co-located-join layout for the 100 TB
        deployment: nodes hash-bucketed (and sorted) on ``key``, edges on
        ``source_key``, same bucket count, so every traversal join
        (edges.source_key = nodes.key) reads bucket i against bucket i
        with NO Exchange on either side (asserted in tests/test_plans.py).
        At scale this converts the graph's hottest shuffle — the per-hop
        node resolve — into a zip of pre-sorted bucket files; locally the
        same plan shape is verified at n_buckets=4.  Buckets require the
        table catalog (``saveAsTable``), unlike ``save``'s plain parquet.
        """
        (
            self.nodes.write.bucketBy(n_buckets, "key")
            .sortBy("key")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(f"{table_prefix}_nodes")
        )
        (
            self.edges.write.bucketBy(n_buckets, "source_key")
            .sortBy("source_key")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(f"{table_prefix}_edges")
        )

    @classmethod
    def load_bucketed(
        cls, spark: SparkSession, table_prefix: str
    ) -> "GraphStore":
        """Read the bucketed tables back; joins on the bucket keys skip
        their Exchanges as long as ``spark.sql.sources.bucketing.enabled``
        stays on (default)."""
        return cls(
            spark,
            spark.table(f"{table_prefix}_nodes"),
            spark.table(f"{table_prefix}_edges"),
        )

    # -- node mutations ----------------------------------------------------

    def _conform(self, new_nodes: DataFrame) -> DataFrame:
        cols = {f.name for f in new_nodes.schema.fields}
        out = new_nodes
        for field in NODES_SCHEMA.fields:
            if field.name not in cols:
                out = out.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
        return out.select([f.name for f in NODES_SCHEMA.fields])

    def add_nodes(self, new_nodes: DataFrame, on_conflict: str = "error") -> "GraphStore":
        """U1 addNode / U2 addNodeOrSkip (Graph.fs:63-79).

        ``on_conflict='error'`` raises if any key already exists (U1);
        ``'skip'`` drops conflicting rows (U2, idempotent upsert).  The
        existence check is a broadcast-friendly semi/anti join, not a scan
        loop as in the reference (Storage.fs:223-229 TODO).
        """
        if on_conflict not in ("error", "skip"):
            raise ValueError(on_conflict)
        new_nodes = _measured(self._conform(new_nodes))
        if on_conflict == "error":
            # one probe job covers both invariants: existing-key conflict
            # and in-batch duplicates (A4 guard, Storage.fs:425-427)
            exists_probe = (
                new_nodes.join(self.nodes, "key", "left_semi")
                .select("key", F.lit("node already exists").alias("why"))
            )
            batch_probe = (
                new_nodes.groupBy("key")
                .count()
                .where(F.col("count") > 1)
                .select("key", F.lit("duplicate key in batch").alias("why"))
            )
            bad = exists_probe.unionByName(batch_probe).limit(1).collect()
            if bad:
                raise GraphIntegrityError(f"{bad[0].why}: {bad[0].key}")
            fresh = new_nodes
        else:
            fresh = new_nodes.dropDuplicates(["key"]).join(
                self.nodes, "key", "left_anti"
            )
        return GraphStore(self.spark, self.nodes.unionByName(fresh), self.edges)

    def replace_node_data(self, replacements: DataFrame) -> "GraphStore":
        """U3 replaceNodeData/updateNode (Graph.fs:81-90; Storage.fs:277-283):
        swap payload columns for existing keys, keep adjacency (edges are a
        separate table, so adjacency is untouched by construction)."""
        replacements = _measured(self._conform(replacements))
        missing = (
            replacements.join(self.nodes, "key", "left_anti").limit(1).collect()
        )
        if missing:
            raise GraphIntegrityError(
                f"node doesn't already exist: {missing[0].key}"
            )
        kept = self.nodes.join(replacements.select("key"), "key", "left_anti")
        return GraphStore(self.spark, kept.unionByName(replacements), self.edges)

    def remove_nodes(self, keys: DataFrame) -> "GraphStore":
        """U4 removeNode (Graph.fs:119-132): delete nodes + cascade-delete
        every edge touching them (either direction)."""
        keys = _measured(keys.select(F.col(keys.columns[0]).alias("key")))
        nodes = self.nodes.join(keys, "key", "left_anti")
        edges = (
            self.edges.join(
                keys.withColumnRenamed("key", "source_key"), "source_key", "left_anti"
            ).join(
                keys.withColumnRenamed("key", "sink_key"), "sink_key", "left_anti"
            )
            # USING-joins move the join column to the front; restore the
            # canonical schema order so positional consumers (collect
            # tuples, versioned-log diffs) see a stable layout
            .select([f.name for f in EDGES_SCHEMA.fields])
        )
        return GraphStore(self.spark, nodes, edges)

    # -- edge mutations ----------------------------------------------------

    def signature_dim(self) -> DataFrame:
        return self.spark.createDataFrame(
            RELATION_SIGNATURES, "relation string, sig_source string, sig_sink string"
        )

    def add_relations(self, new_edges: DataFrame, validate: bool = True) -> "GraphStore":
        """Edge insert = J4 endpoint FK check (Graph.fs:136-152) + J5
        signature check (Graph.fs:617-712, enabled here) + U5 identical-edge
        dedup (Graph.fs:146-149), then union."""
        for c in ("weight", "payload", "source_type", "sink_type"):
            if c not in new_edges.columns:
                default = F.lit(1) if c == "weight" else F.lit(None).cast("string")
                new_edges = new_edges.withColumn(c, default)
        if "edge_year_value" not in new_edges.columns:
            # promote date-valued payloads to the columnar year (SURVEY §1.3)
            from biodiversity_graph_db_spark.graph.edge_payloads import (
                promote_edge_year,
            )

            new_edges = promote_edge_year(new_edges)
        n_idx = self.nodes.select("key", "node_type")
        # resolve endpoint types + FK existence in one pass
        e = (
            new_edges.drop("source_type", "sink_type")
            .join(
                n_idx.withColumnRenamed("key", "source_key").withColumnRenamed(
                    "node_type", "source_type"
                ),
                "source_key",
                "left",
            )
            .join(
                n_idx.withColumnRenamed("key", "sink_key").withColumnRenamed(
                    "node_type", "sink_type"
                ),
                "sink_key",
                "left",
            )
        )
        if validate:
            # one probe job covers both invariants (FK endpoints exist,
            # relation signature valid); FK failures are excluded from the
            # signature probe so their message names the real problem
            sigs = F.broadcast(
                self.signature_dim().withColumnRenamed("relation", "sig_relation")
            )
            fk_probe = e.where(
                F.col("source_type").isNull() | F.col("sink_type").isNull()
            ).select(
                F.concat_ws(
                    " -> ", "source_key", "sink_key"
                ).alias("what"),
                F.lit("edge endpoint missing").alias("why"),
            )
            sig_probe = (
                e.where(
                    F.col("source_type").isNotNull()
                    & F.col("sink_type").isNotNull()
                )
                .join(
                    sigs,
                    (e["relation"] == sigs["sig_relation"])
                    & (e["source_type"] == sigs["sig_source"])
                    & (e["sink_type"] == sigs["sig_sink"]),
                    "left_anti",
                )
                .select(
                    F.concat(
                        "source_type", F.lit("-["), "relation", F.lit("]->"),
                        "sink_type",
                    ).alias("what"),
                    F.lit("invalid relation signature").alias("why"),
                )
            )
            bad = fk_probe.unionByName(sig_probe).limit(1).collect()
            if bad:
                raise GraphIntegrityError(f"{bad[0].why}: {bad[0].what}")
        e = e.select([f.name for f in EDGES_SCHEMA.fields])
        # U5: identical (source, sink, relation, payload) inserted once
        merged = (
            self.edges.unionByName(e)
            .dropDuplicates(["source_key", "sink_key", "relation", "payload"])
        )
        return GraphStore(self.spark, self.nodes, merged)

    def add_proxied_taxon(
        self,
        hyperedge_key: str,
        timeline_key: str,
        proxy_key: str,
        method_key: str,
        taxon_keys: list[str],
        outcome_key: str | None = None,
    ) -> "GraphStore":
        """J6 hyperedge transaction (addProxiedTaxon' Storage.fs:396-423 +
        commitProxiedTaxon Library.fs:204-251): one empty ProxiedTaxonNode
        plus its InferredFrom/InferredUsing/InferredAs(+MeasuredBy) spokes
        and the timeline's HasProxyInfo edge, staged and validated as one
        batch.  Duplicate taxa in the list is an error (Storage.fs:425-427).
        """
        if len(set(taxon_keys)) != len(taxon_keys):
            raise GraphIntegrityError("duplicate taxa in hyperedge")
        node = self.spark.createDataFrame(
            [(hyperedge_key, "ProxiedTaxonNode", "[Proxied taxon hyper-edge]")],
            "key string, node_type string, pretty_name string",
        )
        edge_rows = [
            (timeline_key, hyperedge_key, "HasProxyInfo"),
            (hyperedge_key, proxy_key, "InferredFrom"),
            (hyperedge_key, method_key, "InferredUsing"),
        ]
        edge_rows += [(hyperedge_key, t, "InferredAs") for t in taxon_keys]
        if outcome_key:
            edge_rows.append((hyperedge_key, outcome_key, "MeasuredBy"))
        edges = self.spark.createDataFrame(
            edge_rows, "source_key string, sink_key string, relation string"
        )
        return self.add_nodes(node, on_conflict="error").add_relations(edges)

    # -- index / statistics ------------------------------------------------

    def index(self) -> DataFrame:
        """The master node index (atom-index.json ≙ nodes minus payload,
        Storage.fs:76-92), in its canonical (type, key) order (A3/O1)."""
        return self.nodes.select("key", "node_type", "pretty_name").orderBy(
            "node_type", "key"
        )

    def nodes_by_type(self, node_type: str) -> DataFrame:
        """F7 Nodes<'c>() (Storage.fs:50-54) — partition-pruned scan."""
        return self.nodes.where(F.col("node_type") == node_type).select(
            "key", "pretty_name"
        )

    def out_edges(self, source_key: str, relation: str | None = None) -> DataFrame:
        """J1 nodeIdsByRelation (Graph.fs:744-764): 1-hop out-traversal."""
        e = self.edges.where(F.col("source_key") == source_key)
        if relation is not None:
            e = e.where(F.col("relation") == relation)
        return e.select("sink_key", "relation")


def save_jsonl(store: GraphStore, path: str) -> None:
    """S7 serialiseToStream (Storage.fs:17-29): the reference writes each
    record on a single line inside a JSON array; the Spark-native
    equivalent is JSON-lines (one object per line, splittable — at 100 TB
    an array file would be unsplittable and unreadable in parallel)."""
    store.nodes.write.mode("overwrite").json(f"{path}/nodes")
    store.edges.write.mode("overwrite").json(f"{path}/edges")


def load_jsonl(spark: SparkSession, path: str) -> GraphStore:
    """S1-via-JSON (Storage.fs:195-220 reads one JSON file per atom): a
    permissive-mode JSON scan with the explicit table schema — corrupt
    records land in the default _corrupt_record handling rather than
    failing the load."""
    from biodiversity_graph_db_spark.graph.schema import (
        EDGES_SCHEMA,
        NODES_SCHEMA,
    )

    return GraphStore(
        spark,
        spark.read.schema(NODES_SCHEMA).json(f"{path}/nodes"),
        spark.read.schema(EDGES_SCHEMA).json(f"{path}/edges"),
    )
