"""Unit tests for the GraphX-style analytics layer (graph/algorithms.py,
graph/motif.py) on small hand-built graphs with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.graph import algorithms, motif


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_triangle_count_known_graph(spark):
    # K3 (a,b,c) plus a pendant edge c-d: a,b,c in 1 triangle, d in 0
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    got = {r.key: r.triangles for r in algorithms.triangle_count(e).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_count_direction_and_dup_insensitive(spark):
    # same triangle given with reversed/duplicated edges counts once
    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("c", "b"), ("a", "c"), ("a", "c")],
    )
    got = {r.key: r.triangles for r in algorithms.triangle_count(e).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_pagerank_star_orders_hub_highest(spark):
    # all spokes point at the hub: hub rank must dominate, ranks conserve
    e = _edges(spark, [(f"s{i}", "hub") for i in range(4)])
    ranks = {r.key: r.rank_micro for r in algorithms.pagerank(e).collect()}
    assert ranks["hub"] > max(v for k, v in ranks.items() if k != "hub")
    # spokes are symmetric
    assert len({v for k, v in ranks.items() if k != "hub"}) == 1
    # total mass ≤ initial unit (floor rounding + dangling leak only)
    assert 0 < sum(ranks.values()) <= algorithms.RANK_UNIT


def test_pagerank_cycle_is_uniform(spark):
    # a 3-cycle is symmetric: all ranks identical and stable
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    ranks = [r.rank_micro for r in algorithms.pagerank(e, iterations=5).collect()]
    assert len(set(ranks)) == 1


def test_pagerank_empty_edge_set_is_zero_rows(spark):
    # n = 0 vertices: zero rows with the usual schema, like LPA and CC
    e = _edges(spark, [])
    ranks = algorithms.pagerank(e)
    assert ranks.collect() == []
    assert ranks.dtypes == [("key", "string"), ("rank_micro", "bigint")]
    assert algorithms.label_propagation(e).collect() == []


def test_shortest_paths_path_graph(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    und = algorithms.undirect(e)
    got = {
        (r.key, r.landmark): r.dist
        for r in algorithms.shortest_paths(und, ["a"], max_hops=10).collect()
    }
    assert got == {("a", "a"): 0, ("b", "a"): 1, ("c", "a"): 2, ("d", "a"): 3}


def test_shortest_paths_multi_landmark_single_pass(spark):
    e = _edges(spark, [("a", "b"), ("b", "c")])
    und = algorithms.undirect(e)
    got = {
        (r.key, r.landmark): r.dist
        for r in algorithms.shortest_paths(und, ["a", "c"], max_hops=5).collect()
    }
    assert got[("b", "a")] == 1 and got[("b", "c")] == 1
    assert got[("c", "a")] == 2 and got[("a", "c")] == 2


def test_shortest_paths_respects_max_hops(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r.key for r in algorithms.shortest_paths(e, ["a"], max_hops=2).collect()}
    assert got == {"a", "b", "c"}


def test_label_propagation_two_cliques(spark):
    # two triangles joined by one bridge edge: each clique converges to
    # its own min label
    clique1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    clique2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    e = _edges(spark, clique1 + clique2 + [("a3", "b1")])
    labels = {
        r.key: r.label for r in algorithms.label_propagation(e, max_iter=5).collect()
    }
    assert labels["a1"] == labels["a2"] == labels["a3"]
    assert labels["b2"] == labels["b3"]
    assert labels["a1"] != labels["b2"]


def _ev_edges(spark):
    rows = [
        ("s1", "t1", "HasTemporalExtent"),
        ("t1", "h1", "HasProxyInfo"),
        ("h1", "x1", "InferredAs"),
        ("h1", "o1", "MeasuredBy"),
        ("t1", "c1", "IsLocatedAt"),
    ]
    return spark.createDataFrame(
        rows, "source_key string, sink_key string, relation string"
    )


def test_motif_chain(spark):
    rows = motif.find(
        _ev_edges(spark),
        "(a)-[:HasTemporalExtent]->(b); (b)-[:HasProxyInfo]->(c)",
    ).collect()
    assert [tuple(r) for r in rows] == [("s1", "t1", "h1")]


def test_motif_edge_variable_and_anonymous_relation(spark):
    rows = motif.find(_ev_edges(spark), "(t)-[e]->(x)").collect()
    assert len(rows) == 5
    assert set(rows[0].asDict()) == {"t", "x", "e_relation"}


def test_motif_star_shares_center(spark):
    rows = motif.find(
        _ev_edges(spark),
        "(h)-[:InferredAs]->(t); (h)-[:MeasuredBy]->(o)",
    ).collect()
    assert [tuple(r) for r in rows] == [("h1", "x1", "o1")]


def test_motif_rejects_bad_patterns(spark):
    with pytest.raises(motif.MotifError):
        motif.find(_ev_edges(spark), "(a)->(b)")
    with pytest.raises(motif.MotifError):
        motif.find(_ev_edges(spark), "")
    with pytest.raises(motif.MotifError):
        # disconnected term ⇒ cartesian — refused
        motif.find(_ev_edges(spark), "(a)-[]->(b); (c)-[]->(d)")


def test_pagerank_matches_reference_power_iteration(spark):
    """Cross-check the fixed-point arithmetic against a plain float power
    iteration on a small asymmetric graph (same damping/iterations)."""
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    ranks = {
        r.key: r.rank_micro
        for r in algorithms.pagerank(_edges(spark, pairs), iterations=10).collect()
    }
    nodes = sorted({x for p in pairs for x in p})
    out = {}
    for s, d in pairs:
        out.setdefault(s, []).append(d)
    r = {n: algorithms.RANK_UNIT // len(nodes) for n in nodes}
    base = (algorithms.RANK_UNIT * 15) // (100 * len(nodes))
    import math

    for _ in range(10):
        incoming = {n: 0 for n in nodes}
        for s, ds in out.items():
            for d in ds:
                incoming[d] += math.floor((r[s] * 85) / (100 * len(ds)))
        r = {n: base + incoming[n] for n in nodes}
    assert ranks == r


class TestKCore:
    def test_peel_converges_within_round_budget(self, spark, sf_dir):
        """The fixed KCORE_ROUNDS budget must reach the true k-core at
        test scale: one more round changes nothing, and every surviving
        vertex has core_degree >= k."""
        from biodiversity_graph_db_spark.operators.graph_analytics import (
            KCORE_K,
            KCORE_ROUNDS,
            kcore_peel,
            li_graph,
        )

        und = (
            li_graph(spark, sf_dir)
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .dropDuplicates()
        )
        at_budget = {
            (r.v, r.core_degree)
            for r in kcore_peel(und, KCORE_K, KCORE_ROUNDS).collect()
        }
        one_more = {
            (r.v, r.core_degree)
            for r in kcore_peel(und, KCORE_K, KCORE_ROUNDS + 1).collect()
        }
        assert at_budget == one_more
        assert all(d >= KCORE_K for _, d in at_budget)
        assert len(at_budget) > 0


class TestSccIsolatedVertex:
    def test_vertex_isolated_by_extraction_still_assigned(self, spark):
        """Round-5 review counterexample: n2's every edge touches an
        SCC extracted in round 1, so the old node-set-from-edges
        rebuild dropped it; it must come back as singleton SCC n2."""
        from biodiversity_graph_db_spark.graph.algorithms import scc

        edges = [
            ("n1", "n5"), ("n5", "n1"),
            ("n0", "n3"), ("n3", "n0"),
            ("n1", "n2"), ("n2", "n0"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = sorted((r.key, r.scc_id) for r in scc(df).collect())
        assert got == [
            ("n0", "n0"), ("n1", "n1"), ("n2", "n2"),
            ("n3", "n0"), ("n5", "n1"),
        ]


class TestHits:
    def test_hub_authority_structure(self, spark):
        """a→c, b→c, c→d: a/b are the pure hubs (tie at the max), c the
        top authority (exactly RANK_UNIT after max-normalization), d a
        pure sink with zero hub score."""
        from biodiversity_graph_db_spark.graph import algorithms

        edges = spark.createDataFrame(
            [("a", "c"), ("b", "c"), ("c", "d")], "src string, dst string"
        )
        rows = {r.key: r for r in algorithms.hits(edges, iterations=3).collect()}
        unit = algorithms.RANK_UNIT
        assert rows["c"].auth_micro == unit
        assert rows["a"].hub_micro == rows["b"].hub_micro == unit
        assert rows["d"].hub_micro == 0
        assert rows["a"].auth_micro == 0


class TestModularity:
    def test_two_triangles_bridge(self, spark):
        """Two triangles joined by one bridge edge, partitioned as the
        two triangles: m=7, each community has e_c=3, d_c=7, so
        contrib_q = 4*7*3 - 49 = 35 and Q = 70/196 = 5/14."""
        from biodiversity_graph_db_spark.graph import algorithms

        tri = [("a", "b"), ("b", "c"), ("a", "c"),
               ("x", "y"), ("y", "z"), ("x", "z"),
               ("c", "x")]
        edges = spark.createDataFrame(tri, "src string, dst string")
        labels = spark.createDataFrame(
            [("a", "t1"), ("b", "t1"), ("c", "t1"),
             ("x", "t2"), ("y", "t2"), ("z", "t2")],
            "key string, label string",
        )
        rows = {r.community: r for r in
                algorithms.modularity(edges, labels).collect()}
        for comm in ("t1", "t2"):
            assert rows[comm].n_nodes == 3
            assert rows[comm].intra_edges == 3
            assert rows[comm].degree_sum == 7
            assert rows[comm].contrib_q == 35
        m = 7
        q = sum(r.contrib_q for r in rows.values()) / (4 * m * m)
        assert abs(q - 5 / 14) < 1e-12

    def test_singleton_partition_nonpositive(self, spark):
        """Every vertex its own community: no intra edges anywhere, so
        every contribution is -d_c^2 < 0 (the classic Q lower range)."""
        from biodiversity_graph_db_spark.graph import algorithms

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string"
        )
        labels = spark.createDataFrame(
            [("a", "a"), ("b", "b"), ("c", "c")], "key string, label string"
        )
        rows = algorithms.modularity(edges, labels).collect()
        assert len(rows) == 3
        assert all(r.intra_edges == 0 for r in rows)
        assert all(r.contrib_q == -r.degree_sum ** 2 for r in rows)


class TestHarmonicCentrality:
    def test_path_graph_exact_terms(self, spark):
        """a-b-c path, landmark a: b gets UNIT/1, c gets UNIT/2 —
        each term is the exact integer floor division."""
        from biodiversity_graph_db_spark.graph import algorithms

        und = algorithms.undirect(
            spark.createDataFrame(
                [("a", "b"), ("b", "c")], "src string, dst string"
            )
        )
        rows = {
            r.key: r
            for r in algorithms.harmonic_centrality(
                und, ["a"], max_hops=4
            ).collect()
        }
        u = algorithms.HARMONIC_UNIT
        assert rows["b"].harmonic_micro == u
        assert rows["c"].harmonic_micro == u // 2
        assert "a" not in rows  # dist-0 self row excluded

    def test_multi_landmark_sums_and_unreachable_is_absent(self, spark):
        """Landmarks {a, c} on a-b-c plus an isolated edge x-y: b sums
        two dist-1 terms; x/y reach no landmark and are absent (the
        harmonic convention: unreachable contributes nothing, no
        infinity)."""
        from biodiversity_graph_db_spark.graph import algorithms

        und = algorithms.undirect(
            spark.createDataFrame(
                [("a", "b"), ("b", "c"), ("x", "y")],
                "src string, dst string",
            )
        )
        rows = {
            r.key: r
            for r in algorithms.harmonic_centrality(
                und, ["a", "c"], max_hops=4
            ).collect()
        }
        u = algorithms.HARMONIC_UNIT
        assert rows["b"].harmonic_micro == 2 * u and rows["b"].n_reached == 2
        assert rows["a"].harmonic_micro == u // 2  # reaches c at dist 2
        assert "x" not in rows and "y" not in rows


class TestClusteringCoefficient:
    def test_known_kite_graph(self, spark):
        """Triangle a-b-c plus pendant d off a: a,b,c have deg>=2; b and
        c close their only wedge (lcc=1); a has 3 wedges, 1 closed
        (lcc=1/3); d (deg 1) is excluded."""
        from biodiversity_graph_db_spark.graph.algorithms import (
            clustering_coefficient,
        )

        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")])
        got = {r.key: (r.triangles, r.deg, r.lcc) for r in
               clustering_coefficient(e).collect()}
        assert got == {
            "a": (1, 3, 0.3333),
            "b": (1, 2, 1.0),
            "c": (1, 2, 1.0),
        }


class TestLinkPrediction:
    def test_open_wedge_ranked(self, spark):
        """Path a-b-c plus a-d: (a,c)?? no — c and d share neighbor
        a... candidates are the distance-2 non-adjacent pairs with
        their common-neighbor Jaccard."""
        from biodiversity_graph_db_spark.graph.algorithms import (
            link_prediction,
        )

        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "d")])
        got = {(r.a, r.b): (r.common, r.jaccard) for r in
               link_prediction(e).collect()}
        # a-c share b (deg a=2, deg c=1): J = 1/(2+1-1) = 0.5
        # b-d share a (deg b=2, deg d=1): J = 1/(2+1-1) = 0.5
        # c-d share nothing (distance 3): absent
        assert got == {("a", "c"): (1, 0.5), ("b", "d"): (1, 0.5)}

    def test_existing_edges_excluded(self, spark):
        from biodiversity_graph_db_spark.graph.algorithms import (
            link_prediction,
        )

        # triangle: every distance-2 pair is already adjacent
        e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
        assert link_prediction(e).count() == 0


class TestPersonalizedPagerank:
    def test_mass_concentrates_near_sources(self, spark):
        """Triangle s-x-y with pendant z off y, source s: the graph is
        non-bipartite so the iterate CONVERGES (a bare path flip-flops
        between iteration parities — not a stable test target).  s must
        hold the most mass (teleport + inflow), the distance-2 pendant
        the least, everything reachable positive."""
        from biodiversity_graph_db_spark.graph.algorithms import (
            personalized_pagerank,
            undirect,
        )

        e = undirect(
            _edges(
                spark,
                [("s", "x"), ("x", "y"), ("s", "y"), ("y", "z")],
            )
        )
        got = {r.key: r.ppr_micro for r in
               personalized_pagerank(e, ["s"], iterations=12).collect()}
        assert set(got) == {"s", "x", "y", "z"}
        assert got["s"] == max(got.values())
        assert got["z"] == min(got.values())
        assert all(v > 0 for v in got.values())

    def test_unreachable_gets_zero(self, spark):
        from biodiversity_graph_db_spark.graph.algorithms import (
            personalized_pagerank,
            undirect,
        )

        e = undirect(_edges(spark, [("s", "x"), ("p", "q")]))
        got = {r.key for r in
               personalized_pagerank(e, ["s"], iterations=4).collect()}
        assert got == {"s", "x"}  # the p/q component reports nothing


class TestShuffleScope:
    """r13 loop-partitioning mechanism (guide §2.4): when an iterative
    round is PLANNED inside ``algorithms._shuffle_scope`` at the same
    count its cached sides were hashed to, every Exchange in the round
    (the aggregation shuffle, the cached sides' own repartitions) lands
    at the LOOP count — the keyed joins are co-partitioned and no
    reconciliation Exchange appears.  Planned at the (different)
    session count instead, the aggregation shuffles at the session
    count and EnsureRequirements re-shuffles a cached side to
    reconcile the two counts.

    Probe: the partition count of every hashpartitioning(...) argument
    in the formatted plan (cache is used exactly as the real loops do;
    counting Exchange NODES textually would double-count the cached
    subtrees formatted mode reprints per consumer).  NOTE
    localCheckpoint would NOT work as the loop's static-side
    materializer: LogicalRDD comes back with UnknownPartitioning, so
    every round would re-shuffle both join sides — cache/
    InMemoryTableScan preserves the partitioning, which is why the
    loops cache their static sides and only checkpoint to cut lineage.
    """

    P = 2

    @classmethod
    def _round_plan(cls, spark, scoped: bool) -> str:
        import contextlib

        p = cls.P
        e = _edges(
            spark, [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(40)]
        )
        scope = (
            algorithms._shuffle_scope(spark, p)
            if scoped
            else contextlib.nullcontext()
        )
        old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            with scope:
                e2 = e.repartition(p, "src").cache()
                nodes = (
                    e2.select(F.col("src").alias("key"))
                    .unionByName(e2.select(F.col("dst").alias("key")))
                    .dropDuplicates()
                    .repartition(p, "key")
                    .cache()
                )
                e2.count()
                nodes.count()
                r = nodes.select(
                    F.col("key").alias("_r_key"), F.lit(1).alias("_r_m")
                )
                contrib = (
                    e2.join(r, F.col("src") == F.col("_r_key"))
                    .groupBy(F.col("dst").alias("key"))
                    .agg(F.sum("_r_m").alias("in_mass"))
                )
                ranks = nodes.join(contrib, "key", "left")
                return ranks._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
            e2.unpersist()
            nodes.unpersist()

    @staticmethod
    def _exchange_counts(plan: str) -> set[int]:
        import re

        return {
            int(n)
            for n in re.findall(r"hashpartitioning\([^()]+, (\d+)\)", plan)
        }

    def test_scoped_round_every_exchange_at_loop_count(self, spark):
        plan = self._round_plan(spark, scoped=True)
        assert self._exchange_counts(plan) == {self.P}, plan

    def test_unscoped_round_pays_reconciliation_exchanges(self, spark):
        sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if sess == self.P:
            pytest.skip("session count happens to equal the loop count")
        plan = self._round_plan(spark, scoped=False)
        # the aggregation shuffled at the session count, so the round
        # mixes partition counts — the mismatch the scope removes
        assert sess in self._exchange_counts(plan), plan
