"""Oracle-checked graph analytics (SURVEY §2.12; north star "GraphX for
analytical queries").

Each classic GraphX algorithm from ``graph/algorithms.py`` runs against a
graph derived from the driver's star schema (so the DuckDB oracle can
rebuild the identical graph in SQL) and is verified value-for-value:

- G5 triangle counting      — order/part/supplier co-occurrence graph
- G6 PageRank               — customer→nation→region hierarchy,
                              fixed-point micro-unit arithmetic
- G7 multi-source BFS dist  — unrolled-BFS SQL oracle
- G8 motif finding          — GraphFrames pattern compiled to joins,
                              on the real evidence graph

The lineitem-derived graph is bounded (l_orderkey <= 600 ≈ 2.4k triples
at every sf) so the oracle's quadratic-ish SQL stays cheap; the Spark
side's plan shape is sf-independent (the bound is a pushed-down scan
filter, not a collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.graph import algorithms, motif
from biodiversity_graph_db_spark.operators._util import cut, partition_scope
from biodiversity_graph_db_spark.operators.graph_queries import (
    _EV_EDGES,
    _evidence_store,
    _sql_values,
    star_edges,
)
from biodiversity_graph_db_spark.registry import query
from biodiversity_graph_db_spark.tables import table

_LI_BOUND = 600

_LI_GRAPH_SQL = f"""
    li AS (
      SELECT DISTINCT 'o_' || l_orderkey AS o, 'p_' || l_partkey AS p,
             's_' || l_suppkey AS s
      FROM lineitem WHERE l_orderkey <= {_LI_BOUND}
    ),
    raw AS (
      SELECT o AS x, p AS y FROM li
      UNION SELECT o, s FROM li
      UNION SELECT p, s FROM li
    ),
    und AS (
      SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
      FROM raw WHERE x <> y
    )
"""


def li_graph(
    spark: SparkSession, sf_dir: str, bound: int = _LI_BOUND
) -> DataFrame:
    """The order/part/supplier co-occurrence graph: each lineitem row
    links its order, part and supplier pairwise (a tripartite graph with
    a triangle per lineitem row).  ``bound`` defaults to the oracle's
    fixed slice; scale experiments raise it to grow the graph with SF."""
    o = F.concat(F.lit("o_"), F.col("l_orderkey"))
    p = F.concat(F.lit("p_"), F.col("l_partkey"))
    s = F.concat(F.lit("s_"), F.col("l_suppkey"))
    # one scan, the row's three pairs exploded in place, one dedup
    return (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= bound)
        .select(
            F.inline(
                F.array(
                    F.struct(o.alias("src"), p.alias("dst")),
                    F.struct(o.alias("src"), s.alias("dst")),
                    F.struct(p.alias("src"), s.alias("dst")),
                )
            )
        )
        .dropDuplicates()
    )


@query(
    "G5_triangle_count",
    oracle=f"""
    WITH {_LI_GRAPH_SQL},
    tri AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pv AS (
      SELECT key, COUNT(*) AS triangles
      FROM (
        SELECT a AS key FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY key
    )
    SELECT key, triangles FROM pv ORDER BY key
    """,
)
def g5_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphX-style per-vertex triangle counting on the o/p/s graph —
    oriented a<b edge set, wedge join closed against the third edge
    (each triangle enumerated once)."""
    return algorithms.triangle_count(li_graph(spark, sf_dir)).orderBy("key")


def _pagerank_oracle(iterations: int = 10) -> str:
    d_pct, unit = 85, algorithms.RANK_UNIT
    its = [
        f"""it0 AS (
      SELECT n.key, CAST({unit} // p.n AS BIGINT) AS rank_micro
      FROM nodes n CROSS JOIN p
    )"""
    ]
    for k in range(iterations):
        its.append(f"""it{k + 1} AS (
      SELECT n.key,
             CAST({unit * (100 - d_pct)} // (100 * p.n)
                  + COALESCE(c.m, 0) AS BIGINT) AS rank_micro
      FROM nodes n CROSS JOIN p
      LEFT JOIN (
        SELECT e.dst AS key,
               SUM(CAST(FLOOR((r.rank_micro * {d_pct}) / (100 * d.deg))
                        AS BIGINT)) AS m
        FROM edges e
        JOIN deg d ON d.src = e.src
        JOIN it{k} r ON r.key = e.src
        GROUP BY e.dst
      ) c ON c.key = n.key
    )""")
    its_sql = ",\n    ".join(its)
    return f"""
    WITH edges AS (
      SELECT DISTINCT 'customer_' || c_custkey AS src,
             'nation_' || c_nationkey AS dst FROM customer
      UNION SELECT 'nation_' || n_nationkey, 'region_' || n_regionkey
      FROM nation
    ),
    nodes AS (
      SELECT DISTINCT key FROM (
        SELECT src AS key FROM edges UNION SELECT dst FROM edges)
    ),
    p AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    {its_sql}
    SELECT key, rank_micro FROM it{iterations}
    WHERE key NOT LIKE 'customer_%'
    ORDER BY key
    """


@query("G6_pagerank", oracle=_pagerank_oracle())
def g6_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-iteration PageRank on the customer→nation→region hierarchy in
    BIGINT micro-units (bit-identical across engines — see
    algorithms.pagerank); nations/regions reported, the sf-scaled
    customer mass feeds them."""
    ranks = algorithms.pagerank(
        star_edges(spark, sf_dir).select("source_key", "sink_key"),
        iterations=10,
    )
    return (
        ranks.where(~F.col("key").like("customer_%"))
        .select("key", "rank_micro")
        .orderBy("key")
    )


def _bfs_oracle(max_hops: int = 4) -> str:
    its = []
    for k in range(max_hops):
        its.append(f"""v{k + 1} AS (
      SELECT key, MIN(dist) AS dist FROM (
        SELECT key, dist FROM v{k}
        UNION ALL
        SELECT e.dst AS key, v.dist + 1 AS dist
        FROM und2 e JOIN v{k} v ON e.src = v.key
      ) GROUP BY key
    )""")
    its_sql = ",\n    ".join(its)
    return f"""
    WITH {_LI_GRAPH_SQL},
    und2 AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und
    ),
    v0 AS (SELECT 'o_1' AS key, 0 AS dist),
    {its_sql}
    SELECT key, 'o_1' AS landmark, CAST(dist AS INTEGER) AS dist
    FROM v{max_hops}
    ORDER BY dist, key
    """


@query("G7_shortest_paths", oracle=_bfs_oracle())
def g7_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS distances (GraphX shortestPaths) from order o_1
    over the undirected o/p/s graph, 4 hops; the oracle unrolls the same
    BFS as chained min-aggregations."""
    und = algorithms.undirect(li_graph(spark, sf_dir))
    return (
        algorithms.shortest_paths(und, ["o_1"], max_hops=4)
        .select("key", "landmark", "dist")
        .orderBy("dist", "key")
    )


def _lpa_ctes(iterations: int = 5) -> str:
    """The shared unrolled-LPA CTE chain (und2/labels0/.../labels{n}),
    mirroring algorithms.label_propagation: each round every vertex
    adopts its neighbours' most frequent label, ties broken by smallest
    label (ROW_NUMBER ORDER BY n DESC, label — the SQL spelling of the
    Spark side's min(struct(-n, label))).  Used by both the G9 oracle
    and G15's modularity scoring of the same partition."""
    its = []
    for k in range(iterations):
        its.append(f"""votes{k} AS (
      SELECT e.src AS k, l.label, COUNT(*) AS n
      FROM und2 e JOIN labels{k} l ON l.key = e.dst
      GROUP BY e.src, l.label
    ),
    best{k} AS (
      SELECT k AS key, label AS new_label FROM (
        SELECT k, label,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY n DESC, label) AS rk
        FROM votes{k}
      ) WHERE rk = 1
    ),
    labels{k + 1} AS (
      SELECT l.key, COALESCE(b.new_label, l.label) AS label
      FROM labels{k} l LEFT JOIN best{k} b ON b.key = l.key
    )""")
    its_sql = ",\n    ".join(its)
    return f"""
    und2 AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und
    ),
    labels0 AS (SELECT DISTINCT src AS key, src AS label FROM und2),
    {its_sql}
    """


def _lpa_oracle(iterations: int = 5) -> str:
    return f"""
    WITH {_LI_GRAPH_SQL},
    {_lpa_ctes(iterations)}
    SELECT key, label FROM labels{iterations}
    ORDER BY key
    """


@query("G9_label_propagation", oracle=_lpa_oracle())
def g9_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphX-style synchronous label propagation on the o/p/s
    co-occurrence graph, 5 fixed rounds (LPA has no guaranteed fixpoint;
    fixed rounds keep it oracle-reproducible).  One shuffle per round on
    the vertex key; the symmetric edge set is cached once."""
    return algorithms.label_propagation(
        li_graph(spark, sf_dir), max_iter=5
    ).orderBy("key")


@query(
    "G8_motif_find",
    oracle=f"""
    WITH edges(source_key, sink_key, relation) AS (VALUES
      {_sql_values(_EV_EDGES)}
    )
    SELECT s.source_key AS s, s.sink_key AS tl, h.sink_key AS h,
           t.sink_key AS taxon, m.sink_key AS outcome,
           m.relation AS e_relation
    FROM edges s
    JOIN edges h ON h.source_key = s.sink_key AND h.relation = 'HasProxyInfo'
    JOIN edges t ON t.source_key = h.sink_key AND t.relation = 'InferredAs'
    JOIN edges m ON m.source_key = h.sink_key AND m.relation = 'MeasuredBy'
    WHERE s.relation = 'HasTemporalExtent'
    ORDER BY s, tl, h, taxon, outcome
    """,
)
def g8_motif_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphFrames-style motif on the real evidence graph: the hyperedge
    star as a declarative pattern, compiled to partition-pruned joins."""
    _, edges = _evidence_store(spark)
    found = motif.find(
        edges,
        "(s)-[:HasTemporalExtent]->(tl); (tl)-[:HasProxyInfo]->(h);"
        " (h)-[:InferredAs]->(taxon); (h)-[e:MeasuredBy]->(outcome)",
    )
    return found.select(
        "s", "tl", "h", "taxon", "outcome", "e_relation"
    ).orderBy("s", "tl", "h", "taxon", "outcome")


# --- G11: k-core decomposition (fixed-round peel) -------------------------

KCORE_K = 2
KCORE_ROUNDS = 6


def kcore_peel(
    und: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """k-core by synchronous peeling: each round drops every vertex
    whose degree in the SURVIVING subgraph is < k, then restricts the
    edge set to both-surviving endpoints.  ``rounds`` is fixed (the
    G9/LPA unrolled-oracle discipline — both engines run the identical
    bounded computation); the fixpoint test asserts convergence within
    the budget at test scale, and production monitors the per-round
    drop count to stop early.

    Scale shape per round: one map-side-combinable degree count + two
    semi-join-shaped restrictions, all keyed on the vertex id — the
    same one-shuffle-per-iteration budget as PageRank/LPA;
    localCheckpoint truncates the per-round lineage.  Input ``und`` is
    the canonical undirected edge list (a < b)."""
    # materialize the input once (round 0 otherwise recomputes the
    # upstream graph mint for BOTH its consumers), then run the eager
    # peel loop at the derived partition count (r13, partition_scope)
    edges = cut(und)
    partitions = algorithms._derived_partitions(edges)
    with partition_scope(edges.sparkSession, partitions):
        for _ in range(rounds):
            deg = (
                edges.select(F.col("a").alias("v"))
                .unionByName(edges.select(F.col("b").alias("v")))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            alive = deg.where(F.col("c") >= k).select("v")
            edges = (
                edges.join(alive.withColumnRenamed("v", "a"), "a")
                .join(alive.withColumnRenamed("v", "b"), "b")
                .transform(cut)
            )
        return (
            edges.select(F.col("a").alias("v"))
            .unionByName(edges.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
            .transform(cut)
        )


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    ctes = ["und0 AS MATERIALIZED (SELECT a, b FROM und)"]
    for r in range(1, rounds + 1):
        prev = f"und{r - 1}"
        ctes.append(
            f"""deg{r} AS (
      SELECT v, COUNT(*) AS c FROM (
        SELECT a AS v FROM {prev} UNION ALL SELECT b FROM {prev}
      ) GROUP BY v
    )"""
        )
        ctes.append(
            f"keep{r} AS MATERIALIZED (SELECT v FROM deg{r} WHERE c >= {k})"
        )
        ctes.append(
            f"""und{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM {prev} e
      JOIN keep{r} ka ON ka.v = e.a
      JOIN keep{r} kb ON kb.v = e.b
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {_LI_GRAPH_SQL},
    {joined}
    SELECT v, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
      SELECT a AS v FROM und{rounds} UNION ALL SELECT b FROM und{rounds}
    ) GROUP BY v
    ORDER BY v
    """


@query("G11_kcore", oracle=_kcore_oracle())
def g11_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {KCORE_K}-core of the lineitem co-occurrence graph after
    {KCORE_ROUNDS} peeling rounds (converged at test scale — fixpoint
    test) — the density filter that strips pendant vertices before
    community/triangle analytics, completing the classic GraphX set
    (CC, PageRank, triangles, BFS, LPA, motif, k-core)."""
    return kcore_peel(algorithms.canonical(li_graph(spark, sf_dir))).orderBy("v")


# --- G12: strongly connected components -----------------------------------

_SCC_MINT_SQL = """
    mint AS (SELECT DISTINCT c_custkey % 300 AS v FROM customer),
    e_num AS (
      SELECT v AS s, (v - v % 10) + ((v % 10) + 1) % 10 AS d FROM mint
      UNION ALL
      SELECT 1000 + v, v FROM mint WHERE v % 7 = 0
      UNION ALL
      SELECT v, v + 10 FROM mint
      WHERE v % 10 = 3 AND ((v - v % 10) // 10) % 4 = 0 AND v + 10 < 300
    ),
    edges AS (
      SELECT DISTINCT 'n' || lpad(CAST(s AS VARCHAR), 4, '0') AS src,
                      'n' || lpad(CAST(d AS VARCHAR), 4, '0') AS dst
      FROM e_num
    ),
    vnodes AS (
      SELECT DISTINCT src AS key FROM edges
      UNION SELECT DISTINCT dst FROM edges
    )
"""


@query(
    "G12_scc",
    oracle=f"""
    WITH RECURSIVE
    {_SCC_MINT_SQL},
    reach(s, d) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.s, e.dst FROM reach r JOIN edges e ON e.src = r.d
    ),
    mutual AS (
      SELECT r1.s AS v, r1.d AS u
      FROM reach r1 JOIN reach r2 ON r2.s = r1.d AND r2.d = r1.s
    )
    SELECT n.key AS key,
           LEAST(n.key, COALESCE(MIN(m.u), n.key)) AS scc_id
    FROM vnodes n LEFT JOIN mutual m ON m.v = n.key
    GROUP BY n.key
    ORDER BY key
    """,
)
def g12_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of a minted DIRECTED graph —
    completes the directed side of the analytics set (CC is
    undirected; cyclic dependency audits over the evidence graph's
    directed relations need SCC).  Mint: 10-node directed cycles per
    custkey-residue decade, DAG tail feeders (trim fodder) and a few
    cycle→cycle cross edges (forcing multi-round extraction).  The
    engine runs the iterative trim+coloring algorithm
    (graph/algorithms.scc — closure-free, keyed-shuffle rounds); the
    oracle materializes the full transitive closure recursively and
    defines SCC(v) = min mutually-reachable vertex — maximally
    independent machinery, same answer.  Generality over arbitrary
    digraphs is property-tested against a Python Tarjan model
    (tests/test_properties.py)."""
    from biodiversity_graph_db_spark.graph import algorithms

    c = table(spark, sf_dir, "customer")
    v = (F.col("c_custkey") % 300).cast("long")
    mint = c.select(v.alias("v")).distinct()
    dec = F.col("v") - F.col("v") % 10
    cyc = mint.select(
        F.col("v").alias("s"),
        (dec + ((F.col("v") % 10) + 1) % 10).alias("d"),
    )
    tail = mint.where(F.col("v") % 7 == 0).select(
        (F.col("v") + 1000).alias("s"), F.col("v").alias("d")
    )
    cross = mint.where(
        (F.col("v") % 10 == 3)
        & ((dec / 10).cast("long") % 4 == 0)
        & (F.col("v") + 10 < 300)
    ).select(F.col("v").alias("s"), (F.col("v") + 10).alias("d"))

    def name(col):
        return F.concat(F.lit("n"), F.lpad(col.cast("string"), 4, "0"))

    edges = (
        cyc.unionByName(tail)
        .unionByName(cross)
        .select(name(F.col("s")).alias("src"), name(F.col("d")).alias("dst"))
        .dropDuplicates()
    )
    return algorithms.scc(edges).orderBy("key")


# --- G13: weighted single-source shortest paths -----------------------------

#: Weighted o/p/s graph: the same tripartite edge set as li_graph, each
#: undirected pair weighted by the MIN l_quantity over the lineitem rows
#: that mint it (integral in TPC-H, so BIGINT weights both engines agree
#: on exactly).
_WLI_GRAPH_SQL = f"""
    wli AS (
      SELECT 'o_' || l_orderkey AS o, 'p_' || l_partkey AS p,
             's_' || l_suppkey AS s, CAST(l_quantity AS BIGINT) AS w
      FROM lineitem WHERE l_orderkey <= {_LI_BOUND}
    ),
    wraw AS (
      SELECT o AS x, p AS y, w FROM wli
      UNION ALL SELECT o, s, w FROM wli
      UNION ALL SELECT p, s, w FROM wli
    ),
    wund AS (
      SELECT LEAST(x, y) AS a, GREATEST(x, y) AS b, MIN(w) AS w
      FROM wraw WHERE x <> y GROUP BY 1, 2
    ),
    wdir AS (
      SELECT a AS src, b AS dst, w FROM wund
      UNION ALL SELECT b, a, w FROM wund
    )
"""


def wli_graph(
    spark: SparkSession, sf_dir: str, bound: int = _LI_BOUND
) -> DataFrame:
    """The weighted, already-undirected (both directions emitted)
    o/p/s co-occurrence graph mirroring ``_WLI_GRAPH_SQL``."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= bound)
        .select(
            F.concat(F.lit("o_"), F.col("l_orderkey")).alias("o"),
            F.concat(F.lit("p_"), F.col("l_partkey")).alias("p"),
            F.concat(F.lit("s_"), F.col("l_suppkey")).alias("s"),
            F.col("l_quantity").cast("bigint").alias("w"),
        )
    )
    raw = (
        li.select(F.col("o").alias("x"), F.col("p").alias("y"), "w")
        .unionByName(li.select(F.col("o").alias("x"), F.col("s").alias("y"), "w"))
        .unionByName(li.select(F.col("p").alias("x"), F.col("s").alias("y"), "w"))
    )
    und = (
        raw.where(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    return und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))


def _sssp_oracle(rounds: int = 6) -> str:
    its = []
    for k in range(rounds):
        its.append(f"""d{k + 1} AS (
      SELECT key, MIN(dist) AS dist FROM (
        SELECT key, dist FROM d{k}
        UNION ALL
        SELECT e.dst AS key, d.dist + e.w AS dist
        FROM wdir e JOIN d{k} d ON e.src = d.key
      ) GROUP BY key
    )""")
    its_sql = ",\n    ".join(its)
    return f"""
    WITH {_WLI_GRAPH_SQL},
    d0 AS (SELECT 'o_1' AS key, CAST(0 AS BIGINT) AS dist),
    {its_sql}
    SELECT key, dist FROM d{rounds}
    ORDER BY dist, key
    """


@query("G13_weighted_sssp", oracle=_sssp_oracle())
def g13_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path distances from order o_1 over the
    min-quantity-weighted o/p/s graph, 6 Bellman-Ford rounds — the
    weighted complement of G7's hop-count BFS (e.g. "cheapest supply
    chain" instead of "fewest hops").  The oracle unrolls the same 6
    relaxations as chained min-aggregations."""
    from biodiversity_graph_db_spark.graph import algorithms

    return (
        algorithms.weighted_sssp(wli_graph(spark, sf_dir), "o_1", rounds=6)
        .orderBy("dist", "key")
    )


def _hits_oracle(iterations: int = 5) -> str:
    unit = algorithms.RANK_UNIT
    its = ["h0 AS (SELECT key, CAST(1000000 AS BIGINT) AS score FROM nodes)"]
    for k in range(1, iterations + 1):
        # every CTE is referenced exactly ONCE downstream (the global
        # max is a window over the same scan, not a second reference):
        # DuckDB inlines CTEs, so a twice-referenced per-iteration CTE
        # doubles the plan per half-step — 2^(2k) base-table scans blew
        # the open-file limit before this was linearized
        its.append(f"""ar{k} AS (
      SELECT n.key, COALESCE(s.m, 0) AS raw
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS key, CAST(SUM(h.score) AS BIGINT) AS m
        FROM dedges e JOIN h{k - 1} h ON h.key = e.src GROUP BY e.dst
      ) s ON s.key = n.key
    ),
    a{k} AS (
      SELECT key,
             CAST((raw * {unit}) // (MAX(raw) OVER ()) AS BIGINT) AS score
      FROM ar{k}
    ),
    hr{k} AS (
      SELECT n.key, COALESCE(s.m, 0) AS raw
      FROM nodes n LEFT JOIN (
        SELECT e.src AS key, CAST(SUM(a.score) AS BIGINT) AS m
        FROM dedges e JOIN a{k} a ON a.key = e.dst GROUP BY e.src
      ) s ON s.key = n.key
    ),
    h{k} AS (
      SELECT key,
             CAST((raw * {unit}) // (MAX(raw) OVER ()) AS BIGINT) AS score
      FROM hr{k}
    )""")
    its_sql = ",\n    ".join(its)
    return f"""
    WITH {_LI_GRAPH_SQL},
    dedges AS (SELECT DISTINCT x AS src, y AS dst FROM raw),
    nodes AS (
      SELECT DISTINCT key FROM (
        SELECT src AS key FROM dedges UNION SELECT dst FROM dedges)
    ),
    {its_sql}
    SELECT h.key, h.score AS hub_micro, a.score AS auth_micro
    FROM h{iterations} h JOIN a{iterations} a USING (key)
    ORDER BY key
    """


@query("G14_hits", oracle=_hits_oracle())
def g14_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration max-normalized HITS on the directed o→p/o→s/p→s
    graph in BIGINT micro-units (bit-identical across engines — see
    algorithms.hits); orders are the hubs, parts/suppliers the
    authorities."""
    return algorithms.hits(li_graph(spark, sf_dir), iterations=5).orderBy(
        "key"
    )


def _modularity_oracle(iterations: int = 5) -> str:
    return f"""
    WITH {_LI_GRAPH_SQL},
    {_lpa_ctes(iterations)}
    ,
    mrow AS (SELECT COUNT(*) AS m FROM und),
    deg AS (
      SELECT key, COUNT(*) AS deg FROM (
        SELECT a AS key FROM und UNION ALL SELECT b FROM und
      ) GROUP BY key
    ),
    comm AS (
      SELECT l.label AS community, COUNT(*) AS n_nodes,
             CAST(SUM(d.deg) AS BIGINT) AS degree_sum
      FROM labels{iterations} l JOIN deg d ON d.key = l.key
      GROUP BY l.label
    ),
    intra AS (
      SELECT la.label AS community, COUNT(*) AS intra_edges
      FROM und e
      JOIN labels{iterations} la ON la.key = e.a
      JOIN labels{iterations} lb ON lb.key = e.b
      WHERE la.label = lb.label
      GROUP BY la.label
    )
    SELECT c.community, c.n_nodes,
           CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           c.degree_sum,
           CAST(4 * m.m * COALESCE(i.intra_edges, 0)
                - c.degree_sum * c.degree_sum AS BIGINT) AS contrib_q
    FROM comm c LEFT JOIN intra i USING (community) CROSS JOIN mrow m
    ORDER BY community
    """


@query("G15_modularity", oracle=_modularity_oracle())
def g15_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the G9 LPA partition, per community, in
    exact scaled-integer arithmetic (``contrib_q = 4*m*e_c - d_c^2``;
    ``Q = sum(contrib_q) / (4*m^2)``) — the partition-quality score
    that closes the community-detection loop (GraphX ships LPA but no
    scoring; cf. Newman 2004).  The oracle replays the identical 5
    LPA rounds, then scores the same partition in SQL."""
    g = li_graph(spark, sf_dir)
    return algorithms.modularity(
        g, algorithms.label_propagation(g, max_iter=5)
    ).orderBy("community")


_G16_LANDMARKS = ("o_1", "o_2", "o_3", "o_4")


def _harmonic_oracle(max_hops: int = 4) -> str:
    unit = algorithms.HARMONIC_UNIT
    lms = ", ".join(f"('{lm}')" for lm in _G16_LANDMARKS)
    its = []
    for k in range(max_hops):
        its.append(f"""v{k + 1} AS (
      SELECT key, landmark, MIN(dist) AS dist FROM (
        SELECT key, landmark, dist FROM v{k}
        UNION ALL
        SELECT e.dst AS key, v.landmark, v.dist + 1 AS dist
        FROM und2 e JOIN v{k} v ON e.src = v.key
      ) GROUP BY key, landmark
    )""")
    its_sql = ",\n    ".join(its)
    return f"""
    WITH {_LI_GRAPH_SQL},
    und2 AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und
    ),
    v0 AS (SELECT key, key AS landmark, 0 AS dist
           FROM (VALUES {lms}) t(key)),
    {its_sql}
    SELECT key,
           CAST(SUM({unit} // dist) AS BIGINT) AS harmonic_micro,
           CAST(COUNT(*) AS BIGINT) AS n_reached
    FROM v{max_hops} WHERE dist > 0
    GROUP BY key ORDER BY key
    """


@query("G16_harmonic_landmarks", oracle=_harmonic_oracle())
def g16_harmonic_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximated harmonic centrality (Boldi & Vigna 2014)
    from the 4 fixed order landmarks over the undirected o/p/s graph,
    4 hops — the "how central is every entity" score G7's raw distance
    table feeds; exact ``UNIT DIV dist`` fixed-point terms so the
    unrolled-BFS oracle reproduces every score bit-for-bit."""
    und = algorithms.undirect(li_graph(spark, sf_dir))
    return algorithms.harmonic_centrality(
        und, list(_G16_LANDMARKS), max_hops=4
    ).orderBy("key")


@query(
    "G17_clustering_coeff",
    oracle=f"""
    WITH {_LI_GRAPH_SQL},
    tri AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pv AS (
      SELECT key, COUNT(*) AS triangles
      FROM (
        SELECT a AS key FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY key
    ),
    deg AS (
      SELECT key, COUNT(*) AS deg FROM (
        SELECT a AS key, b FROM und UNION ALL SELECT b, a FROM und
      ) GROUP BY key
    )
    SELECT d.key,
           CAST(COALESCE(pv.triangles, 0) AS BIGINT) AS triangles,
           CAST(d.deg AS BIGINT) AS deg,
           FLOOR(2.0 * COALESCE(pv.triangles, 0)
                 / (d.deg * (d.deg - 1)) * 10000) / 10000.0 AS lcc
    FROM deg d LEFT JOIN pv USING (key)
    WHERE d.deg >= 2
    ORDER BY key
    """,
)
def g17_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the o/p/s co-occurrence graph —
    completes the GraphX neighborhood-analytics set (G5 counts each
    vertex's triangles; G17 normalizes them by the wedge count, the
    Watts-Strogatz small-world score).  Reference parity: the reference
    has no graph-analytic layer at all (Graph.fs is storage + traversal);
    this is part of the §2.12 "GraphX for analytical queries" mandate.

    Scale shape: the wedge join is the G5 oriented self-join (the
    standard fan-out bound); the degree count is one map-side-combinable
    aggregate over both endpoints of the same canonical edge set; the
    final join is vertex-keyed.
    The lcc division runs on two exact BIGINTs, so the floor-quantized
    double is bit-identical in DuckDB."""
    return algorithms.clustering_coefficient(li_graph(spark, sf_dir)).orderBy(
        "key"
    )


@query(
    "G18_link_prediction",
    oracle=f"""
    WITH {_LI_GRAPH_SQL},
    und2 AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT src AS key, COUNT(*) AS deg FROM und2 GROUP BY src),
    wedge AS (
      SELECT l.dst AS a, r.dst AS b
      FROM und2 l JOIN und2 r ON l.src = r.src
      WHERE l.dst < r.dst
    ),
    cn AS (SELECT a, b, COUNT(*) AS common FROM wedge GROUP BY a, b),
    cand AS (
      SELECT cn.a, cn.b, cn.common FROM cn
      LEFT JOIN und ON und.a = cn.a AND und.b = cn.b
      WHERE und.a IS NULL
    ),
    scored AS (
      SELECT c.a, c.b, c.common,
             c.common / CAST(da.deg + db.deg - c.common AS DOUBLE) AS j
      FROM cand c
      JOIN deg da ON da.key = c.a
      JOIN deg db ON db.key = c.b
    )
    SELECT a, b, CAST(common AS BIGINT) AS common,
           FLOOR(j * 10000) / 10000.0 AS jaccard
    FROM scored
    ORDER BY j DESC, a, b
    LIMIT 20
    """,
)
def g18_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links on the o/p/s graph by common-neighbor
    Jaccard — completes the neighborhood-analytics set (G5 counts
    closed triangles, G17 normalizes them, G18 ranks the OPEN wedges:
    which entities share suppliers/parts but are not yet linked).
    Reference parity: no analytic layer exists in the reference; this
    is the §2.12 GraphX mandate.  See ``algorithms.link_prediction``
    for the scale shape (wedge join, anti-join, TakeOrdered top-k)."""
    return algorithms.link_prediction(li_graph(spark, sf_dir))


_G19_SOURCES = ("o_1", "o_2")


def _ppr_oracle(iterations: int = 5) -> str:
    from biodiversity_graph_db_spark.graph.algorithms import RANK_UNIT

    d_pct, s = 85, len(_G19_SOURCES)
    base_amt = (RANK_UNIT * (100 - d_pct)) // (100 * s)
    init_amt = RANK_UNIT // s
    srcs = ", ".join(f"'{x}'" for x in _G19_SOURCES)
    its = []
    for k in range(iterations):
        its.append(f"""it{k + 1} AS (
      SELECT n.key,
             CAST(CASE WHEN n.key IN ({srcs}) THEN {base_amt}
                       ELSE 0 END + COALESCE(c.m, 0) AS BIGINT)
               AS ppr_micro
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS key,
               SUM(CAST(FLOOR((r.ppr_micro * {d_pct}) / (100 * d.deg))
                        AS BIGINT)) AS m
        FROM und2 e
        JOIN deg d ON d.src = e.src
        JOIN it{k} r ON r.key = e.src
        GROUP BY e.dst
      ) c ON c.key = n.key
    )""")
    its_sql = ",\n    ".join(its)
    return f"""
    WITH {_LI_GRAPH_SQL},
    und2 AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und
    ),
    nodes AS (SELECT DISTINCT src AS key FROM und2),
    deg AS (SELECT src, COUNT(*) AS deg FROM und2 GROUP BY src),
    it0 AS (
      SELECT key,
             CAST(CASE WHEN key IN ({srcs}) THEN {init_amt} ELSE 0 END
                  AS BIGINT) AS ppr_micro
      FROM nodes
    ),
    {its_sql}
    SELECT key, ppr_micro FROM it{iterations}
    WHERE ppr_micro > 0
    ORDER BY key
    """


@query("G19_personalized_pagerank", oracle=_ppr_oracle())
def g19_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from two source orders over the undirected
    o/p/s graph, 5 iterations — the "what is most relevant to THESE
    entities" primitive (recommendation / related-evidence ranking);
    G6 ranks globally, G19 ranks relative to a query set.  Exact
    fixed-point arithmetic end to end; the oracle unrolls the same 5
    rounds."""
    und = algorithms.undirect(li_graph(spark, sf_dir))
    return (
        algorithms.personalized_pagerank(
            und, list(_G19_SOURCES), iterations=5
        )
        .select("key", "ppr_micro")
        .orderBy("key")
    )


@query(
    "G20_degree_profile",
    oracle=f"""
    WITH {_LI_GRAPH_SQL},
    und2 AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT src AS key, COUNT(*) AS d FROM und2 GROUP BY src),
    b AS (
      SELECT key, d,
             CAST(FLOOR(ln(d) / ln(2)) AS BIGINT) AS bucket
      FROM deg
    )
    SELECT bucket,
           CAST(POW(2, bucket) AS BIGINT) AS bucket_min_degree,
           COUNT(*) AS n_vertices,
           CAST(MIN(d) AS BIGINT) AS min_d,
           CAST(MAX(d) AS BIGINT) AS max_d
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def g20_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-binned degree distribution of the o/p/s graph — the PR2-style
    look-before-you-run profile for GRAPH workloads: every iterative
    kernel's straggler risk is a hub vertex, and the 2^k-binned degree
    histogram (the power-law diagnostic) is how that risk is read
    before a 100 TB traversal is submitted (it prices G6/G9 rounds and
    decides high-degree-vertex mirroring).

    One combinable degree count, one map-side bucket expression
    (floor(log2 d) — exact: ln is evaluated on an exact integer and the
    ratio floor-quantized; a 1-ulp straddle would need d within 1 ulp
    of a power of two, and the oracle computes the identical
    expression), one bounded rollup (≤ log2(max degree) buckets)."""
    und = algorithms.undirect(li_graph(spark, sf_dir))
    deg = und.groupBy(F.col("src").alias("key")).agg(
        F.count("*").alias("d")
    )
    bucket = F.floor(F.log(F.col("d").cast("double")) / F.log(F.lit(2.0)))
    return (
        deg.withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(
            F.pow(F.lit(2.0), F.col("bucket"))
            .cast("long")
            .alias("bucket_min_degree"),
            F.count("*").alias("n_vertices"),
            F.min("d").cast("long").alias("min_d"),
            F.max("d").cast("long").alias("max_d"),
        )
        .select(
            "bucket", "bucket_min_degree", "n_vertices", "min_d", "max_d"
        )
        .orderBy("bucket")
    )


@query(
    "G21_degree_assortativity",
    oracle=f"""
    WITH {_LI_GRAPH_SQL},
    und2 AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und
    ),
    deg AS (
      SELECT src AS key, CAST(COUNT(*) AS BIGINT) AS d
      FROM und2 GROUP BY src
    ),
    ends AS (
      SELECT da.d AS x, db.d AS y
      FROM und2 e
      JOIN deg da ON e.src = da.key
      JOIN deg db ON e.dst = db.key
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM ends
    )
    SELECT n AS n_edge_ends,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * 10000) / 10000.0 AS assortativity
    FROM m
    """,
)
def g21_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the o/p/s graph — the Pearson
    correlation of endpoint degrees over all directed edge ends, the
    one-number mixing diagnostic that reads WITH G20's power-law
    histogram: disassortative (r < 0, hubs attach to leaves — the
    typical web/crawl shape) means hub-mirroring helps; assortative
    (r > 0, a dense hub core) means the hot keys collide in the SAME
    shuffle partitions and salting is needed before the histogram alone
    would say so.

    PR5's exact-moment discipline on graph data: degrees are exact
    BIGINTs from one combinable count, the five moments are ONE
    combinable pass over the degree-joined edge list, the final ratio
    is IEEE double + sqrt, floor-quantized — order-independent and
    cross-engine deterministic (``F.corr`` is merge-order-dependent).
    Scale shape: the symmetric edge list is localCheckpoint-ed once
    (it feeds the degree count AND both join probes — the G19 "static
    edge side materialized once" rule; without the cut the
    scan+undirect subtree re-ran 18×); the degree table is
    vertex-sized, joined on its natural key, then everything collapses
    map-side to one row."""
    und = cut(algorithms.undirect(li_graph(spark, sf_dir)))
    deg = und.groupBy(F.col("src").alias("key")).agg(
        F.count("*").cast("long").alias("d")
    )
    ends = (
        und.join(deg.withColumnsRenamed({"key": "src", "d": "x"}), "src")
        .join(deg.withColumnsRenamed({"key": "dst", "d": "y"}), "dst")
        .select("x", "y")
    )
    m = ends.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return m.select(
        F.col("n").alias("n_edge_ends"),
        (F.floor(num / den * 10000) / 10000.0).alias("assortativity"),
    )
