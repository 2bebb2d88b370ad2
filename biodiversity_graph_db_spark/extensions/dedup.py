"""Near-duplicate detection at pretraining scale (BASELINE.json mandate):

- exact dedup: hash-groupBy on a normalized fingerprint (textstats.T3)
- n-gram Jaccard: exact set similarity via shingle explode + self-join —
  correct but O(Σ posting²); the oracle-checked form is bounded, the
  scale path is MinHash below
- MinHash + LSH: shingle → H minhashes → band buckets → candidate pairs →
  exact verify.  One shuffle per stage, no pairwise blowup: candidates
  are generated only inside buckets (the standard banding scheme).

Everything hashes with md5 (bit-identical across engines), min/agg over
hex strings — deterministic, so the DuckDB oracle can verify the whole
pipeline end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.operators._util import cut, sql_dquant
from biodiversity_graph_db_spark.registry import query
from biodiversity_graph_db_spark.tables import fan_out, table

N_HASHES = 16
BAND_SIZE = 4  # 4 bands of 4 rows


def _toks(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def unigram_shingles(text: Column) -> Column:
    """Distinct token set — the shingle space for MinHash here."""
    return F.array_distinct(_toks(text))


def word_ngram_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (contiguous).

    The token array is bound as a lambda variable so the split runs once
    per row — referencing the raw ``split`` expression inside the
    per-index lambda would re-split the whole string for every gram
    (O(tokens²); measured 3× slower on the sf0.1 corpus)."""

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(toks) - n)
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )

    grams = F.element_at(F.transform(F.array(_toks(text)), build), 1)
    return F.array_distinct(grams)


def _sig_aggs(n_hashes: int) -> list[Column]:
    """One min-aggregate per hash function: sig_h = min over shingles of
    md5('{h}:{shingle}') — n parallel map-side-combinable mins in a
    single groupBy, no hash-index explosion (n× less map data than
    exploding h as rows)."""
    return [
        F.min(
            F.md5(F.concat_ws(":", F.lit(str(h)), F.col("shingle")))
        ).alias(f"s{h}")
        for h in range(n_hashes)
    ]


def minhash_signatures(shingled: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(id, shingles array) → (id, h, sig) rows.  One groupBy computes
    the whole signature; the h column is unpivoted afterwards (narrow)."""
    ex = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    wide = ex.groupBy("doc_id").agg(*_sig_aggs(n_hashes))
    return wide.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"s{h}") for h in range(n_hashes)])
        ).alias("h", "sig"),
    )


def minhash_bands(
    shingled: DataFrame,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(id, shingles) → (id, band, band_key) in ONE shuffle: the wide
    signature aggregation and the per-band md5 fold happen in the same
    groupBy stage (the banding is a narrow projection of the sig
    columns) — vs. two shuffles for signature rows + collect_list."""
    ex = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    wide = ex.groupBy("doc_id").agg(*_sig_aggs(n_hashes))
    band_keys = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"s{b * band_size + j}") for j in range(band_size)]
            )
        )
        for b in range(n_hashes // band_size)
    ]
    return wide.select(
        "doc_id", F.posexplode(F.array(*band_keys)).alias("band", "band_key")
    )


def band_bucket_join(bands: DataFrame, broadcast: bool = True) -> DataFrame:
    """Bucket-join banded signatures: only docs agreeing on a full band
    become candidate pairs.  The join key (band, band_key) keeps pair
    generation inside buckets — at 100 TB this is the difference between
    O(n²) and O(n·bucket).

    ``broadcast=True`` (default) hints the build side — right when the
    corpus's band table fits an executor (band rows per doc =
    n_hashes/band_size, so ≈ corpus row count × 4 × ~50 B).  At full
    100 TB corpus scale pass ``broadcast=False``: the self-join becomes a
    shuffled hash join partitioned on (band, band_key) — still never
    all-pairs."""
    # localCheckpoint (not cache): the band table feeds both sides of the
    # self-join; checkpointing also truncates the minhash logical plan,
    # which Catalyst otherwise re-analyzes once per join side (driver
    # time comparable to the execution itself at small sf)
    bands = cut(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    if broadcast:
        b = F.broadcast(b)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates()
    )


def lsh_candidates(minhashes: DataFrame, band_size: int = BAND_SIZE) -> DataFrame:
    """Candidate pairs from (doc_id, h, sig) signature rows (API kept for
    callers that materialize signatures; the fused one-shuffle path is
    ``minhash_bands`` + ``band_bucket_join``)."""
    bands = (
        minhashes.withColumn("band", F.floor(F.col("h") / band_size))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("h", "sig"))),
                        lambda s: s["sig"],
                    ),
                )
            ).alias("band_key")
        )
    )
    return band_bucket_join(bands)


def exact_jaccard(shingled: DataFrame, pairs: DataFrame) -> DataFrame:
    """Verify candidates with exact set Jaccard (only over the candidate
    set, never all pairs)."""
    sizes = shingled.select("doc_id", F.size("shingles").alias("n"))
    ex = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    inter = (
        pairs.join(ex.alias("ea"), F.col("doc_a") == F.col("ea.doc_id"))
        .join(
            ex.alias("eb"),
            (F.col("doc_b") == F.col("eb.doc_id"))
            & (F.col("ea.shingle") == F.col("eb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
    )


_SHINGLES_SQL_3GRAM = """
  list_distinct(list_transform(
    generate_series(1, len(string_split_regex(trim(lower(text)), '\\s+')) - 2),
    i -> string_split_regex(trim(lower(text)), '\\s+')[i] || ' ' ||
         string_split_regex(trim(lower(text)), '\\s+')[i+1] || ' ' ||
         string_split_regex(trim(lower(text)), '\\s+')[i+2]))
"""


@query(
    "E1_ngram_jaccard_topk",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, {_SHINGLES_SQL_3GRAM} AS sh
      FROM documents WHERE doc_id < 100
    ), ex AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter,
           {sql_dquant('n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE)')}
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def e1_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard, top-20 most similar pairs (bounded to
    100 docs — the exact algorithm; MinHash E2 is the 100 TB path)."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    shingled = d.select(
        "doc_id", word_ngram_shingles(F.col("text")).alias("shingles")
    )
    all_pairs = (
        shingled.selectExpr("doc_id AS doc_a")
        .join(shingled.selectExpr("doc_id AS doc_b"), F.col("doc_a") < F.col("doc_b"))
    )
    j = exact_jaccard(shingled, all_pairs).where(F.col("n_inter") > 0)
    return (
        j.select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.floor(F.col("jaccard") * 10000) / 10000.0).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@query(
    "E2_minhash_lsh_neardup",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS sh
      FROM documents WHERE doc_id < 200
    ), ex AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    hs AS (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS h),
    mh AS (
      SELECT doc_id, h,
             MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS sig
      FROM ex CROSS JOIN hs GROUP BY doc_id, h
    ),
    bands AS (
      SELECT doc_id, h // {BAND_SIZE} AS band,
             md5(string_agg(sig, '|' ORDER BY h)) AS band_key
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.doc_a
      JOIN ex eb ON eb.doc_id = c.doc_b AND ea.shingle = eb.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT v.doc_a, v.doc_b,
           {sql_dquant('v.n_inter / CAST(sa.n + sb.n - v.n_inter AS DOUBLE)')}
             AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_a
    JOIN sizes sb ON sb.doc_id = v.doc_b
    WHERE v.n_inter / CAST(sa.n + sb.n - v.n_inter AS DOUBLE) >= 0.7
    ORDER BY v.doc_a, v.doc_b
    """,
)
def e2_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline end-to-end: shingle → minhash →
    band-bucket join → candidates → exact-Jaccard verify ≥ 0.7.  This is
    the scalable dedup path (no all-pairs stage anywhere)."""
    d = fan_out(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 200), spark
    )
    # checkpoint: the shingle table appears in 3 plan branches (minhash +
    # both sides of the exact-Jaccard verify)
    shingled = cut(d.select(
        "doc_id", unigram_shingles(F.col("text")).alias("shingles")
    ))
    cand = band_bucket_join(minhash_bands(shingled))
    verified = exact_jaccard(shingled, cand)
    return (
        verified.where(F.col("jaccard") >= 0.7)
        .select(
            "doc_a",
            "doc_b",
            (F.floor(F.col("jaccard") * 10000) / 10000.0).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# Shared oracle preamble for the cluster-resolution queries (D1/D3):
# the full MinHash+LSH pipeline to verified pairs, then transitive
# closure to components via a recursive CTE.
_LSH_COMP_SQL = f"""docs AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS sh
      FROM documents WHERE doc_id < 200
    ), ex AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    hs AS (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS h),
    mh AS (
      SELECT doc_id, h,
             MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS sig
      FROM ex CROSS JOIN hs GROUP BY doc_id, h
    ),
    bands AS (
      SELECT doc_id, h // {BAND_SIZE} AS band,
             md5(string_agg(sig, '|' ORDER BY h)) AS band_key
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.doc_a
      JOIN ex eb ON eb.doc_id = c.doc_b AND ea.shingle = eb.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT v.doc_a, v.doc_b
      FROM verified v
      JOIN sizes sa ON sa.doc_id = v.doc_a
      JOIN sizes sb ON sb.doc_id = v.doc_b
      WHERE v.n_inter / CAST(sa.n + sb.n - v.n_inter AS DOUBLE) >= 0.7
    ),
    und AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT a AS src, b AS dst FROM und
      UNION
      SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
    ),
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical
      FROM reach GROUP BY src
    )"""


@query(
    "D1_neardup_clusters",
    oracle=f"""
    WITH RECURSIVE {_LSH_COMP_SQL}
    SELECT d.doc_id,
           COALESCE(c.canonical, d.doc_id) AS canonical_id,
           d.doc_id = COALESCE(c.canonical, d.doc_id) AS is_kept
    FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
    LEFT JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def d1_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster resolution — the step a real training-data pipeline
    runs after near-dup detection: MinHash+LSH pairs (E2's exact pipeline)
    become an undirected graph, connected components merge transitive
    near-dups into clusters, and each cluster keeps its lowest doc_id as
    canonical (``is_kept`` = the keep/drop decision per document).

    Composition of two already-scale-safe pieces: the bucketed LSH join
    (no all-pairs) and hash-min label propagation (graph/traversal.py,
    one shuffle per round, checkpointed).  The oracle reproduces the
    clustering with a recursive CTE — independent algorithm, same
    clusters.  Doc ids are zero-padded for the string-keyed CC so the
    min-label order matches integer order."""
    from biodiversity_graph_db_spark.graph.traversal import (
        connected_components,
    )

    d = fan_out(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 200), spark
    )
    shingled = cut(d.select(
        "doc_id", unigram_shingles(F.col("text")).alias("shingles")
    ))
    cand = band_bucket_join(minhash_bands(shingled))
    pairs = exact_jaccard(shingled, cand).where(F.col("jaccard") >= 0.7)

    def pad(c: Column) -> Column:
        return F.lpad(c.cast("string"), 6, "0")

    edges = pairs.select(
        pad(F.col("doc_a")).alias("source_key"),
        pad(F.col("doc_b")).alias("sink_key"),
    )
    comp = connected_components(edges).select(
        F.col("key").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("canonical"),
    )
    docs = d.select("doc_id")
    return (
        docs.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical"), F.col("doc_id")).alias(
                "canonical_id"
            ),
            (
                F.col("doc_id")
                == F.coalesce(F.col("canonical"), F.col("doc_id"))
            ).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "D3_quality_canonical",
    oracle=f"""
    WITH RECURSIVE {_LSH_COMP_SQL},
    clusters AS (
      SELECT d.doc_id, COALESCE(c.canonical, d.doc_id) AS cluster_id
      FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
      LEFT JOIN comp c USING (doc_id)
    ),
    q AS (
      SELECT doc_id,
             0.4 * least(1.0, n_chars / 400.0)
           + 0.4 * (len(list_distinct(
                        string_split_regex(trim(lower(text)), '\\s+')))
                    / CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                           AS DOUBLE))
           + 0.2 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                    / CAST(length(text) AS DOUBLE)) AS qv
      FROM documents WHERE doc_id < 200
    ),
    keep AS (
      SELECT cluster_id, doc_id AS keeper_id FROM (
        SELECT cl.cluster_id, cl.doc_id,
               ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                                  ORDER BY q.qv DESC, cl.doc_id) AS rk
        FROM clusters cl JOIN q USING (doc_id)
      ) WHERE rk = 1
    )
    SELECT cl.doc_id, cl.cluster_id, k.keeper_id,
           cl.doc_id = k.keeper_id AS is_kept
    FROM clusters cl JOIN keep k USING (cluster_id)
    ORDER BY cl.doc_id
    """,
)
def d3_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: D1's near-dup clusters, but each
    cluster keeps its HIGHEST-quality document (T2's composite score,
    ties → lowest doc_id) instead of the lowest id — the keep/drop policy
    real pretraining dedup uses (keep the best exemplar, not an arbitrary
    one).

    Composition of three scale-safe pieces: bucketed LSH pair generation,
    checkpointed hash-min connected components, and an argmax-per-cluster
    (max of a (quality, -doc_id) struct — map-side combinable, one
    shuffle on the cluster id).  The oracle recomputes the policy with a
    ROW_NUMBER window over the recursive-CTE clusters."""
    from biodiversity_graph_db_spark.extensions.textstats import (
        quality_score,
    )
    from biodiversity_graph_db_spark.graph.traversal import (
        connected_components,
    )

    d = fan_out(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 200), spark
    )
    shingled = cut(d.select(
        "doc_id", unigram_shingles(F.col("text")).alias("shingles")
    ))
    cand = band_bucket_join(minhash_bands(shingled))
    pairs = exact_jaccard(shingled, cand).where(F.col("jaccard") >= 0.7)

    def pad(c: Column) -> Column:
        return F.lpad(c.cast("string"), 6, "0")

    edges = pairs.select(
        pad(F.col("doc_a")).alias("source_key"),
        pad(F.col("doc_b")).alias("sink_key"),
    )
    comp = connected_components(edges).select(
        F.col("key").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster_id"),
    )
    clusters = (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    quality = d.select(
        "doc_id",
        quality_score(F.col("text"), F.col("n_chars")).alias("qv"),
    )
    scored = clusters.join(quality, "doc_id")
    keep = (
        scored.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("qv").alias("qv"), (-F.col("doc_id")).alias("nid")
                )
            ).alias("top")
        )
        .select("cluster_id", (-F.col("top.nid")).alias("keeper_id"))
    )
    return (
        scored.join(keep, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


# --- fuzzy (edit-distance) name matching ----------------------------------

FUZZY_MAX_DIST = 1
FUZZY_DIRTY_LIMIT = 500  # bounded dirty side for the oracle's exact join


def fuzzy_match_names(
    dirty: DataFrame, clean: DataFrame, max_dist: int = FUZZY_MAX_DIST
) -> DataFrame:
    """Edit-distance-≤1 join via the wildcard-position signature
    (the substitution form of SymSpell's deletion neighborhood): two
    same-length strings within one SUBSTITUTION — which is the only way
    same-length strings reach levenshtein 1 — become identical when the
    differing position is wildcarded, so each name fans out to L
    variants (position i replaced by a sentinel) and candidates come
    from a plain equi-join on (position, variant).  The join key embeds
    the whole string but one char, so bucket entropy stays high even on
    low-entropy-prefix names — the failure mode of half/segment
    signatures (a first cut here used PassJoin halves; on
    'Customer#0000…' names the constant first half degenerated to a
    75M-pair hot key and 12 s at sf0.1 — replaced, now sub-second).
    The exact ``levenshtein`` runs only on candidates (plan-tested
    no-NLJ).  Cost model: L× fan-out on both sides (the classic
    SymSpell space/time trade), shuffle keyed on the variant;
    τ>1 wildcards τ positions (L^τ variants) — τ=1 shipped.

    Inputs: dirty(id, dname), clean(key, name).  Output: every
    (id, key, dist) with equal lengths and dist ≤ ``max_dist``."""
    assert max_dist == 1, "τ>1 needs multi-position wildcards; τ=1 shipped"
    SENTINEL = "\x01"

    def variants(df: DataFrame, name_col: str) -> DataFrame:
        return df.select(
            "*",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length({name_col})),"
                    f" i -> concat(substring({name_col}, 1, i - 1),"
                    f" '{SENTINEL}', substring({name_col}, i + 1)))"
                )
            ).alias("pos", "variant"),
        )

    d = variants(dirty, "dname")
    c = variants(clean, "name")
    cand = d.join(c, ["pos", "variant"]).where(
        F.length("dname") == F.length("name")
    )
    return (
        cand.where(F.levenshtein("dname", "name") <= max_dist)
        .select(
            "id",
            "key",
            F.levenshtein("dname", "name").cast("long").alias("dist"),
        )
        # equal strings share every variant; substitution pairs share
        # exactly one — dedup on the pair key, one keyed shuffle over
        # the (small) match set
        .dropDuplicates(["id", "key"])
    )


@query(
    "E4_fuzzy_name_match",
    oracle=f"""
    WITH clean AS (
      SELECT c_custkey AS key, c_name AS name FROM customer
    ),
    dirty AS (
      SELECT c_custkey AS id,
             substr(c_name, 1, (c_custkey * 7) % length(c_name))
               || 'x' ||
             substr(c_name, (c_custkey * 7) % length(c_name) + 2) AS dname
      FROM customer WHERE c_custkey < {FUZZY_DIRTY_LIMIT}
    )
    SELECT d.id, c.key,
           CAST(levenshtein(d.dname, c.name) AS BIGINT) AS dist
    FROM dirty d JOIN clean c
      ON length(d.dname) = length(c.name)
     AND levenshtein(d.dname, c.name) <= {FUZZY_MAX_DIST}
    ORDER BY id, key
    """,
)
def e4_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: corrupted names (one substituted char,
    minted deterministically) matched back against the clean dictionary
    at edit distance ≤ 1 — the offline analog of the reference's GBIF
    taxon-backbone lookup (sources/enrichment.py S11, sandbox-stubbed),
    where OCR'd / misspelt taxon names must land on checklist entries.
    The DuckDB oracle runs the exact quadratic join; the Spark side
    must reproduce it through the signature path — a value match proves
    the pigeonhole filter is lossless."""
    c = table(spark, sf_dir, "customer")
    clean = c.select(F.col("c_custkey").alias("key"), F.col("c_name").alias("name"))
    pos = (F.col("c_custkey") * 7) % F.length("c_name")
    dirty = c.where(F.col("c_custkey") < FUZZY_DIRTY_LIMIT).select(
        F.col("c_custkey").alias("id"),
        F.concat(
            F.expr("substring(c_name, 1, CAST((c_custkey * 7) % length(c_name) AS INT))"),
            F.lit("x"),
            F.expr(
                "substring(c_name, CAST((c_custkey * 7) % length(c_name) AS INT) + 2)"
            ),
        ).alias("dname"),
    )
    return fuzzy_match_names(dirty, clean).orderBy("id", "key")


# --- E4b: fuzzy matching at edit distance <= 2 (SymSpell deletions) -------

FUZZY2_MAX_DIST = 2
FUZZY2_DIRTY_LIMIT = 300  # bounded dirty side for the oracle's exact join


def _deletion_variants(name_col: str, tau: int = FUZZY2_MAX_DIST) -> F.Column:
    """All strings reachable by deleting ≤ ``tau`` characters (τ=2):
    the SymSpell deletion neighborhood (Garbe 2012).  Completeness for
    ANY Levenshtein edit mix: take an optimal alignment with s
    substitutions, i insertions, d deletions (s+i+d ≤ τ); deleting the
    substituted+deleted positions from one string and the
    substituted+inserted positions from the other leaves the identical
    aligned core, so every true match shares ≥ 1 variant.  Unlike the
    τ=1 wildcard signature this also covers LENGTH-CHANGING edits.
    Guarded for short strings (sequence() descends below its floor —
    the token_kgrams lesson)."""
    assert tau == 2, "deletion neighborhood generated for tau=2"
    s = name_col
    d1 = (
        f"transform(sequence(1, length({s})),"
        f" i -> concat(substring({s}, 1, i - 1), substring({s}, i + 1)))"
    )
    d2 = (
        f"flatten(transform(sequence(1, length({s}) - 1),"
        f" i -> transform(sequence(i + 1, length({s})),"
        f" j -> concat(substring({s}, 1, i - 1),"
        f" substring({s}, i + 1, j - i - 1), substring({s}, j + 1)))))"
    )
    return F.expr(
        f"array_distinct(concat(array({s}),"
        f" CASE WHEN length({s}) >= 1 THEN {d1} ELSE array() END,"
        f" CASE WHEN length({s}) >= 2 THEN {d2} ELSE array() END))"
    )


def fuzzy_match_names_d2(
    dirty: DataFrame, clean: DataFrame, max_dist: int = FUZZY2_MAX_DIST
) -> DataFrame:
    """Edit-distance-≤2 join — the GBIF-backbone use case (misspelt
    binomials routinely need d≤2; VERDICT r4 item 6).  Each side fans
    out to its ≤2-deletion neighborhood (1 + L + C(L,2) variants — the
    classic SymSpell space/time trade; ~170 for L=18) and candidates
    come from ONE equi-join on the variant string.  Variant keys keep
    L-2 of the characters, so bucket entropy stays high on shared-
    prefix names (the E4 hot-bucket lesson, COVERAGE.md); the exact
    ``levenshtein`` runs only on deduped candidates (plan-tested
    no-NLJ).  At 100 TB: fan-out is map-side, the join is one keyed
    shuffle, and very long names (L > ~40) would cap the neighborhood
    via prefix truncation (SymSpell's prefix optimization) — same call
    shape."""
    # round-robin repartition BEFORE the fan-out: a small dictionary
    # arrives in 1-2 scan partitions and the ~170× higher-order-function
    # explode (interpreted, not codegen) would run on as many cores —
    # 4.2 s serial vs 0.4 s spread at sf0.1.  At scale the input is
    # already many-partition and this is one cheap row-count-preserving
    # shuffle that also balances the fan-out.
    par = dirty.sparkSession.sparkContext.defaultParallelism
    d = dirty.repartition(par).select(
        "*", F.explode(_deletion_variants("dname")).alias("variant")
    )
    c = clean.repartition(par).select(
        "*", F.explode(_deletion_variants("name")).alias("variant")
    )
    # filter BEFORE the dedup shuffle: low-entropy names (shared
    # prefixes, zero-heavy ids) make hot variant keys whose candidate
    # pairs dwarf the true-match set, and shuffling them all to dedup
    # first cost 6.7 s at sf0.1; the threshold-banded levenshtein
    # (O(τ·L) early-exit DP) runs map-side on each candidate and the
    # dedup then shuffles only survivors (0.9 s, same result)
    return (
        d.join(c, "variant")
        .where(F.levenshtein("dname", "name", max_dist) >= 0)
        .select(
            "id",
            "key",
            F.levenshtein("dname", "name").cast("long").alias("dist"),
        )
        .dropDuplicates(["id", "key"])
    )


@query(
    "E4b_fuzzy_name_match_d2",
    oracle=f"""
    WITH clean AS (
      SELECT c_custkey AS key, c_name AS name FROM customer
    ),
    dirty AS (
      SELECT c_custkey AS id,
             substr(c_name, 1, (c_custkey * 7) % (length(c_name) - 1))
               || 'x' ||
             substr(c_name, (c_custkey * 7) % (length(c_name) - 1) + 2,
                    (c_custkey * 11) % (length(c_name)
                       - (c_custkey * 7) % (length(c_name) - 1) - 1))
               ||
             substr(c_name, (c_custkey * 7) % (length(c_name) - 1) + 2
                    + (c_custkey * 11) % (length(c_name)
                       - (c_custkey * 7) % (length(c_name) - 1) - 1) + 1)
               AS dname
      FROM customer WHERE c_custkey < {FUZZY2_DIRTY_LIMIT}
    )
    SELECT d.id, c.key,
           CAST(levenshtein(d.dname, c.name) AS BIGINT) AS dist
    FROM dirty d JOIN clean c
      ON levenshtein(d.dname, c.name) <= {FUZZY2_MAX_DIST}
    ORDER BY id, key
    """,
)
def e4b_fuzzy_name_match_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-2 fuzzy matching end to end: names corrupted by one
    SUBSTITUTION and one DELETION (both positions minted
    deterministically from the key, deletion after the substitution
    point so the edits never cancel) matched back against the clean
    dictionary.  The DuckDB oracle runs the exact quadratic
    levenshtein join with NO length constraint — a value match proves
    the deletion-neighborhood filter is lossless across mixed,
    length-changing edit types."""
    c = table(spark, sf_dir, "customer")
    clean = c.select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name")
    )
    # substitution at p1 = (k*7) % (L-1)  (0-based, never the last char);
    # deletion at a position strictly after p1, offset (k*11) bounded to
    # the remaining tail so both edits always land inside the string
    p1 = "CAST((c_custkey * 7) % (length(c_name) - 1) AS INT)"
    off = (
        f"CAST((c_custkey * 11) % (length(c_name) - {p1} - 1) AS INT)"
    )
    dirty = c.where(F.col("c_custkey") < FUZZY2_DIRTY_LIMIT).select(
        F.col("c_custkey").alias("id"),
        F.concat(
            F.expr(f"substring(c_name, 1, {p1})"),
            F.lit("x"),
            F.expr(f"substring(c_name, {p1} + 2, {off})"),
            F.expr(f"substring(c_name, {p1} + 2 + {off} + 1)"),
        ).alias("dname"),
    )
    return fuzzy_match_names_d2(dirty, clean).orderBy("id", "key")


# --------------------------------------------------------------------------
# D6 — per-domain document cap (source-level curation)
# --------------------------------------------------------------------------

DOMAIN_CAP = 10  # keep at most this many documents per source


def cap_per_domain(docs: DataFrame, cap: int = DOMAIN_CAP) -> DataFrame:
    """Per-source document cap: keep the ``cap`` highest-quality
    documents from every source, quality ties broken by lowest doc_id
    (the standard pretraining curation step that stops one giant crawl
    domain from dominating the mix — the domain-level complement of
    T16's corpus-level mix sampling).

    ONE shuffle, on ``source``: a per-source ROW_NUMBER over
    (quality DESC, doc_id) then a rank predicate.  At 100 TB the
    shuffle key is the domain — skewed by construction (a handful of
    giant domains) — so the scale posture is AQE skew-split on the
    window exchange; the window itself holds only rank state (no
    buffering of the full partition as T12's percentile would).
    Quality is T2's composite score: rational arithmetic only
    (least/multiply/divide), so the rank order is bit-reproducible in
    the DuckDB oracle — no transcendental in the sort key."""
    from biodiversity_graph_db_spark.extensions.textstats import (
        quality_score,
    )
    from biodiversity_graph_db_spark.operators._util import spread
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy(F.col("qv").desc(), F.col("doc_id"))
    )
    return (
        # spread: the quality score is the compute-heavy stage (two
        # tokenize passes per row) and a few-split local file would
        # serialize it (measured 30 s -> 16 s at gen_sf10's few-split
        # layout, 11.9x -> 6.0x per decade); no-op on any real
        # at-scale layout
        spread(docs).select(
            "source",
            "doc_id",
            quality_score(F.col("text"), F.col("n_chars")).alias("qv"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= cap)
        .select("source", "doc_id", "rk")
    )


@query(
    "D6_domain_cap",
    oracle=f"""
    WITH q AS (
      SELECT source, doc_id,
             0.4 * least(1.0, n_chars / 400.0)
           + 0.4 * (len(list_distinct(
                        string_split_regex(trim(lower(text)), '\\s+')))
                    / CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                           AS DOUBLE))
           + 0.2 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                    / CAST(length(text) AS DOUBLE)) AS qv
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY qv DESC, doc_id) AS INT)
               AS rk
      FROM q
    )
    SELECT source, doc_id, rk
    FROM ranked WHERE rk <= {DOMAIN_CAP}
    ORDER BY source, rk
    """,
)
def d6_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-cap curation over the corpus: at most DOMAIN_CAP docs per
    source, best-quality-first.  The oracle replays the identical
    window policy; a value match proves both the quality arithmetic
    and the tie-break order."""
    d = table(spark, sf_dir, "documents")
    return cap_per_domain(d).orderBy("source", "rk")


@query(
    "D9_lsh_eval",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS sh
      FROM documents WHERE doc_id < 200
    ), ex AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    hs AS (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS h),
    mh AS (
      SELECT doc_id, h,
             MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS sig
      FROM ex CROSS JOIN hs GROUP BY doc_id, h
    ),
    bands AS (
      SELECT doc_id, h // {BAND_SIZE} AS band,
             md5(string_agg(sig, '|' ORDER BY h)) AS band_key
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
    tpairs AS (
      SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM ex ea
      JOIN ex eb ON ea.shingle = eb.shingle AND ea.doc_id < eb.doc_id
      GROUP BY ea.doc_id, eb.doc_id
    ),
    jacc AS (
      SELECT t.doc_a, t.doc_b,
             t.n_inter / CAST(sa.n + sb.n - t.n_inter AS DOUBLE) AS j
      FROM tpairs t
      JOIN sizes sa ON sa.doc_id = t.doc_a
      JOIN sizes sb ON sb.doc_id = t.doc_b
    ),
    truth AS (SELECT doc_a, doc_b FROM jacc WHERE j >= 0.7),
    hits AS (
      SELECT c.doc_a, c.doc_b FROM cand c JOIN truth t
      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT (SELECT COUNT(*) FROM cand)  AS n_candidates,
           (SELECT COUNT(*) FROM hits)  AS n_hits,
           (SELECT COUNT(*) FROM truth) AS n_truth,
           {sql_dquant('(SELECT COUNT(*) FROM hits)'
                       ' / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)')}
             AS precision_at_07,
           {sql_dquant('(SELECT COUNT(*) FROM hits)'
                       ' / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE)')}
             AS recall_at_07
    """,
)
def d9_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding evaluation — the measurement loop for the E2/D1
    near-dup path: candidate precision and recall of the (16 hashes x
    4 bands) scheme against exact-Jaccard>=0.7 ground truth.  A dedup
    pipeline that never measures its banding is tuning blind; this is
    the query that justifies (or indicts) the band geometry before a
    100 TB run commits to it.

    Scale shape: candidates come from the production band-bucket join
    (never all-pairs); ground truth needs the TRUE pair set, which no
    sub-quadratic pass can produce, so it runs on the bounded audit
    slice (doc_id < 200 — the same fixed sample the E2/D1 family
    scopes to) via the inverted-index join on shared shingles (only
    pairs with intersection >= 1 materialize, and J >= 0.7 implies a
    shared shingle, so the index join misses no true pair).  At 100 TB
    the audit slice stays fixed-size while the measured banding scheme
    is the one the full corpus runs."""
    d = fan_out(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 200), spark
    )
    shingled = cut(d.select(
        "doc_id", unigram_shingles(F.col("text")).alias("shingles")
    ))
    cand = cut(band_bucket_join(minhash_bands(shingled)))

    sizes = shingled.select("doc_id", F.size("shingles").alias("n"))
    ex = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    tpairs = (
        ex.alias("ea")
        .join(
            ex.alias("eb"),
            (F.col("ea.shingle") == F.col("eb.shingle"))
            & (F.col("ea.doc_id") < F.col("eb.doc_id")),
        )
        .groupBy(
            F.col("ea.doc_id").alias("doc_a"),
            F.col("eb.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    jacc = (
        tpairs.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("j"),
        )
    )
    truth = cut(jacc.where(F.col("j") >= 0.7))
    hits = cand.join(truth.select("doc_a", "doc_b"), ["doc_a", "doc_b"])
    from biodiversity_graph_db_spark.operators._util import dquant

    nc = cand.agg(F.count("*").alias("n_candidates"))
    nh = hits.agg(F.count("*").alias("n_hits"))
    nt = truth.agg(F.count("*").alias("n_truth"))
    return (
        nc.crossJoin(nh)
        .crossJoin(nt)
        .select(
            "n_candidates",
            "n_hits",
            "n_truth",
            dquant(
                F.col("n_hits") / F.col("n_candidates").cast("double")
            ).alias("precision_at_07"),
            dquant(F.col("n_hits") / F.col("n_truth").cast("double")).alias(
                "recall_at_07"
            ),
        )
    )


@query(
    "D11_prefix_dup",
    oracle="""
    WITH minted AS (
      SELECT doc_id, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id,
             substr(text, 1, 120) AS text,
             LEAST(n_chars, 120) AS n_chars
      FROM documents WHERE doc_id % 97 = 0
    ),
    keyed AS (
      SELECT doc_id, n_chars, md5(substr(text, 1, 100)) AS prefix_key
      FROM minted
    )
    SELECT prefix_key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(MAX(n_chars) - MIN(n_chars) AS BIGINT) AS tail_spread
    FROM keyed
    GROUP BY prefix_key
    HAVING COUNT(*) > 1
    ORDER BY prefix_key
    """,
)
def d11_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-duplicate detection — documents identical in their first
    100 characters but (possibly) diverging after: the truncation /
    re-crawl / pagination dup class that exact fingerprinting (T3)
    misses by design (one tail byte changes the full-text hash) and
    MinHash (D1) only catches when the shared prefix dominates the
    shingle set.  Pretraining pipelines run this pass to collapse
    article+comment re-renders and length-capped vendor re-deliveries;
    ``tail_spread`` (max−min length per group) is the triage signal —
    0 means same-length near-copies, large means truncation.

    The synthetic corpus has no natural truncation dups, so a
    deterministic minted copy (every 97th doc, cut at 120 chars) makes
    the grade non-hollow — the D7/T9 mint-then-operate discipline,
    reproduced exactly in the oracle.  Scale shape: the md5 prefix key
    is computed in the scan (bounded 100-char input regardless of
    document size — unlike T3's full-text hash this never reads the
    tail), ONE combinable count shuffle on the key, output bounded by
    the dup-group count.  Keeper = min doc_id, the T3/D1 canonical
    rule."""
    d = table(spark, sf_dir, "documents")
    minted = d.select("doc_id", "text", "n_chars").unionByName(
        d.where(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.substring(F.col("text"), 1, 120).alias("text"),
            F.least(F.col("n_chars"), F.lit(120)).alias("n_chars"),
        )
    )
    return (
        minted.select(
            "doc_id",
            "n_chars",
            F.md5(F.substring(F.col("text"), 1, 100)).alias("prefix_key"),
        )
        .groupBy("prefix_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_id"),
            (F.max("n_chars") - F.min("n_chars"))
            .cast("long")
            .alias("tail_spread"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("prefix_key")
    )


@query(
    "D12_source_overlap",
    oracle="""
    WITH minted AS (
      SELECT source, text FROM documents
      UNION ALL
      SELECT 'src' || CAST((CAST(substr(source, 4) AS INT) + 7) % 20
                           AS INT) AS source,
             text
      FROM documents WHERE doc_id % 7 = 0
    ),
    p AS (SELECT DISTINCT source, md5(text) AS fp FROM minted),
    sz AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY source
    ),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM p a JOIN p b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT c.src_a, c.src_b, sa.n AS n_a, sb.n AS n_b, c.n_common,
           CAST(c.n_common * 1000000 // sa.n AS BIGINT) AS contain_a_ppm,
           CAST(c.n_common * 1000000 // sb.n AS BIGINT) AS contain_b_ppm
    FROM common c
    JOIN sz sa ON c.src_a = sa.source
    JOIN sz sb ON c.src_b = sb.source
    ORDER BY src_a, src_b
    """,
)
def d12_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE containment matrix — for every source pair, how
    many exact-duplicate documents they share and what fraction of each
    side that is (ppm): the corpus-redundancy audit run before mixture
    weights are set (T16/T31 assume sources are distinct corpora; a
    vendor re-delivering another crawl's shards silently double-weights
    it, and this matrix is how that is caught).  Direction matters —
    a small source fully contained in a large one reads 1e6 on one
    axis and noise on the other — so both containments are emitted.

    The synthetic corpus has no natural cross-source duplicates, so a
    deterministic re-attribution mint (every 7th doc also credited to
    the source 7 slots over) makes the grade non-hollow — the D11/D7
    discipline, replayed exactly in the oracle.  Scale shape: docs
    collapse to DISTINCT (source, fingerprint) in one combinable pass,
    localCheckpoint-ed — the fingerprint table feeds FOUR consumers
    (both self-join sides and both size lookups), and without the cut
    the corpus md5+DISTINCT re-runs per consumer (8 parquet scans,
    caught by end-of-round plan audit; materializing ~40 bytes/doc is
    the standard dedup trade).  The self-join shuffles on the
    fingerprint where each group is bounded by |sources|, so the pair
    blowup is |sources|² per duplicated fingerprint, never corpus²;
    the size table is |sources|-bounded and broadcast.  Integer ppm
    via DIV — exact."""
    d = table(spark, sf_dir, "documents")
    minted = d.select("source", "text").unionByName(
        d.where(F.col("doc_id") % 7 == 0).select(
            F.concat(
                F.lit("src"),
                (
                    (F.substring("source", 4, 10).cast("int") + 7) % 20
                ).cast("string"),
            ).alias("source"),
            "text",
        )
    )
    p = cut(
        minted.select("source", F.md5("text").alias("fp")).distinct()
    )
    sz = p.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = p.select(F.col("source").alias("src_a"), "fp")
    b = p.select(F.col("source").alias("src_b"), "fp")
    common = (
        a.join(b, "fp")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(
                sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr("n_common * 1000000 DIV n_a").alias("contain_a_ppm"),
            F.expr("n_common * 1000000 DIV n_b").alias("contain_b_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


# --- D13: cross-document repeated-substring spans ---------------------------

SPAN_K = 8  # shingle width (tokens); a reported span is always >= SPAN_K
SPAN_DF_CAP = 8  # hub guard: grams in more docs than this are boilerplate


@query(
    "D13_shared_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS ts
      FROM documents
    ),
    sh AS (
      SELECT doc_id, t.i AS pos,
             md5(array_to_string(ts[t.i:t.i+{SPAN_K - 1}], ' ')) AS g
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(
                 1, greatest(len(ts) - {SPAN_K - 1}, 0))) AS i) t
    ),
    keep AS (
      SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY g
      ) WHERE nd BETWEEN 2 AND {SPAN_DF_CAP}
    ),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      WHERE a.g IN (SELECT g FROM keep)
    ),
    isl AS (
      SELECT doc_a, doc_b, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                     ORDER BY pa) AS isl_id,
             pa - pb AS diag
      FROM pr
    ),
    runs AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM isl GROUP BY doc_a, doc_b, diag, isl_id
    )
    SELECT doc_a, doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(run_len) + {SPAN_K - 1} AS BIGINT) AS max_span_tokens,
           CAST(SUM(run_len) + {SPAN_K - 1} * COUNT(*) AS BIGINT)
             AS shared_tokens
    FROM runs
    GROUP BY doc_a, doc_b
    ORDER BY doc_a, doc_b
    """,
)
def d13_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-SUBSTRING spans — for every doc pair,
    the maximal contiguous token runs they share (>= SPAN_K tokens):
    the exact-substring dedup pass of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), which removes
    verbatim re-use that survives every other pass here — T3 hashes
    whole docs, D11 only prefixes, D1/E2 score global similarity (a
    95-token quote inside two otherwise-different docs scores low
    Jaccard), and T8 only checks against an external benchmark set.
    Output per pair: span count, longest span, total shared tokens —
    the "trim the quote or drop the doc" decision inputs.

    Plan shape (suffix arrays don't distribute; stride-1 shingles do):
    ONE tokenize+Generate pass emits every ``SPAN_K``-token gram hash
    with its position; the (doc, pos, gram) cut is checkpointed (it
    feeds the document-frequency guard AND the pair join — without the
    cut the corpus tokenize re-runs, the round-8 plan-sweep class).
    Grams seen in more than ``SPAN_DF_CAP`` distinct docs are dropped
    before pairing (template boilerplate — join groups stay bounded,
    never corpus x corpus; the df filter, the pair self-join and the
    run grouping all shuffle on the SAME gram/pair keys).  Contiguity
    is the gaps-and-islands trick: matching positions on one pair
    diagonal (pa - pb) with consecutive pa collapse to one island via
    ``pa - row_number()``, so span extraction is one window over the
    bounded match table, never a per-pair sort of raw text.  At 100 TB
    the match table is bounded by real re-use x df-cap, not corpus
    size.  Positions are 1-based in both engines (posexplode + 1).

    Semantics note (round 9): ``shared_tokens`` sums run lengths across
    DIAGONALS, so a gram repeated inside one doc contributes once per
    shifted alignment — it is match-MASS, a detection stat that can
    exceed ``n_tokens`` on repetition-heavy docs.  The D14 purge
    decision therefore uses ``span_coverage`` (distinct covered
    positions, always <= n_tokens), not this column."""
    return shared_spans(table(spark, sf_dir, "documents"))


def _span_pairs(
    d: DataFrame, k: int = SPAN_K, df_cap: int = SPAN_DF_CAP
) -> DataFrame:
    """The shared gram/pair stage of D13/D14 over any (doc_id, text)
    DataFrame: one checkpointed stride-1 gram pass, the df-cap hub
    guard, and the gram-keyed pair self-join.  Returns
    (doc_a, doc_b, pa, pb) matched 1-based positions with
    doc_a < doc_b — see ``d13_shared_spans`` for the plan-shape
    argument."""
    from biodiversity_graph_db_spark.extensions.textstats import (
        norm_tokens,
        token_kgrams,
    )
    from biodiversity_graph_db_spark.operators._util import spread

    # spread: the stride-1 gram pass is the compute-heavy stage (one
    # md5 per token position); a single-split local file would
    # serialize it on one core (measured 9.1 s -> sub-second on
    # local[32] at 5k docs; no-op on any real at-scale layout)
    sh = (
        spread(d).select(
            "doc_id",
            F.posexplode(token_kgrams(norm_tokens(F.col("text")), k)).alias(
                "pos0", "g"
            ),
        )
        # the gram key is INTERNAL (never output; only equality matters,
        # and the oracle hashes its own side) — carry it as 16-byte
        # BINARY instead of the 32-char md5 hex string.  The gram table
        # crosses three exchanges (df-count, both pair-join sides), so
        # halving the key halves the dominant shuffle: measured 110 s →
        # 33 s at gen_sf10 (SCALE §35), same 128 bits, zero added
        # collision risk.
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.unhex(F.col("g")).alias("g"),
        )
    )
    sh = cut(sh)
    keep = (
        sh.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where((F.col("nd") >= 2) & (F.col("nd") <= df_cap))
        .select("g")
    )
    a = sh.join(keep, "g").select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "g"
    )
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "g")
    return (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb")
    )


def shared_spans(
    d: DataFrame, k: int = SPAN_K, df_cap: int = SPAN_DF_CAP
) -> DataFrame:
    """Core of D13 over any (doc_id, text) DataFrame — see
    ``d13_shared_spans`` for semantics and plan shape."""
    pr = _span_pairs(d, k, df_cap).withColumn(
        "diag", F.col("pa") - F.col("pb")
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        pr.withColumn("isl_id", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "isl_id")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            (F.max("run_len") + (k - 1)).alias("max_span_tokens"),
            (F.sum("run_len") + (k - 1) * F.count(F.lit(1))).alias(
                "shared_tokens"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


def span_coverage(
    d: DataFrame, k: int = SPAN_K, df_cap: int = SPAN_DF_CAP
) -> DataFrame:
    """Distinct-position span coverage per pair — how many of doc_b's
    token positions fall inside ANY k-gram it shares with doc_a.
    Unlike ``shared_spans.shared_tokens`` (match mass across
    diagonals, which double-counts when a gram repeats inside one
    doc), coverage is a true fraction: each matched position pb
    covers the interval [pb, pb+k-1], and the result is the size of
    the UNION of those intervals — so ``covered_tokens <= n_tokens``
    by construction (ADVICE r8: dup_ppm could exceed 1e6 on
    repetition-heavy docs and fire the purge on <30% distinct reuse).

    Interval-union without islands: over the DISTINCT sorted pbs of a
    pair, position pb contributes ``min(k, next_pb - pb)`` new covered
    tokens (k for the last one) — one ``lead`` window over the bounded
    match table plus a combinable SUM, no per-pair sort of raw text."""
    pbd = _span_pairs(d, k, df_cap).select("doc_a", "doc_b", "pb").distinct()
    w = Window.partitionBy("doc_a", "doc_b").orderBy("pb")
    return (
        pbd.withColumn("nxt", F.lead("pb").over(w))
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("nxt").isNull(), F.lit(k))
            .otherwise(F.least(F.lit(k), F.col("nxt") - F.col("pb")))
            .alias("c"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("c").cast("long").alias("covered_tokens"))
    )


SPAN_PURGE_PPM = 300000  # drop a doc when >=30% of its tokens are COVERED
# by spans shared with an earlier doc (distinct positions, never mass)


@query(
    "D14_span_purge",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS ts
      FROM documents
    ),
    sh AS (
      SELECT doc_id, t.i AS pos,
             md5(array_to_string(ts[t.i:t.i+{SPAN_K - 1}], ' ')) AS g
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(
                 1, greatest(len(ts) - {SPAN_K - 1}, 0))) AS i) t
    ),
    keep AS (
      SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY g
      ) WHERE nd BETWEEN 2 AND {SPAN_DF_CAP}
    ),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      WHERE a.g IN (SELECT g FROM keep)
    ),
    pbd AS (
      SELECT DISTINCT doc_a, doc_b, pb FROM pr
    ),
    cov AS (
      SELECT doc_a, doc_b,
             CAST(SUM(CASE WHEN nxt IS NULL THEN {SPAN_K}
                           ELSE LEAST({SPAN_K}, nxt - pb) END) AS BIGINT)
               AS covered_tokens
      FROM (
        SELECT doc_a, doc_b, pb,
               LEAD(pb) OVER (PARTITION BY doc_a, doc_b ORDER BY pb) AS nxt
        FROM pbd
      ) GROUP BY doc_a, doc_b
    ),
    worst AS (
      SELECT doc_b AS doc_id, doc_a AS worst_partner, covered_tokens
      FROM (
        SELECT doc_a, doc_b, covered_tokens,
               ROW_NUMBER() OVER (PARTITION BY doc_b
                                  ORDER BY covered_tokens DESC, doc_a) AS rk
        FROM cov
      ) WHERE rk = 1
    ),
    nt AS (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks
    )
    SELECT w.doc_id, w.worst_partner, w.covered_tokens, nt.n_tokens,
           CAST(w.covered_tokens * 1000000 // nt.n_tokens AS BIGINT)
             AS dup_ppm
    FROM worst w JOIN nt USING (doc_id)
    WHERE w.covered_tokens * 1000000 // nt.n_tokens >= {SPAN_PURGE_PPM}
    ORDER BY doc_id
    """,
)
def d14_span_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-based PURGE decision on top of D13's detection — the
    detect→purge pair the engine already ships for benchmark
    contamination (T8→D5), applied to intra-corpus verbatim re-use:
    a document whose worst earlier partner COVERS >= 30% of its token
    positions with shared contiguous spans is a re-syndication/quote-
    wrapper and is dropped (keeper = the earlier doc_id, the
    T3/D1/D11 canonical rule).  Output: the dropped docs with the
    partner, the covered-token count and the dup fraction (ppm) — the
    audit trail a curation run logs next to T32.

    Coverage, not mass (ADVICE r8 fix): D13's ``shared_tokens`` sums
    run lengths across diagonals, so an in-doc gram repeat creates
    extra alignments and the sum can exceed ``n_tokens`` — dup_ppm
    over 1e6, firing the purge on docs whose distinct shared text is
    below the threshold.  ``span_coverage`` counts distinct covered
    positions (interval union via one ``lead`` window), so
    ``covered_tokens <= n_tokens`` and dup_ppm <= 1e6 by construction.

    Scale shape: D13's gram/pair stage end-to-end (one checkpointed
    gram pass, df-capped pair join) plus TWO bounded windows over the
    match table (coverage ``lead`` + worst-partner top-1) and a
    column-pruned token-count join back to documents; the ppm is
    integer DIV, the threshold applies in both engines to the same
    BIGINTs."""
    pairs = span_coverage(table(spark, sf_dir, "documents"))
    from biodiversity_graph_db_spark.extensions.textstats import norm_tokens

    w = Window.partitionBy("doc_b").orderBy(
        F.col("covered_tokens").desc(), "doc_a"
    )
    worst = (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("worst_partner"),
            "covered_tokens",
        )
    )
    nt = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(norm_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return (
        worst.join(nt, "doc_id")
        .withColumn(
            "dup_ppm", F.expr("covered_tokens * 1000000 DIV n_tokens")
        )
        .where(F.col("dup_ppm") >= SPAN_PURGE_PPM)
        .select("doc_id", "worst_partner", "covered_tokens", "n_tokens", "dup_ppm")
        .orderBy("doc_id")
    )


@query(
    "D15_lsh_band_store",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS sh
      FROM documents WHERE doc_id < 200
    ), ex AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    hs AS (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS h),
    mh AS (
      SELECT doc_id, h,
             MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS sig
      FROM ex CROSS JOIN hs GROUP BY doc_id, h
    )
    SELECT doc_id, CAST(h // {BAND_SIZE} AS BIGINT) AS band,
           md5(string_agg(sig, '|' ORDER BY h)) AS band_key
    FROM mh GROUP BY doc_id, band
    ORDER BY doc_id, band
    """,
)
def d15_lsh_band_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash/LSH band-table MAINTAINER as a driver row (the
    T41/T42/T44/W16 pattern, completing the synopsis-store family with
    the DEDUP-AT-INGEST index): drain the documents through
    ``run_lsh_bands`` as three real micro-batches and read the
    maintained band store back; the oracle is the one-shot batch
    banding in SQL (E2's bands CTE), so stream-built ≡ batch-built is
    graded by the driver on the STORE CELLS — the exact rows the
    band-bucket join consumes for near-dup candidate generation.

    Scale shape: band rows are a per-document deterministic function,
    so each micro-batch is one narrow map+groupBy over ITS OWN rows —
    no read-modify-write of the (corpus-growing) store; exactly-once
    is the per-batch-directory transaction (streaming/ingest.py
    ``lsh_band_upsert``); the store stays partitioned by ``band`` so
    ingest-time dup checks prune buckets exactly like the batch path."""
    import tempfile

    from biodiversity_graph_db_spark.streaming.ingest import (
        compact_lsh_bands,
        drain_parquet_batches,
        read_lsh_bands,
        run_lsh_bands,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    with tempfile.TemporaryDirectory(
        prefix="d15_lsh_store_", ignore_cleanup_errors=True
    ) as tmp:
        drain_parquet_batches(
            docs,
            "doc_id",
            lambda s: run_lsh_bands(s, f"{tmp}/store", f"{tmp}/ckpt"),
            tmp,
        )
        # fold the three per-batch deltas into the compacted base, so
        # the driver row grades the COMPACTED store's cells (the state
        # a long-lived ingest actually serves dup probes from)
        compact_lsh_bands(spark, f"{tmp}/store")
        return (
            read_lsh_bands(spark, f"{tmp}/store")
            .select("doc_id", F.col("band").cast("long").alias("band"), "band_key")
            .orderBy("doc_id", "band")
            .transform(cut)
        )


@query(
    "D16_cluster_split",
    oracle=f"""
    WITH RECURSIVE {_LSH_COMP_SQL},
    assigned AS (
      SELECT d.doc_id,
             COALESCE(c.canonical, d.doc_id) AS canonical_id
      FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
      LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, canonical_id,
           CASE WHEN CAST(('0x' || substr(
                  md5('doc_' || canonical_id), 1, 8)) AS BIGINT) % 100 < 80
                THEN 'train'
                WHEN CAST(('0x' || substr(
                  md5('doc_' || canonical_id), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    ORDER BY doc_id
    """,
)
def d16_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment — the ENFORCER for the D7
    split-leakage detector (the T8→D5 / D13→D14 / T43→T45 discipline):
    hash-split at the NEAR-DUP CLUSTER level, not the document level.
    D7 measures how many fingerprint groups straddle train/val/test
    under a per-document hash split; this operator makes that class of
    leakage structurally impossible — ``split = hash(canonical_id)``,
    so every member of a near-dup cluster lands in the same split BY
    CONSTRUCTION (near-identical eval documents can never have a
    training twin).  This is the published grouped-split practice for
    contamination-safe eval sets, applied with D1's exact clustering.

    Scale shape: composition of two already-scale-safe pieces — D1's
    bucketed LSH + hash-min components (never all-pairs) and T11's
    md5-bucket split applied to the canonical id (pure column
    expressions).  Singleton docs are their own canonical, so the
    assignment degrades to the plain hash split exactly where no
    near-dup structure exists.  The same doc_id<200 work bound as
    D1/D15 (the oracle's recursive-CTE replay window)."""
    from biodiversity_graph_db_spark.extensions.textstats import split_name
    from biodiversity_graph_db_spark.graph.traversal import (
        connected_components,
    )

    d = fan_out(
        table(spark, sf_dir, "documents").where(F.col("doc_id") < 200), spark
    )
    shingled = cut(d.select(
        "doc_id", unigram_shingles(F.col("text")).alias("shingles")
    ))
    cand = band_bucket_join(minhash_bands(shingled))
    pairs = exact_jaccard(shingled, cand).where(F.col("jaccard") >= 0.7)

    def pad(c: Column) -> Column:
        return F.lpad(c.cast("string"), 6, "0")

    edges = pairs.select(
        pad(F.col("doc_a")).alias("source_key"),
        pad(F.col("doc_b")).alias("sink_key"),
    )
    comp = connected_components(edges).select(
        F.col("key").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("canonical"),
    )
    return (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical"), F.col("doc_id")).alias(
                "canonical_id"
            ),
        )
        .withColumn("split", split_name(F.col("canonical_id")))
        .orderBy("doc_id")
    )
