"""Distributed BPE tokenizer training — the learn-the-merges step of
byte-pair encoding, run as Spark jobs over the corpus.

Every pretraining pipeline trains a tokenizer before it tokenizes;
at 100 TB the pair-counting pass is a corpus-scale aggregation, not a
single-machine loop, so the engine supplies it as an operator.  The
classic algorithm (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units"): represent each distinct word as a
symbol sequence (initially characters), repeatedly count adjacent
symbol pairs weighted by word frequency, merge the most frequent pair
corpus-wide, emit the merge table.

Spark shape, per merge step:

- **Pair counting** is one map-side-combinable groupBy over the
  exploded adjacent pairs of the word-type table — NOT the raw corpus:
  the working set is |distinct words| rows (Zipf-bounded, ~10^7 for a
  web corpus) with an attached frequency, so 100 TB of text collapses
  to a small table after the one up-front word-count aggregation.
- **Winner selection** is ``orderBy(count).limit(1)`` —
  TakeOrderedAndProject (partial per-partition top-1, single-row
  reduce), never a global sort (the T13 lesson).  Deterministic
  tie-break on (count DESC, left, right).
- **The merge** applies to every word via a broadcast 1-row cross join
  + literal string ``replace`` — pure map work, no shuffle.  Words are
  held as space-joined symbol strings (the canonical BPE trick), so
  "merge pair (a,b)" is ``replace(' a b ' → ' ab ')``; because a
  replacement consumes the boundary space, immediately-adjacent
  occurrences need further passes, so ``_MERGE_PASSES`` fixed passes
  are applied — enough to reach the replace FIXED POINT for any word
  with same-symbol runs far beyond natural text.  That fixed point is
  the merge semantics: deterministic, identical in Spark / DuckDB /
  Python (all ``replace`` are leftmost-non-overlapping; unit-tested
  against the Python fixed point).  On odd same-symbol runs it can
  pair differently from strict one-symbol-at-a-time greedy scan — a
  tie among equal-count merges that the classic implementations
  (subword-nmt's single-pass ``re.sub``, HuggingFace's iterative
  scan) also resolve differently from each other.
- Each step's corpus is ``localCheckpoint``-ed (the G9/LPA iterative
  pattern): K chained merge steps stay K independent small jobs instead
  of one 4-deep recomputed lineage.

The oracle is the same algorithm unrolled in SQL (cf. G9's unrolled
label-propagation oracle), so every step's winning pair and count are
value-verified against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.extensions.textstats import tokens
from biodiversity_graph_db_spark.operators._util import cut, spread
from biodiversity_graph_db_spark.registry import query
from biodiversity_graph_db_spark.tables import table

#: merge iterations trained / verified by the T18 oracle row.
BPE_STEPS = 4
#: fixed literal-replace passes per merge (adjacent-occurrence fixup).
_MERGE_PASSES = 8


def _word_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(wstr, freq): distinct lowercase whitespace words of the corpus
    as space-joined character strings with corpus frequencies — the
    one corpus-scale pass; everything after works on word TYPES."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = d.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("w")
    ).where(F.col("w") != "")
    words = toks.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    # " a b c " — every symbol space-wrapped so merges are literal
    # string replaces with exact element boundaries.
    # coalesce(4): the training sample is BOUNDED by design (the
    # doc_id<100 tractability bound of the unrolled oracle), so the
    # word-type table is a few thousand rows — 32 partitions made every
    # per-step pair-count job pay 32 map tasks of pure scheduling; at
    # production scale the sample stays bounded, so this is not a
    # parallelism loss (the full-corpus pass is T19's ENCODE, not this)
    return words.coalesce(4).select(
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")
        ).alias("wstr"),
        "freq",
    )


def _top_pair(corpus: DataFrame) -> DataFrame:
    """Most frequent adjacent symbol pair (1 row), deterministically."""
    a = F.split(F.trim(F.col("wstr")), " ")
    pairs = (
        corpus.select(a.alias("a"), "freq")
        .where(F.size("a") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(a, 1, size(a) - 1),"
                    " (s, i) -> struct(s AS l, a[i + 1] AS r))"
                )
            ).alias("p"),
            "freq",
        )
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "freq")
    )
    return (
        pairs.groupBy("l", "r")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "l", "r")
        .limit(1)
    )


def _apply_merge(corpus: DataFrame, top: DataFrame) -> DataFrame:
    """Merge the winning pair in every word: broadcast 1-row cross join
    + ``_MERGE_PASSES`` literal replaces — map-only, no shuffle."""
    merged = corpus.crossJoin(
        F.broadcast(
            top.select(F.col("l").alias("_l"), F.col("r").alias("_r"))
        )
    )
    pat = F.concat(
        F.lit(" "), F.col("_l"), F.lit(" "), F.col("_r"), F.lit(" ")
    )
    rep = F.concat(F.lit(" "), F.col("_l"), F.col("_r"), F.lit(" "))
    expr = F.col("wstr")
    for _ in range(_MERGE_PASSES):
        expr = F.replace(expr, pat, rep)
    return merged.withColumn("wstr", expr).select("wstr", "freq")


def bpe_train(
    spark: SparkSession, sf_dir: str, n_steps: int = BPE_STEPS
) -> DataFrame:
    """Train ``n_steps`` BPE merges; returns the merge table
    (step, left_sym, right_sym, merged, pair_count)."""
    corpus = cut(_word_types(spark, sf_dir))
    steps: list[DataFrame] = []
    for k in range(1, n_steps + 1):
        top = cut(_top_pair(corpus))  # 1 row, eager
        steps.append(
            top.select(
                F.lit(k).cast("long").alias("step"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat(F.col("l"), F.col("r")).alias("merged"),
                "pair_count",
            )
        )
        if k < n_steps:
            # NO checkpoint on the merged corpus: the merge is map-only
            # (broadcast 1-row top + literal replaces) over the one
            # checkpointed word-type table, so step k's pair-count job
            # re-runs k cheap replace maps instead of paying a whole
            # extra materialization job per step — 9 sequential jobs
            # → 5 (VERDICT r8 item 7; winner selection can't batch
            # without breaking the sequential-merge oracle semantics:
            # a merge's NEW pairs (x,ab) can outrank the original #2)
            corpus = _apply_merge(corpus, top)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.orderBy("step")


def _nested_replace_sql(expr: str, n: int) -> str:
    for _ in range(n):
        expr = (
            f"replace({expr}, ' ' || l || ' ' || r || ' ',"
            f" ' ' || l || r || ' ')"
        )
    return expr


def _bpe_oracle(n_steps: int = BPE_STEPS) -> str:
    """The same algorithm unrolled in DuckDB SQL (cf. G9's oracle)."""
    ctes = [
        """toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE doc_id < 100
    )""",
        """corpus0 AS (
      SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS wstr,
             COUNT(*) AS freq
      FROM toks WHERE w <> '' GROUP BY w
    )""",
    ]
    selects = []
    for k in range(1, n_steps + 1):
        prev = f"corpus{k - 1}"
        ctes.append(
            f"""pairs{k} AS (
      SELECT a[i] AS l, a[i + 1] AS r,
             CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM (
        SELECT a, freq, unnest(generate_series(1, len(a) - 1)) AS i
        FROM (SELECT string_split(trim(wstr), ' ') AS a, freq
              FROM {prev}) WHERE len(a) >= 2
      ) GROUP BY l, r
    )""",
        )
        ctes.append(
            f"""top{k} AS (
      SELECT l, r, pair_count FROM pairs{k}
      ORDER BY pair_count DESC, l, r LIMIT 1
    )""",
        )
        if k < n_steps:
            ctes.append(
                f"""corpus{k} AS (
      SELECT {_nested_replace_sql('wstr', _MERGE_PASSES)} AS wstr, freq
      FROM {prev} CROSS JOIN top{k}
    )""",
            )
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS step, l AS left_sym,"
            f" r AS right_sym, l || r AS merged, pair_count FROM top{k}"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY step"
    )


@query("T18_bpe_merges", oracle=_bpe_oracle())
def t18_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ``BPE_STEPS`` learned BPE merges over the documents
    corpus — see module docstring for the distributed shape."""
    return bpe_train(spark, sf_dir)


def _alias_tops_sql(n_steps: int) -> str:
    """CTE suffixes aliasing each step's winning pair for the encode
    oracle (top{k}(l,r) → l{k}/r{k}, one row each)."""
    return ",\n    ".join(
        f"ptop{k} AS (SELECT l AS l{k}, r AS r{k} FROM top{k})"
        for k in range(1, n_steps + 1)
    )


def _nested_replace_sql_k(expr: str, k: int, n: int) -> str:
    for _ in range(n):
        expr = (
            f"replace({expr}, ' ' || l{k} || ' ' || r{k} || ' ',"
            f" ' ' || l{k} || r{k} || ' ')"
        )
    return expr


def _compression_sql() -> str:
    from biodiversity_graph_db_spark.operators._util import sql_dquant

    return (
        sql_dquant(
            "SUM(len(w)) / CAST(SUM(len(string_split(trim(estr), ' ')))"
            " AS DOUBLE)"
        )
        + " AS compression"
    )


def _encode_oracle(n_steps: int = BPE_STEPS) -> str:
    """T19: re-derive the merge table (same CTEs as T18), then apply the
    K merges in order to every document's words and count tokens."""
    base = _bpe_oracle(n_steps)
    # reuse everything up to the final SELECT: strip the union tail
    ctes = base[: base.index("\n    SELECT CAST(1 AS BIGINT)")]
    expr = "wstr"
    for k in range(1, n_steps + 1):
        expr = _nested_replace_sql_k(expr, k, _MERGE_PASSES)
    tops = ", ".join(f"ptop{k}" for k in range(1, n_steps + 1))
    return f"""{ctes},
    {_alias_tops_sql(n_steps)},
    dwords AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE doc_id < 100
    ),
    dsym AS (
      SELECT doc_id, w,
             ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS wstr
      FROM dwords WHERE w <> ''
    ),
    enc AS (
      SELECT doc_id, w, {expr} AS estr
      FROM dsym CROSS JOIN {tops.replace(', ', ' CROSS JOIN ')}
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(len(w)) AS BIGINT) AS n_symbols,
           CAST(SUM(len(string_split(trim(estr), ' '))) AS BIGINT)
             AS n_tokens,
           {_compression_sql()}
    FROM enc
    GROUP BY doc_id
    ORDER BY doc_id"""


@query("T19_bpe_encode", oracle=_encode_oracle())
def t19_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — apply the learned merge table to the corpus (the
    tokenize step that runs at full 100 TB scale, after ``T18`` trains
    the merges on it).

    The merge table is the tokenizer model: K tiny rows, collected to
    the driver ONCE (the one by-design driver materialization — a
    tokenizer model is a driver-side artifact, like broadcast-join dims)
    and compiled into a chain of K·``_MERGE_PASSES`` literal ``replace``
    expressions over the per-word symbol strings.  Encoding is then
    pure whole-stage-codegen map work: no join, no shuffle until the
    per-document rollup — embarrassingly parallel at any corpus size.

    Output per document: word / pre-merge symbol / post-merge token
    counts and the compression ratio — the signal that decides whether
    the learned vocab is worth its size."""
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_train(spark, sf_dir).orderBy("step").collect()
    ]
    return bpe_encode_docs(spark, sf_dir, merges)


@query("T19b_bpe_encode_kernel", oracle=_encode_oracle())
def t19b_bpe_encode_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode via the PRODUCTION-VOCAB kernel path (VERDICT r4 item
    3).  T19's chained-literal-replace compiles K·``_MERGE_PASSES``
    ``replace`` expressions — whole-stage-codegen-friendly at K=4 but a
    30–50k-merge tokenizer cannot be one Catalyst expression tree (the
    64 KB codegen / expression-depth ceiling).  This path broadcasts the
    merge table and applies rank-based greedy pair-merging per word in
    an Arrow ``mapInPandas`` kernel — the same declared Python boundary
    as the media codecs: O(|word|·|merged pairs|) per DISTINCT word
    (per-batch word cache), independent of K, so the model-size scaling
    is solved while the data scaling stays embarrassingly parallel.
    Same oracle as T19; equality with the expression path at K=4 is
    unit-tested (tests/test_extensions.py).  The kernel is CANONICAL
    greedy BPE; the replace-based expression path diverges from it on
    same-symbol runs >= 5 (replace's scan-resume strands singles —
    pinned in tests/test_properties.py), so sharing one oracle is valid
    only while the corpus vocabulary is run-free, a precondition
    verified per dataset by
    tests/test_extensions.py::TestBpeCorpusPrecondition."""
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_train(spark, sf_dir).orderBy("step").collect()
    ]
    return bpe_encode_docs_kernel(spark, sf_dir, merges)


def bpe_encode_docs_kernel(
    spark: SparkSession,
    sf_dir: str,
    merges: list[tuple[str, str]],
    doc_limit: int | None = 100,
) -> DataFrame:
    """Arrow-kernel encode: broadcast merge ranks, greedy lowest-rank
    pair merge per word (the standard BPE inference algorithm;
    Sennrich 2016 §3 / every production tokenizer).  Merging all
    leftmost-non-overlapping occurrences of the current lowest-rank
    pair per round reproduces the expression path's replace-fixed-point
    semantics: for a TRAINING-PRODUCED merge table a later merge can
    never create an instance of an earlier pair (its components must
    exist when the pair is learned), so rank order == sequential
    application order.  Only the per-word token/symbol counts leave
    the kernel; the per-document rollup stays JVM-side (same
    map-side-combinable groupBy as the expression path)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    from biodiversity_graph_db_spark.operators._util import dquant

    bc = spark.sparkContext.broadcast(list(merges))

    out_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_sym", LongType(), False),
            StructField("n_tok", LongType(), False),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        merge_list = bc.value
        ranks = {pair: i for i, pair in enumerate(merge_list)}
        cache: dict[str, int] = {}

        def n_tokens(w: str) -> int:
            hit = cache.get(w)
            if hit is not None:
                return hit
            syms = list(w)
            while len(syms) > 1:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                l, r = merge_list[best]
                out: list[str] = []
                i = 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == l
                        and syms[i + 1] == r
                    ):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[w] = len(syms)
            return cache[w]

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_sym": pdf["w"].str.len().astype("int64"),
                    "n_tok": pdf["w"].map(n_tokens).astype("int64"),
                }
            )

    d = table(spark, sf_dir, "documents")
    if doc_limit is not None:
        # oracle form: the registered T19b query encodes doc_id < 100
        # (the unrolled SQL twin's tractability bound); doc_limit=None
        # is the production / scale-measurement path over the full corpus
        d = d.where(F.col("doc_id") < doc_limit)
    d = spread(d)  # after the filter: pushdown preserved
    words = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    ).where(F.col("w") != "")
    enc = words.mapInPandas(encode, schema=out_schema)
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_symbols"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            dquant(
                F.sum("n_sym") / F.sum("n_tok").cast("double")
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


def bpe_encode_docs(
    spark: SparkSession, sf_dir: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """The encode map alone, given a trained merge list — benched
    separately from training (bench.py ``bpe_split``): at 100 TB
    training runs once on the word-type table while THIS is the
    full-corpus pass."""
    from biodiversity_graph_db_spark.operators._util import dquant

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    words = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    ).where(F.col("w") != "")
    wstr = F.concat(
        F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")
    )
    estr = wstr
    for l, r in merges:
        pat = F.lit(f" {l} {r} ")
        rep = F.lit(f" {l}{r} ")
        for _ in range(_MERGE_PASSES):
            estr = F.replace(estr, pat, rep)
    enc = words.select(
        "doc_id",
        F.length("w").alias("n_sym"),
        F.size(F.split(F.trim(estr), " ")).alias("n_tok"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_symbols"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            dquant(
                F.sum("n_sym") / F.sum("n_tok").cast("double")
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )
