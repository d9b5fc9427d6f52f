"""ParseCorpus equivalent (SURVEY.md §3.1) as composable DataFrame ops.

The reference runs 4 chained MapReduce jobs (tokenize → title index →
term index → document encode, ParseCorpus.java:104-139).  Here the same
program is one lazy DataFrame plan with two materialization points (the
dictionary and the encoded corpus); Catalyst handles partial/final
aggregation, predicate pushdown and column pruning that the reference
hand-implements with combiners (TokenizeCombiner, ParseCorpus.java:302-342).

Scale notes (100 TB corpus, 1000 executors):
- tokenize/term_stats is a single shuffle on ``term`` with map-side
  partial aggregation — the same shape as the reference's combiner but
  spill-safe via Tungsten.
- dictionary id assignment is the reference's deliberate 1-reducer
  bottleneck (ParseCorpus.java:511); ``assign_dense_ids`` replaces it
  with a range-partitioned sort + per-partition offsets (all-parallel,
  one tiny driver collect of partition counts).  The vocabulary is
  orders of magnitude smaller than the corpus, so this never dominates.
- encode joins the corpus against the dictionary with an explicit
  broadcast (J1) — dictionary is ≤ tens of MB even at V=10M.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mr_lda_spark.operators.localrel import local_df

DEFAULT_TOKEN_PATTERN = r"\s+"


def tokenize(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    stopwords: Sequence[str] | None = None,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
    analyzer=None,
    analyzer_batched: bool = False,
) -> DataFrame:
    """P1–P3: whitespace tokenization + stop-word filter.

    Reference: StringTokenizer default + pluggable Lucene analyzer
    (ParseCorpus.java:182-207, U1 `-analyzer`) and broadcast stop list
    (ParseCorpus.java:733-746).  The stop filter is an `isin` on a
    literal list → Catalyst folds it into the scan-side filter; for
    very large stop lists use a broadcast anti-join instead.

    ``analyzer``: the U1 extension point, accepted in three forms (the
    default None stays JVM-side regex):

    - ``Column -> Column`` (e.g. ``analyzers.cjk_tokens``): applied
      directly — zero Python in the hot path, the form a 100 TB parse
      should use;
    - ``pd.Series -> pd.Series[list[str]]`` with ``analyzer_batched=
      True``: runs as an Arrow-batched pandas_udf (one Python call per
      record batch, vectorized transfer);
    - plain ``str -> list[str]`` callable (e.g. ``analyzers.
      cjk_bigram``): wrapped into the same Arrow-batched pandas_udf —
      per-row Python inside the batch, but never a row-at-a-time
      pickled ``F.udf`` (~10× less serialization overhead).

    Returns one row per token occurrence: (doc_id, term).
    """
    if analyzer is not None:
        token_col = _analyzer_token_col(
            analyzer, F.col(text_col), analyzer_batched
        )
    else:
        token_col = F.split(F.col(text_col), token_pattern)
    tokens = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(token_col).alias("term"),
    ).filter(F.col("term") != "")
    if stopwords:
        tokens = tokens.filter(~F.col("term").isin(list(stopwords)))
    return tokens


def _analyzer_hints(analyzer) -> list[str]:
    import inspect

    try:
        sig = inspect.signature(analyzer)
        return [str(p.annotation) for p in sig.parameters.values()] + [
            str(sig.return_annotation)
        ]
    except (TypeError, ValueError):
        return []


def _analyzer_token_col(analyzer, col, batched: bool):
    """Resolve the U1 analyzer into a token-array Column (see
    ``tokenize``).  Resolution order:

    1. **Signature annotations first** — an analyzer annotated with
       ``Column`` (parameter or return) is called directly as
       Column-native, and any error it raises propagates (silently
       demoting a buggy Column analyzer to per-row Python would mask
       the defect and lose the zero-Python path).  One annotated with
       anything else (``str``, ``pd.Series``, …) goes straight to the
       pandas path WITHOUT ever being invoked at plan time — a
       side-effectful plain analyzer must not be probed with a Column
       argument it never expected.
    2. **Call-and-see probe as the fallback** for un-annotated
       callables only: if calling it on the Column yields a Column,
       it's Column-native; otherwise it becomes ONE Arrow-batched
       pandas_udf.
    """
    from pyspark.sql import Column

    hints = _analyzer_hints(analyzer)
    if any("Column" in h for h in hints):
        out = analyzer(col)
        if not isinstance(out, Column):
            raise TypeError(
                "analyzer is annotated Column-native but returned "
                f"{type(out).__name__}, not a Column"
            )
        return out
    annotated_non_column = any(
        h not in ("<class 'inspect._empty'>", "inspect.Parameter.empty")
        and "empty" not in h
        for h in hints
    )
    if not annotated_non_column:
        try:
            out = analyzer(col)
            if isinstance(out, Column):
                return out
        except Exception:
            pass

    if batched:
        def fn(s: pd.Series) -> pd.Series:
            return analyzer(s)
    else:
        def fn(s: pd.Series) -> pd.Series:
            return s.map(lambda t: analyzer(t) if t is not None else [])

    return F.pandas_udf(fn, "array<string>")(col)


def term_stats(tokens: DataFrame) -> DataFrame:
    """A2: per-term corpus statistics (df, tf).

    Reference emits (term, (1, tf_doc)) then combiner+reducer sum
    (ParseCorpus.java:212-218,302-342); Catalyst's partial/final
    HashAggregate does the same with no user code.
    """
    return tokens.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("tf"),
    )


def filter_df_range(
    stats: DataFrame,
    num_docs: int,
    min_df_frac: float = 0.0,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """P4: document-frequency range predicate (ParseCorpus.java:455-467;
    thresholds computed from fractions at ParseCorpus.java:123-126)."""
    lo = min_df_frac * num_docs
    hi = max_df_frac * num_docs
    return stats.filter((F.col("df") >= F.lit(lo)) & (F.col("df") <= F.lit(hi)))


def assign_dense_ids(
    df: DataFrame,
    order_by: Sequence,
    id_col: str = "term_id",
    scalable: bool = True,
    num_range_partitions: int | None = None,
) -> DataFrame:
    """O1+O2: total order + sequential dense 1-based ids.

    The reference gets the total order from a 1-reducer shuffle sort and
    assigns ids with a single-threaded counter (ParseCorpus.java:465-490).

    ``scalable=True`` (default): range-partition on the sort keys, sort
    within partitions, then id = per-partition row_number + cumulative
    offset of earlier partitions (offsets are a tiny driver-side
    collect).  Fully parallel, same ids, deterministic.

    ``scalable=False``: plain global window row_number — simpler plan,
    single-partition sort, fine for small dims.
    """
    order_by = list(order_by)
    if not scalable:
        w = Window.orderBy(*order_by)
        return df.withColumn(id_col, F.row_number().over(w).cast("int"))

    n_parts = num_range_partitions or max(
        2, df.sparkSession.sparkContext.defaultParallelism
    )
    ranged = df.repartitionByRange(n_parts, *order_by)
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    # Tiny collect: one (pid, count) row per partition → cumulative
    # offsets, joined back as a broadcast dim (a CASE chain would blow
    # up the expression tree at cluster partition counts).
    counts = dict(with_pid.groupBy("__pid").count().collect())
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    offsets_df = local_df(
        spark, offsets or [(0, 0)], "__pid int, __offset long"
    )
    w = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        with_pid.join(F.broadcast(offsets_df), "__pid", "left")
        .withColumn(
            id_col,
            (F.row_number().over(w) + F.coalesce("__offset", F.lit(0))).cast("int"),
        )
        .drop("__pid", "__offset")
    )


# Below this many dictionary rows a single-partition rank window is
# cheaper than the range-partitioned path (which costs a sampling job,
# a per-partition count collect, and an offsets join).
SMALL_DICT_ROWS = 4_000_000


def build_dictionary(
    stats: DataFrame,
    num_docs: int,
    min_df_frac: float = 0.0,
    max_df_frac: float = 1.0,
    scalable: bool | str = "auto",
    max_vocab: int | None = None,
) -> DataFrame:
    """Term dictionary: df-range filter then ids 1..V by (df desc,
    tf desc, term asc).

    The reference orders by (-df, -tf) with arbitrary tie order
    (ParseCorpus.java:465-466); we add ``term asc`` as the final key so
    ids are fully deterministic (SURVEY.md §5 implication 4).  Index 0
    stays reserved (README.md:61): ids are 1-based.

    ``max_vocab`` caps the vocabulary at the top-N ranked terms — the
    standard vocabulary cap every LM pipeline applies (the reference
    has only the df-range predicate).  Because the dense ids ARE the
    ranking, the cap is a pure ``term_id <= N`` filter — zero extra
    passes, and the surviving ids stay dense 1..N.

    ``scalable='auto'`` counts the filtered stats (V rows — cheap) and
    picks the single-partition window below SMALL_DICT_ROWS, else the
    all-parallel range-partitioned path.  Both produce identical ids.
    """
    filtered = filter_df_range(stats, num_docs, min_df_frac, max_df_frac)
    order = [F.col("df").desc(), F.col("tf").desc(), F.col("term").asc()]
    if scalable == "auto":
        scalable = filtered.count() >= SMALL_DICT_ROWS
    dictionary = assign_dense_ids(filtered, order, "term_id", scalable=scalable)
    if max_vocab is not None:
        dictionary = dictionary.filter(F.col("term_id") <= max_vocab)
    return dictionary.select("term_id", "term", "df", "tf")


def build_dictionary_per_lang(
    tokens_with_lang: DataFrame,
    min_df: int = 1,
) -> DataFrame:
    """J4 support: per-language term dictionaries (polylda's
    `term_lang<i>` files, polylda/ParseCorpus.java:715-827).

    Ids are dense 1..V_l *within each language* via a lang-partitioned
    rank window — naturally parallel across languages (the reference
    runs one single-reducer sort per language).
    Input: (doc_id, lang, term) token occurrences.
    """
    stats = tokens_with_lang.groupBy("lang", "term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("tf"),
    )
    stats = stats.filter(F.col("df") >= min_df)
    w = Window.partitionBy("lang").orderBy(
        F.col("df").desc(), F.col("tf").desc(), F.col("term").asc()
    )
    return stats.withColumn("term_id", F.row_number().over(w).cast("int")).select(
        "lang", "term_id", "term", "df", "tf"
    )


def encode_corpus_poly(
    tokens: DataFrame, dicts: DataFrame, n_langs: int
) -> tuple[DataFrame, list[int]]:
    """J4: dictionary-encode a polylingual corpus.  ``tokens`` are
    (doc_id, lang, term) occurrences with ``lang`` the dense 0-based
    language index, ``dicts`` the per-language dictionaries.  Returns
    the tall (doc_id, lang, term_id, term_count) relation and V per
    language, counted in one job."""
    tall = (
        tokens.groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .join(F.broadcast(dicts.select("lang", "term", "term_id")), ["lang", "term"])
        .select(
            "doc_id", "lang", "term_id",
            F.col("term_count").cast("int").alias("term_count"),
        )
    )
    sizes = dict(dicts.groupBy("lang").count().collect())
    return tall, [sizes.get(i, 0) for i in range(n_langs)]


def polylingual_corpus(
    docs: DataFrame, langs: Sequence[str], group
) -> tuple[DataFrame, DataFrame, list[int]]:
    """A polylingual corpus from one monolingual documents table: the
    documents in ``langs`` that share ``group`` (a Column, e.g.
    ``doc_id % 150``) form one multilingual document, and every token
    of the group is counted under each language present in it.
    Returns (tall, dicts, num_terms) — ``encode_corpus_poly``'s
    relation, the per-language dictionaries and V per language."""
    docs = docs.filter(F.col("lang").isin(list(langs))).withColumn(
        "poly_doc_id", group
    )
    tokens = tokenize(docs, doc_id_col="poly_doc_id").join(
        docs.select(F.col("poly_doc_id").alias("doc_id"), "lang").distinct(),
        "doc_id",
    )
    lang_index = F.lit(None).cast("int")
    for i, lang in enumerate(langs):
        lang_index = F.when(F.col("lang") == lang, F.lit(i)).otherwise(lang_index)
    tokens = tokens.withColumn("lang", lang_index)
    dicts = build_dictionary_per_lang(tokens)
    tall, num_terms = encode_corpus_poly(tokens, dicts, len(langs))
    return tall, dicts, num_terms


def build_title_index(docs: DataFrame, title_col: str = "title") -> DataFrame:
    """Title index: dense 1-based doc ids by title order
    (ParseCorpus.java:698-710 runs this single-threaded in the driver —
    here it's the same parallel ranked-id assignment as terms)."""
    titles = docs.select(title_col).distinct()
    return assign_dense_ids(
        titles, [F.col(title_col).asc()], "doc_id", scalable=True
    ).select(F.col("doc_id").cast("long").alias("doc_id"), title_col)


def doc_term_counts(tokens: DataFrame) -> DataFrame:
    """A1: per-document bag-of-words (HMapSIW.increment per token,
    ParseCorpus.java:180-207)."""
    return tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("term_count"))


def encode_corpus(tokens: DataFrame, dictionary: DataFrame) -> DataFrame:
    """J1 + P5: dictionary-encode the corpus, dropping OOV terms
    (inner-join semantics of IndexDocumentMapper, ParseCorpus.java:580-591).
    Documents whose every term is OOV simply produce no rows — the
    COLLAPSED_DOCUMENTS drop is implicit.

    Returns the tall encoded corpus (doc_id, term_id, term_count).
    """
    counts = doc_term_counts(tokens)
    return (
        counts.join(F.broadcast(dictionary.select("term", "term_id")), "term", "inner")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("term_id"),
            F.col("term_count").cast("int").alias("term_count"),
        )
    )


def corpus_to_doc_form(corpus_tall: DataFrame) -> DataFrame:
    """Tall → document form: positionally-aligned arrays sorted by
    term_id (the Document record of Document.java:18-37).  One shuffle
    on doc_id; at scale this is the partitioning we keep for the whole
    EM loop so the E-step never reshuffles."""
    return (
        corpus_tall.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("term_id", "term_count"))
            ).alias("pairs")
        )
        .select(
            "doc_id",
            F.col("pairs.term_id").alias("term_ids"),
            F.col("pairs.term_count").alias("term_counts"),
            F.lit(None).cast("array<double>").alias("gamma"),
        )
    )


def parse_corpus(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    stopwords: Sequence[str] | None = None,
    min_df_frac: float = 0.0,
    max_df_frac: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """The whole ParseCorpus program (4 reference jobs → one plan with
    two materialization points).  Returns (dictionary, corpus_tall)."""
    tokens = tokenize(docs, text_col, doc_id_col, stopwords)
    num_docs = docs.select(doc_id_col).distinct().count()
    stats = term_stats(tokens)
    dictionary = build_dictionary(stats, num_docs, min_df_frac, max_df_frac)
    corpus = encode_corpus(tokens, dictionary)
    return dictionary, corpus
