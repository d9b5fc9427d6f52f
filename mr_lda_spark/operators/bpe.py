"""Distributed BPE tokenizer training (Sennrich et al. 2016, the
subword vocabulary every large-scale LM pipeline learns over its
corpus) — the missing piece between this engine's token *counting*
(``textops.token_counts``) and an actual trained tokenizer.

Spark-first shape:

- The corpus-sized work happens ONCE: a whitespace word-count
  aggregation.  Everything after operates on the (word, count)
  relation, which is vocabulary-sized (10^6–10^7 rows at 100 TB) and
  stays distributed.
- Each merge iteration is one explode→groupBy pair-count aggregation
  over that relation plus a 1-ROW driver pull (the argmax pair) and a
  vocabulary-local merge application — O(vocab) per merge, never
  another corpus pass.  Classic single-node trainers incrementally
  patch pair counts instead of recounting; at Spark's granularity the
  recount is one cheap shuffle over a small relation and keeps the
  loop stateless/restartable.
- Tie-breaks are lexicographic (count DESC, left ASC, right ASC), so
  training is DETERMINISTIC — same corpus, same merges, any cluster
  layout.  The first iteration's pair counts are plain SQL and
  oracle-checked (``text_bpe_pair_counts``); the merge loop itself is
  iterative-argmax and therefore rows-only, pinned by a pytest golden
  against an independent pure-Python reference implementation.

End-of-word marker: ``</w>`` is appended as a separate final symbol of
every word (the Sennrich convention), so merges distinguish suffixes
from mid-word units.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mr_lda_spark.operators.lifecycle import drop_cut
from mr_lda_spark.operators.localrel import local_df

EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace word counts — the ONE corpus-sized pass.  Returns
    (word, count), distributed."""
    return (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.col(text_col), r"\s+"), lambda t: t != ""
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """(word, count) → (syms ARRAY<STRING>, count): characters plus the
    ``</w>`` end-of-word marker.  ``F.split(word, '')`` chars the word
    JVM-side (no UDF); Spark's split emits boundary empties, filtered
    out here."""
    return words.select(
        F.concat(
            F.filter(F.split("word", ""), lambda c: c != ""),
            F.array(F.lit(EOW)),
        ).alias("syms"),
        "count",
    )


def pair_counts(syms: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the symbol relation: one explode of
    the (|word|−1) adjacent pairs weighted by word count, one groupBy.
    Returns (left, right, pair_count)."""
    pairs = syms.select(
        F.posexplode(F.slice("syms", 1, F.size("syms") - 1)).alias(
            "i", "left"
        ),
        F.col("syms"),
        F.col("count"),
    ).select(
        "left",
        F.element_at("syms", F.col("i") + 2).alias("right"),
        "count",
    )
    return pairs.groupBy("left", "right").agg(
        F.sum("count").alias("pair_count")
    )


def _merge_pair_kernel(left: str, right: str):
    """Replace every adjacent (left, right) in each word's symbol list
    with the merged symbol — the vocabulary-local BPE step.  A pandas
    UDF: the scan is inherently sequential per word, and the relation
    is vocab-sized, not corpus-sized."""
    merged = left + right

    @F.pandas_udf("array<string>")
    def apply(col: pd.Series) -> pd.Series:
        out = []
        for syms in col:
            syms = list(syms)
            res = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return apply


def train_bpe(
    docs: DataFrame,
    num_merges: int = 50,
    min_pair_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus.  Returns the
    merge table (rank, left, right, pair_count) in learned order —
    what ``encode_bpe`` consumes.  Stops early when the best remaining
    pair falls under ``min_pair_count``.

    Driver traffic: exactly one row per merge (the argmax pair).  The
    symbol relation localCheckpoints each iteration so lineage stays
    flat across merges; each cut is freed once the next one is built,
    and the last before returning (the merge table is built from the
    collected rows)."""
    spark = docs.sparkSession
    syms = _initial_symbols(word_counts(docs, text_col)).localCheckpoint()
    merges = []
    try:
        for rank in range(num_merges):
            best = (
                pair_counts(syms)
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("left").asc(),
                    F.col("right").asc(),
                )
                .limit(1)
                .collect()
            )
            if not best or best[0]["pair_count"] < min_pair_count:
                break
            b = best[0]
            merges.append((rank, b["left"], b["right"], int(b["pair_count"])))
            merged = syms.select(
                _merge_pair_kernel(b["left"], b["right"])(F.col("syms")).alias(
                    "syms"
                ),
                "count",
            ).localCheckpoint()  # eager: built before its source goes
            drop_cut(syms)
            syms = merged
    finally:
        drop_cut(syms)
    return local_df(
        spark, merges, "rank int, left string, right string, pair_count long"
    )


def encode_bpe(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize documents with a trained merge table: per word, apply
    the merges in rank order (the standard greedy BPE encoder).
    Returns (doc_id, n_words, n_bpe_tokens, bpe_tokens ARRAY<STRING>).

    The merge list is model-sized (collected once, shipped in the UDF
    closure); encoding memoizes per distinct word within each Arrow
    batch, so hot words pay the merge scan once per batch."""
    ranked = [
        (r["left"], r["right"])
        for r in sorted(merges.collect(), key=lambda r: r["rank"])
    ]

    def encode_word(word: str, cache: dict) -> list:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word) + [EOW]
        for left, right in ranked:
            if len(syms) < 2:
                break
            res = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        cache[word] = syms
        return syms

    @F.pandas_udf("array<string>")
    def tokenize(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for text in texts:
            toks = []
            for w in (text or "").split():
                toks.extend(encode_word(w, cache))
            out.append(toks)
        return pd.Series(out)

    return docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("n_words"),
        tokenize(F.col(text_col)).alias("bpe_tokens"),
    ).select(
        "doc_id",
        "n_words",
        F.size("bpe_tokens").alias("n_bpe_tokens"),
        "bpe_tokens",
    )
