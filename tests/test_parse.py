"""ParseCorpus-pipeline correctness vs a DuckDB oracle on real testdata.

Mirrors the driver's t2 gate: every relational operator's output is
checked row-for-row against an equivalent ANSI-SQL query.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from mr_lda_spark.operators import parse


def _duck(sf_dir, sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return con.execute(sql).fetchall()


def test_term_stats_matches_duckdb(spark, documents, sf_dir):
    tokens = parse.tokenize(documents)
    got = sorted(
        parse.term_stats(tokens).collect(),
        key=lambda r: r["term"],
    )
    want = _duck(
        sf_dir,
        """
        SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> ''
        GROUP BY term ORDER BY term
        """,
    )
    assert [(r["term"], r["df"], r["tf"]) for r in got] == want


def test_dictionary_ids_dense_and_ordered(spark, documents):
    tokens = parse.tokenize(documents)
    stats = parse.term_stats(tokens)
    n_docs = documents.count()
    d = parse.build_dictionary(stats, n_docs).collect()
    ids = sorted(r["term_id"] for r in d)
    assert ids == list(range(1, len(d) + 1)), "ids must be dense 1..V"
    by_id = sorted(d, key=lambda r: r["term_id"])
    keys = [(-r["df"], -r["tf"], r["term"]) for r in by_id]
    assert keys == sorted(keys), "ids must follow (df desc, tf desc, term asc)"


def test_scalable_ids_match_window_ids(spark, documents):
    tokens = parse.tokenize(documents)
    stats = parse.term_stats(tokens)
    n = documents.count()
    a = parse.build_dictionary(stats, n, scalable=True).collect()
    b = parse.build_dictionary(stats, n, scalable=False).collect()
    assert sorted((r["term_id"], r["term"]) for r in a) == sorted(
        (r["term_id"], r["term"]) for r in b
    )


def test_df_range_filter(spark, documents):
    tokens = parse.tokenize(documents)
    stats = parse.term_stats(tokens)
    n = documents.count()
    filtered = parse.filter_df_range(stats, n, min_df_frac=0.01, max_df_frac=0.5)
    rows = filtered.collect()
    assert all(0.01 * n <= r["df"] <= 0.5 * n for r in rows)


def test_encode_corpus_matches_duckdb(spark, documents, sf_dir):
    stop = ["the", "a"]
    tokens = parse.tokenize(documents, stopwords=stop)
    stats = parse.term_stats(tokens)
    n = documents.count()
    dictionary = parse.build_dictionary(stats, n, min_df_frac=0.02)
    corpus = parse.encode_corpus(tokens, dictionary)
    got = sorted(
        ((r["doc_id"], r["term_id"], r["term_count"]) for r in corpus.collect())
    )
    want = _duck(
        sf_dir,
        f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents
        ), tok2 AS (
          SELECT * FROM tok WHERE term <> '' AND term NOT IN ('the', 'a')
        ), stats AS (
          SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
          FROM tok2 GROUP BY term
        ), dict AS (
          SELECT term,
                 row_number() OVER (ORDER BY df DESC, tf DESC, term ASC) AS term_id
          FROM stats
          WHERE df >= 0.02 * (SELECT count(*) FROM documents)
        )
        SELECT t.doc_id, d.term_id, count(*) AS term_count
        FROM tok2 t JOIN dict d USING (term)
        GROUP BY 1, 2 ORDER BY 1, 2
        """,
    )
    assert got == [(a, b, c) for a, b, c in want]


def test_corpus_doc_form_alignment(spark, documents):
    tokens = parse.tokenize(documents)
    stats = parse.term_stats(tokens)
    dictionary = parse.build_dictionary(stats, documents.count())
    tall = parse.encode_corpus(tokens, dictionary)
    doc_form = parse.corpus_to_doc_form(tall)
    row = doc_form.filter(F.col("doc_id") == 0).collect()[0]
    assert row["term_ids"] == sorted(row["term_ids"])
    assert len(row["term_ids"]) == len(row["term_counts"])
    # Total token mass preserved.
    total_tall = tall.agg(F.sum("term_count")).collect()[0][0]
    total_doc = doc_form.select(
        F.explode("term_counts").alias("c")
    ).agg(F.sum("c")).collect()[0][0]
    assert total_tall == total_doc


def test_parse_shared_single_token_cache(spark, sf_dir):
    """r15: _parse_shared tokenizes ONCE — tokens_stop is a filter view
    over the persisted raw token cache, value-identical to
    tokenize(docs, stopwords=STOPWORDS), and holds no second cache."""
    from mr_lda_spark import queries_registry as qr

    docs, _, tokens_raw, tokens_stop, dictionary = qr._parse_shared(spark, sf_dir)
    try:
        assert tokens_raw.storageLevel.useMemory  # the one token cache
        assert not tokens_stop.storageLevel.useMemory  # a view, not a cache
        got = sorted(map(tuple, tokens_stop.collect()))
        want = sorted(
            map(tuple, parse.tokenize(docs, stopwords=qr.STOPWORDS).collect())
        )
        assert got == want
    finally:  # the owner unpersists the entry; a later caller rebuilds it
        qr.WORKSPACE.release(("_parse_shared", sf_dir))
    assert not tokens_raw.storageLevel.useMemory
    assert not dictionary.storageLevel.useMemory
