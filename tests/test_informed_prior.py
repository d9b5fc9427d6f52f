"""Informed prior: seeded words must dominate their seeded topic."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mr_lda_spark.operators import parse
from mr_lda_spark.operators.informed_prior import parse_informed_prior
from mr_lda_spark.plans import lda


def test_parse_informed_prior(spark, documents, tmp_path):
    tokens = parse.tokenize(documents)
    dictionary = parse.build_dictionary(
        parse.term_stats(tokens), documents.count()
    )
    prior_file = tmp_path / "prior.txt"
    prior_file.write_text("spark query\njoin merge notaword\n")
    eta = parse_informed_prior(spark, str(prior_file), dictionary)
    rows = {(r["topic"], r["term_id"]) for r in eta.collect()}
    terms = {r["term"]: r["term_id"] for r in dictionary.collect()}
    assert (0, terms["spark"]) in rows
    assert (0, terms["query"]) in rows
    assert (1, terms["join"]) in rows
    # OOV seed word dropped, not fatal.
    assert len(rows) == 4


@pytest.mark.slow
def test_informed_prior_steers_topics(spark, documents):
    tokens = parse.tokenize(documents)
    dictionary = parse.build_dictionary(
        parse.term_stats(tokens), documents.count()
    )
    corpus_doc = parse.corpus_to_doc_form(
        parse.encode_corpus(tokens, dictionary)
    )
    num_terms = dictionary.count()
    terms = {r["term"]: r["term_id"] for r in dictionary.collect()}
    K = 3
    seed_words = ["spark", "query"]
    eta_rows = spark.createDataFrame(
        [(0, terms[w]) for w in seed_words], schema="topic int, term_id int"
    )
    _, state = lda.train(
        spark,
        corpus_doc,
        num_terms,
        K,
        max_iterations=3,
        max_gamma_iter=10,
        eta_seeds=eta_rows,
        seed=5,
    )
    # Seeded words' beta mass must concentrate in topic 0.
    for w in seed_words:
        row = state.elog_beta[terms[w]]
        assert int(np.argmax(row)) == 0, (w, row)


def test_informed_topics_query_seeds_dominate(spark):
    """The registered informed-prior query: each topic's top terms
    must include at least one of its 3 seed terms (log-1000 prior
    pull)."""
    from mr_lda_spark import queries_registry as qr

    rows = qr.QUERIES["lda_informed_topics"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r["topic"], []).append(r["term_id"])
    assert len(by_topic) == qr.LDA_K
    for topic, term_ids in by_topic.items():
        seeds = {topic * 3 + 1, topic * 3 + 2, topic * 3 + 3}
        assert seeds & set(term_ids), (topic, term_ids)


def test_eta_sequencefile_roundtrip_reference_layout(spark, tmp_path):
    """read_eta/write_eta speak the reference's informed-prior wire
    format: SequenceFile<IntWritable topic(1-based),
    ArrayListOfIntsWritable termIds> in ONE file
    (InformedPrior.java:122-167)."""
    import struct

    from mr_lda_spark.sources import sequencefile as sf

    # byte layout pin: cloud9 ArrayListOfIntsWritable = count + ints
    assert sf.encode_int_array([5, 9, 2]) == struct.pack(">iiii", 3, 5, 9, 2)
    assert sf.decode_int_array(struct.pack(">iii", 2, 7, 1)) == [7, 1]
    assert sf.decode_int_array(struct.pack(">i", 0)) == []

    eta = spark.createDataFrame(
        [(0, 5), (0, 2), (1, 9)], schema="topic int, term_id int"
    )
    path = str(tmp_path / "eta-seq")
    assert sf.write_eta(eta, path) == 2
    # single FILE, not a directory — the reference's layout
    import os

    assert os.path.isfile(path)
    with open(path, "rb") as fh:
        assert fh.read(3) == b"SEQ"
    back = sorted(
        (r["topic"], r["term_id"])
        for r in sf.read_eta(spark, path).collect()
    )
    assert back == [(0, 2), (0, 5), (1, 9)]
    # keys on disk are 1-based (importEta asserts > 0)
    with open(path, "rb") as fh:
        recs = list(sf.iter_records(fh.read()))
    assert [struct.unpack(">i", k)[0] for k, _ in recs] == [1, 2]


def test_cli_informed_prior_sequencefile_output(
    spark, documents, tmp_path, capsys
):
    """`informed-prior --output-format sequencefile` emits the
    reference artifact, and it decodes to the same eta relation the
    parquet path produces."""
    from mr_lda_spark import cli
    from mr_lda_spark.operators import parse
    from mr_lda_spark.sources import sequencefile as sf

    tokens = parse.tokenize(documents)
    dictionary = parse.build_dictionary(
        parse.term_stats(tokens), documents.count()
    )
    dict_pq = str(tmp_path / "dict")
    dictionary.write.parquet(dict_pq)
    prior_file = tmp_path / "prior.txt"
    prior_file.write_text("spark query\njoin merge\n")

    seq_out = str(tmp_path / "eta.seq")
    cli.main(["informed-prior", "--input", str(prior_file),
              "--index", dict_pq, "--output", seq_out,
              "--output-format", "sequencefile"])
    capsys.readouterr()
    pq_out = str(tmp_path / "eta-pq")
    cli.main(["informed-prior", "--input", str(prior_file),
              "--index", dict_pq, "--output", pq_out])
    capsys.readouterr()

    assert cli._is_sequencefile_path(seq_out)
    assert not cli._is_sequencefile_path(pq_out)
    a = sorted(map(tuple, sf.read_eta(spark, seq_out).collect()))
    b = sorted(map(tuple, spark.read.parquet(pq_out)
                   .select("topic", "term_id").collect()))
    assert a == b and len(a) == 4
