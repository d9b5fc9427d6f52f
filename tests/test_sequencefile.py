"""SequenceFile interop: container round-trips for every compression
layout, Writable payload codecs against the reference's wire format
(Document.java:147-172/241-263), and the end-to-end contract VERDICT r2
asked for — a synthetic Mr.LDA corpus decoding to the same rows
`parse_encoded_corpus` would produce, consumable by the trainer.
"""

import io
import json
import os
import struct

import numpy as np
import pytest

from mr_lda_spark.sources import sequencefile as sf


def _doc_records(n=7):
    recs = []
    for doc_id in range(n):
        tids = [t + 1 for t in range(1 + doc_id % 3)]
        counts = [doc_id + t + 1 for t in range(len(tids))]
        gamma = [0.25 * (doc_id + 1), 1.5] if doc_id % 2 else None
        recs.append((doc_id, tids, counts, gamma))
    return recs


def _write_corpus_file(tmp_path, recs, compression):
    path = tmp_path / "corpus"
    path.mkdir(exist_ok=True)
    raw = [
        (struct.pack(">i", d), sf.encode_document(t, c, g))
        for d, t, c, g in recs
    ]
    with open(path / "part-00000", "wb") as fh:
        sf.write_records(
            fh,
            raw,
            "org.apache.hadoop.io.IntWritable",
            "cc.mrlda.Document",
            compression=compression,
        )
    return str(path)


@pytest.mark.parametrize("compression", [None, "record", "block"])
def test_container_roundtrip(tmp_path, compression):
    recs = [(struct.pack(">i", i), bytes([i % 251]) * (i * 13 % 97 + 1))
            for i in range(300)]
    buf = io.BytesIO()
    sf.write_records(
        buf, recs, "org.apache.hadoop.io.IntWritable", "cc.mrlda.Document",
        compression=compression, sync_interval=50,
    )
    out = list(sf.iter_records(buf.getvalue()))
    assert out == recs


def test_vlong_roundtrip():
    for n in [0, 1, -1, 127, -112, 128, -113, 255, 10**6, -(10**6),
              2**40, -(2**40)]:
        out = io.BytesIO()
        sf._write_vlong(out, n)
        got, off = sf._read_vlong(out.getvalue(), 0)
        assert got == n and off == len(out.getvalue())


def test_document_payload_matches_reference_layout():
    # Hand-build the byte stream the way Document.write does
    # (Document.java:241-263) and check decode_document agrees.
    raw = struct.pack(">i", 2) + struct.pack(">ii", 5, 3) + struct.pack(
        ">ii", 9, 1
    ) + struct.pack(">i", 2) + struct.pack(">dd", 0.5, 1.25)
    tids, counts, gamma = sf.decode_document(raw)
    assert tids == [5, 9] and counts == [3, 1] and gamma == [0.5, 1.25]
    # Empty content + no gamma → numEntries 0, numTopics 0.
    raw0 = struct.pack(">ii", 0, 0)
    assert sf.decode_document(raw0) == ([], [], None)
    assert sf.encode_document([5, 9], [3, 1], [0.5, 1.25]) == raw
    assert sf.encode_document([], []) == raw0


@pytest.mark.parametrize("compression", [None, "record", "block"])
def test_read_corpus_dataframe(spark, tmp_path, compression):
    recs = _doc_records()
    path = _write_corpus_file(tmp_path, recs, compression)
    rows = {
        r["doc_id"]: r for r in sf.read_corpus(spark, path).collect()
    }
    assert len(rows) == len(recs)
    for doc_id, tids, counts, gamma in recs:
        r = rows[doc_id]
        assert list(r["term_ids"]) == tids
        assert list(r["term_counts"]) == counts
        if gamma is None:
            assert r["gamma"] is None
        else:
            assert list(r["gamma"]) == pytest.approx(gamma)


def test_write_corpus_roundtrip(spark, tmp_path):
    recs = _doc_records(11)
    (tmp_path / "in").mkdir()
    src = _write_corpus_file(tmp_path / "in", recs, "record")
    df = sf.read_corpus(spark, src)
    out_dir = str(tmp_path / "out")
    n_parts = sf.write_corpus(df.repartition(3), out_dir, compression="record")
    assert n_parts == 3
    back = {r["doc_id"]: r for r in sf.read_corpus(spark, out_dir).collect()}
    assert len(back) == len(recs)
    for doc_id, tids, counts, gamma in recs:
        assert list(back[doc_id]["term_ids"]) == tids
        assert list(back[doc_id]["term_counts"]) == counts


def test_term_dict_title_alpha_readers(spark, tmp_path):
    tdir = tmp_path / "term"
    tdir.mkdir()
    terms = [(1, "apple"), (2, "banana"), (3, "ñandú")]
    with open(tdir / "part-00000", "wb") as fh:

        def enc_text(s):
            out = io.BytesIO()
            sf._write_text(out, s)
            return out.getvalue()

        sf.write_records(
            fh,
            [(struct.pack(">i", i), enc_text(t)) for i, t in terms],
            "org.apache.hadoop.io.IntWritable",
            "org.apache.hadoop.io.Text",
            compression="record",
        )
    got = {
        r["term_id"]: r["term"]
        for r in sf.read_term_dict(spark, str(tdir)).collect()
    }
    assert got == dict(terms)

    adir = tmp_path / "alpha"
    adir.mkdir()
    # Reference alpha files carry 1-based topic keys (exportAlpha
    # writes i+1); read_alpha shifts to the engine's 0-based topics.
    alphas = [(1, 0.25), (2, 0.5)]
    with open(adir / "part-00000", "wb") as fh:
        sf.write_records(
            fh,
            [(struct.pack(">i", k), struct.pack(">d", v)) for k, v in alphas],
            "org.apache.hadoop.io.IntWritable",
            "org.apache.hadoop.io.DoubleWritable",
        )
    got = {
        r["topic"]: r["alpha"] for r in sf.read_alpha(spark, str(adir)).collect()
    }
    assert got == pytest.approx({k - 1: v for k, v in alphas})


def test_sequencefile_corpus_trains(spark, tmp_path):
    """The ingested corpus feeds plans.lda.train directly — the
    migration path off the reference (VERDICT r2 gap #2)."""
    from mr_lda_spark.plans import lda

    rng = np.random.default_rng(7)
    recs = []
    for doc_id in range(40):
        tids = sorted(rng.choice(np.arange(1, 30), size=5, replace=False))
        counts = rng.integers(1, 4, size=5)
        recs.append((doc_id, [int(t) for t in tids], [int(c) for c in counts], None))
    path = _write_corpus_file(tmp_path, recs, "record")
    corpus = sf.read_corpus(spark, path)
    _, state = lda.train(
        spark, corpus, num_terms=29, num_topics=3,
        max_iterations=2, max_gamma_iter=10, seed=3,
    )
    assert state.elog_beta.shape == (30, 3)
    assert np.isfinite(state.elbo)


def test_poly_document_roundtrip_and_train(spark, tmp_path):
    """polylda.Document wire format (polylda/Document.java:176-214,
    259-287): null language slots, per-language maps, gamma — and the
    decoded corpus feeds plans.lda.train."""
    raw = sf.encode_poly_document([[1, 3], []], [[2, 1], []], [0.5, 0.5])
    ids, counts, gamma = sf.decode_poly_document(raw)
    assert ids == [[1, 3], []] and counts == [[2, 1], []]
    assert gamma == [0.5, 0.5]

    rng = np.random.default_rng(11)
    path = tmp_path / "poly"
    path.mkdir()
    recs = []
    for doc_id in range(30):
        l0 = sorted(rng.choice(np.arange(1, 15), size=3, replace=False))
        l1 = (
            sorted(rng.choice(np.arange(1, 12), size=2, replace=False))
            if doc_id % 3
            else []
        )
        recs.append(
            (
                struct.pack(">i", doc_id),
                sf.encode_poly_document(
                    [[int(t) for t in l0], [int(t) for t in l1]],
                    [[1] * len(l0), [2] * len(l1)],
                ),
            )
        )
    with open(path / "part-00000", "wb") as fh:
        sf.write_records(
            fh, recs, "org.apache.hadoop.io.IntWritable",
            "cc.mrlda.polylda.Document", compression="record",
        )
    corpus = sf.read_poly_corpus(spark, str(path))
    assert corpus.count() == 30
    row = corpus.filter("doc_id = 0").collect()[0]
    assert list(row["lang_term_ids"][1]) == []  # doc 0 misses lang 1

    from mr_lda_spark.plans import lda

    _, state = lda.train(
        spark, corpus, num_terms=[14, 11], num_topics=2,
        max_iterations=2, max_gamma_iter=8, seed=5,
    )
    assert len(state.elog_betas) == 2
    assert state.elog_betas[0].shape == (15, 2)


def test_cli_convert_and_ldac_export(spark, tmp_path):
    from mr_lda_spark import cli

    recs = _doc_records(9)
    src = _write_corpus_file(tmp_path, recs, "record")
    out = str(tmp_path / "corpus_parquet")
    cli.main(["convert", "--direction", "to-parquet", "--what", "corpus",
              "--input", src, "--output", out])
    assert spark.read.parquet(out).count() == len(recs)

    # Tiny model → lda-c export: K rows of V log-probs, each summing to 1.
    from mr_lda_spark.plans.lda import LdaState, beta_dataframe

    # shape (V+1, K) with row 0 unused: V=3, K=2
    elog = np.vstack([np.zeros((1, 2)), np.log(np.array(
        [[0.1, 0.7], [0.3, 0.2], [0.6, 0.1]]))])
    state = LdaState(alpha=np.array([0.05, 0.15]), elog_beta=elog)
    beta_dir = str(tmp_path / "beta")
    beta_dataframe(spark, state).write.parquet(beta_dir)
    alpha_file = str(tmp_path / "alpha.json")
    with open(alpha_file, "w") as fh:
        json.dump({"alpha": state.alpha.tolist()}, fh)
    prefix = str(tmp_path / "model.ldac")
    cli.main(["export-ldac", "--beta", beta_dir, "--alpha", alpha_file,
              "--prefix", prefix])
    lines = open(prefix + ".beta").read().strip().split("\n")
    assert len(lines) == 2  # K rows
    for line in lines:
        vals = np.array([float(x) for x in line.split()])
        assert len(vals) == 3  # V columns
        assert np.exp(vals).sum() == pytest.approx(1.0, abs=1e-6)
    other = dict(
        line.split() for line in open(prefix + ".other").read().splitlines()
    )
    assert other["num_topics"] == "2" and other["num_terms"] == "3"
    assert float(other["alpha"]) == pytest.approx(0.1)


def test_cli_train_resumes_reference_run(spark, tmp_path, capsys):
    """Full migration story: a reference run stopped mid-training
    (document-<iter> with embedded gamma + alpha-<iter>) resumes in
    this engine via `train --input-format sequencefile`."""
    from mr_lda_spark import cli

    rng = np.random.default_rng(13)
    corpus_dir = tmp_path / "document-5"
    corpus_dir.mkdir()
    K = 3
    recs = []
    for doc_id in range(25):
        tids = sorted(rng.choice(np.arange(1, 20), size=4, replace=False))
        gam = rng.random(K) + 0.5
        recs.append(
            (
                struct.pack(">i", doc_id),
                sf.encode_document(
                    [int(t) for t in tids], [1, 2, 1, 1], [float(g) for g in gam]
                ),
            )
        )
    with open(corpus_dir / "part-00000", "wb") as fh:
        sf.write_records(
            fh, recs, "org.apache.hadoop.io.IntWritable",
            "cc.mrlda.Document", compression="record",
        )
    alpha_dir = tmp_path / "alpha-5"
    alpha_dir.mkdir()
    alpha = [0.4, 0.3, 0.3]
    with open(alpha_dir / "part-00000", "wb") as fh:
        sf.write_records(
            fh,
            [
                (struct.pack(">i", k + 1), struct.pack(">d", a))
                for k, a in enumerate(alpha)
            ],
            "org.apache.hadoop.io.IntWritable",
            "org.apache.hadoop.io.DoubleWritable",
        )
    out = str(tmp_path / "resumed")
    cli.main([
        "train", "--input", str(corpus_dir), "--output", out,
        "--input-format", "sequencefile", "--alpha-index", str(alpha_dir),
        "--topic", str(K), "--term", "19", "--iteration", "2",
        "--gamma-iteration", "8",
    ])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["iterations"] == 2
    assert np.isfinite(result["final_elbo"])
    gamma_out = spark.read.parquet(
        str(tmp_path / "resumed" / "gamma-2")
    )
    assert gamma_out.count() == 25


def test_beta_payload_matches_cloud9_layout():
    # PairOfIntFloat: int left, float right; HMapIDW: int n, (int,double)*n
    key = struct.pack(">if", 3, 1.5)
    assert sf.decode_pair_int_float(key) == (3, 1.5)
    assert sf.encode_pair_int_float(3, 1.5) == key
    val = struct.pack(">i", 2) + struct.pack(">id", 7, -0.25) + struct.pack(
        ">id", 11, -3.5
    )
    assert sf.decode_hmap_idw(val) == ([7, 11], [-0.25, -3.5])
    assert sf.encode_hmap_idw([7, 11], [-0.25, -3.5]) == val
    assert sf.decode_hmap_idw(struct.pack(">i", 0)) == ([], [])


def test_read_beta_applies_reference_normalization(spark, tmp_path):
    """A reference-written beta file stores digamma(lambda) values with
    digamma(sum lambda) in the key float; importBeta subtracts
    (DocumentMapper.java:497-513).  read_beta must agree, including the
    1-based -> 0-based topic shift."""
    path = tmp_path / "beta-ref"
    path.mkdir()
    recs = [
        (
            sf.encode_pair_int_float(1, 2.5),
            sf.encode_hmap_idw([4, 9], [1.0, 2.0]),
        ),
        (
            sf.encode_pair_int_float(2, -0.5),
            sf.encode_hmap_idw([4], [-1.0]),
        ),
    ]
    with open(path / "part-00000", "wb") as fh:
        sf.write_records(
            fh, recs, "edu.umd.cloud9.io.pair.PairOfIntFloat",
            "edu.umd.cloud9.io.map.HMapIDW", compression="record",
        )
    rows = {
        (r["topic"], r["term_id"]): r["log_beta"]
        for r in sf.read_beta(spark, str(path)).collect()
    }
    assert rows == {
        (0, 4): pytest.approx(1.0 - 2.5),
        (0, 9): pytest.approx(2.0 - 2.5),
        (1, 4): pytest.approx(-1.0 - (-0.5)),
    }


@pytest.mark.parametrize("compression", [None, "record", "block"])
def test_write_beta_roundtrip(spark, tmp_path, compression):
    """write_beta -> read_beta is bit-exact (zero normalizer), one
    record per topic, tolerating an empty reducer part file alongside."""
    from mr_lda_spark.plans.lda import LdaState, beta_dataframe

    rng = np.random.default_rng(5)
    K, V = 4, 30
    elog = np.vstack([np.zeros((1, K)), np.log(rng.random((V, K)) + 1e-3)])
    state = LdaState(alpha=np.full(K, 0.1), elog_beta=elog)
    beta = beta_dataframe(spark, state)
    out = tmp_path / "beta-out"
    n = sf.write_beta(beta, str(out), compression=compression)
    assert n >= 1
    # one record per topic across all part files
    n_recs = 0
    for part in sorted(out.iterdir()):
        n_recs += sum(1 for _ in sf.iter_records(part.read_bytes()))
    assert n_recs == K
    (out / "part-00099").write_bytes(b"")  # empty reducer output
    got = sf.read_beta(spark, str(out)).collect()
    assert len(got) == K * V
    expect = {
        (r["topic"], r["term_id"]): r["log_beta"] for r in beta.collect()
    }
    for r in got:
        assert r["log_beta"] == expect[(r["topic"], r["term_id"])]


def test_read_corpus_tolerates_zero_byte_parts_names_truncated(
    spark, tmp_path
):
    """ADVICE r4 guards: (a) a zero-byte part-* file (MapReduce reducers
    routinely emit them) must not break the distributed read; (b) a
    genuinely truncated part must fail with an error NAMING the file."""
    recs = _doc_records()
    path = _write_corpus_file(tmp_path, recs, "record")
    (tmp_path / "corpus" / "part-00001").write_bytes(b"")
    rows = sf.read_corpus(spark, path).collect()
    assert len(rows) == len(recs)

    # Truncate a copy of the valid part mid-stream.
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    good = (tmp_path / "corpus" / "part-00000").read_bytes()
    (bad_dir / "part-00000").write_bytes(good[: len(good) - 7])
    with pytest.raises(Exception) as ei:
        sf.read_corpus(spark, str(bad_dir)).collect()
    assert "part-00000" in str(ei.value)


def test_display_topic_reads_beta_sequencefile_directly(
    spark, tmp_path, capsys
):
    """VERDICT r4 next #6: the reference's DisplayTopic flow
    (DisplayTopic.java:110-138) runs straight off a SequenceFile beta
    directory — `display-topic --input <beta-seqfile>` must rank
    identically to top_terms_per_topic over the round-tripped
    DataFrame, no convert step in between."""
    from mr_lda_spark import cli
    from mr_lda_spark.operators.display import top_terms_per_topic
    from mr_lda_spark.plans.lda import LdaState, beta_dataframe

    rng = np.random.default_rng(23)
    K, V = 4, 15
    elog = np.vstack([np.zeros((1, K)), np.log(rng.random((V, K)) + 1e-3)])
    state = LdaState(alpha=np.full(K, 0.1), elog_beta=elog)
    beta = beta_dataframe(spark, state)

    seq_dir = str(tmp_path / "beta-seq")
    sf.write_beta(beta, seq_dir)
    cli.main(["display-topic", "--input", seq_dir, "--top-display", "5"])
    cli_lines = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("topic")
    ]
    expect = [
        f"topic {r['topic']}\t{r['term_id']}\t{r['log_beta']:.6f}"
        for r in top_terms_per_topic(
            sf.read_beta(spark, seq_dir), None, k=5
        ).orderBy("topic", "rank").collect()
    ]
    assert cli_lines == expect and len(cli_lines) == K * 5


def test_cli_convert_beta_display_topic(spark, tmp_path, capsys):
    """VERDICT r3 #3 contract: convert --what beta ingests a synthetic
    reference beta file, and display-topic over the imported parquet
    ranks identically to top_terms_per_topic on the original relation."""
    from mr_lda_spark import cli
    from mr_lda_spark.operators.display import top_terms_per_topic
    from mr_lda_spark.plans.lda import LdaState, beta_dataframe

    rng = np.random.default_rng(11)
    K, V = 3, 12
    elog = np.vstack([np.zeros((1, K)), np.log(rng.random((V, K)) + 1e-3)])
    state = LdaState(alpha=np.full(K, 0.1), elog_beta=elog)
    beta = beta_dataframe(spark, state)

    seq_dir = str(tmp_path / "beta-seq")
    pq_dir = str(tmp_path / "beta-pq")
    src = str(tmp_path / "beta-src-pq")
    beta.write.parquet(src)
    cli.main(["convert", "--direction", "to-sequencefile", "--what", "beta",
              "--input", src, "--output", seq_dir])
    capsys.readouterr()
    cli.main(["convert", "--direction", "to-parquet", "--what", "beta",
              "--input", seq_dir, "--output", pq_dir])
    capsys.readouterr()
    cli.main(["display-topic", "--input", pq_dir, "--top-display", "4"])
    cli_lines = [
        ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("topic")
    ]
    expect = [
        f"topic {r['topic']}\t{r['term_id']}\t{r['log_beta']:.6f}"
        for r in top_terms_per_topic(beta, None, k=4)
        .orderBy("topic", "rank").collect()
    ]
    assert cli_lines == expect


def test_write_term_dict_title_alpha_roundtrip(spark, tmp_path):
    """Export side of the remaining reference artifacts: term dict,
    title index and alpha all round-trip through their Writable
    layouts via the readers that already ingest reference output."""
    dictionary = spark.createDataFrame(
        [(1, "spark"), (2, "query"), (3, "join")],
        "term_id int, term string",
    )
    d = str(tmp_path / "term")
    assert sf.write_term_dict(dictionary, d) >= 1
    assert sorted(map(tuple, sf.read_term_dict(spark, d).collect())) == [
        (1, "spark"), (2, "query"), (3, "join"),
    ]

    titles = spark.createDataFrame(
        [(10, "doc ten"), (11, "doc eleven")], "doc_id int, title string"
    )
    t = str(tmp_path / "title")
    assert sf.write_title_index(titles, t) >= 1
    assert sorted(map(tuple, sf.read_title_index(spark, t).collect())) == [
        (10, "doc ten"), (11, "doc eleven"),
    ]

    alpha = spark.createDataFrame(
        [(0, 0.25), (1, 0.125), (2, 0.0625)], "topic int, alpha double"
    )
    a = str(tmp_path / "alpha")
    assert sf.write_alpha(alpha, a) == 3  # K topics written
    assert os.path.isfile(a)  # single file, like the reference's alpha-<iter>
    # On-wire keys are 1-based (importAlpha rejects key 0); the
    # round-trip through read_alpha restores 0-based topics bit-exact.
    with open(a, "rb") as fh:
        raw_keys = [
            struct.unpack(">i", k)[0]
            for k, _ in sf._iter_blob_records(a, fh.read())
        ]
    assert raw_keys == [1, 2, 3]
    back = sorted(map(tuple, sf.read_alpha(spark, a).collect()))
    assert back == [(0, 0.25), (1, 0.125), (2, 0.0625)]  # bit-exact


def test_cli_convert_exports_term_title_alpha(spark, tmp_path, capsys):
    from mr_lda_spark import cli

    dictionary = spark.createDataFrame(
        [(1, "spark"), (2, "query")], "term_id int, term string"
    )
    pq = str(tmp_path / "dict-pq")
    dictionary.write.parquet(pq)
    out = str(tmp_path / "dict-seq")
    cli.main(["convert", "--direction", "to-sequencefile", "--what", "term",
              "--input", pq, "--output", out])
    capsys.readouterr()
    assert sorted(map(tuple, sf.read_term_dict(spark, out).collect())) == [
        (1, "spark"), (2, "query"),
    ]
