"""``train-poly --test`` on a model directory it cannot score with:
a named error before any E-step (in-process ``cli.main``)."""

import json

import pytest

from mr_lda_spark import cli
from mr_lda_spark.plans import lda


def test_incomplete_model_directory_is_a_named_error(spark, tmp_path, monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", spark.conf.get("spark.sql.shuffle.partitions")
    )
    corpus = tmp_path / "poly.txt"
    corpus.write_text("doc0\tcat sat\tgato\ndoc1\tcat\tnull\n")
    model = tmp_path / "model"
    spark.createDataFrame(
        [(0, 1, "cat", 2, 2), (0, 2, "sat", 1, 1), (1, 1, "gato", 1, 1)],
        "lang int, term_id int, term string, df long, tf long",
    ).write.parquet(str(model / "term"))

    def no_estep(*args, **kwargs):
        raise RuntimeError("E-step reached")

    monkeypatch.setattr(lda, "infer", no_estep)

    def score(languages: int):
        cli.main([
            "train-poly", "--input", str(corpus), "--output", str(tmp_path / "out"),
            "--language", str(languages), "--topic", "2", "--test", str(model),
        ])

    with pytest.raises(FileNotFoundError, match=r"alpha-\*\.json") as err:
        score(2)
    assert str(model) in str(err.value)
    (model / "alpha-1.json").write_text(json.dumps({"alpha": [0.5, 0.5]}))
    spark.createDataFrame(
        [(k, v, -1.0) for k in range(2) for v in (1, 2)],
        "topic int, term_id int, log_beta double",
    ).write.parquet(str(model / "beta-lang0-1"))
    # --language larger than the model's: no beta-lang1-*.
    with pytest.raises(FileNotFoundError, match=r"beta-lang1-\*") as err:
        score(2)
    assert str(model) in str(err.value)
    with pytest.raises(RuntimeError, match="E-step reached"):
        score(1)
