import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Modules that exercise the EM trainers/scorers; the fast tier's
# deselection count for them is reported on its own line.
LDA_FAMILY = (
    "test_lda", "test_lda_join", "test_polylda", "test_polylda_join",
    "test_lda_stream", "test_truncate_beta", "test_informed_prior",
    "test_lifecycle", "test_cli", "test_cli_poly", "test_mllib_crosscheck",
    "test_sequencefile", "test_lda_golden", "test_lda_shapes",
    "test_lda_iteration",
)
_deselected: list = []


def pytest_deselected(items):
    _deselected.extend(items)


def pytest_terminal_summary(terminalreporter, config):
    """Say what the default ``-m "not slow"`` run hides: how many
    slow-marked tests it deselected, and how many of those cover the
    LDA family."""
    if "not slow" not in (config.getoption("markexpr") or ""):
        return
    slow = [i for i in _deselected if i.get_closest_marker("slow")]
    if not slow:
        return
    lda = [
        i for i in slow
        if getattr(i, "module", None) is not None
        and i.module.__name__.split(".")[-1] in LDA_FAMILY
    ]
    terminalreporter.write_line(
        f"{len(slow)} slow tests deselected (run with -m \"\" for the full "
        f"suite); {len(lda)} of them in LDA-family modules"
    )


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from mr_lda_spark.session import get_spark

    spark = get_spark("mr-lda-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


POLY_LANGS = ["en", "es"]


@pytest.fixture(scope="session")
def poly_tall(spark, documents):
    """Polylingual corpus from the documents table: docs sharing
    (doc_id % 150) form one multilingual document
    (``parse.polylingual_corpus``).  Returns the encoded
    (doc_id, lang, term_id, term_count) relation and V per language."""
    from pyspark.sql import functions as F

    from mr_lda_spark.operators import parse

    tall, _, num_terms = parse.polylingual_corpus(
        documents, POLY_LANGS, F.col("doc_id") % 150
    )
    return tall.localCheckpoint(), num_terms
