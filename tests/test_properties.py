"""Property-based tests (hypothesis) for the numeric/ranking kernels."""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from mr_lda_spark.functions.special import digamma, gammaln, trigamma

POS = st.floats(min_value=0.01, max_value=1e6, allow_nan=False)


@given(POS)
@settings(max_examples=200, deadline=None)
def test_digamma_recurrence(x):
    # psi(x+1) = psi(x) + 1/x
    assert digamma(x + 1.0) == pytest.approx(digamma(x) + 1.0 / x, rel=1e-9, abs=1e-9)


@given(POS)
@settings(max_examples=200, deadline=None)
def test_trigamma_recurrence(x):
    assert trigamma(x + 1.0) == pytest.approx(
        trigamma(x) - 1.0 / (x * x), rel=1e-8, abs=1e-10
    )


@given(POS)
@settings(max_examples=200, deadline=None)
def test_gammaln_recurrence(x):
    # lnGamma(x+1) = lnGamma(x) + ln(x)
    assert gammaln(x + 1.0) == pytest.approx(
        gammaln(x) + math.log(x), rel=1e-9, abs=1e-8
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 1000)),
        min_size=1,
        max_size=80,
        unique=True,
    )
)
@settings(max_examples=8, deadline=None)
@pytest.mark.slow
def test_assign_dense_ids_matches_python_sort(spark, rows):
    from pyspark.sql import functions as F

    from mr_lda_spark.operators.parse import assign_dense_ids

    df = spark.createDataFrame(rows, schema="a int, b int")
    order = [F.col("a").desc(), F.col("b").asc()]
    out = assign_dense_ids(df, order, "rid", scalable=True).collect()
    want = sorted(rows, key=lambda t: (-t[0], t[1]))
    got = sorted(((r["a"], r["b"]), r["rid"]) for r in out)
    expect = sorted(((a, b), i + 1) for i, (a, b) in enumerate(want))
    assert got == expect


@given(
    st.integers(min_value=0, max_value=6),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=60),
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_y4m_codec_roundtrip_property(n, h, w, fps, rnd):
    """Any (n, h, w) uint8 frame stack survives the Y4M container
    round-trip bit-exactly at any frame rate."""
    from mr_lda_spark.operators import multimodal as mm

    fr = np.frombuffer(
        bytes(rnd.getrandbits(8) for _ in range(n * h * w)), dtype=np.uint8
    ).reshape(n, h, w)
    v = mm.decode_y4m(mm.encode_y4m_mono(fr, fps_num=fps))
    assert (v["width"], v["height"], v["fps_num"]) == (w, h, fps)
    assert np.array_equal(v["frames"], fr)


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                max_size=200))
@settings(max_examples=100, deadline=None)
def test_int_array_writable_roundtrip_property(ids):
    """cloud9 ArrayListOfIntsWritable codec: any int32 list
    round-trips."""
    from mr_lda_spark.sources import sequencefile as sf

    assert sf.decode_int_array(sf.encode_int_array(ids)) == ids


@given(
    st.binary(min_size=0, max_size=500),
    st.integers(min_value=1, max_value=7),
)
@settings(max_examples=60, deadline=None)
def test_wav_resample_property(data, factor):
    """Decimation picks exactly every factor-th sample of any PCM
    payload and divides the rate."""
    from mr_lda_spark.operators import multimodal as mm

    payload = mm.encode_wav_pcm8(data, sample_rate=8000)
    w = mm.decode_wav(mm.resample_wav_pcm8(payload, factor))
    assert bytes(w["samples"]) == data[::factor]
    assert w["sample_rate"] == 8000 // factor
