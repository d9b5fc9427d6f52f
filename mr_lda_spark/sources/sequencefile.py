"""Hadoop SequenceFile interop — ingest an actual Mr.LDA on-disk corpus.

The reference's entire data interchange is `SequenceFile<Writable,
Writable>` (README.md:297, VariationalInference.java:247-251):

- corpus / per-iteration documents: `IntWritable docId → cc.mrlda.Document`
  where Document.write emits `int numEntries, (int termId, int count)×n,
  int numTopics, double×K` big-endian (Document.java:241-263 write,
  147-172 readFields);
- term dictionary: `IntWritable termId → Text term` (ParseCorpus.java:475-490);
- title index: `IntWritable docId → Text title` (ParseCorpus.java:698-710);
- alpha vectors: `IntWritable topic → DoubleWritable` (VariationalInference.java:521-558).

Why a pure-Python container parser instead of ``newAPIHadoopFile``:
`SequenceFile.Reader` resolves the value class named in the file header
even in raw-bytes mode, and `cc.mrlda.Document` is not on any Spark
classpath — so the JVM route needs the Mr.LDA jar shipped to every
executor.  The container format itself is small, stable, public Hadoop
(SequenceFile wire format v6), so we read the part files as whole
binary blobs (``spark.read.format("binaryFile")``: one task per part
file — MapReduce output is one file per reducer, so file-level
parallelism is the job's own reduce parallelism) and decode
records/Writables with ``struct`` inside an Arrow-batched
``mapInPandas``.  No driver-side loop: decode happens on executors.

Supported encodings: uncompressed, RECORD-compressed, and
BLOCK-compressed, with DefaultCodec (zlib) / GzipCodec — the reference
compresses with the Hadoop defaults (`ParseCorpus.java:394,533`:
setCompressOutput(true) → RECORD + DefaultCodec).

Trained-β files (`SequenceFile<PairOfIntFloat, HMapIDW>`, written at
`VariationalInference.java:346-348` / `TermReducer.java:186,232-235`)
are supported too.  The two cloud9 Writables follow the library's
uniform DataOutput layout (public cloud9 `edu.umd.cloud9.io` wire
format, the same size-prefixed big-endian style `cc.mrlda.Document`
uses, Document.java:241-263):

- `PairOfIntFloat.write`: `int left, float right` — here
  `(topic 1..K, digamma(Σ_v λ_kv))` (TermReducer.java:174);
- `HMapIDW.write`: `int numEntries, (int key, double value)×n` — here
  `term_id → digamma(λ_kv)` (TermReducer.java:196,215).

The reference's own consumer recovers `E[log β] = map[term] − key.right`
(DocumentMapper.importBeta:497-513, 1-based topics); `read_beta`
applies the same normalization and 0-based topic shift.
"""

from __future__ import annotations

import io
import os
import struct
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_lda_spark.operators.localrel import local_df
from pyspark.sql import types as T

SEQ_MAGIC = b"SEQ"
SEQ_VERSION = 6
_SYNC_ESCAPE = -1

_ZLIB_CODECS = {
    "org.apache.hadoop.io.compress.DefaultCodec": 15,  # zlib framing
    "org.apache.hadoop.io.compress.GzipCodec": 31,  # gzip framing
}

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term_ids", T.ArrayType(T.IntegerType())),
        T.StructField("term_counts", T.ArrayType(T.IntegerType())),
        T.StructField("gamma", T.ArrayType(T.DoubleType())),
    ]
)

INT_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("value", T.StringType()),
    ]
)

INT_DOUBLE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)

BETA_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.IntegerType()),
        T.StructField("term_id", T.IntegerType()),
        T.StructField("log_beta", T.DoubleType()),
    ]
)


# --------------------------------------------------------------------------
# Hadoop primitive codecs (WritableUtils / Text wire formats)
# --------------------------------------------------------------------------


def _read_vlong(data: bytes, off: int) -> tuple[int, int]:
    """WritableUtils.readVLong: 1-byte fast path, else length-prefixed
    big-endian magnitude with the sign folded into the prefix byte."""
    b = struct.unpack_from("b", data, off)[0]
    off += 1
    if b >= -112:
        return b, off
    if b < -120:
        length, neg = -(b + 120), True
    else:
        length, neg = -(b + 112), False
    v = 0
    for _ in range(length):
        v = (v << 8) | data[off]
        off += 1
    return (~v if neg else v), off


def _write_vlong(out: io.BytesIO, n: int) -> None:
    if -112 <= n <= 127:
        out.write(struct.pack("b", n))
        return
    neg = n < 0
    if neg:
        n = ~n
    length = max(1, (n.bit_length() + 7) // 8)
    out.write(struct.pack("b", (-120 if neg else -112) - length))
    out.write(n.to_bytes(length, "big"))


def _read_text(data: bytes, off: int) -> tuple[str, int]:
    """org.apache.hadoop.io.Text wire form: vint byte-length + UTF-8."""
    n, off = _read_vlong(data, off)
    return data[off : off + n].decode("utf-8"), off + n


def _write_text(out: io.BytesIO, s: str) -> None:
    b = s.encode("utf-8")
    _write_vlong(out, len(b))
    out.write(b)


# --------------------------------------------------------------------------
# SequenceFile container: reader
# --------------------------------------------------------------------------


def iter_records(data: bytes):
    """Yield raw ``(key_bytes, value_bytes)`` from one SequenceFile blob.

    Handles header v6, sync markers, and all three compression layouts.
    A zero-length blob yields no records: MapReduce reducers routinely
    produce empty part files (the reference even ships a
    NonEmptySequenceFileOutputFormat to suppress them, SURVEY §2 S4),
    and the part-* glob will pick any up.
    """
    if len(data) == 0:
        return
    if data[:3] != SEQ_MAGIC:
        raise ValueError("not a SequenceFile (missing SEQ magic)")
    version = data[3]
    if version != SEQ_VERSION:
        raise ValueError(f"unsupported SequenceFile version {version}")
    off = 4
    _key_cls, off = _read_text(data, off)
    _val_cls, off = _read_text(data, off)
    compressed = data[off] != 0
    block = data[off + 1] != 0
    off += 2
    wbits = None
    if compressed:
        codec, off = _read_text(data, off)
        wbits = _ZLIB_CODECS.get(codec)
        if wbits is None:
            raise ValueError(f"unsupported SequenceFile codec {codec}")
    n_meta = struct.unpack_from(">i", data, off)[0]
    off += 4
    for _ in range(n_meta):
        _, off = _read_text(data, off)
        _, off = _read_text(data, off)
    sync = data[off : off + 16]
    off += 16

    end = len(data)
    if block:
        yield from _iter_block_records(data, off, end, sync, wbits)
        return
    while off < end:
        rec_len = struct.unpack_from(">i", data, off)[0]
        off += 4
        if rec_len == _SYNC_ESCAPE:
            if data[off : off + 16] != sync:
                raise ValueError("corrupt SequenceFile: bad sync marker")
            off += 16
            continue
        key_len = struct.unpack_from(">i", data, off)[0]
        off += 4
        key = data[off : off + key_len]
        off += key_len
        val = data[off : off + rec_len - key_len]
        off += rec_len - key_len
        if compressed:
            val = zlib.decompress(val, wbits)
        yield key, val


def _iter_block_records(data, off, end, sync, wbits):
    """BLOCK layout: sync-separated blocks of four compressed buffers
    (key lengths, keys, value lengths, values), lengths as vints."""

    def read_buffer(off):
        n, off = _read_vlong(data, off)
        return zlib.decompress(data[off : off + n], wbits), off + n

    while off < end:
        marker = struct.unpack_from(">i", data, off)[0]
        if marker != _SYNC_ESCAPE:
            raise ValueError("corrupt block-compressed SequenceFile")
        off += 4
        if data[off : off + 16] != sync:
            raise ValueError("corrupt SequenceFile: bad sync marker")
        off += 16
        if off >= end:
            return
        n_rec, off = _read_vlong(data, off)
        key_lens_buf, off = read_buffer(off)
        keys_buf, off = read_buffer(off)
        val_lens_buf, off = read_buffer(off)
        vals_buf, off = read_buffer(off)
        ko = vo = klo = vlo = 0
        for _ in range(n_rec):
            kl, klo = _read_vlong(key_lens_buf, klo)
            vl, vlo = _read_vlong(val_lens_buf, vlo)
            yield keys_buf[ko : ko + kl], vals_buf[vo : vo + vl]
            ko += kl
            vo += vl


# --------------------------------------------------------------------------
# SequenceFile container: writer (fixtures, parquet→Mr.LDA export)
# --------------------------------------------------------------------------


def write_records(
    fh,
    records,
    key_class: str,
    value_class: str,
    compression: str | None = None,
    sync_interval: int = 100,
) -> None:
    """Write one SequenceFile: ``records`` is an iterable of raw
    ``(key_bytes, value_bytes)``.  ``compression`` ∈ {None, 'record',
    'block'} with DefaultCodec (zlib).

    Writes directly to ``fh`` as records arrive — executor memory is
    O(one record) (O(one block) for block compression), never
    O(partition bytes), so partitions can be any size."""
    import hashlib

    # Deterministic per-(key,value)-class sync marker: output files are
    # byte-reproducible across runs (Hadoop uses a random UID here; any
    # 16 bytes are valid as long as the header and escapes agree).
    sync = hashlib.md5(f"{key_class}|{value_class}".encode()).digest()
    fh.write(SEQ_MAGIC + bytes([SEQ_VERSION]))
    _write_text(fh, key_class)
    _write_text(fh, value_class)
    fh.write(bytes([1 if compression else 0, 1 if compression == "block" else 0]))
    if compression:
        _write_text(fh, "org.apache.hadoop.io.compress.DefaultCodec")
    fh.write(struct.pack(">i", 0))  # no metadata
    fh.write(sync)

    if compression == "block":
        _write_block_body(fh, records, sync)
    else:
        for i, (k, v) in enumerate(records):
            if i and i % sync_interval == 0:
                fh.write(struct.pack(">i", _SYNC_ESCAPE))
                fh.write(sync)
            if compression == "record":
                v = zlib.compress(v)
            fh.write(struct.pack(">ii", len(k) + len(v), len(k)))
            fh.write(k)
            fh.write(v)


def _write_block_body(out, records, sync, block_records: int = 1000) -> None:
    batch: list[tuple[bytes, bytes]] = []

    def flush():
        if not batch:
            return
        out.write(struct.pack(">i", _SYNC_ESCAPE))
        out.write(sync)
        _write_vlong(out, len(batch))
        for buf in _block_buffers(batch):
            comp = zlib.compress(buf)
            _write_vlong(out, len(comp))
            out.write(comp)
        batch.clear()

    for kv in records:
        batch.append(kv)
        if len(batch) >= block_records:
            flush()
    flush()


def _block_buffers(batch):
    key_lens, keys, val_lens, vals = io.BytesIO(), io.BytesIO(), io.BytesIO(), io.BytesIO()
    for k, v in batch:
        _write_vlong(key_lens, len(k))
        keys.write(k)
        _write_vlong(val_lens, len(v))
        vals.write(v)
    return key_lens.getvalue(), keys.getvalue(), val_lens.getvalue(), vals.getvalue()


def _iter_blob_records(path: str, blob) -> "tuple[bytes, bytes]":
    """iter_records over one binaryFile row, naming the file on failure:
    a truncated part file should say *which* file is bad, not abort the
    whole distributed read with a bare struct error."""
    data = bytes(blob)
    try:
        yield from iter_records(data)
    except (ValueError, struct.error, zlib.error) as e:
        raise ValueError(
            f"corrupt or truncated SequenceFile {path!r}: {e}"
        ) from None


# --------------------------------------------------------------------------
# Mr.LDA Writable payloads
# --------------------------------------------------------------------------


def decode_document(val: bytes) -> tuple[list[int], list[int], list[float] | None]:
    """cc.mrlda.Document.readFields (Document.java:147-172)."""
    n = struct.unpack_from(">i", val, 0)[0]
    n = max(n, 0)
    flat = struct.unpack_from(f">{2 * n}i", val, 4)
    off = 4 + 8 * n
    k = struct.unpack_from(">i", val, off)[0]
    gamma = list(struct.unpack_from(f">{k}d", val, off + 4)) if k > 0 else None
    return list(flat[::2]), list(flat[1::2]), gamma


def decode_poly_document(
    val: bytes,
) -> tuple[list[list[int]], list[list[int]], list[float] | None]:
    """cc.mrlda.polylda.Document.readFields (polylda/Document.java:
    176-214): int numLanguages, per language an (id,count)-pair map,
    then gamma.  A null language slot is an empty array."""
    n_lang = struct.unpack_from(">i", val, 0)[0]
    off = 4
    ids: list[list[int]] = []
    counts: list[list[int]] = []
    for _ in range(max(n_lang, 0)):
        n = struct.unpack_from(">i", val, off)[0]
        off += 4
        n = max(n, 0)
        flat = struct.unpack_from(f">{2 * n}i", val, off)
        off += 8 * n
        ids.append(list(flat[::2]))
        counts.append(list(flat[1::2]))
    k = struct.unpack_from(">i", val, off)[0]
    gamma = list(struct.unpack_from(f">{k}d", val, off + 4)) if k > 0 else None
    return ids, counts, gamma


def encode_poly_document(lang_term_ids, lang_term_counts, gamma=None) -> bytes:
    """cc.mrlda.polylda.Document.write (polylda/Document.java:259-287)."""
    out = io.BytesIO()
    out.write(struct.pack(">i", len(lang_term_ids)))
    for tids, tcts in zip(lang_term_ids, lang_term_counts):
        tids = tids if tids is not None else []
        tcts = tcts if tcts is not None else []
        out.write(struct.pack(">i", len(tids)))
        for tid, c in zip(tids, tcts):
            out.write(struct.pack(">ii", int(tid), int(c)))
    if gamma is None or len(gamma) == 0:
        out.write(struct.pack(">i", 0))
    else:
        out.write(
            struct.pack(f">i{len(gamma)}d", len(gamma), *[float(g) for g in gamma])
        )
    return out.getvalue()


def decode_pair_int_float(key: bytes) -> tuple[int, float]:
    """cloud9 `PairOfIntFloat.readFields`: `int left, float right`
    big-endian (the uniform cloud9 pair layout)."""
    return struct.unpack(">if", key[:8])


def encode_pair_int_float(left: int, right: float) -> bytes:
    """cloud9 `PairOfIntFloat.write`."""
    return struct.pack(">if", int(left), float(right))


def decode_hmap_idw(val: bytes) -> tuple[list[int], list[float]]:
    """cloud9 `HMapIDW.readFields`: `int numEntries,
    (int key, double value)×n` big-endian — the same size-prefixed
    layout family as cc.mrlda.Document (Document.java:147-172)."""
    n = struct.unpack_from(">i", val, 0)[0]
    n = max(n, 0)
    ids, values = [], []
    off = 4
    for _ in range(n):
        k, v = struct.unpack_from(">id", val, off)
        ids.append(k)
        values.append(v)
        off += 12
    return ids, values


def encode_hmap_idw(ids, values) -> bytes:
    """cloud9 `HMapIDW.write`."""
    out = io.BytesIO()
    out.write(struct.pack(">i", len(ids)))
    for k, v in zip(ids, values):
        out.write(struct.pack(">id", int(k), float(v)))
    return out.getvalue()


def encode_document(
    term_ids, term_counts, gamma=None
) -> bytes:
    """cc.mrlda.Document.write (Document.java:241-263)."""
    out = io.BytesIO()
    out.write(struct.pack(">i", len(term_ids)))
    for tid, c in zip(term_ids, term_counts):
        out.write(struct.pack(">ii", int(tid), int(c)))
    if gamma is None or len(gamma) == 0:
        out.write(struct.pack(">i", 0))
    else:
        out.write(struct.pack(f">i{len(gamma)}d", len(gamma), *[float(g) for g in gamma]))
    return out.getvalue()


# --------------------------------------------------------------------------
# DataFrame readers / writers
# --------------------------------------------------------------------------


def _binary_files(spark: SparkSession, path: str) -> DataFrame:
    from mr_lda_spark.session import ensure_package_shipped

    # The decode closures reference this module executor-side.
    ensure_package_shipped(spark)
    reader = spark.read.format("binaryFile")
    if os.path.isdir(path):
        # Directory layout: part-* files only (skip _SUCCESS etc.).
        # Single-file artifacts (the reference's alpha-<iter> and
        # informed-prior files) load as-is — a part-* glob would
        # silently exclude them.
        reader = reader.option("pathGlobFilter", "part-*")
    return reader.load(path).select("path", "content")


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read a Mr.LDA corpus directory (`SequenceFile<IntWritable,
    Document>` part files) into the engine's doc-form corpus schema —
    directly consumable by ``plans.lda.train``."""

    def decode(batches):
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                rows = {"doc_id": [], "term_ids": [], "term_counts": [], "gamma": []}
                for key, val in _iter_blob_records(path, blob):
                    rows["doc_id"].append(struct.unpack(">i", key)[0])
                    tids, counts, gamma = decode_document(val)
                    rows["term_ids"].append(tids)
                    rows["term_counts"].append(counts)
                    rows["gamma"].append(gamma)
                if rows["doc_id"]:  # empty part file → pandas would
                    # type the empty columns float64, which Arrow
                    # cannot cast to the declared list types
                    yield pd.DataFrame(rows)

    return _binary_files(spark, path).mapInPandas(decode, schema=CORPUS_SCHEMA)


POLY_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang_term_ids", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField(
            "lang_term_counts", T.ArrayType(T.ArrayType(T.IntegerType()))
        ),
        T.StructField("gamma", T.ArrayType(T.DoubleType())),
    ]
)


def read_poly_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read a polylingual Mr.LDA corpus (`SequenceFile<IntWritable,
    polylda.Document>`) into the per-language slot doc form
    (doc_id, lang_term_ids, lang_term_counts, gamma; missing language =
    empty arrays), which ``plans.lda.train`` maps onto offset term ids
    (``plans.lda.unified_corpus``)."""

    def decode(batches):
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                rows = {
                    "doc_id": [],
                    "lang_term_ids": [],
                    "lang_term_counts": [],
                    "gamma": [],
                }
                for key, val in _iter_blob_records(path, blob):
                    rows["doc_id"].append(struct.unpack(">i", key)[0])
                    ids, counts, gamma = decode_poly_document(val)
                    rows["lang_term_ids"].append(ids)
                    rows["lang_term_counts"].append(counts)
                    rows["gamma"].append(gamma)
                if rows["doc_id"]:
                    yield pd.DataFrame(rows)

    return _binary_files(spark, path).mapInPandas(decode, schema=POLY_CORPUS_SCHEMA)


def _read_int_value(spark, path, decode_val, schema) -> DataFrame:
    def decode(batches):
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                ids, values = [], []
                for key, val in _iter_blob_records(path, blob):
                    ids.append(struct.unpack(">i", key)[0])
                    values.append(decode_val(val))
                if ids:
                    yield pd.DataFrame({"id": ids, "value": values})

    return _binary_files(spark, path).mapInPandas(decode, schema=schema)


def read_term_dict(spark: SparkSession, path: str) -> DataFrame:
    """`SequenceFile<IntWritable termId, Text term>`
    (ParseCorpus.java:475-490) → (term_id, term)."""
    df = _read_int_value(
        spark, path, lambda v: _read_text(v, 0)[0], INT_TEXT_SCHEMA
    )
    return df.withColumnRenamed("id", "term_id").withColumnRenamed("value", "term")


def read_title_index(spark: SparkSession, path: str) -> DataFrame:
    """`SequenceFile<IntWritable docId, Text title>`
    (ParseCorpus.java:698-710) → (doc_id, title)."""
    df = _read_int_value(
        spark, path, lambda v: _read_text(v, 0)[0], INT_TEXT_SCHEMA
    )
    return df.withColumnRenamed("id", "doc_id").withColumnRenamed("value", "title")


def read_alpha(spark: SparkSession, path: str) -> DataFrame:
    """`SequenceFile<IntWritable topic, DoubleWritable>` alpha-<iter>
    files (VariationalInference.java:521-558) → (topic, alpha).

    File topic keys are 1-based — exportAlpha writes ``i + 1`` and
    importAlpha rejects key 0 with a Preconditions check
    (VariationalInference.java ~530) — so they are shifted to the
    engine's 0-based convention here, the same shift as
    ``read_beta``/``read_eta``."""
    df = _read_int_value(
        spark,
        path,
        lambda v: struct.unpack(">d", v)[0],
        INT_DOUBLE_SCHEMA,
    )
    return df.select(
        (F.col("id") - 1).alias("topic"), F.col("value").alias("alpha")
    )


def decode_int_array(val: bytes) -> list[int]:
    """cloud9 ``ArrayListOfIntsWritable.readFields`` wire form: int
    count + that many big-endian ints."""
    (n,) = struct.unpack_from(">i", val, 0)
    return list(struct.unpack_from(f">{n}i", val, 4)) if n else []


def encode_int_array(ids) -> bytes:
    """cloud9 ``ArrayListOfIntsWritable.write``."""
    ids = [int(i) for i in ids]
    return struct.pack(f">i{len(ids)}i", len(ids), *ids)


def _seq_paths(path: str) -> list[str]:
    """A SequenceFile location: either one file (the reference's
    informed-prior output is a single file, InformedPrior.java:122) or
    a directory of part-* files."""
    if os.path.isdir(path):
        import glob as globlib

        return sorted(globlib.glob(os.path.join(path, "part-*")))
    return [path]


def read_eta(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference informed-prior file (`SequenceFile<IntWritable,
    ArrayListOfIntsWritable>`, one record per topic,
    InformedPrior.java:126-167) into the engine's η relation
    (topic, term_id) — directly consumable by ``eta_from_rows``.

    File topics are 1-based (``index++`` precedes the append and
    importEta asserts > 0, InformedPrior.java:152,190) → shifted to
    0-based, the same convention shift as ``read_beta``.  Seed lists
    are model-sized, so the read is driver-side like the reference's
    own importEta."""
    rows = []
    for p in _seq_paths(path):
        with open(p, "rb") as fh:
            data = fh.read()
        for key, val in _iter_blob_records(p, data):
            topic1 = struct.unpack(">i", key)[0]
            rows.extend((topic1 - 1, tid) for tid in decode_int_array(val))
    return local_df(spark, rows, "topic int, term_id int")


def write_eta(
    eta: DataFrame, path: str, compression: str | None = None
) -> int:
    """Export an η relation (topic, term_id) to the reference's
    informed-prior layout: ONE SequenceFile (not a directory) with
    1-based topic keys and the topic's term-id list, exactly what
    `VariationalInference --informed_prior` ingests
    (InformedPrior.java:186-200).  η is model-sized (seed lists), so
    the collect is bounded.  Returns the number of topics written."""
    groups: dict[int, list[int]] = {}
    for r in eta.collect():
        groups.setdefault(int(r["topic"]), []).append(int(r["term_id"]))
    recs = [
        (struct.pack(">i", topic + 1), encode_int_array(sorted(ids)))
        for topic, ids in sorted(groups.items())
    ]
    with open(path, "wb") as fh:
        write_records(
            fh,
            recs,
            "org.apache.hadoop.io.IntWritable",
            "edu.umd.cloud9.io.array.ArrayListOfIntsWritable",
            compression=compression,
        )
    return len(recs)


def read_beta(spark: SparkSession, path: str) -> DataFrame:
    """Read a trained-β directory (`SequenceFile<PairOfIntFloat,
    HMapIDW>`, one record per topic, VariationalInference.java:346-348)
    into the engine's flat BETA relation (topic, term_id, log_beta).

    Matches the reference's own import math (DocumentMapper.importBeta:
    497-513): file topics are 1-based → shifted to 0-based; the stored
    per-term value is `digamma(λ_kv)` and the key's float is
    `digamma(Σ_v λ_kv)` (TermReducer.java:174,196), so
    `log_beta = value − key.right` — exactly E[log β | λ]."""

    def decode(batches):
        for pdf in batches:
            for path_, blob in zip(pdf["path"], pdf["content"]):
                rows = {"topic": [], "term_id": [], "log_beta": []}
                for key, val in _iter_blob_records(path_, blob):
                    topic1, log_norm = decode_pair_int_float(key)
                    ids, values = decode_hmap_idw(val)
                    rows["topic"].extend([topic1 - 1] * len(ids))
                    rows["term_id"].extend(ids)
                    rows["log_beta"].extend(v - log_norm for v in values)
                if rows["topic"]:
                    yield pd.DataFrame(rows)

    return _binary_files(spark, path).mapInPandas(decode, schema=BETA_SCHEMA)


def write_beta(
    beta: DataFrame,
    path: str,
    compression: str | None = "record",
) -> int:
    """Export a flat BETA relation back to the reference's on-disk β
    layout.  Written with key = (topic+1, 0.0f) and value map
    term_id → log_beta: `importBeta` subtracts the key's float, so a
    zero normalizer round-trips our E[log β] values bit-exactly, and
    DisplayTopic's per-topic ranking (DisplayTopic.java:119-127) is
    unchanged (it is invariant to a per-topic additive constant).

    One record per topic, as the reference's reducer emits
    (TermReducer.java:232-235): rows hash-partition by topic so a
    topic's vocabulary row-set lands in one task — the same per-topic
    memory footprint as the reference's own HMapIDW accumulation.
    Returns the number of part files written."""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(beta.sparkSession)
    os.makedirs(path, exist_ok=True)

    def write_partition(idx, rows):
        groups: dict[int, tuple[list[int], list[float]]] = {}
        for r in rows:
            ids, values = groups.setdefault(int(r["topic"]), ([], []))
            ids.append(int(r["term_id"]))
            values.append(float(r["log_beta"]))
        if not groups:
            return
        recs = (
            (
                encode_pair_int_float(topic + 1, 0.0),
                encode_hmap_idw(*groups[topic]),
            )
            for topic in sorted(groups)
        )
        with open(os.path.join(path, f"part-{idx:05d}"), "wb") as fh:
            write_records(
                fh,
                recs,
                "edu.umd.cloud9.io.pair.PairOfIntFloat",
                "edu.umd.cloud9.io.map.HMapIDW",
                compression=compression,
            )
        yield idx

    parts = (
        beta.repartition("topic")
        .rdd.mapPartitionsWithIndex(write_partition)
        .collect()
    )
    return len(parts)


def _write_int_keyed(
    df: DataFrame,
    path: str,
    key_col: str,
    encode_val,
    value_class: str,
    compression: str | None,
) -> int:
    """Partitioned export of an int-keyed relation to `part-NNNNN`
    SequenceFiles, executor-side like ``write_corpus`` (no driver
    collect — correct however large the relation grows)."""
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    os.makedirs(path, exist_ok=True)

    def write_partition(idx, rows):
        from itertools import chain

        it = iter(rows)
        first = next(it, None)
        if first is None:  # empty partition → no file
            return
        recs = (
            (struct.pack(">i", int(r[key_col])), encode_val(r))
            for r in chain([first], it)
        )  # streamed, never buffered — partitions can be any size
        with open(os.path.join(path, f"part-{idx:05d}"), "wb") as fh:
            write_records(
                fh,
                recs,
                "org.apache.hadoop.io.IntWritable",
                value_class,
                compression=compression,
            )
        yield idx

    parts = df.rdd.mapPartitionsWithIndex(write_partition).collect()
    return len(parts)


def _encode_text_value(s: str) -> bytes:
    out = io.BytesIO()
    _write_text(out, s)
    return out.getvalue()


def write_term_dict(
    dictionary: DataFrame, path: str, compression: str | None = None
) -> int:
    """Export a (term_id, term) dictionary to the reference's `term`
    layout (`SequenceFile<IntWritable, Text>`, ParseCorpus.java:
    475-490) — what DisplayTopic's --index flag consumes."""
    return _write_int_keyed(
        dictionary.select("term_id", "term"),
        path,
        "term_id",
        lambda r: _encode_text_value(r["term"]),
        "org.apache.hadoop.io.Text",
        compression,
    )


def write_title_index(
    titles: DataFrame, path: str, compression: str | None = None
) -> int:
    """Export a (doc_id, title) index to the reference's `title`
    layout (`SequenceFile<IntWritable, Text>`, ParseCorpus.java:
    698-710)."""
    return _write_int_keyed(
        titles.select("doc_id", "title"),
        path,
        "doc_id",
        lambda r: _encode_text_value(r["title"]),
        "org.apache.hadoop.io.Text",
        compression,
    )


def write_alpha(
    alpha: DataFrame, path: str, compression: str | None = None
) -> int:
    """Export a (topic, alpha) relation to the reference's alpha-file
    layout: ONE SequenceFile (not a part directory) with **1-based**
    topic keys — exportAlpha writes ``i + 1`` and importAlpha rejects
    key 0 (VariationalInference.java:521-558) — exactly what our own
    ``read_alpha`` resume path and the reference's trainer both
    ingest.  The engine-side relation stays 0-based; the shift happens
    only on the wire, mirroring ``write_eta``/``read_eta``.  α is
    K-sized, so the collect is bounded.  Returns the number of topics
    written."""
    recs = [
        (struct.pack(">i", int(r["topic"]) + 1), struct.pack(">d", float(r["alpha"])))
        for r in sorted(
            alpha.select("topic", "alpha").collect(), key=lambda r: int(r["topic"])
        )
    ]
    with open(path, "wb") as fh:
        write_records(
            fh,
            recs,
            "org.apache.hadoop.io.IntWritable",
            "org.apache.hadoop.io.DoubleWritable",
            compression=compression,
        )
    return len(recs)


def write_corpus(
    corpus_doc: DataFrame,
    path: str,
    compression: str | None = "record",
) -> int:
    """Export a doc-form corpus back to Mr.LDA's on-disk layout — one
    `part-NNNNN` SequenceFile per partition, written executor-side (no
    driver collect; requires ``path`` on a filesystem every executor
    can reach — true locally and on any shared-fs/NFS cluster mount).

    Returns the number of part files written.
    """
    from mr_lda_spark.session import ensure_package_shipped

    ensure_package_shipped(corpus_doc.sparkSession)
    os.makedirs(path, exist_ok=True)
    cols = corpus_doc.columns

    def write_partition(idx, rows):
        fname = os.path.join(path, f"part-{idx:05d}")
        recs = (
            (
                struct.pack(">i", int(r["doc_id"])),
                encode_document(
                    r["term_ids"],
                    r["term_counts"],
                    r["gamma"] if "gamma" in cols else None,
                ),
            )
            for r in rows
        )
        with open(fname, "wb") as fh:
            write_records(
                fh,
                recs,
                "org.apache.hadoop.io.IntWritable",
                "cc.mrlda.Document",
                compression=compression,
            )
        yield idx

    parts = corpus_doc.rdd.mapPartitionsWithIndex(write_partition).collect()
    return len(parts)
