"""Multimodal columns (SURVEY §2.11 / driver mandate): image/audio/video as
opaque binary columns + typed metadata, processed via Arrow-batched
mapInPandas.

The container ships no image/audio codecs, so the *decode* step is a
clearly-marked deterministic fake behind ``decode_image_stub`` (raises
NotImplementedError when a real codec is demanded); everything Spark-side —
binary schema, metadata struct, partitioning, UDF signatures, batch shapes —
is real and tested. Swapping the stub for PIL/ffmpeg changes no plan shape:
at 100 TB this is binary-column parquet in, mapInPandas over ~128MB Arrow
batches out, one task per input split, zero shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from paraslice_spark.pyworker import by_ref
from paraslice_spark.registry import query
from paraslice_spark.sources.io import load_tables

#: fake image header: 4-byte magic + 2x2 bytes (width, height), then payload
_MAGIC = b"PSIM"


def with_media_column(docs: DataFrame) -> DataFrame:
    """Manufacture an opaque binary 'image' column + typed metadata from the
    documents table (deterministic: payload = utf-8 text, dimensions derived
    from doc stats). This is the engine's canonical multimodal shape:
    (id, media: binary, meta: struct<width:int, height:int, format:string>).
    """
    width = (F.col("n_chars") % 64 + 1).cast("int")
    height = ((F.col("doc_id") % 48) + 1).cast("int")
    payload = F.encode(F.col("text"), "UTF-8")
    header = F.concat(
        F.lit(_MAGIC),
        F.encode(F.lpad(width.cast("string"), 2, "0"), "UTF-8"),
        F.encode(F.lpad(height.cast("string"), 2, "0"), "UTF-8"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, payload).alias("media"),
        F.struct(
            width.alias("width"), height.alias("height"), F.lit("psim").alias("format")
        ).alias("meta"),
    )


def decode_image_stub(buf: bytes) -> tuple[int, int, int]:
    """STUB decoder: parses the deterministic fake header. A real deployment
    replaces this with PIL/libvips; anything that isn't the fake format
    raises — loudly, not silently."""
    if buf[:4] != _MAGIC:
        raise NotImplementedError(
            "real image codecs are not available in this container; "
            "decode_image_stub only handles the deterministic PSIM fixture format"
        )
    w = int(buf[4:6].decode())
    h = int(buf[6:8].decode())
    return w, h, len(buf) - 8


def decode_media(media_df: DataFrame) -> DataFrame:
    """mapInPandas 'decode': binary in → (media_id, width, height,
    payload_bytes, n_pixels) out. Real Arrow batch plumbing; stub decode."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode_image_stub(bytes(b)) for b in pdf["media"]]
            out = pd.DataFrame(rows, columns=["width", "height", "payload_bytes"])
            out.insert(0, "media_id", pdf["media_id"].values)
            out["n_pixels"] = out["width"] * out["height"]
            yield out

    return media_df.mapInPandas(
        by_ref(decode),
        "media_id long, width int, height int, payload_bytes long, n_pixels long",
    )


def resize_media(media_df: DataFrame, scale: float = 0.5) -> DataFrame:
    """mapInPandas 'resize' stub: recomputes metadata, passes payload through
    (a real impl would transform pixels; the plan shape is identical)."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [decode_image_stub(bytes(b)) for b in pdf["media"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": [max(1, int(w * scale)) for w, _, _ in meta],
                    "height": [max(1, int(h * scale)) for _, h, _ in meta],
                    "media": pdf["media"].values,
                }
            )

    return media_df.mapInPandas(
        by_ref(resize), "media_id long, width int, height int, media binary"
    )


def frame_sample(media_df: DataFrame, every: int = 4) -> DataFrame:
    """mapInPandas 'video frame-sample' stub: treats the payload as a byte
    stream of 16-byte frames, emits every k-th frame id + checksum."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, sums = [], [], []
            for mid, buf in zip(pdf["media_id"], pdf["media"]):
                payload = bytes(buf)[8:]
                for fi in range(0, len(payload) // 16, every):
                    ids.append(mid)
                    frames.append(fi)
                    sums.append(sum(payload[fi * 16 : fi * 16 + 16]) % 65536)
            yield pd.DataFrame({"media_id": ids, "frame_idx": frames, "checksum": sums})

    return media_df.mapInPandas(by_ref(sample), "media_id long, frame_idx int, checksum int")


@query(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(n_chars % 64 + 1 AS INT) AS width,
           CAST(doc_id % 48 + 1 AS INT) AS height,
           CAST(length(text) AS BIGINT) AS payload_bytes,
           CAST((n_chars % 64 + 1) * (doc_id % 48 + 1) AS BIGINT) AS n_pixels
    FROM documents
    """,
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared end-to-end: build binary media column → mapInPandas decode →
    metadata out. The oracle recomputes the deterministic metadata directly,
    so the whole binary+Arrow round-trip is hash-checked."""
    d = load_tables(spark, sf_dir)["documents"]
    return decode_media(with_media_column(d))


@query(
    "multimodal_resize_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(GREATEST(1, FLOOR((n_chars % 64 + 1) * 0.5)) AS INT) AS width,
           CAST(GREATEST(1, FLOOR((doc_id % 48 + 1) * 0.5)) AS INT) AS height
    FROM documents
    """,
)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared resize path: binary media column → mapInPandas resize (stub
    pixel transform, real header decode + Arrow plumbing) → new dimensions.
    The binary payload stays engine-internal; the hash-checked surface is
    the recomputed metadata."""
    d = load_tables(spark, sf_dir)["documents"]
    return resize_media(with_media_column(d), scale=0.5).select(
        "media_id", "width", "height"
    )


def feature_extract(media_df: DataFrame) -> DataFrame:
    """mapInPandas batch FEATURE-EXTRACT: binary payload in → fixed-width
    numeric feature vector out (the embedding-prep step of an image/audio
    pipeline).  Features are integer byte-level statistics — n_bytes,
    byte_sum, and a 16-bucket byte histogram (bucket = byte >> 3 over the
    ASCII fixture range) — computed vectorized per Arrow batch with numpy
    (``frombuffer`` + ``bincount``), the exact shape a real model-feature
    kernel takes.  Zero shuffles: one task per input split, features
    per-row."""
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["media"]):
                b = np.frombuffer(bytes(buf)[8:], dtype=np.uint8)
                hist = np.bincount(b >> 3, minlength=32)[:16]
                rows.append((mid, len(b), int(b.sum(dtype=np.int64)), *hist.tolist()))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "byte_sum"]
                + [f"h{i}" for i in range(16)],
            )

    schema = "media_id long, n_bytes long, byte_sum long, " + ", ".join(
        f"h{i} long" for i in range(16)
    )
    return media_df.mapInPandas(by_ref(extract), schema)


@query(
    "multimodal_feature_extract",
    oracle="""
    WITH ch AS (
        SELECT doc_id, ascii(substr(text, CAST(i.i AS INT), 1)) AS byte
        FROM documents
        CROSS JOIN LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i) i
    )
    SELECT doc_id AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_bytes,
           CAST(SUM(byte) AS BIGINT) AS byte_sum,
           CAST(COUNT(CASE WHEN byte // 8 = 0  THEN 1 END) AS BIGINT) AS h0,
           CAST(COUNT(CASE WHEN byte // 8 = 1  THEN 1 END) AS BIGINT) AS h1,
           CAST(COUNT(CASE WHEN byte // 8 = 2  THEN 1 END) AS BIGINT) AS h2,
           CAST(COUNT(CASE WHEN byte // 8 = 3  THEN 1 END) AS BIGINT) AS h3,
           CAST(COUNT(CASE WHEN byte // 8 = 4  THEN 1 END) AS BIGINT) AS h4,
           CAST(COUNT(CASE WHEN byte // 8 = 5  THEN 1 END) AS BIGINT) AS h5,
           CAST(COUNT(CASE WHEN byte // 8 = 6  THEN 1 END) AS BIGINT) AS h6,
           CAST(COUNT(CASE WHEN byte // 8 = 7  THEN 1 END) AS BIGINT) AS h7,
           CAST(COUNT(CASE WHEN byte // 8 = 8  THEN 1 END) AS BIGINT) AS h8,
           CAST(COUNT(CASE WHEN byte // 8 = 9  THEN 1 END) AS BIGINT) AS h9,
           CAST(COUNT(CASE WHEN byte // 8 = 10 THEN 1 END) AS BIGINT) AS h10,
           CAST(COUNT(CASE WHEN byte // 8 = 11 THEN 1 END) AS BIGINT) AS h11,
           CAST(COUNT(CASE WHEN byte // 8 = 12 THEN 1 END) AS BIGINT) AS h12,
           CAST(COUNT(CASE WHEN byte // 8 = 13 THEN 1 END) AS BIGINT) AS h13,
           CAST(COUNT(CASE WHEN byte // 8 = 14 THEN 1 END) AS BIGINT) AS h14,
           CAST(COUNT(CASE WHEN byte // 8 = 15 THEN 1 END) AS BIGINT) AS h15
    FROM ch GROUP BY doc_id
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared batch feature-extract (VERDICT r4 depth item): binary media
    column → mapInPandas numpy kernel → 18-wide integer feature vector.
    The corpus payload is pure ASCII, so the oracle rebuilds every feature
    from ascii(substr(...)) character sums — the full binary→Arrow→numpy
    round trip is hash-checked cell-for-cell, not just row counts."""
    d = load_tables(spark, sf_dir)["documents"]
    return feature_extract(with_media_column(d))


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(f.fi AS INT) AS frame_idx,
           CAST((SELECT SUM(ascii(substr(text, CAST(f.fi*16 + j.j + 1 AS INT), 1)))
                 FROM (SELECT unnest(range(0, 16)) AS j) j) % 65536 AS INT)
             AS checksum
    FROM documents
    CROSS JOIN LATERAL (SELECT unnest(range(0, len(text) // 16, 4)) AS fi) f
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared frame-sample path: every 4th 16-byte 'frame' of the payload
    with a per-frame byte-sum checksum, via mapInPandas over the binary
    column.  The corpus is pure ASCII (verified at every sf), so the oracle
    recomputes byte sums with ascii(substr(...)) — the whole
    binary→Arrow→python-bytes round trip is hash-checked, not just row
    counts."""
    d = load_tables(spark, sf_dir)["documents"]
    return (
        frame_sample(with_media_column(d), every=4)
        .repartition(1)
        .sortWithinPartitions("media_id", "frame_idx")
    )


_PH_BITS = 60  # dHash length: fits a non-negative int64, 4 bands x 15 bits
_PH_BANDS = 4
_PH_HAM = 3  # pair threshold: hamming <= 3 < n_bands => banding exhaustive


def _phash_oracle() -> str:
    """DuckDB ascii-twin of the dHash kernel: the media payload is the
    utf-8 text (pure-ASCII corpus — byte i == code point of char i, the
    multimodal_feature_extract equivalence), so ascii(substr(...)) rebuilds
    every pixel byte and the 60 adjacent-compare bits exactly.  The oracle
    verifies ALL pairs; the Spark plan blocks by band — exhaustive by
    pigeonhole at hamming <= _PH_HAM."""
    terms = " + ".join(
        f"(CASE WHEN ascii(substr(text, {i + 1}, 1)) >"
        f" ascii(substr(text, {i + 2}, 1))"
        f" THEN CAST(1 AS BIGINT) ELSE 0 END) * {1 << i}"
        for i in range(_PH_BITS)
    )
    return f"""
    WITH h AS (SELECT doc_id, {terms} AS phash FROM documents),
    p AS (SELECT a.doc_id AS media_a, b.doc_id AS media_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
          FROM h a JOIN h b ON a.doc_id < b.doc_id)
    SELECT media_a, media_b, hamming FROM p WHERE hamming <= {_PH_HAM}
    ORDER BY media_a, media_b
    """


@query("multimodal_phash_pairs", oracle=_phash_oracle())
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL-HASH NEAR-DUP PAIRS over the media column — the image
    member of the dedup family (the classic image-dedup pipeline stage:
    dHash each image, block on hash bands, verify by hamming distance).

    The dHash kernel is the REAL multimodal path: numpy over the opaque
    binary column inside mapInPandas (bit i = payload[i] > payload[i+1]
    over the first 61 decoded "pixel" bytes — on a real deployment the
    decode stub swap changes nothing downstream, the kernel still sees a
    byte array).  Downstream is all JVM: the 60-bit hash splits into 4
    15-bit bands, candidates come from a band equi-join (any pair at
    hamming <= 3 must agree on >= 1 band — pigeonhole, so the blocked plan
    is provably equal to the oracle's all-pairs scan), and the verify is
    one codegen'd bit_count(xor).  Shuffles carry (band, id) and
    (id, phash) longs only; at 100 TB the band join is the only
    data-sized exchange.  On this corpus the surviving pairs all land at
    hamming 0 (near-dups share their lead bytes verbatim); the 1-3 band
    is exercised by the planted-perturbation test in
    tests/test_multimodal.py."""
    media = with_media_column(load_tables(spark, sf_dir)["documents"])
    return phash_pairs(media)


def phash_pairs(media: DataFrame) -> DataFrame:
    """Core dHash + band-block + hamming-verify pipeline over any
    (media_id, media) DataFrame — split out so tests can feed planted
    byte-perturbed media (docstring/plan analysis on the declared query)."""
    import numpy as np

    def dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for mid, buf in zip(pdf["media_id"], pdf["media"]):
                p = np.frombuffer(bytes(buf)[8:], dtype=np.uint8)[: _PH_BITS + 1]
                if len(p) < _PH_BITS + 1:
                    p = np.pad(p, (0, _PH_BITS + 1 - len(p)))
                bits = (p[:-1] > p[1:]).astype(np.int64)
                hashes.append(int((bits << np.arange(_PH_BITS)).sum()))
                ids.append(int(mid))
            yield pd.DataFrame({"media_id": ids, "phash": hashes})

    # r15 (guide §4/§2.4): the band self-join fans this frame out twice —
    # without a checkpoint BOTH sides re-scan the documents parquet and
    # re-run the Python dhash kernel over the full media column.  The
    # checkpointed frame is two longs per media item.
    h = media.mapInPandas(by_ref(dhash), "media_id long, phash long").localCheckpoint(
        eager=False
    )
    bands = h.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("bj"),
                        F.shiftrightunsigned(F.col("phash"), 15 * j)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("bv"),
                    )
                    for j in range(_PH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("media_id", "phash", "b.bj", "b.bv")
    a = bands.select(
        F.col("media_id").alias("media_a"), F.col("phash").alias("ph_a"), "bj", "bv"
    )
    b = bands.select(
        F.col("media_id").alias("media_b"), F.col("phash").alias("ph_b"), "bj", "bv"
    )
    return (
        a.join(b, ["bj", "bv"])
        .where(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", "ph_a", "ph_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long"),
        )
        .where(F.col("hamming") <= _PH_HAM)
        .select("media_a", "media_b", "hamming")
        .repartition(1)
        .sortWithinPartitions("media_a", "media_b")
    )


def _phash_groups_oracle() -> str:
    """Composed from the REGISTERED multimodal_phash_pairs oracle + the
    dedup_groups recursive-closure shape (the dedup_method_agreement
    precedent: neither the dHash bit rule nor the component contract is
    restated).  Single reference to the pair CTE — no MATERIALIZED
    needed."""
    from paraslice_spark.registry import ORACLES

    return f"""
    WITH RECURSIVE p AS ({ORACLES["multimodal_phash_pairs"]}),
    edges AS (SELECT media_a AS u, media_b AS v FROM p
              UNION ALL SELECT media_b, media_a FROM p),
    reach(src, node) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
    ),
    rep AS (SELECT src AS media_id, MIN(node) AS rep_id
            FROM reach GROUP BY src)
    SELECT media_id, rep_id,
           COUNT(*) OVER (PARTITION BY rep_id) AS group_size
    FROM rep ORDER BY media_id
    """


@query("multimodal_phash_groups", oracle=_phash_groups_oracle())
def multimodal_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE DUPLICATE GROUPS — connected components over the declared
    dHash near-dup pair graph, every media item mapped to its canonical
    (minimum-id) representative with group size: the cross-MODALITY
    closure of the dedup family (dedup_groups does exactly this for
    text n-gram pairs; a real pipeline keeps one representative per
    perceptual cluster before captioning/embedding the survivors).

    Pure composition — Spark side runs the shared phash_pairs pipeline
    then the SAME min-label-propagation helper dedup_groups uses
    (near-dup clusters are near-cliques, 2-3 rounds); the oracle wraps
    the REGISTERED pair oracle in the recursive reachability closure.
    Neither the bit rule nor the component semantics is restated.

    Scale shape: pair graph ≪ corpus (band-blocked), label propagation
    shuffles ids only, isolated media rejoin as their own rep via the
    left join — same 100 TB contract as dedup_groups."""
    from paraslice_spark.operators.similarity import _min_label_components

    docs = load_tables(spark, sf_dir)["documents"]
    media = with_media_column(docs)
    pairs = phash_pairs(media).select(
        F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b")
    )
    labels = _min_label_components(pairs)
    w = Window.partitionBy("rep_id")
    return (
        docs.select(F.col("doc_id").alias("media_id"))
        .join(
            labels.withColumnRenamed("node", "media_id"), "media_id", "left"
        )
        .select("media_id", F.coalesce("lbl", "media_id").alias("rep_id"))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .repartition(1)
        .sortWithinPartitions("media_id")
    )
