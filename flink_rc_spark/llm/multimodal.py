"""Multimodal-column support (driver north star: image/audio/video as
opaque binary columns with typed metadata).

The decode path is REAL end-to-end: each document carries an actual
24-bit BMP payload (2x2 RGB, pixels derived from md5(text) so both
engines can reproduce them), constructed JVM-side as
``concat(<54-byte header literal>, unhex(...), padding)`` and decoded
in an Arrow-batched ``mapInPandas`` kernel by the pure-Python codec in
``llm/codec.py`` (no PIL, no NotImplementedError). The oracle
recomputes the brightness feature — the sum of all decoded pixel
components — directly from the md5 hex string: the 12 pixel bytes are
md5 bytes 1..12, and BMP row padding is excluded by the decoder, so
``brightness == sum(md5_bytes[0:12])`` exactly.

Scale notes (100 TB of media): binary payloads dominate row size, so
the scan path must (a) prune the payload column unless the query needs
it — columnar parquet gives that for free; (b) cap
``spark.sql.files.maxPartitionBytes`` so a partition of wide rows fits
executor memory; (c) run decode as ``mapInPandas`` so bytes stream
through Arrow per-batch, never materializing a whole partition of
decoded tensors; (d) write decoded features to a separate narrow table
rather than carrying them beside the payload.

Reference parity: none — the reference is numeric-vector-only
(SURVEY.md §1.1); mandated by the driver's north star.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_rc_spark.functions.exact import hex_int, md5_int
from flink_rc_spark.llm.codec import decode_image, encode_bmp, encode_png
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

# 2x2 24-bit BMP: 54-byte header + 2 rows of (6 pixel bytes + 2 pad).
# The header is constant for the fixed geometry — computed once via the
# same encoder the tests roundtrip, then inlined as a binary literal.
_W = _H = 2
_BMP_HEADER = encode_bmp(np.zeros((_H, _W, 3), dtype=np.uint8))[:54]
_BMP_SIZE = 54 + 2 * 8  # 70 bytes


def _md5_byte(i, key: str = "text") -> str:
    """Byte ``i`` (1-based; an int or a DuckDB lambda variable) of
    md5(key) as an integer, DuckDB spelling."""
    return md5_int(key, f"2*{i}-1", 2, duck=True)


def with_media_columns(docs: DataFrame) -> DataFrame:
    """Attach a REAL image payload + typed metadata struct.

    The payload is a valid 2x2 24-bit BMP whose 12 pixel bytes are
    md5(text) bytes 1..12 — deterministic, reproducible in SQL, and
    decodable by any BMP reader. Metadata mirrors what an ingest would
    parse from the container header.
    """
    md5 = F.md5("text")
    payload = F.concat(
        F.lit(bytearray(_BMP_HEADER)),
        F.unhex(F.substring(md5, 1, 12)),  # bottom row: 6 bytes
        F.lit(bytearray(b"\x00\x00")),  # row padding to 4 bytes
        F.unhex(F.substring(md5, 13, 12)),  # top row: 6 bytes
        F.lit(bytearray(b"\x00\x00")),
    )
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit(_W).alias("width"),
            F.lit(_H).alias("height"),
            F.lit("bmp").alias("format"),
        ).alias("meta"),
    )


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("brightness", T.LongType()),
    ]
)


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode kernel: Arrow hands payloads as bytes; the
    pure-Python codec parses the container for real, and width/height
    come from the DECODED array (not trusted metadata)."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        widths, heights, brightness = [], [], []
        for payload in pdf["payload"]:
            arr = decode_image(bytes(payload))
            heights.append(arr.shape[0])
            widths.append(arr.shape[1])
            brightness.append(int(arr.sum()))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "width": pd.Series(widths, dtype="int32"),
                "height": pd.Series(heights, dtype="int32"),
                "format": pdf["format"],
                "brightness": pd.Series(brightness, dtype="int64"),
            }
        )


@register(
    "q_multimodal_decode",
    oracle=f"""
    SELECT doc_id,
           CAST({_BMP_SIZE} AS INT) AS n_bytes,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           'bmp' AS format,
           CAST(list_sum(list_transform(range(1, 13), i -> {_md5_byte('i')}))
                AS BIGINT) AS brightness
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> mapInPandas REAL decode -> feature rows.

    The payload is a valid BMP built JVM-side; the kernel parses it
    with the pure-Python codec and derives width/height/brightness from
    the decoded pixel array. The oracle reproduces brightness from the
    md5 hex (pixel bytes = md5 bytes 1..12; decoder excludes row
    padding), verifying the full bytes -> parser -> feature path.
    """
    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs)
    flat = media.select(
        "doc_id", "payload", "meta.width", "meta.height", "meta.format"
    )
    # No output sort: the driver compare is order-insensitive, and a
    # global Sort after mapInPandas is a full extra shuffle at scale
    # (same waste class removed from q_dedup_simhash).
    # single-file local scan -> one split; spread the Python decode
    # across cores (see q_multimodal_formats' note — same economics)
    flat = flat.repartition(spark.sparkContext.defaultParallelism)
    return flat.mapInPandas(_decode_batches, _DECODE_SCHEMA)


_FORMATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("brightness", T.LongType()),
    ]
)


def _formats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Encode each doc's md5-derived 2x2 RGB pixels as BMP, PNG and
    JPEG, then decode every payload back through the full
    ``decode_image`` dispatch. Brightness is the decoded pixel sum for
    the lossless formats (SQL-reproducible from the md5 hex); JPEG is
    lossy, so its row carries the sentinel -1 and its pixel fidelity is
    bounded separately in tests/test_llm.py."""
    from flink_rc_spark.llm.jpeg import encode_jpeg

    for pdf in batches:
        if len(pdf) == 0:
            continue
        rows = []
        for doc_id, px in zip(pdf["doc_id"], pdf["px"]):
            arr = np.frombuffer(bytes(px), dtype=np.uint8)[:12].reshape(2, 2, 3)
            payloads = [
                ("bmp", encode_bmp(arr)),
                ("png", encode_png(arr)),
                ("jpeg", encode_jpeg(arr, quality=98)),
            ]
            for fmt, payload in payloads:
                dec = decode_image(payload)
                rows.append(
                    (
                        int(doc_id),
                        fmt,
                        int(dec.shape[1]),
                        int(dec.shape[0]),
                        int(dec.sum()) if fmt != "jpeg" else -1,
                    )
                )
        yield pd.DataFrame(
            rows, columns=["doc_id", "format", "width", "height", "brightness"]
        )


@register(
    "q_multimodal_formats",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(1, 13), i -> {_md5_byte('i')}))
                   AS BIGINT) AS bright
        FROM documents
    )
    SELECT doc_id,
           f.fmt AS format,
           CAST(2 AS INT) AS width,
           CAST(2 AS INT) AS height,
           CASE WHEN f.fmt = 'jpeg' THEN CAST(-1 AS BIGINT) ELSE bright END
               AS brightness
    FROM b CROSS JOIN (VALUES ('bmp'), ('png'), ('jpeg')) AS f(fmt)
    """,
    tags=("llm", "multimodal"),
)
def q_multimodal_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three container formats through one decode dispatch: the same
    md5-derived 2x2 RGB pixels are encoded as BMP, PNG and baseline
    JPEG (llm/jpeg.py), and every payload is decoded back by
    ``decode_image`` — magic-byte dispatch, real parsers, no PIL. The
    oracle checks decoded geometry for all three and the exact pixel
    sum for the lossless two; JPEG loss is bounded in tests (its
    brightness column is the sentinel -1, since a hash can't carry a
    tolerance).

    Scale: identical shape to q_multimodal_decode — Arrow-batched
    mapInPandas over a pruned 2-column scan; 3 small output rows per
    document, no shuffle anywhere.
    """
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id", F.unhex(F.substring(F.md5("text"), 1, 24)).alias("px")
    )
    # The local testdata is ONE small parquet file -> one input split,
    # which would serialize the CPU-heavy Python codec work onto a
    # single core (measured 5.7 s -> 0.9 s at sf0.1). The round-robin
    # exchange carries 13 bytes/row — negligible vs the kernel. On a
    # real multi-file lake the scan already yields many splits and
    # spark.sql.files.maxPartitionBytes does this job.
    src = src.repartition(spark.sparkContext.defaultParallelism)
    return src.mapInPandas(_formats_batches, _FORMATS_SCHEMA)


_ARRAY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("image_idx", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("brightness", T.LongType()),
    ]
)


def _array_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Kernel for multi-image documents: each row carries a LIST of
    BMP payloads; decode every element, emit one feature row per
    (doc, image_idx)."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        rows = []
        for doc_id, payloads in zip(pdf["doc_id"], pdf["payloads"]):
            for idx, payload in enumerate(payloads):
                arr = decode_image(bytes(payload))
                rows.append(
                    (int(doc_id), idx, len(bytes(payload)), int(arr.sum()))
                )
        yield pd.DataFrame(
            rows, columns=["doc_id", "image_idx", "n_bytes", "brightness"]
        )


@register(
    "q_multimodal_array",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               CAST(i AS INT) AS image_idx,
               CAST(list_sum(list_transform(range(1, 13), j ->
                   {_md5_byte('j', "text || '#' || CAST(i AS STRING)")}))
                    AS BIGINT) AS brightness
        FROM documents, range(0, 3) r(i)
    )
    SELECT doc_id, image_idx,
           CAST({_BMP_SIZE} AS INT) AS n_bytes,
           brightness
    FROM feats
    ORDER BY doc_id, image_idx
    """,
    tags=("llm", "multimodal"),
)
def q_multimodal_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-image documents: an ``array<binary>`` column of THREE real
    BMP payloads per doc (pixels from md5(text || '#' || idx)), decoded
    element-by-element in one Arrow-batched kernel — the schema shape
    of a real interleaved multimodal corpus, where a document owns a
    variable-length list of media blobs rather than one.

    Scale: the list column keeps a document's media co-located with it
    (one row per doc through the scan; payload bytes dominate row size
    exactly as in the single-image path), and the kernel fans out to
    per-image feature rows without a JVM-side explode of the binary
    payloads — bytes cross into Python once, not once per image row.
    """
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents")

    def bmp_payload(idx: int):
        md5 = F.md5(F.concat(F.col("text"), F.lit(f"#{idx}")))
        return F.concat(
            F.lit(bytearray(_BMP_HEADER)),
            F.unhex(F.substring(md5, 1, 12)),
            F.lit(bytearray(b"\x00\x00")),
            F.unhex(F.substring(md5, 13, 12)),
            F.lit(bytearray(b"\x00\x00")),
        )

    media = docs.select(
        "doc_id",
        F.array(*[bmp_payload(i) for i in range(3)]).alias("payloads"),
    )
    media = media.repartition(spark.sparkContext.defaultParallelism)
    return media.mapInPandas(_array_batches, _ARRAY_SCHEMA)


# ---------------------------------------------------------------------------
# q_multimodal_resize — the resize step of the media pipeline
# ---------------------------------------------------------------------------

_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("r", T.LongType()),
        T.StructField("g", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas resize kernel: decode the container, AREA-average
    the full 2x2 frame down to 1x1 per channel with integer
    round-half-up ((Σ4 + 2) // 4) — a box filter is integer-exact
    when the scale factor divides the geometry, which is what makes a
    resize hash-verifiable at all (bilinear floats would not be)."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        rs, gs, bs = [], [], []
        for payload in pdf["payload"]:
            arr = decode_image(bytes(payload)).astype(np.int64)
            px = arr.reshape(-1, 3)  # 4 pixels x RGB
            s = px.sum(axis=0)
            rs.append(int((s[0] + 2) // 4))
            gs.append(int((s[1] + 2) // 4))
            bs.append(int((s[2] + 2) // 4))
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "out_w": np.int32(1),
                "out_h": np.int32(1),
                "r": pd.Series(rs, dtype="int64"),
                "g": pd.Series(gs, dtype="int64"),
                "b": pd.Series(bs, dtype="int64"),
            }
        )
        out["checksum"] = out.r + out.g + out.b
        yield out


def _chan_sum(byte_idxs) -> str:
    return " + ".join(_md5_byte(i) for i in byte_idxs)


@register(
    "q_multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           CAST(1 AS INT) AS out_w,
           CAST(1 AS INT) AS out_h,
           CAST(({_chan_sum([3, 6, 9, 12])} + 2) // 4 AS BIGINT) AS r,
           CAST(({_chan_sum([2, 5, 8, 11])} + 2) // 4 AS BIGINT) AS g,
           CAST(({_chan_sum([1, 4, 7, 10])} + 2) // 4 AS BIGINT) AS b,
           CAST(({_chan_sum([3, 6, 9, 12])} + 2) // 4
                + ({_chan_sum([2, 5, 8, 11])} + 2) // 4
                + ({_chan_sum([1, 4, 7, 10])} + 2) // 4 AS BIGINT) AS checksum
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE as a declared operator — the remaining step of the
    brief's decode / feature-extract / resize / frame-sample media
    quartet: every document's BMP payload is decoded and
    area-downsampled 2x2 → 1x1 per channel inside the Arrow-batched
    mapInPandas kernel (the same stream-through-Arrow shape as
    q_multimodal_decode — payload bytes never materialize beyond the
    batch).

    The oracle recomputes each channel directly from the md5 hex that
    generated the pixels: BMP stores bottom-row-first BGR, the codec
    returns RGB, so the R channel is md5 bytes {{3,6,9,12}}, G
    {{2,5,8,11}}, B {{1,4,7,10}}, and the box filter is the exact
    integer (Σ + 2) // 4 — the hash proves container parsing, channel
    order, row order, AND the filter arithmetic in one number. 100 TB:
    identical scan/decode economics to q_multimodal_decode; real
    pipelines fuse decode+resize in one kernel pass exactly like
    this so full-resolution tensors never hit memory twice.
    """
    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs).select("doc_id", "payload")
    return media.mapInPandas(_resize_batches, _RESIZE_SCHEMA).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q_image_ahash — perceptual-hash (aHash) image dedup over REAL decodes
# ---------------------------------------------------------------------------

_AW = _AH = 4  # 4x4 RGB -> 16-pixel grayscale -> 16-bit aHash
_BMP4_HEADER = encode_bmp(np.zeros((_AH, _AW, 3), dtype=np.uint8))[:54]


def with_ahash_media(docs: DataFrame) -> DataFrame:
    """4x4 24-bit BMP payload whose 48 pixel bytes are
    md5(text) || md5(text||'g') || md5(text||'h') — a 4x4 row is 12
    bytes (4-byte aligned, so no row padding), stored bottom-up per
    the BMP spec. Same generating-recurrence contract as
    with_media_columns: a REAL container any BMP reader decodes, yet
    every pixel is reproducible in SQL from the md5 hex."""
    hx = F.concat(
        F.md5("text"),
        F.md5(F.concat(F.col("text"), F.lit("g"))),
        F.md5(F.concat(F.col("text"), F.lit("h"))),
    )
    payload = F.concat(F.lit(bytearray(_BMP4_HEADER)), F.unhex(hx))
    return docs.select("doc_id", payload.alias("payload"))


_AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
    ]
)


def _ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas aHash kernel — the classic average-hash, all
    integer: REAL decode, per-pixel gray = (r+g+b) DIV 3, floor-mean
    threshold, bit i = gray(y, x) >= mean at i = 4y + x (row-major on
    the decoded top-down array)."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        hashes = []
        for payload in pdf["payload"]:
            arr = decode_image(bytes(payload)).astype(np.int64)
            gray = arr.sum(axis=2) // 3  # channel-order invariant
            avg = int(gray.sum()) // (_AW * _AH)
            bits = (gray.reshape(-1) >= avg).astype(np.int64)
            hashes.append(int((bits << np.arange(_AW * _AH)).sum()))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "ahash": pd.Series(hashes, dtype="int64"),
            }
        )


# DuckDB expression for stored pixel byte j (0-based) of the 96-char
# concatenated md5 hex, as in q_multimodal_decode's oracle.
def _duck_byte(j: str) -> str:
    return hex_int("hx", f"2*({j})+1", 2, duck=True)


# decoded row y maps to stored row 3-y (BMP rows are bottom-up);
# gray is the byte-triple sum DIV 3 (BGR/RGB invariant)
_DUCK_GRAY = (
    "("
    + _duck_byte("12*(3 - i//4) + 3*(i%4)")
    + " + "
    + _duck_byte("12*(3 - i//4) + 3*(i%4) + 1")
    + " + "
    + _duck_byte("12*(3 - i//4) + 3*(i%4) + 2")
    + ") // 3"
)


@register(
    "q_image_ahash",
    oracle=f"""
    WITH h AS MATERIALIZED (
        SELECT doc_id,
               md5(text) || md5(text || 'g') || md5(text || 'h') AS hx
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(0, 16), i -> {_DUCK_GRAY}) AS grays
        FROM h
    ),
    a AS (SELECT doc_id, grays, list_sum(grays) // 16 AS avg FROM g),
    hsh AS MATERIALIZED (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 16), i ->
                   CASE WHEN grays[i + 1] >= avg
                        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
                   AS BIGINT) AS ahash
        FROM a
    ),
    bands AS (
        SELECT doc_id, ahash, b.band_id,
               CASE b.band_id WHEN 0 THEN ahash & 63
                              WHEN 1 THEN (ahash >> 6) & 31
                              ELSE (ahash >> 11) & 31 END AS bv
        FROM hsh, (VALUES (0), (1), (2)) b(band_id)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.ahash AS ha, b.ahash AS hb
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.bv = b.bv
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= 2
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "multimodal", "dedup"),
)
def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL-HASH IMAGE DEDUP — average hash (aHash) over real
    BMP payloads, then banded near-duplicate pairing at Hamming <= 2:
    the image-side twin of q_dedup_simhash, closing the multimodal x
    dedup crossover (near-dup IMAGE detection is a first-class
    curation stage for vision-language corpora).

    Pipeline: mapInPandas decodes each container for real (pure-Python
    codec, no PIL) and computes the all-integer aHash — grayscale
    DIV-3, floor-mean threshold, 16 bits; then a 3-band pigeonhole
    (6+5+5 bits) generates candidates — LOSSLESS for Hamming <= 2
    (2 differing bits can touch at most 2 of 3 bands) — and exact
    bit_count(xor) verifies. The oracle regenerates every pixel from
    the md5 hex (accounting for BMP's bottom-up row order), so the
    hash pins decode -> grayscale -> threshold -> banding -> verify
    end-to-end against an engine that never parsed a BMP.

    100 TB: per-image work is an Arrow-batched map; the pair stage is
    the simhash playbook — one shuffle on (band_id, value), pairs only
    within buckets, never all-pairs. Production images use 64-bit
    aHash/pHash on 8x8 downsamples with 4x16-bit banding — identical
    shape, bigger constants; the downsample itself rides the same
    kernel (box-average is integer too).
    """
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    media = with_ahash_media(docs).repartition(
        spark.sparkContext.defaultParallelism
    )
    hashes = media.mapInPandas(_ahash_batches, _AHASH_SCHEMA)
    bands = hashes.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_id"),
                    F.col("ahash").bitwiseAND(F.lit(63)).alias("bv"),
                ),
                F.struct(
                    F.lit(1).alias("band_id"),
                    F.shiftright("ahash", 6).bitwiseAND(F.lit(31)).alias("bv"),
                ),
                F.struct(
                    F.lit(2).alias("band_id"),
                    F.shiftright("ahash", 11).bitwiseAND(F.lit(31)).alias("bv"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "ahash", "b.band_id", "b.bv")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.filter(hamming <= 2)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q_image_stats — exact per-image statistics + low-contrast screen
# ---------------------------------------------------------------------------

_IMG_N = _AW * _AH  # 16 gray pixels
# variance threshold: var_num = n*Σg² − (Σg)² compared against
# TH·n² (i.e. per-pixel variance TH); md5 bytes are near-uniform
# (var ≈ 256²/12 ≈ 5461), so 4000 splits the population
_IMG_VAR_TH = 4000

_IMG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("gray_sum", T.LongType()),
        T.StructField("gray_sq_sum", T.LongType()),
        T.StructField("var_num", T.LongType()),
        T.StructField("gray_min", T.LongType()),
        T.StructField("gray_max", T.LongType()),
        T.StructField("low_contrast", T.IntegerType()),
    ]
)


def _image_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL BMP decode, integer gray (r+g+b) DIV 3
    per pixel, exact first/second moments via the n²-multiplied
    variance numerator var_num = n·Σg² − (Σg)² — no float mean, no
    division — plus min/max and the low-contrast flag."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = decode_image(bytes(payload)).astype(np.int64)
            gray = (arr.sum(axis=2) // 3).reshape(-1)
            s, sq = int(gray.sum()), int((gray * gray).sum())
            var_num = _IMG_N * sq - s * s
            rows.append(
                (
                    int(doc_id),
                    s,
                    sq,
                    var_num,
                    int(gray.min()),
                    int(gray.max()),
                    1 if var_num < _IMG_VAR_TH * _IMG_N * _IMG_N else 0,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "gray_sum",
                "gray_sq_sum",
                "var_num",
                "gray_min",
                "gray_max",
                "low_contrast",
            ],
        )


@register(
    "q_image_stats",
    oracle=f"""
    WITH hxd AS (
        SELECT doc_id,
               md5(text) || md5(text || 'g') || md5(text || 'h') AS hx
        FROM documents
    ),
    px AS (
        SELECT doc_id, CAST({_DUCK_GRAY} AS BIGINT) AS g
        FROM hxd, (SELECT CAST(range AS INT) AS i
                   FROM range({_IMG_N})) r
    ),
    m AS (
        SELECT doc_id,
               CAST(SUM(g) AS BIGINT) AS gray_sum,
               CAST(SUM(g * g) AS BIGINT) AS gray_sq_sum,
               CAST(MIN(g) AS BIGINT) AS gray_min,
               CAST(MAX(g) AS BIGINT) AS gray_max
        FROM px GROUP BY doc_id
    )
    SELECT doc_id, gray_sum, gray_sq_sum,
           CAST({_IMG_N} * gray_sq_sum - gray_sum * gray_sum AS BIGINT)
             AS var_num,
           gray_min, gray_max,
           CASE WHEN {_IMG_N} * gray_sq_sum - gray_sum * gray_sum
                     < {_IMG_VAR_TH} * {_IMG_N} * {_IMG_N}
                THEN 1 ELSE 0 END AS low_contrast
    FROM m
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "image", "dq"),
)
def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image quality statistics — the data-quality screen an image
    corpus runs before training (drop blank/flat frames): exact gray
    first/second moments with the n²-multiplied variance numerator
    (var_num = n·Σg² − (Σg)², the q_ts_acf integer-variance idiom on
    pixels), min/max dynamic range, and a low-contrast flag at a
    fixed per-pixel variance threshold. No float mean, no division —
    the flag compares integers, engine-identical.

    Kernel computes from the REAL BMP decode (the q_image_ahash
    walker); the oracle regenerates each gray pixel from the md5
    generating recurrence (bottom-up row un-mapping included) and
    reduces relationally — decode → gray → moments → flag pinned by
    the driver hash.

    100 TB: Arrow-batched per-image map, no shuffle; production
    swaps the 4x4 toy for row-group-sized tiles with the same
    integer algebra.
    """
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    media = with_ahash_media(docs).repartition(
        spark.sparkContext.defaultParallelism
    )
    return media.mapInPandas(_image_stats_batches, _IMG_STATS_SCHEMA).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# q_mime_sniff — container-format detection by magic bytes
# ---------------------------------------------------------------------------

_SNIFF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sniffed", T.StringType()),
        T.StructField("family", T.StringType()),
    ]
)

_SNIFF_FORMATS = ("bmp", "png", "jpeg", "wav", "avi")


def sniff_container(payload: bytes) -> tuple[str, str]:
    """(format, family) from leading magic bytes ONLY — the ingestion
    gate a binary lake runs before routing payloads to per-format
    decoders. RIFF containers need the bytes-8..12 form tag; nothing
    reads past byte 12."""
    if payload[:2] == b"BM":
        return "bmp", "native"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png", "native"
    if payload[:2] == b"\xff\xd8":
        return "jpeg", "native"
    if payload[:4] == b"RIFF":
        tag = payload[8:12]
        if tag == b"WAVE":
            return "wav", "riff"
        if tag == b"AVI ":
            return "avi", "riff"
        return "riff-unknown", "riff"
    return "unknown", "unknown"


def _sniff_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Build each doc's payload in the container chosen by
    doc_id % 5 (all five real encoders), then sniff it back from the
    BYTES ALONE — the hash proves construct → sniff lands exactly."""
    from flink_rc_spark.llm.audio import encode_wav
    from flink_rc_spark.llm.jpeg import encode_jpeg
    from flink_rc_spark.llm.video import encode_avi

    for pdf in batches:
        if len(pdf) == 0:
            continue
        rows = []
        for doc_id, px in zip(pdf["doc_id"], pdf["px"]):
            raw = np.frombuffer(bytes(px), dtype=np.uint8)
            arr = raw[:12].reshape(2, 2, 3)
            fmt = _SNIFF_FORMATS[int(doc_id) % 5]
            if fmt == "bmp":
                payload = encode_bmp(arr)
            elif fmt == "png":
                payload = encode_png(arr)
            elif fmt == "jpeg":
                payload = encode_jpeg(arr, quality=98)
            elif fmt == "wav":
                samples = (raw.astype(np.int16) - 128) * 16
                payload = encode_wav(samples, sample_rate=8000)
            else:
                payload = encode_avi([arr])
            sniffed, family = sniff_container(payload)
            rows.append((int(doc_id), sniffed, family))
        yield pd.DataFrame(rows, columns=["doc_id", "sniffed", "family"])


@register(
    "q_mime_sniff",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                           WHEN 2 THEN 'jpeg' WHEN 3 THEN 'wav'
                           ELSE 'avi' END AS sniffed,
           CASE WHEN doc_id % 5 IN (3, 4) THEN 'riff'
                ELSE 'native' END AS family
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIME/container sniffing over a mixed binary corpus: each doc's
    payload is built by one of the five REAL encoders (BMP, PNG,
    baseline JPEG, RIFF/WAVE, RIFF/AVI — doc_id % 5 picks), and the
    kernel detects the format from leading magic bytes only (RIFF
    disambiguated by the form tag at bytes 8..12) — the first gate of
    any multimodal ingestion pipeline, which must route payloads
    BEFORE paying a full decode. The oracle knows the construction
    choice per doc_id, so the hash proves the full
    encode → magic-sniff round trip for every format.

    Scale: the q_multimodal_decode shape — Arrow-batched mapInPandas
    over a pruned 2-column scan, one small row out per document, no
    shuffle; sniffing reads ≤ 12 bytes per payload regardless of
    object size (at 100 TB the payloads come from binaryFile sources
    and the sniff cost stays per-object-constant).
    """
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id", F.unhex(F.substring(F.md5("text"), 1, 24)).alias("px")
    )
    # single-file local scan -> one split; spread the Python encode
    # across cores (see q_multimodal_formats' note — same economics)
    src = src.repartition(spark.sparkContext.defaultParallelism)
    return src.mapInPandas(_sniff_batches, _SNIFF_SCHEMA)


# ---------------------------------------------------------------------------
# q_image_dhash — gradient-hash (dHash) image dedup over REAL decodes
# ---------------------------------------------------------------------------

_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def _dhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas dHash kernel — the difference hash, all integer:
    REAL decode, per-pixel gray = (r+g+b) DIV 3; bits 0-11 horizontal
    (bit 3y+x set iff gray(y,x+1) > gray(y,x)), bits 12-23 vertical
    (bit 12+4y+x set iff gray(y+1,x) > gray(y,x)) — 24 bits on the
    4x4 grid so the hash space stays sparse at corpus scale (a 12-bit
    horizontal-only hash measured ~n^2/4096 colliding pairs)."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        hashes = []
        for payload in pdf["payload"]:
            arr = decode_image(bytes(payload)).astype(np.int64)
            gray = arr.sum(axis=2) // 3
            hbits = (gray[:, 1:] > gray[:, :-1]).reshape(-1).astype(np.int64)
            vbits = (gray[1:, :] > gray[:-1, :]).reshape(-1).astype(np.int64)
            bits = np.concatenate([hbits, vbits])
            hashes.append(int((bits << np.arange(bits.size)).sum()))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "dhash": pd.Series(hashes, dtype="int64"),
            }
        )


@register(
    "q_image_dhash",
    oracle=f"""
    WITH h AS MATERIALIZED (
        SELECT doc_id,
               md5(text) || md5(text || 'g') || md5(text || 'h') AS hx
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(0, 16), i -> {_DUCK_GRAY}) AS grays
        FROM h
    ),
    hsh AS MATERIALIZED (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 12), i ->
                   CASE WHEN grays[4*(i//3) + (i%3) + 2]
                             > grays[4*(i//3) + (i%3) + 1]
                        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
                   + list_sum(list_transform(range(0, 12), i ->
                   CASE WHEN grays[4*(i//4) + (i%4) + 5]
                             > grays[4*(i//4) + (i%4) + 1]
                        THEN (CAST(1 AS BIGINT) << (i + 12)) ELSE 0 END))
                   AS BIGINT) AS dhash
        FROM g
    ),
    bands AS (
        SELECT doc_id, dhash, b.band_id,
               CASE b.band_id WHEN 0 THEN dhash & 4095
                              ELSE (dhash >> 12) & 4095 END AS bv
        FROM hsh, (VALUES (0), (1)) b(band_id)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.dhash AS ha, b.dhash AS hb
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.bv = b.bv
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= 1
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "multimodal", "dedup"),
)
def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADIENT-HASH IMAGE DEDUP — difference hash (dHash) over real
    BMP payloads, banded pairing at Hamming <= 1: completes the
    classic perceptual-hash pair next to q_image_ahash. dHash encodes
    horizontal gradient SIGNS, so it is invariant to global
    brightness/contrast shifts that flip aHash's mean threshold —
    the two keys catch different near-dup classes, which is why
    curation pipelines run both and union the candidates.

    Pipeline: the q_image_ahash playbook with the gradient kernel —
    Arrow-batched real decode, integer grays, 24 gradient bits
    (0-11 horizontal: 3y+x set iff gray(y,x+1) > gray(y,x); 12-23
    vertical: 12+4y+x set iff gray(y+1,x) > gray(y,x) — the vertical
    half keeps the hash space sparse at corpus scale); a 2-band
    (12+12) pigeonhole is LOSSLESS for Hamming <= 1 (one differing
    bit touches one band), exact bit_count(xor) verifies. The oracle
    regenerates pixels from the md5 recurrence (bottom-up row
    un-mapping included) and never parses a BMP.

    100 TB: identical shape/costs to q_image_ahash — per-image
    Arrow map, one shuffle on (band_id, value), bucket-scoped pairs;
    production is 64-bit dHash on 9x8 downsamples, same plan.
    """
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    media = with_ahash_media(docs).repartition(
        spark.sparkContext.defaultParallelism
    )
    hashes = media.mapInPandas(_dhash_batches, _DHASH_SCHEMA)
    bands = hashes.select(
        "doc_id",
        "dhash",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_id"),
                    F.col("dhash").bitwiseAND(F.lit(4095)).alias("bv"),
                ),
                F.struct(
                    F.lit(1).alias("band_id"),
                    F.shiftright("dhash", 12).bitwiseAND(F.lit(4095)).alias("bv"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "dhash", "b.band_id", "b.bv")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.filter(hamming <= 1)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )
