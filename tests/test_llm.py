"""LLM-data wave tests beyond the generic oracle parity in
test_correctness.py: semantic properties of dedup / similarity /
text operators that a value-hash alone doesn't witness.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from flink_rc_spark.registry import REGISTRY, load_all

load_all()


def _run(spark, sf_dir, key):
    return REGISTRY[key].builder(spark, sf_dir)


def test_lang_id_scores_nonnegative(spark, sf_dir):
    rows = _run(spark, sf_dir, "q_lang_id").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.pred_lang in ("en", "es", "de", "fr", "zh")
        assert min(r.s_en, r.s_es, r.s_de, r.s_fr, r.s_zh) >= 0
        # the synthetic corpus is pure Latin script (zero CJK bytes),
        # so on fixture data the zh path must never fire
        assert r.s_zh == 0
        assert r.pred_lang != "zh"


def test_lang_id_cjk(spark):
    """The zh path on actual CJK strings: ideograph counting and the
    en>es>de>fr>zh argmax priority, on literal rows (the parquet
    fixture is Latin-only by design, so this is the test that proves
    the classifier CAN emit zh — cited by llm/text.py's _CJK_CLASS
    comment)."""
    from flink_rc_spark.llm.text import _langid_pred_col, _langid_scored_cols

    rows = [
        # pure Chinese: 8 ideographs, zero Latin markers -> zh
        (0, "这是一个中文句子"),
        # mixed, CJK dominates the single 'the' marker -> zh
        (1, "the 机器学习模型训练完成"),
        # tie s_en == s_zh (1 marker vs 1 ideograph): en wins (priority)
        (2, "the 中"),
        # Latin-only control -> en
        (3, "the cat sat of the mat and is happy"),
        # no markers, no ideographs: all-zero tie falls to en
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    scored = df.select("doc_id", *_langid_scored_cols())
    got = {
        r.doc_id: (r.pred_lang, r.s_zh)
        for r in scored.select(
            "doc_id", _langid_pred_col().alias("pred_lang"), "s_zh"
        ).collect()
    }
    assert got[0] == ("zh", 8)  # all 8 chars are ideographs
    assert got[1] == ("zh", 10)
    assert got[2] == ("en", 1)
    assert got[3] == ("en", 0)
    assert got[4] == ("en", 0)


def test_lang_id_cjk_duckdb_twin(spark):
    """The DuckDB spelling of the CJK count agrees with the Spark
    spelling on the same literal strings (engine-parity of the regex
    class itself, independent of the parquet fixture)."""
    import duckdb

    from flink_rc_spark.llm.text import _cjk_count_expr, _cjk_count_sql

    texts = ["这是一个中文句子", "the 机器学习模型训练完成", "the 中", "plain ascii", ""]
    sdf = spark.createDataFrame([(t,) for t in texts], ["text"])
    spark_counts = [
        r.c for r in sdf.select(F.expr(_cjk_count_expr()).alias("c")).collect()
    ]
    con = duckdb.connect()
    duck_counts = [
        con.execute(f"SELECT {_cjk_count_sql()} FROM (SELECT ? AS text)", [t]).fetchone()[0]
        for t in texts
    ]
    assert spark_counts == duck_counts == [8, 10, 1, 0, 0]


def test_quality_score_gate_consistent(spark, sf_dir):
    for r in _run(spark, sf_dir, "q_quality_score").collect():
        assert r.keep in (0, 1)
        expected = 1 if (r.n_tok >= 20 and r.stop_ratio < 0.5) else 0
        # stop_ratio is rounded to 4dp; only assert when not borderline
        if abs(r.stop_ratio - 0.5) > 1e-3:
            assert r.keep == expected, r


def test_fingerprint_min_le_max(spark, sf_dir):
    for r in _run(spark, sf_dir, "q_fingerprint").collect():
        assert r.min_shingle <= r.max_shingle
        assert len(r.full_hash) == 32


def test_minhash_est_jaccard_bounds(spark, sf_dir):
    rows = _run(spark, sf_dir, "q_dedup_minhash").collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        # banded LSH with r=2 implies >= 2/8 matching signature rows
        assert 0.25 <= r.est_jaccard <= 1.0


def test_simhash_pairs_ordered(spark, sf_dir):
    for r in _run(spark, sf_dir, "q_dedup_simhash").collect():
        assert r.doc_a < r.doc_b and 0 <= r.hamming <= 3


def test_ann_lsh_subset_of_bruteforce_space(spark, sf_dir):
    rows = _run(spark, sf_dir, "q_sim_ann_lsh").collect()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert -1.0001 <= r.cosine <= 1.0001


def test_ann_banded_recall_and_pruning(spark, sf_dir):
    """Measured (not guessed) recall of the banded-LSH ANN path.

    The synthetic embeddings are near-uniform (global top-50 pairs at
    cosine 0.43-0.51), the adversarial case for hyperplane LSH, so the
    recall target uses the few-planes/many-bands config. All planes are
    md5-derived => fully deterministic => exact thresholds are stable.
    Measured 2026-08-13: recall(4,16)=0.98 @sf0.001 / 0.90 @sf0.01;
    recall(8,16)=0.38/0.28 with ~7% candidate ratio.
    """
    from flink_rc_spark.llm.similarity import ann_candidate_pairs, ann_recall

    r_wide = ann_recall(spark, sf_dir, k=50, planes_per_band=4, n_bands=16)
    assert r_wide >= 0.85, f"banded ANN recall@50 too low: {r_wide}"

    # AND-OR tradeoff is monotone: more planes per band => fewer
    # candidates AND lower recall (on this data), never both better.
    r_tight = ann_recall(spark, sf_dir, k=50, planes_per_band=8, n_bands=16)
    c_wide = ann_candidate_pairs(spark, sf_dir, 4, 16).count()
    c_tight = ann_candidate_pairs(spark, sf_dir, 8, 16).count()
    assert r_tight <= r_wide
    assert c_tight < c_wide

    # the tight config must genuinely prune: < 10% of all n^2/2 pairs
    from flink_rc_spark.sources.tables import load

    n = load(spark, sf_dir, "embeddings").count()
    assert c_tight < 0.10 * n * (n - 1) / 2


def test_dedup_embedding_full_exact_verify_and_bounds(spark, sf_dir):
    """q_dedup_embedding_full is exact-oracled; this adds the
    numpy-independent bounds a hash can't express for the r7 bounded
    canonical contract: (a) every emitted (vec_id, dup_of) genuinely
    has cosine >= 0.35 (recomputed with a different summation order)
    and dup_of < vec_id, (b) output is at most one row per vector —
    the Omega(pairs) blowup is structurally gone."""
    import numpy as np

    from flink_rc_spark.sources.tables import load

    rows = _run(spark, sf_dir, "q_dedup_embedding_full").collect()
    assert rows, "canonical dedup emitted nothing — vacuous"
    emb = {
        r.vec_id: np.array(r.embedding, dtype=float)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    unit = {k: v / np.linalg.norm(v) for k, v in emb.items()}
    seen = set()
    for r in rows:
        assert r.dup_of < r.vec_id, r
        c = float(unit[r.vec_id] @ unit[r.dup_of])
        assert c >= 0.35 - 1e-9, (r, c)
        assert r.vec_id not in seen, f"duplicate output row for {r.vec_id}"
        seen.add(r.vec_id)
    assert len(rows) <= len(unit)


def test_dedup_embedding_full_planted_recall(spark, sf_dir):
    """RECALL on the workload the key exists for: plant exact copies
    of 300 vectors (vec_id + 1_000_000) into the corpus and require
    every planted copy to be flagged as a duplicate (measured 1.0 at
    sf0.001/sf0.01 — a copy collides with its source in >= 1 of 16
    bands w.p. ~1 and the 8-plane buckets keep anchors cluster-local).
    Also checks candidate-volume linearity: the star shape emits at
    most n_bands candidates per vector."""
    from pyspark.sql import functions as F

    from flink_rc_spark.functions.vectors import as_double, norm
    from flink_rc_spark.llm.similarity import _BANDED_NB, embedding_canonical_dedup
    from flink_rc_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 300).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "label", "embedding"
    )
    n_planted = planted.count()
    assert n_planted > 0
    both = emb.select("vec_id", "label", "embedding").unionByName(planted)
    n = both.select("vec_id", F.expr(as_double()).alias("e")).withColumn(
        "nrm", F.expr(norm("e"))
    )
    out = embedding_canonical_dedup(n)
    flagged = {r.vec_id for r in out.collect()}
    hits = sum(1 for v in flagged if v >= 1_000_000)
    recall = hits / n_planted
    assert recall >= 0.95, f"planted-copy recall too low: {recall}"
    # bounded output: at most one row per vector, and the total can
    # never exceed the corpus size (the r5 pair emission could)
    assert len(flagged) <= both.count()
    assert _BANDED_NB == 16


def test_ann_bucket_occupancy_bounded(spark, sf_dir):
    """Per-bucket occupancy (the quadratic-blowup knob) stays near the
    n/2^planes expectation — the property that keeps in-bucket pair
    generation sub-quadratic as planes scale with n."""
    from flink_rc_spark.llm.similarity import bucket_occupancy
    from flink_rc_spark.sources.tables import load

    n = load(spark, sf_dir, "embeddings").count()
    occ = bucket_occupancy(spark, sf_dir, planes_per_band=8, n_bands=16)
    assert occ["n_rows"] == n * 16
    # expectation n/256; allow generous clustering headroom
    assert occ["max"] <= max(10 * n / 256, 8), occ


def test_knn_labels_valid(spark, sf_dir):
    rows = _run(spark, sf_dir, "q_knn_label").collect()
    assert len(rows) == 10
    for r in rows:
        assert r.pred_label is not None


def test_codec_bmp_roundtrip():
    """Real-bytes roundtrip: encode -> decode is pixel-exact for BMP,
    including the row-padding path (W=3 -> 9-byte rows padded to 12)."""
    import numpy as np

    from flink_rc_spark.llm.codec import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    for h, w in [(2, 2), (5, 3), (1, 7), (16, 16)]:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        data = encode_bmp(arr)
        assert data[:2] == b"BM"
        out = decode_bmp(data)
        assert out.shape == arr.shape and (out == arr).all()


def test_codec_png_roundtrip_and_filters():
    """PNG roundtrip for gray/RGB/RGBA, plus decode of every scanline
    filter type (hand-built filtered stream, checked against the
    filter definitions)."""
    import struct
    import zlib

    import numpy as np

    from flink_rc_spark.llm.codec import PNG_SIG, decode_png, encode_png

    rng = np.random.default_rng(11)
    for shape in [(4, 5), (4, 5, 3), (3, 3, 4)]:
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = decode_png(encode_png(arr))
        assert out.shape == arr.shape and (out == arr).all()

    # hand-filtered 2-row RGB image exercising Sub and Up
    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    row0 = bytes([10, 20, 30, 11, 22, 33])  # pixels (10,20,30),(11,22,33)
    # filter 1 (Sub): raw[i] = recon[i] - recon[i-3]
    f1 = bytes([1, 10, 20, 30, (11 - 10) % 256, (22 - 20) % 256, (33 - 30) % 256])
    # filter 2 (Up): raw[i] = recon[i] - prev[i]; choose recon == row0 + 1
    f2 = bytes([2] + [1] * 6)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    png = (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(f1 + f2))
        + chunk(b"IEND", b"")
    )
    img = decode_png(png)
    assert (img[0].flatten() == np.frombuffer(row0, np.uint8)).all()
    assert (img[1].flatten() == np.frombuffer(row0, np.uint8) + 1).all()


def test_multimodal_payload_is_real_bmp(spark, sf_dir):
    """The payload column is a valid BMP the pure-Python codec (and any
    standard reader) decodes; pixels match md5(text) bytes 1..12."""
    import hashlib

    import numpy as np

    from flink_rc_spark.llm.codec import decode_image
    from flink_rc_spark.llm.multimodal import with_media_columns
    from flink_rc_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    row = media.first()
    text = docs.filter(F.col("doc_id") == row.doc_id).first().text
    arr = decode_image(bytes(row.payload))
    assert arr.shape == (2, 2, 3)
    md5b = hashlib.md5(text.encode()).digest()
    # bottom BMP row = image row 1; BGR on disk -> RGB decoded
    expect = np.frombuffer(md5b[:12], np.uint8)
    assert int(arr.sum()) == int(expect.sum())
    assert row.meta.format == "bmp"


def test_minhash_catches_synthetic_duplicates(spark):
    """Identical texts must produce identical signatures; a one-token
    edit of a long text must agree on most min-hashes; an unrelated
    text must not."""
    from flink_rc_spark.llm.dedup import minhash_signatures

    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " zzz"
    other = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], ["doc_id", "text"]
    )
    sigs = {r.doc_id: tuple(r.g) for r in minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2], "exact duplicates must collide on all hashes"
    agree_near = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    agree_other = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert agree_near >= 6, f"near-dup should agree on most hashes ({agree_near}/8)"
    assert agree_other == 0, "unrelated text should share no min-hashes"


def test_hash_sample_rate_close(spark, sf_dir):
    from flink_rc_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem")
    sampled = _run(spark, sf_dir, "q_sample_hash").count()
    rate = sampled / li.count()
    assert 0.06 <= rate <= 0.15, f"~10% hash sample, got {rate:.3f}"


def test_hash_sample_partitioning_invariant(spark, sf_dir):
    """The determinism claim: identical sample rows at any parallelism."""
    from flink_rc_spark.registry import REGISTRY

    b = REGISTRY["q_sample_hash"].builder
    base = {tuple(r) for r in b(spark, sf_dir).collect()}
    df = b(spark, sf_dir)
    assert {tuple(r) for r in df.repartition(1).collect()} == base
    assert {tuple(r) for r in df.repartition(13).collect()} == base


def test_minhash_partitioning_invariant(spark, sf_dir):
    from flink_rc_spark.llm.dedup import minhash_signatures
    from flink_rc_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    s1 = {(r.doc_id, tuple(r.g)) for r in minhash_signatures(docs).collect()}
    s2 = {
        (r.doc_id, tuple(r.g))
        for r in minhash_signatures(docs.repartition(7)).collect()
    }
    assert s1 == s2


def test_codec_png_average_and_paeth_filters():
    """Decode PNG streams forward-filtered with Average (3) and Paeth
    (4) — plus a mixed stream cycling all five filters — against an
    independent forward-filter implementation written from the PNG
    spec. Catches any asymmetry between the spec and the decoder's
    per-byte unfilter loops (previously only filters 0-2 were tested)."""
    import struct
    import zlib

    import numpy as np

    from flink_rc_spark.llm.codec import PNG_SIG, decode_png

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    def forward_filter(img, filters):
        """img: (H, W, ch) uint8; filters: per-row filter ids."""
        h, w, ch = img.shape
        flat = img.reshape(h, w * ch).astype(int)
        stride = w * ch
        raw = bytearray()
        prev = [0] * stride
        for y in range(h):
            f = filters[y]
            recon = list(flat[y])
            raw.append(f)
            for i in range(stride):
                left = recon[i - ch] if i >= ch else 0
                up = prev[i]
                ul = prev[i - ch] if i >= ch else 0
                if f == 0:
                    v = recon[i]
                elif f == 1:
                    v = recon[i] - left
                elif f == 2:
                    v = recon[i] - up
                elif f == 3:
                    v = recon[i] - ((left + up) // 2)
                elif f == 4:
                    v = recon[i] - paeth(left, up, ul)
                raw.append(v % 256)
            prev = recon
        return bytes(raw)

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    rng = np.random.default_rng(23)
    for ch, color_type in [(1, 0), (3, 2), (4, 6)]:
        img = rng.integers(0, 256, size=(6, 5, ch), dtype=np.uint8)
        for filters in ([3] * 6, [4] * 6, [0, 1, 2, 3, 4, 3]):
            ihdr = struct.pack(">IIBBBBB", 5, 6, 8, color_type, 0, 0, 0)
            png = (
                PNG_SIG
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(forward_filter(img, filters)))
                + chunk(b"IEND", b"")
            )
            out = decode_png(png)
            expect = img[:, :, 0] if ch == 1 else img
            assert out.shape == expect.shape and (out == expect).all(), (
                ch,
                filters,
            )


def test_pack_greedy_beats_fixed_stride(spark, sf_dir):
    """Greedy next-fit packing must conserve tokens, never overflow the
    512 cap, and produce no more sequences (hence >= mean fill ratio)
    than the fixed-stride baseline — per source shard, not just
    globally."""
    import pandas as pd

    from flink_rc_spark.registry import REGISTRY

    greedy = REGISTRY["q_pack_greedy"].builder(spark, sf_dir).toPandas()
    stride = REGISTRY["q_pack_sequences"].builder(spark, sf_dir).toPandas()
    assert len(greedy) > 0
    assert (greedy["n_tok"] <= 512).all(), "sequence overflows the 512 cap"
    g = greedy.groupby("source").agg(seqs=("seq_id", "size"), tok=("n_tok", "sum"))
    s = stride.groupby("source").agg(seqs=("seq_id", "size"), tok=("n_tok", "sum"))
    both = g.join(s, lsuffix="_g", rsuffix="_s")
    assert (both["tok_g"] == both["tok_s"]).all(), "token totals not conserved"
    assert (both["seqs_g"] <= both["seqs_s"]).all(), (
        f"greedy used more sequences than fixed stride:\n{both}"
    )
    assert greedy["fill_ratio"].mean() >= stride["fill_ratio"].mean()


def test_jpeg_codec_bounded_loss_and_structure():
    """Baseline JPEG roundtrip: geometry always exact; pixel error
    bounded (q=100 near-exact on smooth content, solid exactly flat);
    unsupported shapes fail loudly."""
    import numpy as np
    import pytest

    from flink_rc_spark.llm.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:16, 0:24]
    smooth = np.stack(
        [yy * 255 // 15, xx * 255 // 23, (yy + xx) * 127 // 38], axis=-1
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(smooth, quality=100))
    assert out.shape == smooth.shape
    assert np.abs(out.astype(int) - smooth.astype(int)).max() <= 2

    solid = np.full((12, 20, 3), 137, np.uint8)
    assert (decode_jpeg(encode_jpeg(solid, quality=90)) == 137).all()

    gray = ((yy * 16 + xx * 7) % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(gray, quality=95))
    assert out.shape == gray.shape
    assert np.abs(out.astype(int) - gray.astype(int)).mean() <= 8

    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")


def test_multimodal_formats_jpeg_fidelity(spark, sf_dir):
    """The JPEG leg of q_multimodal_formats carries a -1 brightness
    sentinel in the declared output (lossy); here we bound the actual
    loss: decoding the JPEG payload must land within 16/255 per channel
    of the source pixels for every document."""
    import numpy as np

    from flink_rc_spark.llm.codec import decode_image
    from flink_rc_spark.llm.jpeg import encode_jpeg
    from flink_rc_spark.sources.tables import load
    from pyspark.sql import functions as F

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.unhex(F.substring(F.md5("text"), 1, 24)).alias("px"))
        .limit(64)
        .toPandas()
    )
    assert len(docs) > 0
    for px in docs["px"]:
        arr = np.frombuffer(bytes(px), dtype=np.uint8)[:12].reshape(2, 2, 3)
        dec = decode_image(encode_jpeg(arr, quality=98))
        assert dec.shape == (2, 2, 3)
        assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 12, (
            arr.tolist(),
            dec.tolist(),
        )


def test_wav_codec_roundtrip_mono_and_stereo():
    import struct

    from flink_rc_spark.llm.audio import decode_wav, encode_wav

    rng = np.random.default_rng(7)
    mono = rng.integers(-32768, 32767, size=200, dtype=np.int16)
    dec, sr = decode_wav(encode_wav(mono, 16000))
    assert sr == 16000 and dec.shape == (200, 1)
    assert np.array_equal(dec[:, 0], mono)

    stereo = rng.integers(-32768, 32767, size=(50, 2), dtype=np.int16)
    dec2, sr2 = decode_wav(encode_wav(stereo, 44100))
    assert sr2 == 44100 and dec2.shape == (50, 2)
    assert np.array_equal(dec2, stereo)

    # a foreign chunk (LIST, odd size -> word-aligned pad) between fmt
    # and data must be skipped by the chunk walker
    payload = encode_wav(mono, 8000)
    fmt_end = 12 + 8 + 16
    foreign = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"
    patched = payload[:fmt_end] + foreign + payload[fmt_end:]
    dec3, sr3 = decode_wav(patched)
    assert sr3 == 8000 and np.array_equal(dec3[:, 0], mono)


def test_wav_codec_rejects_bad_payloads():
    import pytest as _pytest

    from flink_rc_spark.llm.audio import decode_wav, encode_wav

    with _pytest.raises(ValueError):
        decode_wav(b"nonsense")
    ok = encode_wav(np.zeros(4, dtype=np.int16))
    with _pytest.raises(ValueError):
        decode_wav(ok[:12])  # fmt/data chunks missing
    # non-PCM format tag rejected
    bad = bytearray(ok)
    bad[20] = 3  # fmt tag -> IEEE float
    with _pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_audio_payload_decodes_with_stdlib_wave(spark, sf_dir):
    """The JVM-built payload must be a *real* WAV: python's stdlib
    ``wave`` module (an independent parser) must read the same
    sample bytes the query's kernel decodes."""
    import io
    import wave

    from flink_rc_spark.llm.audio import with_audio_columns
    from flink_rc_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").limit(8)
    rows = with_audio_columns(docs).collect()
    assert len(rows) == 8
    for r in rows:
        with wave.open(io.BytesIO(bytes(r.payload))) as w:
            assert w.getframerate() == 8000
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getnframes() == 64
            raw = w.readframes(64)
        samples = np.frombuffer(raw, dtype="<i2")
        expect = np.array(
            [(r.doc_id * 7 + i * 13) % 256 for i in range(64)], dtype=np.int16
        )
        assert np.array_equal(samples, expect)


def test_dedup_components_consistent_with_pairs(spark, sf_dir):
    """Semantic witness beyond the oracle hash: both endpoints of every
    candidate pair share a component; canonical docs = distinct
    components; component sizes sum to the document count."""
    comp = _run(spark, sf_dir, "q_dedup_components").toPandas()
    pairs = _run(spark, sf_dir, "q_dedup_minhash").toPandas()
    label = dict(zip(comp.doc_id, comp.component))
    for a, b in zip(pairs.doc_a, pairs.doc_b):
        assert label[a] == label[b], (a, b)
    assert comp.is_canonical.sum() == comp.component.nunique()
    assert len(comp) == comp.doc_id.nunique()
    sizes = comp.groupby("component").size()
    assert (comp.set_index("doc_id").component_size
            == comp.set_index("doc_id").component.map(sizes)).all()


def test_cms_estimate_upper_bounds_true_count(spark, sf_dir):
    """CMS invariant the hash can't express: every estimate >= the true
    count (collisions only inflate), and the top-1 token's estimate is
    exact at this sketch load (1024 cells >> vocabulary pressure per
    row would be needed to collide the heaviest key 4/4 times)."""
    rows = _run(spark, sf_dir, "q_sketch_cms").collect()
    assert len(rows) == 10
    for r in rows:
        assert r.cms_estimate >= r.true_n, (r.tok, r.cms_estimate, r.true_n)


def test_hll_sketch_estimate_accuracy(spark, sf_dir):
    """The HLL estimate must land near the true distinct-token count —
    the quantitative check the hash can't do. The declared query emits
    the RAW estimate plus exact register stats; the standard
    small-range (linear counting) correction uses ln, which is libm-
    dependent and so lives here, computed from the exact empty_buckets
    column, not in the hash-compared oracle."""
    import math

    row = _run(spark, sf_dir, "q_sketch_hll").first()
    from flink_rc_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    true_n = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .select("tok")
        .distinct()
        .count()
    )
    m = 256
    est = row.hll_estimate
    if est < 2.5 * m and row.empty_buckets > 0:
        est = m * math.log(m / row.empty_buckets)  # linear counting
    rel_err = abs(est - true_n) / true_n
    # 3x the p=8 standard error (1.04/sqrt(m) ~ 6.5%), floor of 2 for
    # tiny cardinalities where the bound is integer-granular
    assert abs(est - true_n) <= max(3 * 1.04 / math.sqrt(m) * true_n, 2.0), (
        est,
        true_n,
        rel_err,
    )


def test_bottomk_kmv_estimate_accuracy(spark, sf_dir):
    """KMV invariants: exactly k sample rows, and the distinct-count
    estimate lands within 3 standard errors (rsd ~ 1/sqrt(k-2)) of the
    true document count."""
    rows = _run(spark, sf_dir, "q_sample_bottomk").collect()
    assert len(rows) == 64
    from flink_rc_spark.sources.tables import load

    true_n = load(spark, sf_dir, "documents").count()
    est = rows[0].kmv_estimate
    rsd = 1.0 / (62 ** 0.5)
    assert abs(est - true_n) <= 3 * rsd * true_n, (est, true_n)


def test_bloom_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every probe token that IS in the build set must
    hit (false positives allowed, false negatives never); the absent
    variants must exist to make the probe two-sided."""
    rows = _run(spark, sf_dir, "q_sketch_bloom").collect()
    assert len(rows) == 20
    assert all(r.bloom_hit for r in rows if r.truly_in)
    assert any(not r.truly_in for r in rows)


def test_pq_codes_in_range_and_centroids_self_assign(spark, sf_dir):
    """PQ invariants: every code is a valid 4-bit index, every vector
    gets exactly 8 subspace codes, and a vector chosen as a centroid
    assigns to ITSELF in that subspace (sq_dist 0 — the argmin must
    find the exact match)."""
    rows = _run(spark, sf_dir, "q_embedding_pq").collect()
    assert all(0 <= r.code < 16 for r in rows)
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r.vec_id, set()).add(r.subspace)
    assert all(subs == set(range(8)) for subs in per_vec.values())
    assert any(r.sq_dist == 0.0 for r in rows)


def test_funnel_counts_monotone(spark, sf_dir):
    """Funnel invariant: each step's reach is <= the previous step's
    (strict ordering can only lose users), and reach never exceeds the
    user universe."""
    row = _run(spark, sf_dir, "q_funnel_steps").collect()[0]
    assert row.users_total >= row.reached_view >= row.reached_click >= row.reached_purchase
    assert row.reached_purchase >= 0


def test_avi_codec_roundtrip():
    """Random RGB frames through encode_avi -> decode_avi: geometry,
    fps, frame count, and every pixel byte (bottom-up BGR DIB rows,
    4-byte row alignment) must survive."""
    import numpy as np

    from flink_rc_spark.llm.video import decode_avi, encode_avi

    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, (2, 2, 3), dtype=np.uint8) for _ in range(5)]
    w, h, fps, n, dibs = decode_avi(encode_avi(frames, fps=25))
    assert (w, h, fps, n) == (2, 2, 25, 5)
    stride = ((w * 3 + 3) // 4) * 4
    for orig, dib in zip(frames, dibs):
        arr = np.frombuffer(dib, dtype=np.uint8).reshape(h, stride)
        for y in range(h):
            assert (arr[h - 1 - y, : w * 3].reshape(w, 3) == orig[y, :, ::-1]).all()


def test_pq_adc_recall_beats_chance(spark, sf_dir):
    """ADC approximation quality, measured not guessed: mean recall@10
    of the ADC top-10 vs the true L2 top-10. On ISOTROPIC random
    vectors PQ has little structure to exploit (no clusters, no OPQ
    rotation, untrained codebook), so absolute recall is modest by
    nature — the assertion pins it well above the chance baseline
    (10/N ≈ 0.02): implementation correctness is the oracle's job,
    this guards approximation sanity."""
    import numpy as np

    rows = _run(spark, sf_dir, "q_sim_pq_topk").collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    ids = sorted(emb)
    X = np.stack([emb[i] for i in ids])
    recalls = []
    for q in range(10):
        d = ((X - emb[q]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        true10 = {ids[i] for i in order[:10]}
        adc10 = {r.vec_id for r in rows if r.qid == q}
        recalls.append(len(true10 & adc10) / 10)
    assert sum(recalls) / len(recalls) >= 0.15, recalls


def test_ivf_pq_recall(spark, sf_dir):
    """End-to-end recall@5 of the composed IVF->ADC->exact-refine
    search (q_ivf_pq_search) vs exact brute force, measured not
    guessed. Both quantizers are FITTED (integer fixed-point Lloyd,
    r6 rework): the coarse cells balance occupancy and capture
    ~0.70-0.74 of true neighbors at 4/8 probes, and the trained PQ
    ADC shortlist (top-150, exact-refined) keeps most of that — end
    recall measures 0.60-0.70 across SFs on the near-uniform
    synthetic embeddings (the documented ANN worst case; chance
    baseline 5/N ≈ 0.01). The bound is the r5 VERDICT's ask (>= 0.5,
    up from 0.15 with the md5-sample quantizers).
    Also asserts the per-stage invariant that every returned row's
    l2_dist is the true exact distance (refine honesty)."""
    import numpy as np

    rows = _run(spark, sf_dir, "q_ivf_pq_search").collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    ids = sorted(emb)
    X = np.stack([emb[i] for i in ids])
    recalls = []
    for q in range(10):
        d = ((X - emb[q]) ** 2).sum(axis=1)
        d[ids.index(q)] = np.inf
        order = np.lexsort((ids, d))
        true5 = {ids[i] for i in order[:5]}
        got5 = {r.cand_id for r in rows if r.vec_id == q}
        recalls.append(len(true5 & got5) / 5)
    assert sum(recalls) / len(recalls) >= 0.5, recalls
    for r in rows:
        true_d = ((emb[r.vec_id] - emb[r.cand_id]) ** 2).sum()
        assert abs(r.l2_dist - true_d) < 1e-3, (r, true_d)


def test_arrow_surface_kernel_distinguishes_multibyte(spark):
    """The testdata is all-ASCII, so q_arrow_surface's is_ascii flag
    never fires there — this pins the actual kernel semantics on
    constructed multibyte text: utf8_length counts CODEPOINTS,
    binary_length counts BYTES, and the flag separates them."""
    from flink_rc_spark.llm.udfs import _arrow_doc_stats

    df = spark.createDataFrame(
        [(1, "plain ascii"), (2, "naïve café"), (3, "中文文本")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in df.mapInArrow(
            _arrow_doc_stats, "doc_id long, n_codepoints long, is_ascii boolean"
        ).collect()
    }
    assert rows[1].n_codepoints == 11 and rows[1].is_ascii
    assert rows[2].n_codepoints == 10 and not rows[2].is_ascii  # ï, é
    assert rows[3].n_codepoints == 4 and not rows[3].is_ascii


def test_semdedup_rule_matches_numpy(spark, sf_dir):
    """q_dedup_semdedup is hash-exact vs its oracle; this recomputes
    the SemDeDup rule independently (numpy cosines, different
    summation order): a vector is dropped iff it has a smaller-id
    SAME-CLUSTER neighbor with cosine >= tau, dup_of is the SMALLEST
    such id, and the fixture genuinely produces drops (non-vacuous)."""
    import numpy as np

    from flink_rc_spark.llm.dedup import _SEMDEDUP_TAU

    rows = _run(spark, sf_dir, "q_dedup_semdedup").collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    unit = {k: v / np.linalg.norm(v) for k, v in emb.items()}
    cluster = {r.vec_id: r.c_id for r in rows}
    assert set(cluster) == set(emb), "one row per vector"
    dropped = 0
    for r in rows:
        peers = sorted(
            u for u in cluster
            if u < r.vec_id and cluster[u] == r.c_id
            and float(unit[u] @ unit[r.vec_id]) >= _SEMDEDUP_TAU - 1e-9
        )
        if r.keep == 1:
            # borderline cosines (within rounding slack of tau) may
            # legitimately differ between fold orders; only hard
            # violations count
            hard = [
                u for u in peers
                if float(unit[u] @ unit[r.vec_id]) >= _SEMDEDUP_TAU + 1e-6
            ]
            assert not hard, (r.vec_id, hard[:3])
            assert r.dup_of is None and r.sim is None, r
        else:
            dropped += 1
            assert peers, r
            assert r.dup_of == peers[0], (r, peers[:3])
            want = float(unit[r.dup_of] @ unit[r.vec_id])
            assert abs(r.sim - want) < 1e-3, (r, want)
    assert dropped > 0, "fixture produced no semantic duplicates — vacuous"


def _bpe_train_py(texts, n_merges):
    """Pure-Python reference BPE trainer: identical semantics to
    llm/bpe.py learn_merges (space-sentineled corpus, adjacent-pair
    counts, (n DESC, a, b) tie-break, left-to-right non-overlapping
    replace) with zero engine involvement."""
    from collections import Counter

    corpus = [f" {t} " for t in texts]
    merges = []
    for k in range(n_merges):
        cnt = Counter()
        for s in corpus:
            toks = s.strip(" ").split(" ")
            for a, b in zip(toks, toks[1:]):
                cnt[(a, b)] += 1
        (a, b), n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((k, a, b, n))
        corpus = [s.replace(f" {a} {b} ", f" {a}_{b} ") for s in corpus]
    return merges


def test_bpe_trainer_matches_python_reference(spark, sf_dir):
    """The distributed trainer (learn_merges) reproduces the
    pure-Python reference trainer EXACTLY — (step, left, right, n)
    tuples — on the fixture corpus at the declared depth."""
    from flink_rc_spark.llm.bpe import learn_merges
    from flink_rc_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    texts = [r.text for r in docs.collect()]
    assert _bpe_train_py(texts, 6) == learn_merges(spark, docs, 6)


def test_bpe_trainer_single_token_doc_guard(spark):
    """Deep-training guard: once a merge fuses a 2-token doc into ONE
    token, the next round's pair extraction must skip it (Spark's
    sequence(1, 0) is DESCENDING, so the unguarded expression threw
    element_at(t, 0)). A literal corpus where that happens at step 2
    must train on, matching the python reference."""
    from flink_rc_spark.llm.bpe import learn_merges

    docs = spark.createDataFrame(
        [(0, "x y"), (1, "x y z w"), (2, "x y z q")], ["doc_id", "text"]
    )
    got = learn_merges(spark, docs, 3)
    want = _bpe_train_py(["x y", "x y z w", "x y z q"], 3)
    assert got == want
    # doc 0 is a single token after step 1 -- the guard had to fire
    assert got[0][1:3] == ("x", "y")


def test_bpe_deep_encoder_64_merges(spark, sf_dir):
    """The depth-unbounded mapInPandas BPE encoder (bpe_encode_df) at
    64 merges — far past the declared key's 6 — verified three ways:
    (a) bit-equal (counts + md5) to a 64-deep chained-expression twin
    on the full fixture corpus, (b) hash-equal to a driver-side
    pure-Python replace loop on every doc, (c) equal to the declared
    q_bpe_encode output when given the same 6-merge prefix. The
    64-merge table comes from the python reference trainer (itself
    pinned to the distributed trainer by
    test_bpe_trainer_matches_python_reference)."""
    import hashlib

    from flink_rc_spark.llm.bpe import bpe_encode_df
    from flink_rc_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    rows0 = docs.select("doc_id", "text").collect()
    merges = _bpe_train_py([r.text for r in rows0], 64)
    assert len(merges) == 64
    assert len({(l, r) for _, l, r, _ in merges}) == 64, "merge pairs must be distinct"

    got = bpe_encode_df(spark, docs, merges).collect()
    assert len(got) == len(rows0)
    assert any(r.n_tok_bpe < r.n_tok_raw for r in got), "64 merges compressed nothing"

    # (a) the expression twin at the same depth
    s0 = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    enc = s0
    for _, left, right, _n in merges:
        enc = F.replace(enc, F.lit(f" {left} {right} "), F.lit(f" {left}_{right} "))
    want = (
        docs.select(
            "doc_id",
            F.size(F.split(F.trim(s0), " ")).cast("bigint").alias("n_tok_raw"),
            F.size(F.split(F.trim(enc), " ")).cast("bigint").alias("n_tok_bpe"),
            F.md5(F.trim(enc)).alias("encoded_hash"),
        )
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # (b) pure-Python reference on every doc (engine-independent)
    by_id = {r.doc_id: r.text for r in rows0}
    for r in got:
        s = f" {by_id[r.doc_id]} "
        for _, left, right, _n in merges:
            s = s.replace(f" {left} {right} ", f" {left}_{right} ")
        assert hashlib.md5(s.strip(" ").encode()).hexdigest() == r.encoded_hash, r.doc_id

    # (c) the 6-merge prefix reproduces the declared key exactly
    declared = _run(spark, sf_dir, "q_bpe_encode").collect()
    prefix = bpe_encode_df(spark, docs, merges[:6]).collect()
    assert [tuple(r) for r in prefix] == [tuple(r) for r in declared]


def test_matryoshka_funnel_recall(spark, sf_dir):
    """q_sim_matryoshka is hash-exact vs its oracle; this measures
    the funnel's approximation quality independently: recall@5 of the
    prefix-filtered + exact-refined top-5 vs the true full-dim top-5
    (numpy, different summation order), plus the refine-honesty
    invariant that every reported cosine is the true full-dim cosine.
    On synthetic embeddings the leading dims are NOT matryoshka-
    trained (no coarse-to-fine structure), so this is the documented
    worst case — the bound pins far-above-chance (5/N ~ 0.01)."""
    import numpy as np

    rows = _run(spark, sf_dir, "q_sim_matryoshka").collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    unit = {k: v / np.linalg.norm(v) for k, v in emb.items()}
    ids = sorted(unit)
    recalls = []
    for q in range(10):
        sims = {c: float(unit[q] @ unit[c]) for c in ids if c != q}
        true5 = {c for c, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]}
        got5 = {r.cand_id for r in rows if r.vec_id == q}
        recalls.append(len(true5 & got5) / 5)
    assert sum(recalls) / len(recalls) >= 0.3, recalls
    for r in rows:
        true_cos = float(unit[r.vec_id] @ unit[r.cand_id])
        assert abs(r.cosine - true_cos) < 1e-3, (r, true_cos)


def test_embed_pca_rayleigh_dominates(spark, sf_dir):
    """The hash pins q_embed_pca's 12-round power-iteration output as
    a deterministic integer sequence; THIS test pins its quality: the
    returned direction's Rayleigh quotient against the true float
    covariance must dominate the average eigenvalue (ratio >= 1.3)
    and capture >= 85% of the true top eigenvalue — i.e. the
    fixed-point iteration found the dominant direction, not an
    artifact of quantization. Synthetic near-uniform embeddings are
    the worst case (smallest spectral gap), so these bounds hold with
    margin on any real corpus."""
    import numpy as np

    rows = _run(spark, sf_dir, "q_embed_pca").collect()
    v = np.array([r.loading for r in sorted(rows, key=lambda r: r.dim)])
    X = np.array(
        [
            r.embedding
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    C = np.cov(X.T, bias=True)
    ray = float(v @ C @ v)
    evals = np.linalg.eigvalsh(C)
    assert abs(float(v @ v) - 1.0) < 1e-9
    assert ray / evals.mean() >= 1.3, (ray, evals.mean())
    assert ray / evals.max() >= 0.85, (ray, evals.max())
