"""Tests for the LLM-data-pipeline extensions (SURVEY §2 B33-B37):
dedup strategies, similarity search, text analysis, multimodal plumbing,
and the UDF surface. Ground-truth assertions on tiny in-memory frames;
recall assertions for the approximate (LSH) operators against their
exact counterparts on the documents/embeddings fixtures.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cloudtrace_exporter_spark.operators import (
    analytics,
    curate,
    dedup,
    expectations,
    multimodal,
    similarity,
    text,
    udfs,
)
from cloudtrace_exporter_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# dedup (B33)
# --------------------------------------------------------------------------


def test_exact_dedup_collapses_normalized_copies(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # same after case/ws normalization
            (3, "  HELLO WORLD  "),
            (4, "something else"),
        ],
        "doc_id long, text string",
    )
    out = dedup.exact_dedup(df).orderBy("doc_id").collect()
    assert len(out) == 2
    assert out[0]["doc_id"] == 1 and out[0]["n_copies"] == 3
    assert out[1]["doc_id"] == 4 and out[1]["n_copies"] == 1


def test_jaccard_pairs_exact_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d"),  # J = 1.0
            (3, "a b c x"),  # J(1,3) = 3/5 = 0.6
            (4, "p q r s"),  # J = 0 vs others
        ],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.jaccard_pairs(df, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 0.6
    assert pairs[(2, 3)] == 0.6
    assert (1, 4) not in pairs and (2, 4) not in pairs


@pytest.mark.parametrize("n_hashes", [32, 64])
def test_minhash_finds_constructed_near_dups(spark, sf_dir, n_hashes):
    """MinHash is shingle-based (order-sensitive) so ground truth here is
    constructed near-dups: fixture docs + copies with one word changed.
    (The fixture's own high token-set-Jaccard pairs are reshuffles of a
    shared vocabulary — NOT shingle near-dups — so they are out of scope.)
    n_hashes=64 checks that the signature carries every slot banding
    and est_jaccard read.
    """
    docs = load_table(spark, sf_dir, "documents").limit(50).cache()
    # substitution (not just append): replaces the first word, so the
    # shingle-set minimum itself can change — the perturbation class that
    # exposed the seed-vs-index lambda bug in minhash_signatures
    perturbed = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("replacedword "), F.expr("substring(text, instr(text, ' ') + 1)")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").union(perturbed)
    found = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(corpus, n_hashes=n_hashes, threshold=0.5).collect()
    }
    planted = {(i, i + 100000) for i in [r["doc_id"] for r in docs.select("doc_id").collect()]}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.9, f"minhash-LSH recall {recall} too low on planted near-dups"


def test_simhash_identical_docs_hamming_zero(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "zzz yyy xxx www vvv")],
        "doc_id long, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.simhash_near_dups(df, max_hamming=64).collect()}
    assert rows[(1, 2)] == 0
    # unrelated docs either not bucketed together or far away
    assert rows.get((1, 3), 64) > 8


def test_winnow_fingerprint_guarantee(spark):
    # winnowing guarantee: docs sharing a substring of length >= k+window-1
    # share at least one fingerprint; identical docs share all of them.
    shared_run = "this is a long shared passage of text"
    df = spark.createDataFrame(
        [
            (1, f"prefix one {shared_run} suffix alpha"),
            (2, f"different start {shared_run} other ending"),
            (3, f"prefix one {shared_run} suffix alpha"),
            (4, "entirely unrelated content zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    fps = {r["id"]: set(r["fingerprints"]) for r in dedup.winnow_fingerprints(df).collect()}
    assert fps[1] == fps[3]
    assert fps[1] & fps[2], "shared substring must yield a common fingerprint"
    assert not (fps[1] & fps[4]) or len(fps[1] & fps[4]) < len(fps[1] & fps[2])


def test_winnow_near_dups_ranks_overlap(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra tail"), (3, "completely different words here")],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_ratio"]
        for r in dedup.winnow_near_dups(df, min_shared_ratio=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.8
    assert (1, 3) not in pairs


def test_embedding_near_dups_exact(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [2.0, 0.0]),  # cos(1,2) = 1.0
            (3, [0.0, 1.0]),  # cos = 0 vs 1/2
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in dedup.embedding_near_dups(df, threshold=0.9).collect()}
    assert pairs == {(1, 2): 1.0}


# --------------------------------------------------------------------------
# similarity (B34)
# --------------------------------------------------------------------------


def test_cosine_topk_orders_by_similarity(spark):
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1]), (12, [0.0, 1.0]), (13, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    rows = similarity.cosine_topk(corpus, q, k=2).orderBy("rnk").collect()
    assert [r["corpus_id"] for r in rows] == [10, 11]
    assert rows[0]["cosine"] == 1.0


def test_lsh_topk_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["corpus_id"]) for r in similarity.cosine_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["corpus_id"]) for r in similarity.lsh_topk(emb, q, k=5, n_bits=2, n_tables=8).collect()}
    recall = len(exact & approx) / len(exact)
    # multi-table OR-amplification: measured 0.98 at n_bits=2/n_tables=8
    assert recall >= 0.9, f"LSH recall {recall} too low at n_bits=2/n_tables=8"


def test_lsh_bucket_deterministic(spark):
    planes = similarity.hyperplane_planes(4, 3, seed=42)
    assert planes == similarity.hyperplane_planes(4, 3, seed=42)
    df = spark.createDataFrame([(1, [1.0, 2.0, -1.0, 0.5])], "vec_id long, embedding array<float>")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    b1 = df.select(similarity.hyperplane_bucket(v, planes).alias("b")).first()["b"]
    b2 = df.select(similarity.hyperplane_bucket(v, planes).alias("b")).first()["b"]
    assert b1 == b2 and 0 <= b1 < 8


# --------------------------------------------------------------------------
# text (B35)
# --------------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "a  b   c"), (2, ""), (3, "don't stop-me now2024")], "doc_id long, text string")
    out = {
        r["doc_id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            text.token_count("text").alias("ws"),
            text.bpe_ish_token_count("text").alias("bpe"),
        ).collect()
    }
    assert out[1] == (3, 3)
    assert out[2] == (0, 0)
    # don ' t | stop - me | now 2024 → 8 BPE-ish pieces, 3 ws tokens
    assert out[3] == (3, 8)


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is happy"),
            (2, "der Hund ist von dem Haus und das ist gut"),
            (3, "qwerty zxcvb asdfgh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "unknown"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([(1, "Hello  World"), (2, " hello world ")], "doc_id long, text string")
    fps = [r["fingerprint"] for r in text.fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_quality_features_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    feats = text.quality_features(docs)
    bad = feats.filter(
        (F.col("quality_score") < 0) | (F.col("quality_score") > 1)
        | (F.col("distinct_ratio") < 0) | (F.col("distinct_ratio") > 1)
        | (F.col("stopword_ratio") < 0) | (F.col("stopword_ratio") > 1)
    ).count()
    assert bad == 0


# --------------------------------------------------------------------------
# multimodal (B36)
# --------------------------------------------------------------------------


def test_sniff_format_magic_bytes(spark):
    df = spark.createDataFrame(
        [
            (1, bytes.fromhex("89504e470d0a1a0a") + b"rest"),
            (2, bytes.fromhex("ffd8ffe0") + b"rest"),
            (3, b"plain text bytes"),
        ],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r["sniffed_format"] for r in multimodal.sniff_format(df).collect()}
    assert out == {1: "png", 2: "jpeg", 3: "unknown"}


def test_decode_stub_features_deterministic(spark):
    df = multimodal.attach_binary_payload(
        spark.createDataFrame([(1, "abcdefgh" * 4)], "doc_id long, text string")
    )
    f1 = multimodal.decode_stub_features(df).first()
    f2 = multimodal.decode_stub_features(df).first()
    assert f1["feature"] == f2["feature"]
    assert len(f1["feature"]) == 8
    assert f1["n_bytes"] == 32


def test_metadata_query_prunes_blob_column(spark, sf_dir):
    docs = multimodal.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    meta_only = docs.select("doc_id", F.col("media_meta.n_bytes").alias("n_bytes"))
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    # the parquet ReadSchema must not include the heavy text column once
    # only metadata is projected... payload derives from text, so check
    # that a pure-id projection prunes instead:
    ids_only = load_table(spark, sf_dir, "documents").select("doc_id")
    plan2 = ids_only._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan2.split("ReadSchema")[-1]
    assert meta_only.count() > 0 and plan is not None


def test_encode_bmp_parse_roundtrip_with_row_padding(spark):
    # width=3 → 9 pixel bytes/row padded to 12: the padding path must be
    # exact both ways
    import numpy as np

    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    buf = multimodal.encode_bmp(rgb)
    w, h, decoded = multimodal._parse_bmp(buf)
    assert (w, h) == (3, 2)
    assert np.array_equal(decoded.astype(np.uint8), rgb)


def test_decode_real_bmp_exact_stats(spark):
    import numpy as np

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, 0] = (255, 0, 0)
    rgb[0, 1] = (0, 255, 0)
    rgb[1, 0] = (0, 0, 255)
    rgb[1, 1] = (10, 20, 30)
    df = spark.createDataFrame([(7, bytearray(multimodal.encode_bmp(rgb)))], "doc_id long, payload binary")
    r = multimodal.decode_real(df).first()
    assert (r["format"], r["width"], r["height"], r["n_pixels"]) == ("bmp", 2, 2, 4)
    assert r["mean_r"] == round((255 + 0 + 0 + 10) / 4, 6)
    assert r["mean_g"] == round((0 + 255 + 0 + 20) / 4, 6)
    assert r["mean_b"] == round((0 + 0 + 255 + 30) / 4, 6)
    # luma: 76.245, 149.685, 29.07, 18.15 → 32-wide bins [29.07, 18.15 | _ | 76.245 | _ | 149.685 ...]
    assert r["gray_hist"] == [0.5, 0.0, 0.25, 0.0, 0.25, 0.0, 0.0, 0.0]


def test_decode_real_ppm_with_header_comment(spark):
    buf = b"P6 # a comment\n2 1 255\n" + bytes([255, 255, 255, 0, 0, 0])
    df = spark.createDataFrame([(1, bytearray(buf))], "doc_id long, payload binary")
    r = multimodal.decode_real(df).first()
    assert (r["format"], r["width"], r["height"]) == ("ppm", 2, 1)
    assert r["mean_r"] == r["mean_g"] == r["mean_b"] == 127.5


def test_decode_real_tolerates_undecodable(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"not an image")), (2, None)], "doc_id long, payload binary"
    )
    out = {r["doc_id"]: r for r in multimodal.decode_real(df).collect()}
    assert out[1]["format"] == "unsupported" and out[1]["width"] is None
    assert out[2]["format"] == "unsupported" and out[2]["gray_hist"] is None


def test_synthesize_and_decode_real_end_to_end(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    decoded = multimodal.decode_real(multimodal.synthesize_bmp_payload(df))
    rows = decoded.collect()
    assert len(rows) == 5
    assert all(r["format"] == "bmp" and r["n_pixels"] == 256 for r in rows)
    # deterministic: same ids → identical stats on a second run
    again = {r["doc_id"]: r for r in decoded.collect()}
    assert all(again[r["doc_id"]] == r for r in rows)


def test_png_roundtrip_all_filters():
    """encode_png(filter_mode='cycle') → _parse_png reproduces the pixel
    array bit-for-bit: every scanline filter (None/Sub/Up/Average/Paeth)
    is exercised and inverted exactly."""
    import numpy as np

    rng = np.random.RandomState(42)
    for h, w in ((16, 16), (7, 5), (1, 1), (5, 1), (3, 17)):
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        for mode in ("none", "cycle"):
            out = multimodal._parse_png(multimodal.encode_png(rgb, filter_mode=mode))
            assert out is not None
            ww, hh, dec = out
            assert (ww, hh) == (w, h)
            assert np.array_equal(dec.astype(np.uint8), rgb)


def test_parse_png_grayscale_rgba_and_rejects():
    """Grayscale replicates channels, RGBA drops alpha; palette/16-bit/
    interlaced/truncated/garbage all return None (decode-tolerant)."""
    import zlib

    import numpy as np

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big") + typ + data
            + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def png(w, h, ctype, rows, depth=8, interlace=0):
        raw = b"".join(b"\x00" + r.tobytes() for r in rows)
        ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([depth, ctype, 0, 0, interlace])
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(3)
    g = rng.randint(0, 256, (4, 6, 1)).astype(np.uint8)
    _, _, dec = multimodal._parse_png(png(6, 4, 0, g.reshape(4, -1)))
    assert np.array_equal(dec.astype(np.uint8), np.repeat(g, 3, axis=2))
    ra = rng.randint(0, 256, (4, 6, 4)).astype(np.uint8)
    _, _, dec = multimodal._parse_png(png(6, 4, 6, ra.reshape(4, -1)))
    assert np.array_equal(dec.astype(np.uint8), ra[..., :3])
    rgb = rng.randint(0, 256, (2, 2, 3)).astype(np.uint8)
    assert multimodal._parse_png(png(2, 2, 3, [np.zeros(2, np.uint8)] * 2)) is None  # palette
    assert multimodal._parse_png(png(2, 2, 2, rgb.reshape(2, -1), depth=16)) is None
    assert multimodal._parse_png(png(2, 2, 2, rgb.reshape(2, -1), interlace=1)) is None
    assert multimodal._parse_png(b"not a png") is None
    assert multimodal._parse_png(multimodal.encode_png(rgb)[:-20]) is None


def test_decode_real_png_parity_with_bmp(spark):
    """The same RGB gradient decoded via the PNG path and the BMP path
    yields IDENTICAL statistics — one _pixel_stats tail, two real
    formats, pixel-exact agreement (the in-sandbox real-corpus-format
    gate; q_multimodal_png carries the same bit per row)."""
    df = spark.createDataFrame([(i,) for i in (0, 3, 11, 255, 1000)], "doc_id long")
    png = {r["doc_id"]: r for r in multimodal.decode_real(
        multimodal.synthesize_png_payload(df)).collect()}
    bmp = {r["doc_id"]: r for r in multimodal.decode_real(
        multimodal.synthesize_bmp_payload(df)).collect()}
    assert all(r["format"] == "png" for r in png.values())
    for k, p in png.items():
        b = bmp[k]
        assert (p["width"], p["height"], p["n_pixels"]) == (b["width"], b["height"], b["n_pixels"])
        assert (p["mean_r"], p["mean_g"], p["mean_b"]) == (b["mean_r"], b["mean_g"], b["mean_b"])
        assert p["gray_hist"] == b["gray_hist"]


def test_jpeg_roundtrip_variants():
    """encode_jpeg → _parse_jpeg on real baseline-JPEG bytes (pure
    stdlib+numpy, no codec library): 4:4:4, 4:2:0, grayscale, and
    restart-marker streams all decode with quantization-bounded error
    on a smooth gradient (JPEG is lossy — tolerance, not bit parity).
    Closes the round-7 gap: the JPEG format branch now EXECUTES in CI."""
    import numpy as np

    yy, xx = np.mgrid[0:32, 0:24]
    rgb = np.stack([xx * 5 + 30, yy * 4 + 40, xx + yy + 50], axis=-1).astype(np.uint8)
    for kw, tol in (
        ({}, 6.0),
        ({"subsample": True}, 8.0),
        ({"restart_interval": 2}, 6.0),
        ({"subsample": True, "restart_interval": 1}, 8.0),
    ):
        buf = multimodal.encode_jpeg(rgb, quality=95, **kw)
        out = multimodal._parse_jpeg(buf)
        assert out is not None, kw
        w, h, dec = out
        assert (w, h) == (24, 32)
        assert np.abs(dec - rgb.astype(np.float64)).max() < tol, kw
    # grayscale: single-component stream, Y replicated across channels
    buf = multimodal.encode_jpeg(rgb, quality=95, grayscale=True)
    w, h, dec = multimodal._parse_jpeg(buf)
    yref = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    assert np.abs(dec[..., 0] - yref).max() < 2.0
    assert np.array_equal(dec[..., 0], dec[..., 1])
    # odd, non-MCU-aligned dims crop correctly
    w, h, dec = multimodal._parse_jpeg(
        multimodal.encode_jpeg(rgb[:13, :11], quality=95, subsample=True)
    )
    assert (w, h) == (11, 13)


def test_parse_jpeg_rejects():
    """Malformed, truncated, and non-JPEG payloads return None
    (decode-tolerant like every other parser)."""
    import numpy as np

    rgb = (np.mgrid[0:16, 0:16][0] * 3 + 20).astype(np.uint8)
    rgb = np.stack([rgb, rgb, rgb], axis=-1)
    buf = multimodal.encode_jpeg(rgb, quality=90)
    assert multimodal._parse_jpeg(b"not a jpeg") is None
    assert multimodal._parse_jpeg(buf[:40]) is None
    assert multimodal._parse_jpeg(buf + b"\x00" * 4) is not None  # trailing pad ok
    # flip SOF0 (FFC0) to SOF2 (FFC2) WITHOUT restructuring the scans:
    # SOF2 itself is supported (r9), but a baseline-grammar SOS
    # (Ss=0, Se=63) is illegal inside a progressive frame — reject
    prog = buf.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert multimodal._parse_jpeg(prog) is None
    # a REAL progressive stream truncated mid-scan-sequence (EOI and
    # later scans cut off): reject, never partial-decode silently
    real_prog = multimodal.encode_jpeg_progressive(rgb, quality=90)
    assert multimodal._parse_jpeg(real_prog[: len(real_prog) // 2]) is None


def test_jpeg_reject_reason_classes():
    """The reject-reason classifier (round 10) maps each planted payload
    class to its pinned label — the unit twin of the registered
    q_multimodal_reject_cert diagonal."""
    import numpy as np

    rgb = (np.mgrid[0:16, 0:16][0] * 3 + 20).astype(np.uint8)
    rgb = np.stack([rgb, rgb, rgb], axis=-1)
    for enc in (multimodal.encode_jpeg, multimodal.encode_jpeg_progressive):
        buf = enc(rgb, quality=90)
        assert multimodal.jpeg_reject_reason(buf) == "ok"
        assert multimodal.jpeg_reject_reason(buf[: (len(buf) * 3) // 5]) == "truncated"
        arith = buf.replace(b"\xff\xc0", b"\xff\xc9", 1).replace(
            b"\xff\xc2", b"\xff\xc9", 1
        )
        assert multimodal.jpeg_reject_reason(arith) == "arith"
    assert multimodal.jpeg_reject_reason(b"not a jpeg") == "not_jpeg"
    assert multimodal.jpeg_reject_reason(b"") == "not_jpeg"
    # structurally intact stream that fails decode: a baseline-grammar
    # scan inside a declared-progressive frame → corrupt, not truncated
    base = multimodal.encode_jpeg(rgb, quality=90)
    assert (
        multimodal.jpeg_reject_reason(base.replace(b"\xff\xc0", b"\xff\xc2", 1))
        == "corrupt"
    )


def test_corrupt_arith_rewrites_real_sof_not_table_bytes(spark):
    """Round-11 advisor fix: 'arith' corruption must locate SOF by walking
    the marker structure. A COM segment planted BEFORE the frame header
    whose payload contains the raw bytes FF C0 must not be rewritten —
    the old bytes.find() would clobber the comment and leave the real
    SOF intact, classifying 'ok' instead of 'arith'."""
    import numpy as np

    rgb = (np.mgrid[0:16, 0:16][0] * 3 + 20).astype(np.uint8)
    rgb = np.stack([rgb, rgb, rgb], axis=-1)
    buf = multimodal.encode_jpeg(rgb, quality=90)
    # COM segment: FF FE <len=6> payload b"\xff\xc0zz" — decoy SOF bytes
    decoy = b"\xff\xfe\x00\x06\xff\xc0zz"
    planted = buf[:2] + decoy + buf[2:]
    assert multimodal.jpeg_reject_reason(planted) == "ok"  # still decodes
    df = spark.createDataFrame([(1, "arith", bytearray(planted))],
                               "doc_id long, mode string, payload binary")
    out = multimodal.corrupt_jpeg_payloads(df).collect()[0]["payload"]
    assert multimodal.jpeg_reject_reason(bytes(out)) == "arith"
    # the decoy comment bytes survive untouched
    assert bytes(out)[2 : 2 + len(decoy)] == decoy


def test_multimodal_reject_cert_diagonal(spark, sf_dir):
    """Registered-query twin: healthy state is EXACTLY the 4-row
    (mode, reason) diagonal at 100 docs per class."""
    import __spark_entry__ as em

    rows = em.queries()["q_multimodal_reject_cert"](spark, sf_dir).collect()
    got = {(r["mode"], r["reject_reason"]): r["n_docs"] for r in rows}
    assert got == {
        ("intact", "ok"): 100,
        ("truncate", "truncated"): 100,
        ("arith", "arith"): 100,
        ("garbage", "not_jpeg"): 100,
    }


def test_progressive_jpeg_decodes_bit_identical_to_baseline():
    """The SOF2 decoder (r9, verdict item #4): a progressive encoding
    carries the same quantized coefficients as the baseline encoding of
    the same image (shared _jpeg_quantize front half), so decoding both
    must be BIT-IDENTICAL — across 4:4:4/4:2:0/grayscale, non-MCU-
    multiple dims, and both scan grammars (full successive
    approximation with AC refinement + EOB runs, and spectral-selection
    only)."""
    import numpy as np

    rng = np.random.default_rng(7)
    imgs = [rng.integers(0, 256, size=(hh, ww, 3)).astype(np.uint8)
            for hh, ww in [(16, 16), (13, 11), (24, 17)]]
    for img in imgs:
        for kw in ({}, {"subsample": True}, {"grayscale": True}):
            for succ in (True, False):
                db = multimodal._parse_jpeg(multimodal.encode_jpeg(img, quality=85, **kw))
                dp = multimodal._parse_jpeg(
                    multimodal.encode_jpeg_progressive(
                        img, quality=85, successive=succ, **kw
                    )
                )
                assert db is not None and dp is not None, (img.shape, kw, succ)
                assert db[0] == dp[0] and db[1] == dp[1]
                assert np.array_equal(db[2], dp[2]), (
                    img.shape, kw, succ, np.abs(db[2] - dp[2]).max()
                )


def test_parse_jpeg_rejects_implausible_declared_dims():
    """Advisor r8 find: a ~200-byte crafted stream declaring
    65535x65535x3 in its SOF must be rejected BEFORE plane allocation
    (the unguarded path attempted a ~100 GB numpy zeros). The guard is
    an information bound (pixels >> bytes) plus an absolute cap, so a
    legitimate small-but-dense image still decodes."""
    import time

    import numpy as np

    rgb = (np.mgrid[0:16, 0:16][0] * 3 + 20).astype(np.uint8)
    rgb = np.stack([rgb, rgb, rgb], axis=-1)
    buf = multimodal.encode_jpeg(rgb, quality=90)
    # patch the SOF dims in place: FFC0, len(2), prec(1), h(2), w(2)
    i = buf.index(b"\xff\xc0")
    bomb = bytearray(buf)
    bomb[i + 5 : i + 9] = (65535).to_bytes(2, "big") + (65535).to_bytes(2, "big")
    t0 = time.monotonic()
    assert multimodal._parse_jpeg(bytes(bomb)) is None
    assert time.monotonic() - t0 < 1.0  # rejected at the header, no alloc
    # zero-dim declaration is equally invalid
    bomb[i + 5 : i + 9] = b"\x00\x00\x00\x00"
    assert multimodal._parse_jpeg(bytes(bomb)) is None
    # sanity: the untouched image still decodes
    assert multimodal._parse_jpeg(buf) is not None


@pytest.mark.parametrize("seed", range(6))
def test_codec_fuzz_decode_or_clean_reject(seed):
    """Codec fuzz (r9, verdict item #7): seeded random images across
    dims (incl. non-MCU multiples), samplings, qualities, and restart
    intervals must roundtrip through BOTH entropy layouts with
    progressive == baseline pixels; then structured corruptions —
    truncation at EVERY marker boundary and inside entropy data, plus
    random byte flips — must decode or return None, never raise and
    never hang. The same contract for the BMP/PNG/WAV codecs."""
    import numpy as np

    rng = np.random.default_rng(1000 + seed)
    hh, ww = int(rng.integers(8, 41)), int(rng.integers(8, 41))
    img = rng.integers(0, 256, size=(hh, ww, 3)).astype(np.uint8)
    q = int(rng.choice([35, 60, 85, 95]))
    sub = bool(rng.integers(0, 2))
    ri = int(rng.choice([0, 1, 3]))
    base = multimodal.encode_jpeg(img, quality=q, subsample=sub, restart_interval=ri)
    prog = multimodal.encode_jpeg_progressive(
        img, quality=q, subsample=sub, successive=bool(seed % 2)
    )
    db = multimodal._parse_jpeg(base)
    dp = multimodal._parse_jpeg(prog)
    assert db is not None and dp is not None
    assert np.array_equal(db[2], dp[2]), (hh, ww, q, sub, ri)

    corpora = {
        "jpeg_base": (base, multimodal._parse_jpeg),
        "jpeg_prog": (prog, multimodal._parse_jpeg),
        "bmp": (multimodal.encode_bmp(img), multimodal._parse_bmp),
        "png": (multimodal.encode_png(img, filter_mode="cycle"), multimodal._parse_png),
        "wav": (
            multimodal.encode_wav(
                (rng.integers(-3000, 3000, size=256)).astype("<i2"), 8000
            ),
            multimodal._parse_wav,
        ),
    }
    for name, (buf, parse) in corpora.items():
        # truncate at every marker boundary (JPEG) or at stride points
        cuts = [i for i in range(len(buf) - 1) if buf[i] == 0xFF] if "jpeg" in name else []
        cuts += list(range(0, len(buf), max(1, len(buf) // 17)))
        for cut in cuts:
            parse(buf[:cut])  # must not raise
        # random single-byte corruptions
        for _ in range(24):
            pos = int(rng.integers(0, len(buf)))
            mut = bytearray(buf)
            mut[pos] ^= int(rng.integers(1, 256))
            parse(bytes(mut))  # must not raise


def test_phash_closed_form_pins_float_path():
    """The q_phash_dedup_verified oracle replays aHash from the integer
    closed form of the gradient fixture (bit i ⟺ 64·block_sum > total
    on scale-1000 luma). This pins that reduction against the REAL
    float path (encode → decode → 0.299/0.587/0.114 luma → block means)
    for every fixed doc_id the query uses, and asserts the integer
    margin is far above float noise — so the oracle is exact, not
    lucky."""
    import numpy as np

    def ahash_float(k):
        yy, xx = np.mgrid[0:16, 0:16]
        rgb = np.stack(
            [(xx * 7 + k) % 256, (yy * 11 + 3 * k) % 256, (xx + yy + 5 * k) % 256],
            axis=-1,
        ).astype(np.uint8)
        _w, _h, dec = multimodal._parse_bmp(multimodal.encode_bmp(rgb))
        luma = 0.299 * dec[..., 0] + 0.587 * dec[..., 1] + 0.114 * dec[..., 2]
        g8 = multimodal._block_mean(luma, 8, 8)
        m = g8.mean()
        bits = 0
        for i, v in enumerate(g8.ravel()):
            if v > m:
                bits |= 1 << i
        return multimodal._to_signed64(bits)

    min_margin = 1 << 62
    for k in range(200):
        bs = [0] * 64
        tot = 0
        for y in range(16):
            for x in range(16):
                l = (
                    299 * ((7 * x + k) % 256)
                    + 587 * ((11 * y + 3 * k) % 256)
                    + 114 * ((x + y + 5 * k) % 256)
                )
                bs[(y // 2) * 8 + (x // 2)] += l
                tot += l
        bits = 0
        for i, b in enumerate(bs):
            if 64 * b > tot:
                bits |= 1 << i
            min_margin = min(min_margin, abs(64 * b - tot))
        assert multimodal._to_signed64(bits) == ahash_float(k), f"k={k}"
    # a tie (margin 0) would make the float path engine-undefined;
    # the fixture family sits 3584 luma-millis away from any tie
    assert min_margin >= 1000, min_margin


def test_image_decode_closed_form_pins_stats():
    """The q_multimodal_decode_verified oracle replays BMP/PNG decode
    stats from the gradient's closed form (integer channel sums +
    IEEE-luma histogram counts, recovered exactly from the rounded
    means via mean·n_pixels). This pins closed form == real decode for
    every doc_id the query can see, BOTH formats — including the PNG
    path through zlib and all five scanline filters."""
    import numpy as np

    def real(k, fmt):
        yy, xx = np.mgrid[0:16, 0:16]
        rgb = np.stack(
            [(xx * 7 + k) % 256, (yy * 11 + 3 * k) % 256, (xx + yy + 5 * k) % 256],
            axis=-1,
        ).astype(np.uint8)
        buf = (
            multimodal.encode_bmp(rgb)
            if fmt == "bmp"
            else multimodal.encode_png(rgb, filter_mode="cycle")
        )
        parsed = multimodal._parse_bmp(buf) if fmt == "bmp" else multimodal._parse_png(buf)
        w, h, dec = parsed
        return multimodal._pixel_stats(k, fmt, w, h, dec, 8)

    for k in list(range(300)) + [128, 512, 1000, 1999]:
        sums = [0, 0, 0]
        hist = [0] * 8
        for y in range(16):
            for x in range(16):
                r, g, b = (7 * x + k) % 256, (11 * y + 3 * k) % 256, (x + y + 5 * k) % 256
                sums[0] += r
                sums[1] += g
                sums[2] += b
                hist[min(7, int((0.299 * r + 0.587 * g + 0.114 * b) // 32))] += 1
        for fmt in ("bmp", "png"):
            _d, _f, w, h, n, mr, mg, mb, hr = real(k, fmt)
            assert (w, h, n) == (16, 16, 256)
            assert [round(m * 256) for m in (mr, mg, mb)] == sums, (k, fmt)
            assert [round(x * 256) for x in hr] == hist, (k, fmt)


def test_audio_fp_closed_form_pins_quantized_path():
    """The q_audio_fp_dedup_verified oracle reduces the fingerprint to
    amp(i+1) > amp(i) on raw LCG amplitudes. This pins that reduction
    against the REAL path (float sine synth → int16 quantization → WAV
    encode/decode → energy sums) for every fixed doc_id at BOTH gains —
    certifying that int16 truncation never flips an energy comparison
    on this fixture family and that 0.5-gain twins fingerprint
    identically (the volume-invariance claim)."""
    import numpy as np

    def afp_real(k, gain):
        sr, nseg, seglen, nb = 8000, 66, 64, 65
        t = np.arange(seglen, dtype=np.float64)
        segs = []
        for i in range(nseg):
            x = (1103515245 * (k * 67 + i) + 12345) % (1 << 31)
            amp = (2000 + x % 16000) * gain
            freq = 200.0 + (k % 13) * 40.0
            segs.append(amp * np.sin(2.0 * np.pi * freq * t / sr))
        wave = np.concatenate(segs).astype("<i2")
        _, _, samples = multimodal._parse_wav(multimodal.encode_wav(wave, sr))
        mono = samples.astype(np.float64).mean(axis=1)
        frame = mono.shape[0] // nb
        e = (mono[: frame * nb].reshape(nb, frame) ** 2).sum(axis=1)
        fp = 0
        for i, b in enumerate((e[1:] > e[:-1])[:64]):
            if b:
                fp |= 1 << i
        return multimodal._to_signed64(fp)

    for k in range(200):
        amps = [
            2000 + ((1103515245 * (k * 67 + i) + 12345) % (1 << 31)) % 16000
            for i in range(65)
        ]
        fp = 0
        for i in range(64):
            if amps[i + 1] > amps[i]:
                fp |= 1 << i
        model = multimodal._to_signed64(fp)
        assert afp_real(k, 1.0) == model, f"k={k} gain=1"
        if k < 25:
            assert afp_real(k, 0.5) == model, f"k={k} gain=0.5"


def test_decode_real_jpeg_parity_with_bmp(spark):
    """The same RGB gradient decoded via the JPEG path and the BMP path
    agrees within the quality-95 quantization tolerance — the lossy
    cross-format parity gate (q_multimodal_jpeg carries the same bit
    per row; dims and pixel counts are exact, means are bounded)."""
    df = spark.createDataFrame([(i,) for i in (0, 3, 11, 255, 1000)], "doc_id long")
    jpg = {r["doc_id"]: r for r in multimodal.decode_real(
        multimodal.synthesize_jpeg_payload(df)).collect()}
    bmp = {r["doc_id"]: r for r in multimodal.decode_real(
        multimodal.synthesize_bmp_payload(df)).collect()}
    assert all(r["format"] == "jpeg" for r in jpg.values())
    for k, p in jpg.items():
        b = bmp[k]
        assert (p["width"], p["height"], p["n_pixels"]) == (b["width"], b["height"], b["n_pixels"])
        for ch in ("mean_r", "mean_g", "mean_b"):
            # the id-keyed gradient WRAPS mod 256 — 4:2:0 chroma blending
            # across a 255-edge costs up to 4.9 units of channel mean
            # (measured over all 2000 ids); 6.0 still certifies a real
            # decode (a broken decoder is off by tens to hundreds)
            assert abs(p[ch] - b[ch]) <= 6.0, (k, ch, p[ch], b[ch])


def test_decode_pillow_parity_or_clean_gate(spark):
    # env-gated real-codec path (round-6): when Pillow is present the
    # decoder must reproduce the hand-rolled BMP pipeline's stats
    # bit-for-bit on synthesized payloads (shared _pixel_stats tail);
    # when absent it must fail loudly at plan-build time on the driver,
    # never per-task mid-job. Exactly one branch runs per environment —
    # both are pinned.
    df = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    payloads = multimodal.synthesize_bmp_payload(df)
    if multimodal.has_pillow():
        hand = {r["doc_id"]: r for r in multimodal.decode_real(payloads).collect()}
        pil = {r["doc_id"]: r for r in multimodal.decode_pillow(payloads).collect()}
        assert set(hand) == set(pil)
        for k in hand:
            a, b = hand[k], pil[k]
            assert (a["width"], a["height"], a["n_pixels"]) == (
                b["width"], b["height"], b["n_pixels"],
            )
            assert (a["mean_r"], a["mean_g"], a["mean_b"]) == (
                b["mean_r"], b["mean_g"], b["mean_b"],
            )
            assert a["gray_hist"] == b["gray_hist"]
    else:
        import pytest

        with pytest.raises(ImportError, match="Pillow"):
            multimodal.decode_pillow(payloads)


def test_frame_sample_stub_explodes(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    media = multimodal.attach_binary_payload(df).withColumn(
        "media_meta",
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("mp4").alias("format"),
            F.lit(100).cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(3500).cast("long").alias("duration_ms"),
        ),
    )
    offsets = [r["frame_offset_ms"] for r in multimodal.frame_sample_stub(media, every_ms=1000).collect()]
    assert offsets == [0, 1000, 2000]


def test_parse_bmp_rejects_unsupported_depths(spark):
    # 8bpp / compressed BMPs are out of scope for the pure parser: it must
    # return None (→ 'unsupported'), never mis-decode
    import numpy as np

    buf = bytearray(multimodal.encode_bmp(np.zeros((1, 1, 3), dtype=np.uint8)))
    buf[28] = 8  # biBitCount 24 → 8
    assert multimodal._parse_bmp(bytes(buf)) is None
    buf[28], buf[30] = 24, 1  # restore depth, set BI_RLE8 compression
    assert multimodal._parse_bmp(bytes(buf)) is None


# --------------------------------------------------------------------------
# udfs (B37)
# --------------------------------------------------------------------------


def test_grouped_zscore_matches_builtin(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    pandas_out = {
        r["event_id"]: r["zscore"] for r in udfs.grouped_zscore(ev, "event_type", "value").collect()
    }
    builtin_out = {
        r["event_id"]: r["zscore"]
        for r in udfs.grouped_zscore_builtin(ev, "event_type", "value").collect()
    }
    assert pandas_out.keys() == builtin_out.keys()
    mismatches = [
        k for k in pandas_out if abs((pandas_out[k] or 0) - (builtin_out[k] or 0)) > 1e-6
    ]
    assert not mismatches


# --------------------------------------------------------------------------
# connected-components dedup clustering
# --------------------------------------------------------------------------


def test_connected_components_multi_hop_path(spark):
    # path graph 1-2-3-4 plus isolated pair 10-11: labels must propagate
    # across hops, not just direct neighbors
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r["id"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


@pytest.mark.parametrize("diameter,seed", [(50, 0), (120, 1), (500, 2), (75, 3)])
def test_connected_components_chain_graphs_exact(spark, diameter, seed):
    # planted chain graphs far beyond the old silent max_iter=25 cap:
    # shuffled node ids so the min label sits at a random chain position,
    # plus a second planted component — exact recovery required (the
    # large-star/small-star phase, Kiveris et al. SoCC'14)
    rng = random.Random(seed)
    ids = list(range(1000, 1000 + diameter + 1))
    rng.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(diameter)]
    other = [(7, 8), (8, 9)]  # shallow side component must keep its own label
    pairs = spark.createDataFrame(edges + other, ["doc_a", "doc_b"])
    expected = {**{i: min(ids) for i in ids}, 7: 7, 8: 7, 9: 7}
    # distributed path (the large-star/small-star phase this test pins)
    got = {
        r["id"]: r["comp"]
        for r in dedup.connected_components(pairs, small_graph_edges=0).collect()
    }
    assert got == expected
    # default path (round-11 single-task union-find) must agree exactly
    fast = {r["id"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert fast == expected


def test_connected_components_raises_loudly_when_capped(spark):
    # a budget too small for even the log-round phase must raise, never
    # return partial labels (round-10 fix for the silent-cap hazard)
    edges = [(i, i + 1) for i in range(200)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    with pytest.raises(dedup.NonConvergenceError):
        dedup.connected_components(
            pairs, max_iter=1, propagate_rounds=1, small_graph_edges=0
        )


def test_star_contract_matches_propagation_on_dense_graph(spark):
    # the two phases must agree wherever both converge: dense shallow
    # cluster + chain + singleton-pair, forced down each path
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (20, 21), (21, 22), (22, 23), (50, 51)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    via_prop = {
        r["id"]: r["comp"]
        for r in dedup.connected_components(
            pairs, propagate_rounds=25, small_graph_edges=0
        ).collect()
    }
    via_stars = {
        r["id"]: r["comp"]
        for r in dedup.connected_components(
            pairs, propagate_rounds=0, small_graph_edges=0
        ).collect()
    }
    assert via_prop == via_stars
    assert via_stars[4] == 1 and via_stars[23] == 20 and via_stars[51] == 50


def test_connected_components_self_loops_symmetric_across_tiers(spark):
    # a node whose ONLY edge is a self-loop must come back as its own
    # singleton component from BOTH tiers (round-11 advisor fix: the star
    # fallback used to drop it while propagation labeled it)
    edges = [(1, 2), (2, 3), (9, 9), (3, 3)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    expected = {1: 1, 2: 1, 3: 1, 9: 9}
    via_prop = {
        r["id"]: r["comp"]
        for r in dedup.connected_components(
            pairs, propagate_rounds=25, small_graph_edges=0
        ).collect()
    }
    via_stars = {
        r["id"]: r["comp"]
        for r in dedup.connected_components(
            pairs, propagate_rounds=0, small_graph_edges=0
        ).collect()
    }
    assert via_prop == expected
    assert via_stars == expected
    # all-self-loop input: every node is a singleton, no tier errors
    only_loops = spark.createDataFrame([(5, 5), (6, 6)], ["doc_a", "doc_b"])
    got = {
        r["id"]: r["comp"]
        for r in dedup.connected_components(
            only_loops, propagate_rounds=0, small_graph_edges=0
        ).collect()
    }
    assert got == {5: 5, 6: 6}


def test_dedup_clusters_assigns_singletons_to_self(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    assign = dedup.dedup_clusters(docs, threshold=0.95)
    rows = assign.collect()
    assert len(rows) == docs.count()  # every doc assigned exactly once
    comp = {r["doc_id"]: r["component"] for r in rows}
    assert all(c <= d for d, c in comp.items())  # component = min id in cluster
    # component labels are themselves members of their cluster
    assert set(comp.values()) <= set(comp.keys())


def test_cluster_sizes_partition_the_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sizes = dedup.cluster_sizes(dedup.dedup_clusters(docs, threshold=0.95))
    total = sizes.agg(F.sum("n_members").alias("s")).collect()[0]["s"]
    assert total == docs.count()


def test_cluster_safe_splits_never_separate_near_dups(spark, sf_dir):
    # plant a near-dup cluster: fixture docs + one-word-changed copies
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    copies = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "PLANTED").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(copies)
    assign = dedup.dedup_clusters(corpus, threshold=0.8)
    out = curate.cluster_safe_splits(assign)
    # exhaustive: every document labeled exactly once
    assert out.count() == corpus.count()
    # leakage-free BY CLUSTER: no component spans two splits
    spans = out.groupBy("component").agg(F.countDistinct("split").alias("k"))
    assert spans.filter(F.col("k") > 1).count() == 0
    # non-vacuous: every planted (original, copy) pair shares a component,
    # hence a split — the doc and its near-copy can never straddle splits
    comp = {r["doc_id"]: r["component"] for r in assign.collect()}
    split = {r["doc_id"]: r["split"] for r in out.collect()}
    assert all(comp[d] == comp[d + 10_000] for d in range(100))
    assert all(split[d] == split[d + 10_000] for d in range(100))
    # a doc-keyed split WOULD have leaked: same corpus, naive assignment
    naive = analytics.assign_splits(corpus, key_col="doc_id")
    leaked = (
        naive.join(assign, "doc_id")
        .groupBy("component")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert leaked > 0


def test_fuzzy_prefix_join_blocks_and_thresholds(spark):
    docs = spark.createDataFrame(
        [
            (1, "en", "alpha beta gamma delta"),
            (2, "en", "alpha beta gamma delts"),   # 1 edit from doc 1
            (3, "en", "alpha XXXXX YYYYY ZZZZZ"),  # same block, far
            (4, "de", "alpha beta gamma delta"),   # other block: never paired
            (5, "en", "omega beta gamma delta"),   # different first token: blocked out
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in dedup.fuzzy_prefix_join(docs, max_dist=3).collect()
    }
    assert got == {(1, 2): 1}
    # raising the bound admits the far pair at its true distance
    wide = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in dedup.fuzzy_prefix_join(docs, max_dist=100).collect()
    }
    assert wide[(1, 2)] == 1 and (1, 3) in wide and (2, 3) in wide
    assert all((4 not in p) and (5 not in p) for p in wide)


def test_fuzzy_sorted_neighborhood_catches_cross_block_pairs(spark):
    # docs 1/2 differ in their FIRST token (1 edit) — the hard blocking
    # key of fuzzy_prefix_join splits them, but prefix sort order keeps
    # them adjacent, so the sorted-neighborhood pass recovers the pair
    docs = spark.createDataFrame(
        [
            (1, "en", "alpha beta gamma delta"),
            (2, "en", "alphA beta gamma delta"),
            (3, "en", "zzz yyy xxx www"),
        ],
        "doc_id long, lang string, text string",
    )
    blocked = dedup.fuzzy_prefix_join(docs, max_dist=3).collect()
    assert blocked == []  # split by the first-token block
    snm = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in dedup.fuzzy_sorted_neighborhood(docs, max_dist=3).collect()
    }
    assert snm == {(1, 2): 1}


def test_bm25_topk_ranking_axioms(spark):
    # fixed-length docs isolate tf; d3 isolates length normalization;
    # d4 contains no query term at all
    docs = spark.createDataFrame(
        [
            (1, "apple pear plum grape"),          # tf(apple)=1, len 4
            (2, "apple apple pear plum"),          # tf(apple)=2, len 4
            (3, "apple pear plum grape kiwi fig"),  # tf=1, longer doc
            (4, "pear plum grape kiwi"),            # no hit
        ],
        "doc_id long, text string",
    )
    out = text.bm25_topk(docs, [(0, "apple")], k=10).collect()
    got = {r["doc_id"]: (r["score"], r["rnk"]) for r in out}
    assert 4 not in got  # zero-hit docs never retrieved
    # more occurrences beat fewer at equal length
    assert got[2][0] > got[1][0]
    # equal tf: shorter doc wins (b > 0 length normalization)
    assert got[1][0] > got[3][0]
    assert [d for d, (_, rk) in sorted(got.items(), key=lambda kv: kv[1][1])] == [2, 1, 3]
    # multi-term query: scores accumulate over matched terms
    two = text.bm25_topk(docs, [(7, "apple fig")], k=10).collect()
    s = {r["doc_id"]: r["score"] for r in two}
    assert s[3] > got[3][0]  # fig hit adds on top of apple's contribution


def test_bpe_learn_merges_classic_corpus(spark):
    # the Sennrich et al. (2016) worked example shape: "low" ×5,
    # "lower" ×2, "newest" ×6, "widest" ×3 — round 1 must merge (e, s)
    # from the -est suffix (count 9), then (es, t), then (l, o)
    rows = (
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6 + [("widest",)] * 3
    )
    docs = spark.createDataFrame(
        [(i, t) for i, (t,) in enumerate(rows)], "doc_id long, text string"
    )
    got = [
        (r["merge_rank"], r["pair"], r["pair_count"])
        for r in text.bpe_learn_merges(docs, n_merges=3).collect()
    ]
    assert got == [(1, "e s", 9), (2, "es t", 9), (3, "l o", 7)]


def test_bpe_merge_is_left_to_right_non_overlapping(spark):
    # "aaa" ×2: pair (a, a) appears twice per word (weighted count 4);
    # the merge must produce "aa a", never the overlapping "a aa" or a
    # double merge — round 2 then merges (aa, a)
    docs = spark.createDataFrame([(0, "aaa aaa")], "doc_id long, text string")
    got = [
        (r["merge_rank"], r["pair"], r["pair_count"])
        for r in text.bpe_learn_merges(docs, n_merges=2).collect()
    ]
    assert got == [(1, "a a", 4), (2, "aa a", 2)]


def test_bpe_encode_counts_shrink_with_merges(spark):
    docs = spark.createDataFrame(
        [(0, "low low lower"), (1, "newest widest")], "doc_id long, text string"
    )
    # 0 merges: every word splits to characters
    raw = {r["doc_id"]: r for r in text.bpe_encode_counts(docs, n_merges=0).collect()}
    assert raw[0]["n_words"] == 3 and raw[0]["bpe_tokens"] == 3 + 3 + 5
    assert raw[1]["n_words"] == 2 and raw[1]["bpe_tokens"] == 6 + 6
    # merges only ever shrink piece counts, never below the word count
    enc = {r["doc_id"]: r for r in text.bpe_encode_counts(docs, n_merges=4).collect()}
    for d in (0, 1):
        assert enc[d]["n_words"] == raw[d]["n_words"]
        assert raw[d]["n_words"] <= enc[d]["bpe_tokens"] < raw[d]["bpe_tokens"]


def test_bpe_merge_reaches_alternating_run_fixpoint(spark):
    # "ababab" (symbols a b a b a b): a single consuming replace merges
    # only the 1st and 3rd (a, b) occurrences (" ab a b ab ") because
    # each match eats the separator space the next needs; the double-
    # replace fixpoint must yield canonical " ab ab ab " — observable as
    # 3 BPE pieces after one merge, not 4
    docs = spark.createDataFrame([(0, "ababab")], "doc_id long, text string")
    merges = [
        (r["merge_rank"], r["pair"], r["pair_count"])
        for r in text.bpe_learn_merges(docs, n_merges=1).collect()
    ]
    assert merges == [(1, "a b", 3)]
    enc = text.bpe_encode_counts(docs, n_merges=1).first()
    assert enc["bpe_tokens"] == 3


def test_bpe_batched_training_bounds_driver_rounds(spark):
    # frequency-batched training (merges_per_round > 1) must make a
    # 64-merge vocabulary cost the SAME ORDER of driver rounds as the
    # 6-merge sequential run — the cap that makes a real 32k-merge vocab
    # feasible (≈ n/batch rounds, not n). Wall-bound per round-4 verdict
    # #6: ≤ 2× the n=6 sequential wall (+1 s scheduling noise floor on
    # the tiny fixture).
    import random
    import time

    rng = random.Random(11)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 9)))
        for _ in range(300)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.sample(words, 20))) for i in range(40)],
        "doc_id long, text string",
    )
    seq_stats: dict = {}
    seq = text.bpe_learn_merges(docs, n_merges=6, stats=seq_stats).collect()
    batch_stats: dict = {}
    batched = text.bpe_learn_merges(
        docs, n_merges=64, merges_per_round=16, stats=batch_stats
    ).collect()
    assert len(seq) == 6
    assert len(batched) == 64
    # batch round 1 covers sequential round 1 exactly: the top-ranked
    # pair is identical, at the identical count
    assert (batched[0]["pair"], batched[0]["pair_count"]) == (
        seq[0]["pair"],
        seq[0]["pair_count"],
    )
    # every batched merge is a real pair over the corpus alphabet
    assert all(" " in r["pair"] for r in batched)
    # the bound the batching exists for, asserted DIRECTLY (round-6
    # advice fix: the old wall-clock assert measured scheduler noise):
    # sequential = one pair-stats collect per merge; batched = one per
    # round of up-to-16 disjoint merges. Greedy disjointness can leave a
    # round partially filled, so allow 2x the ideal 64/16 rounds — still
    # an order of magnitude under the sequential 64.
    assert seq_stats["driver_rounds"] == 6
    assert batch_stats["driver_rounds"] <= 2 * (64 // 16), batch_stats


def test_bpe_pair_stats_weighted_by_word_frequency(spark):
    docs = spark.createDataFrame(
        [(0, "ab ab ab cd")], "doc_id long, text string"
    )
    got = {r["pair"]: (r["rnk"], r["pair_count"]) for r in text.bpe_pair_stats(docs).collect()}
    assert got["a b"] == (1, 3)  # 3 occurrences of the word "ab"
    assert got["c d"] == (2, 1)


# --------------------------------------------------------------------------
# contamination + quality filter
# --------------------------------------------------------------------------


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",), ("",)], ["text"])
    toked = df.select(text.tokens("text").alias("t"))
    rows = toked.select(text.word_ngrams(F.col("t"), 3).alias("g")).collect()
    assert rows[0]["g"] == []          # 2 tokens < n
    assert rows[1]["g"] == ["a b c", "b c d"]
    assert rows[2]["g"] == []


def test_contamination_detects_planted_overlap(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "nothing in common here")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma"), (101, "beta gamma delta epsilon")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_shared_grams"], r["n_bench_docs"])
        for r in text.ngram_contamination(train, bench, n=3).collect()
    }
    # doc 1 shares "alpha beta gamma" (bench 100) and "beta gamma delta" (bench 101)
    assert got == {1: (2, 2)}


def test_quality_filter_reasons_are_consistent_with_keep(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    for r in text.quality_filter(docs).collect():
        assert r["keep"] == (len(r["reasons"]) == 0)
        assert list(r["reasons"]) == sorted(
            r["reasons"],
            key=["too_short", "low_distinct", "high_punct", "short_words"].index,
        )


def test_minhash_jaccard_diag_calibration(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy")),  # near-dup: 1 token differs
            (3, "completely different text about spark shuffles and joins here"),
        ],
        "doc_id long, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in dedup.minhash_jaccard_diag(df).collect()}
    assert (1, 2) in rows  # the planted near-dup pair must survive banding
    r = rows[(1, 2)]
    # 13 tokens → 11 distinct 3-gram shingles per doc; replacing 1 token
    # rewrites 3 shingles: |A∩B| = 8, |A∪B| = 14 → J = 4/7
    assert abs(r["exact_jaccard"] - 8 / 14) < 1e-12
    assert 0.0 <= r["est_jaccard"] <= 1.0
    # 32-slot estimator: std ≈ sqrt(J(1-J)/32) ≈ 0.09 — allow 4σ
    assert r["abs_err"] < 0.36
    assert r["abs_err"] == abs(r["est_jaccard"] - r["exact_jaccard"])


def test_gopher_quality_rules_on_constructed_docs(spark):
    good = (
        "the quick brown fox jumps over a lazy dog near the river bank "
        "and a small bird sings in that tall tree while children play for hours "
        "it was a bright cold day in april and the clocks were striking thirteen "
        "many words of varied length fill this document with useful content "
        "nothing here repeats enough to trigger the bigram repetition rule at all"
    )
    df = spark.createDataFrame(
        [
            (1, good),                              # 64 varied words → keep
            (2, "short doc only"),                  # below the 50-word floor
            (3, ("spam ham " * 40).strip()),        # one bigram dominates
            (4, ""),                                # empty → everything null/false
            (5, ("zz " * 60).strip()),              # no stopwords, all dup words
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.gopher_quality(df).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False and got[2]["n_words"] == 3
    assert got[3]["keep"] is False  # top_bigram_char_frac ≈ 1
    assert got[3]["top_bigram_char_frac"] > 0.2
    assert got[4]["keep"] is False and got[4]["n_words"] == 0
    assert got[4]["mean_word_len"] is None  # 0-word doc: ratios are null
    assert got[5]["keep"] is False and got[5]["n_stop_distinct"] == 0
    assert got[5]["dup_word_frac"] > 0.85
    # bigram accounting: doc 3 has 79 bigrams, all "spam ham"/"ham spam";
    # the more frequent one ("spam ham", 40×, 7 space-free-pair chars per
    # occurrence) covers 40*7 = 280 of 280 word chars — exactly 1.0
    assert abs(got[3]["top_bigram_char_frac"] - (40 * 7) / 280) < 1e-12


# --------------------------------------------------------------------------
# vector normalization + quantization
# --------------------------------------------------------------------------


def test_normalize_vectors_unit_norm_and_zero_safe(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    got = {r["vec_id"]: r["unit"] for r in similarity.normalize_vectors(df).collect()}
    assert got[1] == [0.6, 0.8]
    assert got[2] == [0.0, 0.0]  # no div-by-zero


def test_quantize_int8_cosine_drift_is_small(spark, sf_dir):
    import math

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for r in similarity.quantize_int8(emb).collect():
        v = orig[r["vec_id"]]
        dq = [qi * r["scale"] for qi in r["q"]]
        dot = sum(a * b for a, b in zip(v, dq))
        na = math.sqrt(sum(a * a for a in v))
        nb = math.sqrt(sum(b * b for b in dq))
        assert max(abs(qi) for qi in r["q"]) <= 127
        if na > 0 and nb > 0:
            assert dot / (na * nb) > 0.999  # <0.1% cosine drift at 8 bits


# --------------------------------------------------------------------------
# curation pipeline
# --------------------------------------------------------------------------


def test_quality_keep_matches_quality_filter(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    via_filter = {
        r["doc_id"] for r in text.quality_filter(docs).filter("keep").collect()
    }
    via_col = {
        r["doc_id"] for r in docs.filter(text.quality_keep("text")).collect()
    }
    assert via_filter == via_col


def test_quality_calibrated_keeps_top_fraction_per_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = curate.quality_calibrated(docs, keep_frac=0.5)
    per_src = (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("int")).alias("kept"),
            F.min(F.when(F.col("keep"), F.col("quality_score"))).alias("min_kept"),
            F.max(F.when(~F.col("keep"), F.col("quality_score"))).alias("max_dropped"),
        )
        .collect()
    )
    assert len(per_src) > 1
    for r in per_src:
        # every source keeps roughly half its docs (ties can widen the set)
        assert 0.3 * r["n"] <= r["kept"] <= 0.7 * r["n"] + 1
        # calibration invariant: no dropped doc outscores a kept doc in-source
        if r["max_dropped"] is not None and r["min_kept"] is not None:
            assert r["max_dropped"] <= r["min_kept"]


def test_curation_funnel_is_monotone(spark, sf_dir):
    from cloudtrace_exporter_spark.operators import curate

    docs = load_table(spark, sf_dir, "documents")
    counts = {r["stage"]: r["n_docs"] for r in curate.curation_funnel(docs).collect()}
    assert counts["1_raw"] >= counts["2_quality"] >= counts["3_dedup"] >= counts["4_sampled"]
    assert counts["4_sampled"] == curate.curated_docs(docs).count()


def test_dedup_survivor_is_min_id_of_duplicate_group(spark):
    from cloudtrace_exporter_spark.operators import curate

    docs = spark.createDataFrame(
        [(5, "Same  text here"), (2, "same text HERE"), (9, "unique doc")],
        ["doc_id", "text"],
    )
    ids = {r["doc_id"] for r in curate._dedup_survivors(docs).collect()}
    assert ids == {2, 9}  # normalization collapses case/whitespace; min id wins


# --------------------------------------------------------------------------
# chunking + packing
# --------------------------------------------------------------------------


def test_chunk_documents_overlap_and_coverage(spark):
    words = " ".join(f"w{i}" for i in range(1, 13))  # 12 tokens
    df = spark.createDataFrame([(1, words)], ["doc_id", "text"])
    rows = sorted(
        text.chunk_documents(df, chunk_tokens=5, overlap=2).collect(),
        key=lambda r: r["chunk_idx"],
    )
    texts = [r["chunk_text"] for r in rows]
    # step 3: starts 1,4,7,10 — every token appears; consecutive chunks share 2
    assert texts[0] == "w1 w2 w3 w4 w5"
    assert texts[1] == "w4 w5 w6 w7 w8"
    assert texts[-1] == "w10 w11 w12"  # short tail kept
    covered = {w for t in texts for w in t.split()}
    assert covered == {f"w{i}" for i in range(1, 13)}


def test_pack_documents_fills_bins_in_order(spark):
    df = spark.createDataFrame(
        [(1, "a " * 300, "s"), (2, "b " * 300, "s"), (3, "c " * 300, "s"), (4, "d", "t")],
        ["doc_id", "text", "source"],
    )
    got = {r["doc_id"]: r["pack_id"] for r in
           text.pack_documents(df, context_len=512).collect()}
    # cum_before: doc1=0, doc2=300, doc3=600 → packs 0,0,1; other source restarts
    assert got == {1: 0, 2: 0, 3: 1, 4: 0}


def test_chunk_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.chunk_documents(df, chunk_tokens=5, overlap=5)


def test_lm_unigram_score_ranks_common_above_rare(spark):
    docs = spark.createDataFrame(
        [
            (1, "the the the the cat"),        # head tokens
            (2, "the cat sat on a mat"),
            (3, "zyx qwv jkl pnm bcd"),        # singleton tokens
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.avg_logp for r in text.lm_unigram_score(docs).collect()}
    assert got[1] > got[2] > got[3]


def test_incremental_dedup_drops_corpus_and_batch_dups(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "ALPHA  beta gamma"),   # exact dup of corpus after normalization
            (11, "eta theta iota"),      # fresh — survives
            (12, "eta  THETA iota"),     # within-batch dup of 11 — first id wins
            (13, "kappa lambda mu"),     # fresh — survives
        ],
        ["doc_id", "text"],
    )
    got = sorted(r.doc_id for r in dedup.incremental_dedup(new, corpus).collect())
    assert got == [11, 13]


def test_repetition_ratio_flags_looping_text(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # 7 trigrams, 3 distinct -> high repetition
            (2, "one two three four"),  # 2 distinct trigrams, no repeats
            (3, "xy zz"),               # shorter than n: 0 grams, ratio 0
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.n_grams, r.rep_ratio) for r in text.repetition_ratio(docs, n=3).collect()}
    assert got[1] == (7, round(1 - 3 / 7, 4))
    assert got[2] == (2, 0.0)
    assert got[3] == (0, 0.0)


def test_incremental_near_dedup_drops_planted_near_dup_of_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [
            (10, base.replace("today", "tonight")),   # near-dup of corpus doc 1
            (11, "completely different words about spark query engines and shuffles"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r.doc_id for r in dedup.incremental_near_dedup(new, corpus, threshold=0.5).collect()
    )
    assert kept == [11]


def test_similarity_triangles_counts_each_once(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (1, 4)], ["doc_a", "doc_b"]
    )  # triangle {1,2,3}; {1,3,4} also closes via (3,4)+(1,4)
    got = dedup.similarity_triangles(pairs).collect()[0]
    assert got["n_triangles"] == 2


def test_collocations_counts_occurrences_not_distinct(spark):
    docs = spark.createDataFrame(
        [
            (1, "big data big data big data"),  # "big data" x3, "data big" x2
            (2, "big data"),                    # "big data" once more -> 4
            (3, "solo"),                        # no bigrams
            (4, ""),                            # empty text
        ],
        ["doc_id", "text"],
    )
    out = text.collocations(docs, k=10, min_freq=2).collect()
    got = {r["bigram"]: r["freq"] for r in out}
    assert got == {"big data": 4, "data big": 2}
    # ordered freq desc then bigram asc
    assert [r["bigram"] for r in out] == ["big data", "data big"]


def test_collocations_topk_is_take_ordered(spark, sf_dir):
    from cloudtrace_exporter_spark.sources.tables import load_table

    df = text.collocations(load_table(spark, sf_dir, "documents"))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p


def test_vocab_coverage_curve_is_exact_and_monotone(spark):
    # freqs: "a" x4, "b" x2, "c" x1 -> total 7
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a a b c")], ["doc_id", "text"]
    )
    out = text.vocab_coverage(docs, sizes=(1, 2, 3)).collect()
    got = {r["vocab_size"]: (r["coverage"], r["oov_rate"]) for r in out}
    assert got[1] == (round(4 / 7, 6), round(3 / 7, 6))
    assert got[2] == (round(6 / 7, 6), round(1 / 7, 6))
    assert got[3] == (1.0, 0.0)
    covs = [r["coverage"] for r in sorted(out, key=lambda r: r["vocab_size"])]
    assert covs == sorted(covs)  # monotone non-decreasing in vocab size


def test_vocab_coverage_never_single_partition_windows_the_types(spark):
    docs = spark.createDataFrame([(1, "x y z w q r s t u v")], ["doc_id", "text"])
    df = text.vocab_coverage(docs, sizes=(5,))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the type table is ranked via the two-phase range numbering, so the
    # only single-partition window is over the <= num_partitions offsets
    # frame; the ranked frame itself arrives by range exchange
    assert "rangepartitioning" in plan.lower()


def test_lm_bigram_rewards_consistent_transitions(spark):
    # same unigram profile ("a"x4, "b"x4 per doc) — the unigram LM cannot
    # separate these, the bigram LM must: doc 1 has one dominant
    # transition pattern, doc 2 alternates all four transitions equally
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),      # transitions: a->b x4, b->a x3
            (2, "a a b b b a a b"),      # mixed transitions
            (3, "a"),                    # <2 tokens: no bigrams, no row
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.lm_bigram_score(docs).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_bigrams"] == 7 and rows[2]["n_bigrams"] == 7
    assert rows[1]["avg_logp"] > rows[2]["avg_logp"]


def test_dsir_importance_favors_target_like_docs(spark):
    # target domain speaks "alpha beta gamma"; corpus doc 1 repeats that
    # phrase, doc 2 is off-domain — the importance weight must rank 1 > 2
    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma alpha beta gamma") for i in range(4)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta"),
            (2, "zeta eta theta iota kappa"),
            (3, "solo"),  # 1 token: no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.dsir_importance(corpus, target).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["log_weight"] > rows[2]["log_weight"]
    assert rows[3]["n_grams"] == 0 and rows[3]["log_weight"] == 0.0
    assert rows[1]["n_grams"] == 4 and rows[2]["n_grams"] == 4


def test_mixture_resample_matches_recipe(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    mixture = {"en": 0.3, "zh": 0.2, "es": 0.2, "de": 0.15, "fr": 0.15}
    out = curate.mixture_resample(docs, mixture)
    by_lang = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    total = sum(by_lang.values())
    assert set(by_lang) <= set(mixture)
    for lang, frac in mixture.items():
        share = by_lang.get(lang, 0) / total
        # md5-uniform sampling noise at fixture scale: generous tolerance
        assert abs(share - frac) < 0.1, (lang, share, frac)
    # the binding group (smallest n_g/frac_g) is kept in full
    n_by_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    binding = min(mixture, key=lambda g: n_by_lang[g] / mixture[g])
    assert by_lang[binding] == n_by_lang[binding]
    # deterministic: identical output on a rerun
    again = curate.mixture_resample(docs, mixture)
    assert {r["doc_id"] for r in out.collect()} == {r["doc_id"] for r in again.collect()}


def test_mixture_resample_drops_unlisted_groups(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "xx") for i in range(40)], "doc_id long, lang string"
    )
    out = curate.mixture_resample(docs, {"en": 1.0})
    assert out.filter(F.col("lang") == "xx").count() == 0
    assert out.count() == 20  # single-group recipe keeps the group whole


def test_chunk_dup_census_catches_partial_copies(spark):
    # doc 2 copies only the FIRST half of doc 1: whole-doc dedup misses
    # it, the chunk census must flag exactly the shared 50-token chunk
    head = " ".join(f"w{i}" for i in range(50))
    df = spark.createDataFrame(
        [
            (1, head + " " + " ".join(f"a{i}" for i in range(50))),
            (2, head + " " + " ".join(f"b{i}" for i in range(50))),
            (3, " ".join(f"c{i}" for i in range(100))),
        ],
        "doc_id long, text string",
    )
    census = dedup.chunk_dup_census(df).collect()
    assert len(census) == 1
    assert census[0]["n_docs"] == 2 and census[0]["first_doc"] == 1
    ratios = {r["doc_id"]: r["dup_ratio"] for r in dedup.chunk_overlap_ratio(df).collect()}
    assert ratios == {1: 0.5, 2: 0.5, 3: 0.0}


def test_nb_quality_score_recovers_planted_signal(spark):
    """Planted-signal check for the trained NB scorer (round 11): two
    vocabularies with zero overlap, explicit labels — every doc must be
    scored on the correct side of 0, and a held-out doc written in the
    positive vocabulary (but absent from training labels' influence on
    its own score only through shared buckets) lands positive."""
    pos_words = "alpha beta gamma delta epsilon zeta eta theta"
    neg_words = "zork quux blarg frobnitz xyzzy plugh grue wumpus"
    rows = []
    for i in range(20):
        rows.append((i, f"{pos_words} marker{i % 4}", True))
    for i in range(20, 40):
        rows.append((i, f"{neg_words} marker{i % 4}", False))
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, y) for i, _, y in rows], "doc_id long, label boolean"
    )
    got = {
        r["doc_id"]: r
        for r in text.nb_quality_score(docs, labels=labels).collect()
    }
    for i, _, y in rows:
        assert got[i]["predict_pass"] is y, (i, got[i])
        assert (got[i]["score"] > 0) is y
    # balanced classes → prior ~0; a doc of ONLY positive-vocabulary
    # tokens scores strictly higher than one of only negative vocabulary
    held = spark.createDataFrame(
        [(100, pos_words), (101, neg_words)], "doc_id long, text string"
    )
    hs = {
        r["doc_id"]: r["score"]
        for r in text.nb_quality_score(
            docs.unionByName(held), labels=labels
        ).collect()
    }
    assert hs[100] > 0 > hs[101]


def test_nb_quality_score_default_gopher_labels(spark, sf_dir):
    """Default-label path: trains on gopher_quality keep over the
    documents fixture; sanity contract — one row per doc, empty-token
    docs score the bare prior with n_features=0."""
    docs = load_table(spark, sf_dir, "documents").limit(80)
    out = text.nb_quality_score(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert set(out.columns) == {"doc_id", "n_features", "score", "predict_pass"}
    for r in rows:
        assert (r["score"] > 0) == r["predict_pass"]


def test_classifier_quality_matches_hand_computed_logit(spark):
    # plant two docs whose hashed-bucket weights are recomputed here with
    # hashlib — the Spark logit must equal the integer-sum / count ratio
    import hashlib

    from cloudtrace_exporter_spark.operators.text import classifier_quality_score, classifier_weights

    w = classifier_weights(256, 7)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "alpha alpha")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in classifier_quality_score(df).collect()}

    def expected(text):
        toks = [t for t in text.split(" ") if t]
        s = sum(w[int(hashlib.md5(t.encode()).hexdigest()[:2], 16)] for t in toks)
        return len(toks), s, (s / len(toks) if toks else 0.0)

    for doc_id, text in [(1, "alpha beta gamma"), (2, ""), (3, "alpha alpha")]:
        n, s, logit = expected(text)
        r = got[doc_id]
        assert (r["n_tokens"], r["w_sum"]) == (n, s)
        assert r["logit"] == logit
        assert r["keep"] == (logit >= 0.0)


def test_token_budget_sample_respects_budget_and_priority(spark):
    # per-source md5-priority prefix: kept set = the longest prefix whose
    # cumulative token count fits the budget, computed independently here
    import hashlib

    from cloudtrace_exporter_spark.operators.curate import token_budget_sample

    rows = [(i, "s1" if i % 2 == 0 else "s2", " ".join(f"w{j}" for j in range(10 + i))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budget = 60
    kept = {r["doc_id"]: r["cum_tokens"] for r in token_budget_sample(df, budget_tokens=budget).collect()}

    for source in ("s1", "s2"):
        docs = [(hashlib.md5(str(i).encode()).hexdigest(), i, 10 + i) for i, s, _ in rows if s == source]
        cum = 0
        expect = {}
        for pri, i, n in sorted(docs):
            cum += n
            if cum > budget:
                break
            expect[i] = cum
        for i, c in expect.items():
            assert kept.get(i) == c, (source, i)
        dropped = {i for _, i, _ in docs} - set(expect)
        assert dropped.isdisjoint(kept), (source, dropped & set(kept))


def test_semantic_dedup_prunes_planted_duplicates(spark, sf_dir):
    # exact copies produce identical sign bits in EVERY table, so they
    # always collide; the lower-id original must survive and every copy
    # must be pruned — and no two surviving vectors may be near-dups that
    # share a bucket (the rule's fixpoint property on cliques)
    from cloudtrace_exporter_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").limit(200).cache()
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    verdicts = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(emb.union(copies), threshold=0.99).collect()
    }
    for i in range(20):
        assert verdicts[i + 100000] is False, f"copy of {i} not pruned"
    originals_kept = sum(1 for i in range(20) if verdicts[i])
    assert originals_kept == 20, "an original was pruned by its own copy"


def test_wav_roundtrip_and_hand_computed_stats(spark):
    # encode → parse must return the exact samples; stats over a
    # hand-constructed 4-sample clip are closed-form
    import numpy as np

    samples = np.array([0, 16384, -16384, 0], dtype="<i2")
    buf = multimodal.encode_wav(samples, sample_rate=8000)
    n_ch, rate, decoded = multimodal._parse_wav(buf)
    assert (n_ch, rate) == (1, 8000)
    assert np.array_equal(decoded[:, 0], samples)

    df = spark.createDataFrame([(1, bytearray(buf)), (2, bytearray(b"not a wav"))],
                               "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in multimodal.decode_audio_real(df).collect()}
    r = rows[1]
    # x = [0, .5, -.5, 0] → rms = sqrt(0.125), peak = 0.5, 2 sign flips / 3
    assert (r["format"], r["n_channels"], r["sample_rate"], r["n_frames"]) == ("wav", 1, 8000, 4)
    assert r["duration_ms"] == 0 and r["peak"] == 0.5
    assert r["rms"] == round(float(np.sqrt(0.125)), 6)
    assert r["zero_cross_rate"] == round(2 / 3, 6)
    assert rows[2]["format"] == "unsupported" and rows[2]["rms"] is None


def test_synthesized_wav_decodes_end_to_end(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    out = multimodal.decode_audio_real(multimodal.synthesize_wav_payload(docs)).collect()
    assert len(out) == 30
    assert all(r["format"] == "wav" and r["n_frames"] == 800 and r["duration_ms"] == 100 for r in out)
    assert all(0.0 < r["rms"] < 1.0 and r["peak"] <= 1.0 for r in out)
    # the sine frequency keys off doc_id → different ids, different ZCR families
    assert len({r["zero_cross_rate"] for r in out}) > 5


def test_resize_real_nearest_neighbor_pixels(spark):
    # 2x2 gradient → 4x4: each source pixel must tile a 2x2 block
    # (nearest-neighbor index map), and the output must re-decode as BMP
    import numpy as np

    rgb = np.array(
        [[[10, 20, 30], [40, 50, 60]], [[70, 80, 90], [100, 110, 120]]], dtype=np.uint8
    )
    df = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_bmp(rgb))), (2, bytearray(b"junk"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in multimodal.resize_real(df, width=4, height=4).collect()}
    assert rows[2]["format"] == "unsupported" and rows[2]["resized"] is None
    w, h, out = multimodal._parse_bmp(bytes(rows[1]["resized"]))
    assert (w, h) == (4, 4)
    expect = rgb[[0, 0, 1, 1]][:, [0, 0, 1, 1]]
    assert np.array_equal(out.astype(np.uint8), expect)


def test_intra_doc_dedup_drops_repeats_keeps_first(spark):
    # doc 1 repeats chunk A (pos 1 and 3): output must count 3 chunks,
    # keep 2, and the reassembly fp must equal md5 of "A B" (first
    # occurrences in original order); doc 2 has no repeats
    import hashlib

    a = " ".join(f"a{i}" for i in range(20))
    bch = " ".join(f"b{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, f"{a} {bch} {a}"), (2, f"{bch} {a}")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.dedup_intra_doc(df, chunk_tokens=20).collect()}
    assert (rows[1]["n_chunks"], rows[1]["n_kept"]) == (3, 2)
    assert rows[1]["clean_fp"] == hashlib.md5(f"{a} {bch}".encode()).hexdigest()
    assert (rows[2]["n_chunks"], rows[2]["n_kept"]) == (2, 2)
    assert rows[2]["clean_fp"] == hashlib.md5(f"{bch} {a}".encode()).hexdigest()


def test_rrf_fuse_rank_space_properties(spark):
    sparse = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, doc_id long, rnk long"
    )
    dense = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)], "query_id long, doc_id long, rnk long"
    )
    out = {r["doc_id"]: r for r in similarity.rrf_fuse(sparse, dense).collect()}
    # doc 11 appears in both lists: its RRF is the sum of both terms and
    # it must outrank every single-list doc
    assert abs(out[11]["rrf"] - (1 / 62 + 1 / 61)) < 1e-12
    assert out[11]["fused_rnk"] == 1
    # single-list docs keep their relative order within the same source
    assert out[10]["fused_rnk"] < out[12]["fused_rnk"]
    # missing-from-one-list docs still surface (full outer semantics)
    assert 13 in out and abs(out[13]["rrf"] - 1 / 62) < 1e-12


def test_contrastive_pairs_structure(spark):
    docs = spark.createDataFrame(
        [(i, f"word{i % 3} alpha beta gamma") for i in range(24)],
        "doc_id long, text string",
    )
    out = curate.contrastive_pairs(docs, threshold=0.9, n_pos=2, n_neg=3)
    rows = out.collect()
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    pos_pairs = {(r["anchor_id"], r["partner_id"]) for r in rows if r["role"] == "pos"}
    assert pos_pairs  # near-dup groups exist by construction (3 templates)
    for anchor, rs in by_anchor.items():
        pos = [r for r in rs if r["role"] == "pos"]
        neg = [r for r in rs if r["role"] == "neg"]
        assert 1 <= len(pos) <= 2 and len(neg) <= 3
        # negatives never collide with this anchor's positives or itself
        pos_ids = {r["partner_id"] for r in pos}
        for r in neg:
            assert r["partner_id"] != anchor and r["partner_id"] not in pos_ids
    # determinism: rerun gives identical rows
    again = curate.contrastive_pairs(docs, threshold=0.9, n_pos=2, n_neg=3)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


def test_normalized_dedup_folds_case_punct_digits(spark):
    from cloudtrace_exporter_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "Hello, world! Issue #42"),
            (1, "hello world  issue 7"),   # same after case/punct/digit fold
            (2, "hello world issue"),      # different (no digit placeholder)
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup.normalized_dedup(docs).collect()}
    assert got[0]["norm_key"] == got[1]["norm_key"] != got[2]["norm_key"]
    assert got[0]["keep"] and not got[1]["keep"] and got[2]["keep"]
    assert got[0]["group_size"] == 2 and got[2]["group_size"] == 1


def test_normalized_dedup_keeps_non_latin_scripts(spark):
    # round-6 advice fix: the old [^a-z0\s] fold collapsed every CJK /
    # Cyrillic / Devanagari document to the same (often empty) key —
    # silently discarding whole languages as "duplicates". The
    # unicode-class fold must keep distinct non-Latin documents distinct
    # while still colliding true normalization-equal variants.
    from cloudtrace_exporter_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "你好，世界。 2024年"),
            (1, "你好 世界 7年"),            # same after punct/digit fold
            (2, "完全不同的文档内容"),        # distinct CJK doc
            (3, "Привет, мир! №42"),
            (4, "Привет мир 7"),            # same after punct/digit fold
            (5, "совсем другой текст"),      # distinct Cyrillic doc
            (6, "Café naïve"),
            (7, "cafe naive"),              # same after accent fold
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup.normalized_dedup(docs).collect()}
    assert got[0]["norm_key"] == got[1]["norm_key"]
    assert got[3]["norm_key"] == got[4]["norm_key"]
    assert got[6]["norm_key"] == got[7]["norm_key"]
    # distinct documents stay distinct — and none of the keys collapse
    # into each other across scripts
    keys = {got[i]["norm_key"] for i in (0, 2, 3, 5, 6)}
    assert len(keys) == 5
    assert got[2]["keep"] and got[5]["keep"]


def test_dup_span_plan_emits_nonfirst_occurrences_with_offsets(spark):
    from cloudtrace_exporter_spark.operators import dedup

    shared = " ".join(f"s{i}" for i in range(50))   # one full shared chunk
    docs = spark.createDataFrame(
        [
            (0, shared + " tail0 a b"),
            (1, "u0 " * 50 + shared),  # shared chunk at offset 50
            (2, "unique only text"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.dup_span_plan(docs).collect()
    # doc 1's copy of the shared chunk is the single span to cut;
    # doc 0 holds the first occurrence and emits nothing
    assert len(rows) == 1
    r = rows[0]
    assert r["doc_id"] == 1 and r["first_doc"] == 0
    assert (r["tok_start"], r["tok_end"]) == (50, 100)


def test_lm_quality_buckets_tiers_within_language(spark):
    # 6 docs, one PREDICTED language (every doc carries an 'en'
    # stopword — an all-rare doc would land in its own 'unknown'
    # partition): repeated common words score high, rare-token soup
    # scores low; ntile(3) over 6 docs → 2 per tier
    rows = [
        (0, "the the the the"),
        (1, "the the the and"),
        (2, "the and the and"),
        (3, "the and is was"),
        (4, "the and zq1 zq2"),
        (5, "the zq3 zq4 zq5"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.lm_quality_buckets(docs).collect()}
    assert len(got) == 6
    tiers = {t: [d for d in got if got[d]["tier"] == t] for t in ("head", "middle", "tail")}
    assert len(tiers["head"]) == len(tiers["middle"]) == len(tiers["tail"]) == 2
    # the all-stopword doc is head; the all-rare doc is tail
    assert 0 in tiers["head"] and 5 in tiers["tail"]
    # scores are monotone across tier boundaries
    assert min(got[d]["avg_logp"] for d in tiers["head"]) >= max(
        got[d]["avg_logp"] for d in tiers["middle"]
    )


def test_tokenizer_fertility_perfect_merge_language(spark):
    # lang X: words fully merged by 4 merges of 'a b'-family pairs; lang
    # Y: rare chars stay unmerged → fertility(Y) > fertility(X) >= 1
    rows = (
        [(i, "abcd abcd abcd", "X") for i in range(4)]
        + [(10 + i, "wxyz qrst", "Y") for i in range(2)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["stratum"]: r for r in text.tokenizer_fertility(docs, n_merges=3).collect()}
    # 3 merges collapse 'abcd' (freq 12) to one piece; Y's words stay at
    # 4 chars each
    assert got["X"]["fertility"] == 1.0
    assert got["Y"]["fertility"] == 4.0
    assert got["X"]["n_docs"] == 4 and got["Y"]["n_docs"] == 2


def test_dedup_rewrite_cuts_only_nonfirst_copies(spark):
    from cloudtrace_exporter_spark.operators import dedup

    shared = " ".join(f"s{i}" for i in range(50))
    uniq = " ".join(f"u{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(0, shared + " " + uniq), (1, shared + " tail only")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup.dedup_rewrite(docs).collect()}
    # doc 0 holds the first occurrence: nothing dropped, text intact
    assert got[0]["n_chunks_dropped"] == 0
    assert got[0]["clean_text"] == shared + " " + uniq
    # doc 1 loses its copy of the shared chunk, keeps its tail
    assert got[1]["n_chunks_dropped"] == 1
    assert got[1]["clean_text"] == "tail only"
    assert got[1]["n_tokens_kept"] == 2


def test_hard_negatives_excludes_positive_band(spark):
    from cloudtrace_exporter_spark.operators import similarity

    # query 0; id 1 is a near-dup (cosine 1.0 — positive band), ids 2-4
    # progressively farther; the miner must skip 1 and rank 2 first
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.8, 0.6, 0.0]),
        (3, [0.4, 0.9165151, 0.0]),
        (4, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.hard_negatives(
        emb, emb.filter("vec_id = 0"), k=2, positive_threshold=0.95
    ).collect()
    ranked = [(r["rnk"], r["corpus_id"]) for r in sorted(got, key=lambda r: r["rnk"])]
    assert ranked == [(1, 2), (2, 3)]


def test_truncated_dim_recall_tracks_signal_dims(spark):
    import random

    from cloudtrace_exporter_spark.operators import similarity

    # vectors whose first 8 dims carry ALL the signal; the rest is a
    # constant — truncating to 8 dims must preserve the full ranking
    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)] + [0.1] * 8) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.truncated_dim_recall(
        emb, emb.filter("vec_id < 3"), dims=(2, 8), k=3
    ).collect()
    by_dim = {}
    for r in got:
        by_dim.setdefault(r["dim"], []).append(r["recall"])
    # 2 signal dims lose ranking information; 8 keep... not quite all of
    # it (the constant tail shifts norms), so pin >= rather than ==
    assert min(by_dim[8]) >= max(0.0, max(by_dim[2]) - 0.34)
    assert sum(by_dim[8]) / len(by_dim[8]) >= sum(by_dim[2]) / len(by_dim[2])


def test_padding_waste_hand_computed(spark):
    # 3 docs of 10/100/130 tokens at L=128:
    #   naive seqs = 1 + 1 + 2 = 4; padded = 4*128 - 240 = 272
    #   packed lower bound = ceil(240/128) = 2 sequences
    docs = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(10))),
            (1, " ".join(f"t{i}" for i in range(100))),
            (2, " ".join(f"t{i}" for i in range(130))),
            (3, ""),  # empty doc: contributes no sequences
        ],
        "doc_id long, text string",
    )
    rows = {
        r["context_len"]: r
        for r in text.padding_waste_report(docs, context_lens=(128,)).collect()
    }
    r = rows[128]
    assert r["n_docs"] == 4 and r["total_tokens"] == 240
    assert r["naive_seqs"] == 4 and r["naive_padding_tokens"] == 272
    assert abs(r["waste_ratio"] - 272 / 512) < 1e-12
    assert r["packed_seqs"] == 2


def test_dedup_threshold_sweep_monotone(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    rows = {
        r["threshold"]: r
        for r in dedup.dedup_threshold_sweep(docs, thresholds=(0.5, 0.7, 0.9)).collect()
    }
    assert set(rows) == {0.5, 0.7, 0.9}
    # tightening the threshold can only shrink every yield column
    for lo, hi in ((0.5, 0.7), (0.7, 0.9)):
        assert rows[lo]["n_pairs"] >= rows[hi]["n_pairs"]
        assert rows[lo]["n_docs_removed"] >= rows[hi]["n_docs_removed"]
        assert rows[lo]["tokens_removed"] >= rows[hi]["tokens_removed"]
    assert rows[0.5]["n_pairs"] > 0  # non-vacuous on the fixture


def test_embedding_outliers_planted(spark):
    from cloudtrace_exporter_spark.operators import similarity

    # 5 tight vectors + one far outlier per label: the outlier must rank 1
    rows = []
    for lab in (0, 1):
        for i in range(5):
            rows.append((lab * 10 + i, [0.1 * lab] * 4, lab))
        rows.append((lab * 10 + 9, [0.9] * 4, lab))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {
        (r["label"], r["rnk"]): r["vec_id"]
        for r in similarity.embedding_outliers_scaled(emb, k=2).collect()
    }
    assert got[(0, 1)] == 9 and got[(1, 1)] == 19


def test_range_partition_plan_hand_computed(spark):
    from cloudtrace_exporter_spark.operators import layout

    # values 1..10 once each: boundary(f) = smallest v with count<=v >= ceil(10f)
    df = spark.createDataFrame([(v,) for v in range(1, 11)], "v long")
    got = {
        r["fraction"]: (r["target_rank"], r["boundary"])
        for r in layout.range_partition_plan(df, "v", fractions=(0.25, 0.5, 0.75)).collect()
    }
    assert got[0.25] == (3, 3) and got[0.5] == (5, 5) and got[0.75] == (8, 8)
    # skewed: 9 copies of value 1, one value 100 — every early boundary is 1
    skew = spark.createDataFrame([(1,)] * 9 + [(100,)], "v long")
    got = {
        r["fraction"]: r["boundary"]
        for r in layout.range_partition_plan(skew, "v", fractions=(0.5, 0.99)).collect()
    }
    assert got[0.5] == 1 and got[0.99] == 100


def test_source_overlap_matrix_planted_cross_feed(spark):
    # two feeds publishing the same article + one unique doc per feed:
    # exactly one cross-source near-dup cell, no within-source cells
    shared = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (0, shared, "feedA"),
            (1, shared + " extra", "feedB"),
            (2, " ".join(f"a{i}" for i in range(60)), "feedA"),
            (3, " ".join(f"b{i}" for i in range(60)), "feedB"),
        ],
        "doc_id long, text string, source string",
    )
    rows = dedup.source_overlap_matrix(docs, threshold=0.5).collect()
    assert [(r["source_a"], r["source_b"], r["n_pairs"]) for r in rows] == [
        ("feedA", "feedB", 1)
    ]
    assert rows[0]["mean_est_jaccard"] >= 0.5


def test_export_manifest_is_a_pure_function_of_the_corpus(spark, sf_dir):
    # same corpus, different physical layout → identical manifest
    # (content-hashed shards + commutative checksum: retries and
    # repartitioning cannot change what a consumer verifies)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base = {r["shard"]: r for r in curate.export_manifest(docs).collect()}
    shuffled = {
        r["shard"]: r
        for r in curate.export_manifest(docs.repartition(7, "text")).collect()
    }
    assert base.keys() == shuffled.keys()
    for s in base:
        assert base[s] == shuffled[s]
    # totals reconcile with the corpus
    assert sum(r["n_docs"] for r in base.values()) == docs.count()


def test_containment_pairs_catch_what_jaccard_misses(spark):
    # doc 1 is fully quoted inside the much larger doc 2: containment=1,
    # but Jaccard is diluted by the host's extra vocabulary
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma one two three four five six seven eight nine"),
            (3, "unrelated words entirely different here"),
        ],
        "doc_id long, text string",
    )
    cont = {
        (r["inner_id"], r["host_id"]): r["containment"]
        for r in dedup.containment_pairs(docs, threshold=0.9).collect()
    }
    assert cont == {(1, 2): 1.0}
    jac = dedup.jaccard_pairs(docs, threshold=0.9).collect()
    assert jac == []  # symmetric Jaccard misses the quote
    # equal-size sets: the lower id is the inner side by the tie rule
    eq = spark.createDataFrame(
        [(7, "x y z"), (8, "x y z")], "doc_id long, text string"
    )
    rows = dedup.containment_pairs(eq, threshold=0.9).collect()
    assert [(r["inner_id"], r["host_id"]) for r in rows] == [(7, 8)]


def test_containment_blocked_equals_exact(spark, sf_dir):
    # the prefix-filtered candidate path must reproduce the theta join's
    # result set EXACTLY (prefix filtering admits no false negatives) —
    # on the fixture corpus, where shared vocabulary makes candidate
    # pruning actually selective, and across thresholds
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    for thr in (0.98, 0.8):
        exact = {
            (r["inner_id"], r["host_id"]): r["containment"]
            for r in dedup.containment_pairs(docs, threshold=thr).collect()
        }
        blocked = {
            (r["inner_id"], r["host_id"]): r["containment"]
            for r in dedup.containment_pairs_blocked(docs, threshold=thr).collect()
        }
        assert blocked == exact
        assert exact  # non-vacuous: the fixture has qualifying pairs


def test_containment_blocked_plan_has_no_nested_loop(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    p = (
        dedup.containment_pairs_blocked(docs, threshold=0.98)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ndcg_at_k_hand_computed(spark):
    import math

    truth = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, corpus_id long, rnk long"
    )
    # system: rank1 correct, rank2 wrong, rank3 correct
    sysr = spark.createDataFrame(
        [(0, 10, 1), (0, 99, 2), (0, 12, 3)], "query_id long, corpus_id long, rnk long"
    )
    out = similarity.ndcg_at_k(sysr, truth, k=3).collect()
    w = [1 / math.log2(i + 1) for i in (1, 2, 3)]
    expect = round((w[0] + w[2]) / sum(w), 6)
    assert len(out) == 1 and abs(out[0]["ndcg"] - expect) < 1e-9
    # perfect system scores exactly 1
    perfect = similarity.ndcg_at_k(truth, truth, k=3).collect()
    assert perfect[0]["ndcg"] == 1.0


def test_retrieval_metrics_hand_computed(spark):
    truth = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, corpus_id long, rnk long"
    )
    sysr = spark.createDataFrame(
        [(0, 99, 1), (0, 11, 2), (0, 98, 3)], "query_id long, corpus_id long, rnk long"
    )
    out = similarity.retrieval_metrics_at_k(sysr, truth, k=3).collect()[0]
    assert abs(out["recall"] - round(1 / 3, 6)) < 1e-9
    assert out["mrr"] == 0.5  # first hit at rank 2
    # all-miss system: recall 0, mrr 0
    miss = spark.createDataFrame([(0, 99, 1)], "query_id long, corpus_id long, rnk long")
    m = similarity.retrieval_metrics_at_k(miss, truth, k=3).collect()[0]
    assert m["recall"] == 0.0 and m["mrr"] == 0.0


def test_ngram_dup_census_catches_boundary_straddling_copy(spark):
    from cloudtrace_exporter_spark.operators import dedup

    # a 20-token passage copied at OFFSET 40 in doc 1: the disjoint
    # 50-token chunk census sees different chunk texts (the copy
    # straddles doc 1's chunk boundary), the sliding census cannot miss
    passage = " ".join(f"p{i}" for i in range(20))
    filler_a = " ".join(f"a{i}" for i in range(40))
    filler_b = " ".join(f"b{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, passage + " " + filler_a), (1, filler_b + " " + passage)],
        "doc_id long, text string",
    )
    sliding = dedup.ngram_dup_census(docs, n=20).collect()
    assert len(sliding) == 1 and sliding[0]["n_docs"] == 2
    chunked = dedup.chunk_dup_census(docs).collect()
    assert chunked == []  # the disjoint census misses the straddler


def test_keyword_percolate_matches_expected_rules(spark):
    docs = spark.createDataFrame(
        [
            (0, "the planner chose a hash join today"),
            (1, "window agg stream with watermark"),
            (2, "access denied: failure in auth"),
            (3, "nothing to see here"),
        ],
        "doc_id long, text string",
    )
    got = sorted((r["doc_id"], r["rule_id"]) for r in text.keyword_percolate(docs).collect())
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_source_novelty_separates_unique_from_shared(spark):
    from cloudtrace_exporter_spark.operators import dedup

    shared = " ".join(f"s{i}" for i in range(25))
    unique_a = " ".join(f"a{i}" for i in range(25))
    docs = spark.createDataFrame(
        [
            (0, shared + " " + unique_a, "src_a"),   # half shared, half unique
            (1, shared, "src_b"),                     # NOTHING unique
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in dedup.source_novelty(docs, n=20).collect()}
    # src_b's every 20-gram also appears in src_a's text → zero novelty
    assert got["src_b"]["n_unique_grams"] == 0 and got["src_b"]["novelty"] == 0.0
    # src_a contributes grams touching the unique_a region
    assert got["src_a"]["n_unique_grams"] > 0
    assert got["src_a"]["novelty"] > 0.5


def test_pq_scaled_tracks_float_pq(spark, sf_dir):
    from cloudtrace_exporter_spark.operators import similarity
    from cloudtrace_exporter_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    books = similarity.pq_train(emb)
    flt = {
        (r["query_id"], r["corpus_id"])
        for r in similarity.pq_topk(emb, q, books, k=5).collect()
    }
    scl = {
        (r["query_id"], r["corpus_id"])
        for r in similarity.pq_topk_scaled(emb, q, k=5).collect()
    }
    # quantization perturbs only micro-ties; the two paths agree on
    # (almost) the whole top-k set
    assert len(flt & scl) / len(flt | scl) > 0.85
    # round-6 advice fix: a non-divisible m must fail loudly, not index
    # codes out of range mid-plan
    import pytest

    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_topk_scaled(emb, q, m=7, k=5)


def test_pii_report_policy_order_and_counts(spark):
    docs = spark.createDataFrame(
        [
            # email inside a URL: counts as ONE url match, zero email
            (0, "see https://a.example/u?mail=bob@x.com now", "web"),
            (1, "contact alice@corp.example or bob@x.org", "web"),
            (2, "id 1234567 and 987654321 plus short 12345", "logs"),
            (3, "clean text only", "logs"),
        ],
        "doc_id long, text string, source string",
    )
    rep = {
        (r["source"], r["pii_type"]): r for r in text.pii_report(docs).collect()
    }
    assert rep[("web", "url")]["matches"] == 1
    assert rep[("web", "url")]["docs_hit"] == 1
    assert rep[("web", "email")]["matches"] == 2      # doc 1 only
    assert rep[("web", "email")]["docs_hit"] == 1
    assert rep[("logs", "num")]["matches"] == 2       # >=6 digits only
    assert rep[("logs", "num")]["docs_hit"] == 1
    assert rep[("logs", "url")]["matches"] == 0
    assert all(r["total_docs"] == 2 for r in rep.values())


def test_water_fill_caps_is_max_min_fair(spark):
    # one oversized feed + small feeds: water-filling must keep every
    # small feed whole and absorb the entire cut from the big one;
    # allocations must sum exactly to the integer budget
    from cloudtrace_exporter_spark.operators.curate import water_fill_caps

    rows = []
    did = 0
    for src, n_docs, words in [("tiny", 2, 3), ("mid", 3, 5), ("huge", 10, 50)]:
        for _ in range(n_docs):
            rows.append((did, " ".join(["w"] * words), src))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in water_fill_caps(docs, budget_num=1, budget_den=2).collect()}
    total = 2 * 3 + 3 * 5 + 10 * 50  # 521
    budget = total // 2  # 260
    assert sum(r["allocated"] for r in out.values()) == budget
    # small feeds untouched, big feed takes the whole cut
    assert out["tiny"]["allocated"] == 6 and not out["tiny"]["capped"]
    assert out["mid"]["allocated"] == 15 and not out["mid"]["capped"]
    assert out["huge"]["allocated"] == budget - 21 and out["huge"]["capped"]
    for r in out.values():
        assert r["allocated"] <= r["capacity"]


def test_water_fill_caps_remainder_distribution_is_deterministic(spark):
    # equal capacities with a budget that doesn't divide evenly: the
    # remainder goes +1 each to the first sources in NAME order
    from cloudtrace_exporter_spark.operators.curate import water_fill_caps

    rows = []
    did = 0
    for src in ["a", "b", "c"]:
        for _ in range(2):
            rows.append((did, " ".join(["w"] * 5), src))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # total 30, budget floor(30*2/3) = 20 -> T=6 rem=2 -> a,b get 7, c gets 6
    out = {r["source"]: r["allocated"] for r in water_fill_caps(
        docs, budget_num=2, budget_den=3).collect()}
    assert out == {"a": 7, "b": 7, "c": 6}


def test_vocab_growth_curve_detects_saturation(spark):
    # docs 0-3 introduce fresh types; docs 4-7 re-tread them exactly ->
    # the second half of the curve must show zero new types while
    # tokens keep accumulating (the flattening a data buyer watches for)
    from cloudtrace_exporter_spark.operators.text import vocab_growth_curve

    fresh = ["a b", "c d", "e f", "g h"]
    rows = [(i, t) for i, t in enumerate(fresh)]
    rows += [(4 + i, t) for i, t in enumerate(fresh)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # max id 7 -> width floor(7/4)+1 = 2 -> buckets 0..3, 2 docs each
    out = {r["bucket"]: r for r in vocab_growth_curve(docs, n_buckets=4).collect()}
    assert [out[b]["new_types"] for b in range(4)] == [4, 4, 0, 0]
    assert [out[b]["cum_types"] for b in range(4)] == [4, 8, 8, 8]
    assert [out[b]["cum_tokens"] for b in range(4)] == [4, 8, 12, 16]
    assert out[3]["type_token_ratio"] == 0.5


def test_fd_audit_flags_violations_and_nulls(spark):
    # feed 'clean' maps to one lang (FD holds); 'mixed' has a majority
    # and two dissenters; a NULL rhs counts as the explicit '<null>'
    from cloudtrace_exporter_spark.operators.expectations import fd_audit

    rows = [
        (0, "t", "en", "clean"), (1, "t", "en", "clean"),
        (2, "t", "de", "mixed"), (3, "t", "de", "mixed"),
        (4, "t", "de", "mixed"), (5, "t", "fr", "mixed"),
        (6, "t", None, "mixed"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r["lhs_value"]: r for r in fd_audit(docs, lhs="source", rhs="lang").collect()}
    assert out["clean"]["fd_holds"] and out["clean"]["n_violations"] == 0
    m = out["mixed"]
    assert not m["fd_holds"]
    assert m["majority_rhs"] == "de" and m["majority_n"] == 3
    assert m["n_distinct_rhs"] == 3 and m["n_violations"] == 2


def test_fd_audit_tie_breaks_to_smallest_rhs(spark):
    from cloudtrace_exporter_spark.operators.expectations import fd_audit

    rows = [(0, "b", "s"), (1, "a", "s")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    r = fd_audit(docs, lhs="source", rhs="lang").collect()[0]
    assert r["majority_rhs"] == "a" and r["majority_n"] == 1 and r["n_violations"] == 1


def test_quantile_normalize_aligns_shifted_sources(spark):
    # two sources with the SAME shape but shifted scales: after quantile
    # normalization, rank-equivalent docs must land on identical global
    # reference values, and each source's normalized set must span the
    # same global quantile ladder
    from cloudtrace_exporter_spark.operators.curate import quantile_normalize

    rows = []
    # source A: 1..5 ; source B: 101..105 (same ranks, shifted scale)
    for i, v in enumerate([1, 2, 3, 4, 5]):
        rows.append((i, "A", v))
    for i, v in enumerate([101, 102, 103, 104, 105]):
        rows.append((10 + i, "B", v))
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = quantile_normalize(docs).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["normalized_value"])
    # N=10, ns=5: gi = floor((r-1)*9/4)+1 -> ranks 1..5 -> gi 1,3,5,7,10
    # global sorted values: 1,2,3,4,5,101,102,103,104,105
    expect = [1.0, 3.0, 5.0, 102.0, 105.0]
    assert sorted(by_src["A"]) == expect
    assert sorted(by_src["B"]) == expect  # the shift is gone


def test_quantile_normalize_singleton_source_maps_to_lower_median(spark):
    from cloudtrace_exporter_spark.operators.curate import quantile_normalize

    rows = [(0, "big", 10), (1, "big", 20), (2, "big", 30), (3, "lone", 999)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r["doc_id"]: r["normalized_value"] for r in quantile_normalize(docs).collect()}
    # N=4 -> lower median index floor(5/2)=2 -> sorted values 10,20,30,999 -> 20
    assert out[3] == 20.0


def test_perceptual_hash_catches_planted_visual_near_dups(spark):
    # doc 100 is a pixel-perturbed copy of doc 0 (a few pixels changed):
    # aHash Hamming distance must be small and the banded join must
    # surface the pair; unrelated gradients must NOT pair up
    import numpy as np

    from cloudtrace_exporter_spark.operators.multimodal import (
        encode_bmp,
        perceptual_hash,
        phash_near_dups,
    )

    yy, xx = np.mgrid[0:16, 0:16]

    def img(k):
        return np.stack(
            [(xx * 7 + k) % 256, (yy * 11 + 3 * k) % 256, (xx + yy + 5 * k) % 256],
            axis=-1,
        ).astype(np.uint8)

    base = img(0)
    perturbed = base.copy()
    perturbed[0, 0] = [255, 255, 255]
    perturbed[7, 7] = [0, 0, 0]
    rows = [(0, bytearray(encode_bmp(base))), (100, bytearray(encode_bmp(perturbed)))]
    for k in (40, 80, 120):
        rows.append((k, bytearray(encode_bmp(img(k)))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = perceptual_hash(df)
    hs = {r["doc_id"]: r for r in hashes.collect()}
    assert all(r["format"] == "bmp" for r in hs.values())
    # identical-content check: hash is deterministic
    assert hs[0]["ahash"] is not None
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in phash_near_dups(hashes, max_hamming=4).collect()}
    assert (0, 100) in pairs and pairs[(0, 100)] <= 4
    assert all({a, b} == {0, 100} for a, b in pairs)


def test_phash_banding_has_no_false_negatives_vs_brute_force(spark):
    # EXACTNESS of the pigeonhole banding: every pair within the Hamming
    # budget found by brute force must come back from the banded join
    from cloudtrace_exporter_spark.operators.multimodal import phash_near_dups

    base = 0x0123456789ABCDEF
    rows = [(0, base)]
    # flip 1..6 bits in distinct positions
    for i, nflip in enumerate([1, 2, 3, 4, 5, 6], start=1):
        h = base
        for b in range(nflip):
            h ^= 1 << (b * 9 + i)
        rows.append((i, h - (1 << 64) if h >= (1 << 63) else h))
    df = spark.createDataFrame([(d, h, h) for d, h in rows], "doc_id long, ahash long, dhash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in phash_near_dups(df, max_hamming=4).collect()}
    import itertools
    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")
    expect = {
        (a, b): ham(ha, hb)
        for (a, ha), (b, hb) in itertools.combinations(rows, 2)
        if ham(ha, hb) <= 4
    }
    assert got == expect and (0, 1) in got and (0, 4) in got and (0, 5) not in got


def test_incremental_near_dedup_against_a_persisted_index(spark, tmp_path):
    # the production loop: build the banded index ONCE, persist, load,
    # and dedup a new batch against it — results must equal the
    # rebuild-from-text path, and the index path must not need corpus text
    from cloudtrace_exporter_spark.operators.dedup import (
        incremental_near_dedup,
        load_minhash_index,
        minhash_banded_index,
        save_minhash_index,
    )
    import pytest

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "completely unrelated text about spark shuffles and joins")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),   # dup of 0
         (11, "fresh content nobody has ever written before at all")],
        "doc_id long, text string",
    )
    fresh = {r["doc_id"] for r in incremental_near_dedup(new, corpus).collect()}

    path = str(tmp_path / "lsh_index")
    save_minhash_index(minhash_banded_index(corpus), path)
    idx = load_minhash_index(spark, path)
    loaded = {r["doc_id"] for r in incremental_near_dedup(new, corpus_index=idx).collect()}
    assert loaded == fresh == {11}

    with pytest.raises(ValueError):
        incremental_near_dedup(new)
    with pytest.raises(ValueError):
        incremental_near_dedup(new, corpus, corpus_index=idx)


def test_load_minhash_index_rejects_bigint_bucket(spark, tmp_path):
    # an index at rest from a hash family with BIGINT band buckets can
    # never match this family's string buckets: loading it must fail
    # loudly, naming the path, instead of inside the bucket join
    from cloudtrace_exporter_spark.operators.dedup import load_minhash_index

    path = str(tmp_path / "old_index")
    spark.createDataFrame(
        [(0, [1, 2], 0, 7), (1, [3, 4], 0, 9)],
        "id long, signature array<long>, band int, bucket long",
    ).write.parquet(path)
    with pytest.raises(ValueError, match="old_index"):
        load_minhash_index(spark, path)


def test_bm25_prf_expands_vocabulary_and_recovers_recall(spark):
    # doc 2 never contains a query term but shares vocabulary with the
    # feedback doc — only the PRF second pass can retrieve it
    from cloudtrace_exporter_spark.operators.text import bm25_prf_topk, bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "hash join probe build side shuffle"),
            (1, "hash join partition skew salt"),
            (2, "probe build shuffle exchange broadcast"),   # no query term!
            (3, "completely unrelated text about gardens"),
        ],
        "doc_id long, text string",
    )
    queries = [(0, "hash join")]
    base = {r["doc_id"] for r in bm25_topk(docs, queries, k=4).collect()}
    prf = {r["doc_id"] for r in bm25_prf_topk(docs, queries, k=4, fb_docs=2, fb_terms=4).collect()}
    assert 2 not in base            # vocabulary mismatch: invisible to pass 1
    assert 2 in prf                 # expansion terms recover it
    assert 3 not in prf             # noise stays out


def test_bm25_snippets_picks_the_densest_window(spark):
    # the winning span must cover BOTH query terms even though a
    # single-term cluster appears earlier in the document
    from cloudtrace_exporter_spark.operators.text import bm25_snippets

    text = "join join join filler filler filler filler hash x join tail tail"
    docs = spark.createDataFrame(
        [(0, text), (1, "unrelated garden text entirely")],
        "doc_id long, text string",
    )
    out = bm25_snippets(docs, [(7, "hash join")], k=1, window=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == 0 and r["n_terms"] == 2
    # tokens are 1-based: 'hash' at 8, 'join' at 9 -> best window starts at 8
    assert r["start"] == 8 and r["snippet"].startswith("hash x join")


def test_lsh_tuning_report_monotonic_in_bands_and_tracks_theory(spark):
    # more bands (fewer rows per band) can only ADD collisions for a
    # fixed pair set; identical docs must collide under EVERY config;
    # and the measured rate for exact dups must be 1.0 where theory
    # says ~1.0
    from cloudtrace_exporter_spark.operators.dedup import lsh_tuning_report

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(6):
        rows.append((i, base))                       # identical cluster
        rows.append((100 + i, f"totally different text number {i} with unique words {i * 7}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = lsh_tuning_report(docs).collect()
    by_cfg = {}
    for r in out:
        by_cfg.setdefault((r["n_bands"], r["n_rows"]), {})[r["sim_bucket"]] = r
    # identical-doc pairs live in bucket 9 and collide everywhere
    # (measured); the midpoint theory at s=0.95 is config-dependent —
    # steep for many bands, only 0.95^32≈0.19 for the 1×32 config —
    # so assert the S-curve ORDERING, not a flat floor
    for cfg, buckets in by_cfg.items():
        assert buckets[9]["measured_rate"] == 1.0
    exp9 = [
        (cfg[0], bs[9]["expected_rate"]) for cfg, bs in by_cfg.items() if 9 in bs
    ]
    exp9.sort()
    for (b1, e1), (b2, e2) in zip(exp9, exp9[1:]):
        assert e1 <= e2, f"expected_rate must grow with bands: {b1}->{b2}"
    assert dict(exp9)[32] > 0.99  # 32 one-row bands: near-certain at s=0.95
    # collision count is monotone nonincreasing as rows-per-band grows
    for bucket in {b for bs in by_cfg.values() for b in bs}:
        rates = [
            (cfg[1], bs[bucket]["n_collisions"])
            for cfg, bs in by_cfg.items()
            if bucket in bs
        ]
        rates.sort()
        for (r1, c1), (r2, c2) in zip(rates, rates[1:]):
            assert c1 >= c2, f"bucket {bucket}: rows {r1}->{r2} gained collisions"


def test_corpus_diff_classifies_every_transition(spark):
    from cloudtrace_exporter_spark.operators.curate import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha beta", "s1"), (2, "gamma delta", "s1"), (3, "kept text", "s2")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [
            (2, "gamma delta EDITED", "s1"),   # changed (+1 token)
            (3, "kept  text", "s2"),           # whitespace-only -> unchanged
            (4, "brand new doc here", "s2"),   # added (4 tokens)
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in corpus_diff(old, new).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1["n_added"], s1["n_removed"], s1["n_changed"], s1["n_unchanged"]) == (0, 1, 1, 0)
    assert s1["token_delta"] == -2 + 1          # doc1 removed (-2), doc2 +1
    assert (s2["n_added"], s2["n_removed"], s2["n_changed"], s2["n_unchanged"]) == (1, 0, 0, 1)
    assert s2["token_delta"] == 4               # added doc only; double-space is no delta


def test_lsh_eval_report_scores_planted_dups(spark):
    # 3 exact-dup pairs planted (J=1.0, caught by every banding) plus
    # noise docs: recall must be 1.0 and every reported LSH pair must
    # be a true near-dup at this threshold (precision 1.0 here because
    # distinct noise docs share no shingles)
    from cloudtrace_exporter_spark.operators.dedup import lsh_eval_report

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(3):
        rows.append((i, base))
        rows.append((100 + i, base))
    for i in range(10):
        rows.append((200 + i, f"unique{i} filler{i} words{i} only{i} here{i} now{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_eval_report(docs, threshold=0.8).collect()[0]
    # 6 identical docs -> C(6,2)=15 truth pairs
    assert r["n_truth"] == 15
    assert r["recall"] == 1.0
    assert r["precision"] == 1.0 and r["f1"] == 1.0


def test_passjoin_equals_brute_force_on_fixture(spark, sf_dir):
    """The PassJoin candidate generator is EXACT: against the fixture
    corpus it must equal the O(n²) brute-force edit-distance join pair
    for pair — the property the heuristic fuzzy joins don't have."""
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.doc_a, r.doc_b, r.dist)
        for r in dedup.passjoin_edit_pairs(docs, max_dist=3, prefix_chars=20).collect()
    }
    p = docs.select(
        F.col("doc_id").alias("id"), F.substring("text", 1, 20).alias("pfx")
    ).filter(F.length("pfx") >= 8)
    a, b = p.alias("a"), p.alias("b")
    want = {
        (r.doc_a, r.doc_b, r.dist)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.levenshtein("a.pfx", "b.pfx").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 3)
        .collect()
    }
    assert got == want and len(got) > 0


def test_passjoin_catches_pairs_heuristic_blocking_misses(spark):
    """A first-token edit escapes fuzzy_prefix_join's (block, first
    token) key; PassJoin must still pair it — including insertions and
    deletions that shift every later position."""
    rows = [
        (1, "alpha beta gamma delta", "en", "s", 22),
        (2, "alphX beta gamma delta", "en", "s", 22),  # sub in token 1
        (3, "Xalpha beta gamma delt", "en", "s", 22),  # insertion at pos 0
        (4, "lpha beta gamma deltaX", "en", "s", 22),  # deletion at pos 0
        (5, "completely different!!", "en", "s", 22),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.passjoin_edit_pairs(df, max_dist=3, prefix_chars=22).collect()
    }
    assert {(1, 2), (1, 3), (1, 4)} <= got
    assert not any(5 in pair for pair in got)
    # the heuristic prefix join misses the token-1 edits by construction
    heur = {
        (r.doc_a, r.doc_b)
        for r in dedup.fuzzy_prefix_join(df, max_dist=3, n_prefix_tokens=4).collect()
    }
    assert (1, 3) not in heur


def test_fuzzy_joins_report_true_codepoint_distance_on_non_ascii(spark):
    """Advisor r8 find: the ascii fold must be a BLOCKING key only —
    two entirely different CJK prefixes of the same shape must NOT be
    reported as dist 0 duplicates by default. fold_keys=True remains
    the documented byte-oracle parity mode with the folded semantics."""
    rows = [
        (1, "北京欢迎你 alpha beta", "zh", "s", 20),
        (2, "東京案内所 alpha beta", "zh", "s", 20),  # same shape, all-different CJK
        (3, "北京欢迎你 alpha beta", "zh", "s", 20),  # true duplicate of 1
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    # passjoin default: true codepoint distance — (1,3) is dist 0, the
    # CJK-vs-CJK pair (1,2)/(2,3) is 4 edits, beyond max_dist=3.
    got = {
        (r.doc_a, r.doc_b, r.dist)
        for r in dedup.passjoin_edit_pairs(
            df, max_dist=3, prefix_chars=12, min_len=6
        ).collect()
    }
    assert got == {(1, 3, 0)}
    # parity mode reproduces the folded semantics (all three collide)
    folded = {
        (r.doc_a, r.doc_b, r.dist)
        for r in dedup.passjoin_edit_pairs(
            df, max_dist=3, prefix_chars=12, min_len=6, fold_keys=True
        ).collect()
    }
    assert folded == {(1, 2, 0), (1, 3, 0), (2, 3, 0)}
    # fuzzy_prefix_join blocks on (lang, first token): 1 and 3 share
    # token 1; 2's differs, so only the true duplicate pairs — and its
    # default-reported distance is the codepoint distance (0 here).
    heur = {
        (r.doc_a, r.doc_b, r.dist)
        for r in dedup.fuzzy_prefix_join(df, max_dist=10, n_prefix_tokens=2).collect()
    }
    assert heur == {(1, 3, 0)}
    # sorted-neighborhood default also reports codepoint distance: the
    # CJK pair is 4 edits (京 matches at position 2), not 0.
    sn = {
        (r.doc_a, r.doc_b): r.dist
        for r in dedup.fuzzy_sorted_neighborhood(
            df, max_dist=10, n_prefix_tokens=2, window=2
        ).collect()
    }
    assert sn[(1, 3)] == 0
    assert sn[(1, 2)] == 4 and sn[(2, 3)] == 4


def test_k_anonymity_spectrum_and_l_diversity(spark):
    rows = [
        # quasi (q1, q2): class A has 3 rows / 1 sensitive value,
        # class B has 1 row, class C has 2 rows / 2 values
        ("a", 1, 100.0), ("a", 1, 100.0), ("a", 1, 100.0),
        ("b", 1, 5.0),
        ("c", 2, 1.0), ("c", 2, 2.0),
    ]
    df = spark.createDataFrame(rows, "q1 string, q2 int, s double")
    out = {
        r.class_size: r
        for r in expectations.k_anonymity_report(
            df, quasi=["q1", "q2"], sensitive="s", k=3
        ).collect()
    }
    assert out[1].n_classes == 1 and out[1].violates_k
    assert out[2].n_classes == 1 and out[2].min_l_diversity == 2 and out[2].violates_k
    assert out[3].n_classes == 1 and out[3].min_l_diversity == 1
    assert not out[3].violates_k
    assert sum(r.n_rows for r in out.values()) == 6


def test_mutual_nn_drops_one_sided_pairs(spark):
    rows = [
        (1, [1.0, 0.0], 0),   # a1
        (2, [0.8, 0.2], 0),   # a2: best is b1, but b1 prefers a1
        (10, [0.9, 0.1], 1),  # b1: best is a1 -> (a1, b1) mutual
        (11, [0.0, 1.0], 1),  # b2: best is a2, but a2 prefers b1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r.id_a, r.id_b) for r in similarity.mutual_nn_pairs(emb).collect()}
    assert got == {(1, 10)}


def test_purged_folds_roles(spark):
    from datetime import datetime
    rows = [
        (i, datetime(2024, 1, 1 + i, 6, 0, 0), 1, "s", 0.0, "{}") for i in range(10)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = curate.purged_time_folds(ev, k=5, embargo_days=3)
    roles = {
        (r.eval_fold, r.day_idx): r.role for r in out.collect()
    }
    # eval fold 2: test = days 4-5, embargo = 1-3, train = 0, future = 6-9
    assert roles[(2, 4)] == "test" and roles[(2, 5)] == "test"
    assert roles[(2, 3)] == "embargo" and roles[(2, 1)] == "embargo"
    assert roles[(2, 0)] == "train"
    assert roles[(2, 6)] == "future" and roles[(2, 9)] == "future"
    # walk-forward invariant: nothing after the test window is ever train
    assert not any(
        role == "train" and idx > 2 * ef + 1
        for (ef, idx), role in roles.items()
    )


def test_audio_fingerprint_volume_invariant_and_banded(spark):
    """The energy-delta fingerprint must be IDENTICAL under uniform
    gain (the property raw sample hashing lacks), distinct across
    different envelopes, NULL on undecodable payloads — and the band
    join must recover the planted half-volume twins at hamming 0."""
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    full = multimodal.synthesize_wav_envelope_payload(ids)
    half = multimodal.synthesize_wav_envelope_payload(ids, gain=0.5)
    fp_full = {r.doc_id: r.afp for r in multimodal.audio_fingerprint(full).collect()}
    fp_half = {r.doc_id: r.afp for r in multimodal.audio_fingerprint(half).collect()}
    assert fp_full == fp_half  # volume invariance, bit for bit
    assert len(set(fp_full.values())) > 6  # envelopes genuinely differ
    # undecodable payload -> NULL fingerprint, excluded by the band join
    junk = spark.createDataFrame([(99, bytearray(b"not a wav"))], "doc_id long, payload binary")
    assert multimodal.audio_fingerprint(junk).collect()[0].afp is None
    twins = half.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "payload")
    fps = multimodal.audio_fingerprint(full.unionByName(twins))
    pairs = multimodal.phash_near_dups(fps, max_hamming=2, hash_col="afp")
    planted = {
        (r.id_a, r.id_b): r.hamming
        for r in pairs.collect()
        if r.id_b - r.id_a == 1_000_000
    }
    assert len(planted) == 12 and set(planted.values()) == {0}


def test_soft_dedup_weights_conserve_cluster_mass(spark):
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)], "doc_id long, component long"
    )
    out = {r.doc_id: r for r in dedup.soft_dedup_weights(assign).collect()}
    assert out[1].cluster_size == 3 and out[1].weight_e6 == 333333
    assert out[1].floor_residue == 1  # exactly what flooring discarded
    assert out[4].weight_e6 == 1_000_000 and out[4].floor_residue == 0
    assert out[5].weight_e6 == 500_000
    # per-cluster mass: size * weight + residue == 1e6 exactly
    for r in out.values():
        assert r.cluster_size * r.weight_e6 + r.floor_residue == 1_000_000


def test_minhash_lsh_parity_with_pyspark_ml(spark):
    """External-implementation cross-check: plant exact-duplicate pairs
    in a small corpus and require BOTH our banded MinHash-LSH and
    pyspark.ml.feature.MinHashLSH (seeded, independent implementation)
    to recover every planted pair. Validates the banding math against
    code we didn't write."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    base = [
        "spark shuffles the data by key across the cluster",
        "parquet stores columns together for fast scans",
        "watermarks bound state in streaming aggregations",
        "broadcast joins avoid shuffling the large fact table",
        "adaptive execution replans stages from runtime statistics",
        "catalyst pushes filters down into the parquet reader",
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(base)]
    # planted exact duplicates under fresh ids
    rows += [(100 + i, t, "en", "s", len(t)) for i, t in enumerate(base[:4])]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    planted = {(i, 100 + i) for i in range(4)}

    ours = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
        for r in dedup.minhash_lsh_pairs(df, threshold=0.8).collect()
    }
    assert planted <= ours

    toks = df.select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("toks")
    )
    cv = CountVectorizer(inputCol="toks", outputCol="features", binary=True)
    feats = cv.fit(toks).transform(toks)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feats)
    ml_pairs = {
        (min(r["datasetA"]["doc_id"], r["datasetB"]["doc_id"]),
         max(r["datasetA"]["doc_id"], r["datasetB"]["doc_id"]))
        for r in model.approxSimilarityJoin(feats, feats, 0.2).collect()
        if r["datasetA"]["doc_id"] != r["datasetB"]["doc_id"]
    }
    assert planted <= ml_pairs
    # both implementations agree that unrelated docs are not near-dups
    assert (0, 1) not in ours and (0, 1) not in ml_pairs


def test_mmr_rerank_prefers_diverse_slate(spark):
    """Hand-built geometry (λ=1/2, integer dots at scale 10⁴): query at
    e1; two long near-parallel twins and one orthogonal moderate
    candidate. Pure relevance ranks the twins 1-2; MMR must pick twin A
    then the orthogonal C, because sim(B, A) = 3.28e8 dwarfs
    rel(B) = 1.8e8 while C's penalty (1.08e8) is below its 0.6e8 rel
    by LESS — obj_C = −0.48e8 > obj_B = −1.48e8 (hand-checked)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # query
        (1, [1.8, 0.2, 0.0, 0.0]),    # twin A (most relevant)
        (2, [1.8, 0.22, 0.0, 0.0]),   # twin B (near-parallel to A)
        (3, [0.6, 0.0, 1.8, 0.0]),    # orthogonal-ish, moderate relevance
    ]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in rows], "vec_id long, embedding array<float>, label int"
    )
    out = similarity.mmr_rerank(emb, n_queries=1, n_candidates=3, k=2).collect()
    order = [r.doc_id for r in out]
    assert order == [1, 3]        # diversity beats the redundant twin
    assert out[0].maxsim is None  # empty slate on the first pick
    assert out[0].rel == 18_000 * 10_000
    assert out[1].maxsim == 6_000 * 18_000  # C's sim to the picked twin
    # sanity: with mutually-orthogonal candidates MMR degenerates to
    # pure relevance order
    ortho = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.9, 0.1, 0.0, 0.0], 0),
            (2, [0.5, 0.0, 0.9, 0.0], 0),
            (3, [0.2, 0.0, 0.0, 0.9], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    o2 = [r.doc_id for r in similarity.mmr_rerank(ortho, n_queries=1, n_candidates=3, k=3).collect()]
    assert o2 == [1, 2, 3]


def test_dbscan_roles_on_hand_geometry(spark):
    """Chain geometry exercising all three roles: a dense triangle
    (cores), a point attached to one core only (border — its own
    neighborhood is too thin), and an isolated point (noise)."""
    rows = [
        (1, [1.0, 0.0]),     # core (nbrs: 2, 3 -> deg 2 + self = 3)
        (2, [0.99, 0.01]),   # core
        (3, [0.99, -0.01]),  # core
        (4, [0.8, 0.6]),     # within eps of NOTHING at 0.95? -> place nearer:
        (5, [-1.0, 0.0]),    # noise (opposite direction)
    ]
    # make 4 a border: within eps of core 1 only
    rows[3] = (4, [0.95, 0.25])  # cos(4,1) ~ 0.967; cos(4,2) ~ 0.96? keep min_pts high
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in rows], "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in similarity.dbscan_embeddings(
        emb, cos_num=95, cos_den=100, min_pts=4
    ).collect()}
    # 1,2,3,(4?) neighborhoods: compute expectations from the operator's
    # own exact rule rather than float guesses — assert structural facts:
    assert out[5].role == "noise" and out[5].cluster is None
    cores = [i for i in out if out[i].role == "core"]
    assert set(cores) <= {1, 2, 3, 4}
    # every core in one cluster labeled by the min core id
    clusters = {out[i].cluster for i in cores}
    assert clusters == {min(cores)}
    # any border must point at that same cluster
    for i, r in out.items():
        if r.role == "border":
            assert r.cluster == min(cores)


def test_dbscan_planted_groups_perfectly_recovered(spark, sf_dir):
    import __spark_entry__ as entry_mod

    out = entry_mod.queries()["q_dbscan_clusters"](spark, sf_dir).collect()
    roles = {}
    for r in out:
        roles.setdefault(r.role, []).append(r)
    assert len(roles.get("core", [])) == 200  # 50 groups x (1 seed + 3 copies)
    assert len(roles.get("noise", [])) == 450
    # each planted family clusters under its seed id
    for r in roles["core"]:
        assert r.cluster == r.vec_id % 1_000_000


def test_dbscan_injected_full_recall_pairs_equal_default(spark, sf_dir):
    """Pair-source agnosticism, proven: injecting a FULL-RECALL candidate
    source (sign_block_pairs with n_bits=0 → every pair shares bucket 0)
    must reproduce the default all-pairs result row-for-row — injection
    changes candidate generation, never the ε-predicate or the role/CC
    logic."""
    import __spark_entry__ as entry_mod

    corpus = entry_mod._dbscan_corpus(spark, sf_dir)
    default = similarity.dbscan_embeddings(corpus, cos_num=95, cos_den=100, min_pts=4)
    allpairs = similarity.sign_block_pairs(corpus, n_bits=0, id_col="vec_id")
    injected = similarity.dbscan_embeddings(
        corpus, cos_num=95, cos_den=100, min_pts=4, pairs=allpairs
    )
    assert default.exceptAll(injected).count() == 0
    assert injected.exceptAll(default).count() == 0


def test_dbscan_injected_pairs_accepts_any_column_names_and_order(spark):
    """The injected frame's FIRST TWO columns are the pair ids, whatever
    their names; reversed / duplicated pairs are normalized (least,
    greatest, distinct) before the vector join."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [0.99, -0.01]),
         (4, [0.98, 0.02]), (5, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    # full recall, scrambled: reversed orientation + dup rows + odd names
    pairs = spark.createDataFrame(
        [(j, i) for i in range(1, 6) for j in range(1, 6) if i < j] * 2,
        "right_id long, left_id long",
    )
    out_inj = {r.vec_id: r for r in similarity.dbscan_embeddings(
        emb, cos_num=95, cos_den=100, min_pts=4, pairs=pairs
    ).collect()}
    out_def = {r.vec_id: r for r in similarity.dbscan_embeddings(
        emb, cos_num=95, cos_den=100, min_pts=4
    ).collect()}
    assert {i: (r.role, r.cluster) for i, r in out_inj.items()} == {
        i: (r.role, r.cluster) for i, r in out_def.items()
    }


def test_sign_block_pairs_blocks_on_sign_pattern(spark):
    """Vectors collide iff the sign bits of their first n_bits quantized
    coordinates agree; pairs are oriented ia < ib."""
    emb = spark.createDataFrame(
        [(1, [1.0, 1.0, 5.0]), (2, [0.5, 2.0, -9.0]),   # signs (+,+): collide
         (3, [-1.0, 1.0, 0.0]), (4, [1.0, -1.0, 0.0])],  # distinct patterns
        "vec_id long, embedding array<float>",
    )
    got = {(r.ia, r.ib) for r in similarity.sign_block_pairs(emb, n_bits=2).collect()}
    assert got == {(1, 2)}
    # n_bits=0: a single global bucket — the all-pairs degenerate case
    allp = {(r.ia, r.ib) for r in similarity.sign_block_pairs(emb, n_bits=0).collect()}
    assert allp == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}


def test_lsh_candidate_pairs_identical_vectors_always_collide(spark):
    """Identical vectors hash identically in EVERY table, so they are
    always candidates; output is oriented ia < ib and deduplicated
    across tables."""
    v = [float((i * 37 % 19) - 9) for i in range(64)]
    w = [float(-x) for x in v]
    emb = spark.createDataFrame(
        [(1, v), (2, v), (3, w)], "vec_id long, embedding array<float>"
    )
    rows = similarity.lsh_candidate_pairs(emb, n_bits=4, n_tables=4).collect()
    got = {(r.ia, r.ib) for r in rows}
    assert (1, 2) in got
    assert len(rows) == len(got)  # distinct across tables
    assert all(r.ia < r.ib for r in rows)


def test_target_encoding_loo_excludes_own_label(spark):
    """Two rows of the same category with OPPOSITE labels must receive
    DIFFERENT encodings (each sees the other's label, not its own) —
    the leakage property plain category-mean encoding fails."""
    from datetime import datetime
    # category 'a': values straddle the median; 'b' fills the corpus
    rows = [
        (0, datetime(2024, 1, 1), 0, "a", 100.0, "{}"),  # y=1
        (1, datetime(2024, 1, 1), 1, "a", 1.0, "{}"),    # y=0
        (2, datetime(2024, 1, 1), 2, "b", 50.0, "{}"),
        (3, datetime(2024, 1, 1), 3, "b", 60.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.event_id: r for r in curate.target_encoding_loo(ev, smoothing=10).collect()}
    # lower-median of [1, 50, 60, 100] is 50 -> y: {0:1, 1:0, 2:0, 3:1}
    assert (out[0].y, out[1].y, out[2].y, out[3].y) == (1, 0, 0, 1)
    # same category, opposite labels -> different encodings (LOO)
    assert out[0].enc_loo != out[1].enc_loo
    # row 0 (y=1) sees only row 1's 0 label -> its encoding is LOWER
    assert out[0].enc_loo < out[1].enc_loo
    # exact value: (succ_cat - y)*n_tot + m*succ_tot over (n_cat-1+m)*n_tot
    # cat a: n=2, succ=1; tot: n=4, succ=2; m=10
    assert out[0].enc_loo == round(((1 - 1) * 4 + 10 * 2) / ((2 - 1 + 10) * 4), 6)
    assert out[1].enc_loo == round(((1 - 0) * 4 + 10 * 2) / ((2 - 1 + 10) * 4), 6)


def test_woe_iv_signs_and_degenerate_null(spark):
    from datetime import datetime
    import math
    rows = []
    eid = 0
    # 'hi' skews positive (8 of 10 above median), 'lo' negative,
    # 'allpos' degenerate (every row positive -> NULL WoE)
    plan = [("hi", 8, 2), ("lo", 2, 12), ("allpos", 4, 0)]
    for cat, npos, nneg in plan:
        for _ in range(npos):
            rows.append((eid, datetime(2024, 1, 1), eid, cat, 100.0, "{}")); eid += 1
        for _ in range(nneg):
            rows.append((eid, datetime(2024, 1, 1), eid, cat, 1.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.cat: r for r in curate.woe_iv(ev).collect()}
    assert out["hi"].woe > 0 and out["lo"].woe < 0
    assert out["allpos"].woe is None and out["allpos"].iv_term is None
    # hand math: 14 rows at 100.0 and 14 at 1.0 -> lower-median
    # (rank 14 of 28) = 1.0 -> positives are exactly the 100.0 rows
    st, ft = 14, 14
    woe_hi = math.log((8 * ft) / (2 * st))
    assert abs(out["hi"].woe - round(woe_hi, 6)) < 1e-9
    assert out["hi"].iv_term == round((8 / st - 2 / ft) * woe_hi, 6)


def test_pack_layout_hand_offsets(spark):
    """Hand geometry at L=8: offsets are the exclusive prefix sum in
    doc_id order; a doc crossing the boundary straddles; an empty doc
    occupies zero tokens and never straddles; bins never have gaps."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e", "en", "s", 9),      # 5 toks @ 0  -> bin 0
            (2, "f g h i", "en", "s", 7),        # 4 toks @ 5  -> straddles 0->1
            (3, "", "en", "s", 0),               # 0 toks @ 9
            (4, "j k l m n o p", "en", "s", 13), # 7 toks @ 9  -> straddles 1->1? 9..15 -> bins 1,1 no
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in curate.pack_layout(docs, context_len=8).collect()}
    assert [out[i].tok_offset for i in (1, 2, 3, 4)] == [0, 5, 9, 9]
    assert [out[i].bin for i in (1, 2, 3, 4)] == [0, 0, 1, 1]
    assert [out[i].pos_in_bin for i in (1, 2, 3, 4)] == [0, 5, 1, 1]
    # doc 2 spans tokens 5..8 (bins 0 and 1): straddles; doc 4 spans
    # 9..15 (bin 1 only): doesn't; empty doc 3 never straddles
    assert out[2].straddles and not out[4].straddles and not out[3].straddles


def test_pack_layout_matches_naive_window(spark, sf_dir):
    """The distributed prefix sum equals the naive single-partition
    window cumsum row-for-row on the real fixture."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    got = curate.pack_layout(docs, context_len=2048).select("doc_id", "tok_offset")
    toks = docs.select("doc_id", text.token_count("text").cast("long").alias("n"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = toks.select(
        "doc_id", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("tok_offset")
    )
    assert got.exceptAll(naive).count() == 0 and naive.exceptAll(got).count() == 0


def test_ngram_novelty_credits_first_owner(spark):
    """Doc 1 owns all its trigrams; doc 2 (different source) repeats one
    of doc 1's trigrams and adds one new — rates are exact ratios."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "s1", 7),   # trigrams: 'a b c', 'b c d'
            (2, "a b c x", "en", "s2", 7),   # 'a b c' (seen), 'b c x' (new)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.source: r for r in text.ngram_novelty(docs).collect()}
    assert (out["s1"].n_grams, out["s1"].n_novel, out["s1"].novelty_rate) == (2, 2, 1.0)
    assert (out["s2"].n_grams, out["s2"].n_novel, out["s2"].novelty_rate) == (2, 1, 0.5)


def test_dominant_direction_recovers_planted_axis(spark):
    """Rank-1-dominated cloud: every vector is (mostly) a multiple of
    axis 3 plus small off-axis noise on axis 7 — the dominant direction
    must put |weight| 1.0 on component 3 (the max-abs normalization
    pins the top component to exactly ±wscale) and near-zero elsewhere."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    for i in range(60):
        v = np.zeros(64)
        v[2] = 2.0 + rng.rand()          # component index 3 (1-based)
        v[6] = 0.05 * rng.rand()          # faint second axis
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.component: r for r in similarity.dominant_direction(emb).collect()}
    assert len(out) == 64
    assert abs(out[3].w_scaled) == 1_000_000 and abs(out[3].weight) == 1.0
    for c, r in out.items():
        if c not in (3, 7):
            assert r.w_scaled == 0
    assert abs(out[7].weight) < 0.05


def test_dominant_direction_deterministic_across_runs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = similarity.dominant_direction(emb, rounds=4).collect()
    b = similarity.dominant_direction(emb, rounds=4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_source_concentration_hand_values(spark):
    """Stratum 'a': sources with 30/10 tokens -> HHI = (900+100)/1600 =
    0.625, effective = 1.6, top_share = 0.75; single-source stratum 'b'
    -> HHI exactly 1.0."""
    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 30), "a", "s1", 1),
         (2, " ".join(["w"] * 10), "a", "s2", 1),
         (3, " ".join(["w"] * 7), "b", "s1", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.stratum: r for r in curate.source_concentration(docs).collect()}
    assert out["a"].hhi == 0.625 and out["a"].effective_sources == 1.6
    assert out["a"].top_share == 0.75 and out["a"].n_sources == 2
    assert out["b"].hhi == 1.0 and out["b"].effective_sources == 1.0


def test_anisotropy_collapsed_vs_isotropic_labels(spark):
    """Label 0: all vectors on one axis -> off_axis_frac ~0 (not exactly:
    the direction is fit on the WHOLE corpus, so label 1's axes leave a
    +-1-count quantized residue in w -> a ~1e-6 floor). Label 1 lives on
    axes ORTHOGONAL to the corpus-dominant one -> essentially all of its
    energy is off-axis (~1.0). Cauchy-Schwarz keeps the fraction in
    [0, 1]."""
    rows = []
    for i in range(20):
        v = [0.0] * 64
        v[4] = 1.0 + 0.01 * i
        rows.append((i, v, 0))
    for i in range(20):
        v = [0.0] * 64
        if i % 2 == 0:
            v[10] = 1.0
        else:
            v[20] = 1.0
        rows.append((100 + i, v, 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in similarity.anisotropy_report(emb).collect()}
    assert out[0].off_axis_frac < 1e-4
    assert out[1].off_axis_frac > 0.99
    assert out[0].n_vecs == 20 and out[1].n_vecs == 20


# --------------------------------------------------------------------------
# TextRank keyword extraction (round 9)
# --------------------------------------------------------------------------


def test_textrank_hub_word_ranks_first(spark):
    # "kernel" co-occurs with every other content word; the satellites
    # only ever touch the hub — classic star graph, hub must win.
    docs = spark.createDataFrame(
        [
            (1, "kernel alpha kernel beta kernel gamma"),
            (2, "kernel delta kernel epsilon"),
            (3, "zeta kernel"),
        ],
        "doc_id long, text string",
    )
    rows = text.textrank_keywords(docs, top_k=10).collect()
    assert rows[0]["word"] == "kernel"
    got = [r["word"] for r in rows]
    # every length->=4 content word appears exactly once, ranked
    assert set(got) == {"kernel", "alpha", "beta", "gamma", "delta", "epsilon", "zeta"}
    # satellite ties broken by word asc at equal integer rank
    sat = [w for w in got[1:]]
    ranks = {r["word"]: r["pagerank_scaled"] for r in rows}
    for a, b in zip(sat, sat[1:]):
        # (rank desc, word asc): consecutive rows either strictly drop in
        # rank, or tie on rank with words in ascending order
        assert ranks[a] > ranks[b] or (ranks[a] == ranks[b] and a < b)


def test_textrank_short_tokens_and_self_pairs_excluded(spark):
    # tokens under 4 chars never become nodes; immediate repeats ("spark
    # spark") add no self-edge, so a doc of only repeats/shorts is empty
    docs = spark.createDataFrame(
        [(1, "a bb ccc spark spark"), (2, "x y z")],
        "doc_id long, text string",
    )
    assert text.textrank_keywords(docs).count() == 0


def test_zipf_fit_counts_and_degenerate_slope(spark):
    # freqs: "data" x4, "pipe" x2, "lake" x1, "dune" x1 -> vocab 4,
    # tokens 8, hapax 2; short tokens are still tokens here (no length
    # filter in the frequency spectrum)
    docs = spark.createDataFrame(
        [(1, "data data pipe lake"), (2, "data data pipe dune")],
        "doc_id long, text string",
    )
    r = text.zipf_fit(docs).collect()[0]
    assert (r["n_vocab"], r["n_tokens"], r["n_hapax"]) == (4, 8, 2)
    assert r["hapax_rate"] == 0.5
    assert r["zipf_slope"] is not None and r["zipf_slope"] < 0
    # single-type corpus: zero x-variance -> NULL fit, no div-by-zero
    one = spark.createDataFrame([(1, "same same same")], "doc_id long, text string")
    r1 = text.zipf_fit(one).collect()[0]
    assert r1["n_vocab"] == 1 and r1["zipf_slope"] is None


def test_curriculum_schedule_tiers_partition_and_accumulate(spark):
    # 20 docs with token counts 1..20, 10 tiers -> 2 docs each, exact
    # integer masses; NULL text ranks as 0 tokens (easiest tier)
    rows = [(i, " ".join(["w"] * i)) for i in range(1, 21)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate.curriculum_schedule(docs).collect()
    assert [r["bucket"] for r in out] == list(range(10))
    assert all(r["n_docs"] == 2 for r in out)
    assert [r["n_tokens"] for r in out] == [4 * b + 3 for b in range(10)]
    assert out[-1]["cum_tokens"] == 210 and out[-1]["cum_token_frac"] == 1.0
    # monotone admission mass
    cums = [r["cum_tokens"] for r in out]
    assert cums == sorted(cums)
    with_null = docs.union(
        spark.createDataFrame([(99, None)], "doc_id long, text string")
    )
    first = curate.curriculum_schedule(with_null).collect()[0]
    assert first["min_tokens"] == 0  # NULL text -> 0 tokens, tier 0


# --------------------------------------------------------------------------
# SemDeDup (round 10)
# --------------------------------------------------------------------------


def test_semdedup_collapses_planted_groups(spark, sf_dir):
    """SemDeDup over the planted corpus: ≥48/50 perturbation groups
    collapse to a single min-id survivor (a group may legitimately split
    at a k-means cell boundary — the oracle replays that too); keeps =
    one per component; survivors are their own component labels."""
    import __spark_entry__ as em

    rows = {r["vec_id"]: r for r in em.queries()["q_semdedup"](spark, sf_dir).collect()}
    full = 0
    for s in range(50):
        grp = [s] + [s + c * 1_000_000 for c in (1, 2, 3)]
        if {rows[g]["component"] for g in grp} == {s} and [
            g for g in grp if rows[g]["keep"]
        ] == [s]:
            full += 1
    assert full >= 48, f"only {full}/50 planted groups collapsed"
    comps = {r["component"] for r in rows.values()}
    keeps = {v for v, r in rows.items() if r["keep"]}
    assert keeps == comps  # exactly one survivor per component, = its label
    assert all(rows[c]["component"] == c for c in comps)  # labels are members


def test_semdedup_chain_collapses_via_components(spark):
    """The CC substrate matters: A≈B≈C with cos(A,C) < tau must still
    collapse to ONE survivor (pairwise-only keep rules double-keep the
    chain's ends). Constructed chain: unit-ish vectors rotating by a
    small angle so adjacent cos ≥ 0.95 but end-to-end cos < 0.95."""
    import math

    dim = 8

    def vec(theta):
        v = [0.0] * dim
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v

    # adjacent pairs ~0.966 cos; ends cos(0.52) ~0.868 < 0.95
    rows = [(i, vec(i * 0.26)) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r
        for r in similarity.semdedup_scaled(
            df, n_centroids=1, lloyd_iters=1, tau_num=95, tau_den=100
        ).collect()
    }
    assert {g["component"] for g in got.values()} == {0}
    assert [v for v, g in got.items() if g["keep"]] == [0]


def test_semdedup_giant_cell_guard_escalates(spark, sf_dir, caplog):
    """Round-11 guard: a cell blowing past max_cell_rows must (a) emit a
    loud warning naming the cell and projected candidate volume, and
    (b) switch the candidate key to (cell, bucket) — bit-identical to
    the explicit block_bits posture with the same bit count. The default
    100k threshold must stay silent on the same corpus."""
    import logging

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    kw = dict(n_centroids=2, lloyd_iters=1, tau_num=95, tau_den=100)
    blocked = sorted(
        similarity.semdedup_scaled(
            emb, block_bits=12, max_cell_rows=None, **kw
        ).collect()
    )
    logger_name = "cloudtrace_exporter_spark.operators.similarity"
    with caplog.at_level(logging.WARNING, logger=logger_name):
        auto = sorted(
            similarity.semdedup_scaled(
                emb, max_cell_rows=10, guard_block_bits=12, **kw
            ).collect()
        )
    assert "auto-escalating" in caplog.text
    assert "projected candidate volume" in caplog.text
    assert auto == blocked
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=logger_name):
        silent = sorted(similarity.semdedup_scaled(emb, **kw).collect())
    assert "auto-escalating" not in caplog.text
    unguarded = sorted(
        similarity.semdedup_scaled(emb, max_cell_rows=None, **kw).collect()
    )
    assert silent == unguarded


def test_sign_block_pairs_giant_bucket_warns(spark, caplog):
    """Round-11 warn-only guard on the DBSCAN pair source: a bucket
    larger than max_bucket_rows logs the bucket id + pair volume +
    n_bits remedy, and the candidate set is unchanged by the guard."""
    import logging

    # all-positive first coordinate → every vector shares one bucket
    rows = [(i, [1.0, float(i % 3) - 1.0] + [0.0] * 6) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    logger_name = "cloudtrace_exporter_spark.operators.similarity"
    with caplog.at_level(logging.WARNING, logger=logger_name):
        guarded = sorted(
            similarity.sign_block_pairs(df, n_bits=4, max_bucket_rows=5).collect()
        )
    assert "sign_block_pairs" in caplog.text and "raise n_bits" in caplog.text
    unguarded = sorted(
        similarity.sign_block_pairs(df, n_bits=4, max_bucket_rows=None).collect()
    )
    assert guarded == unguarded


def test_survivors_by_quality_keeps_longest(spark):
    """Quality keep rule: the longest member wins its cluster; min-id
    wins only ties. Singletons always keep."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta common words here indeed"),
            (2, "alpha beta gamma delta common words here indeed extra tail tokens"),
            (3, "totally unrelated document"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    got = {
        r["doc_id"]: r
        for r in dedup.survivors_by_quality(docs, pairs=pairs).collect()
    }
    assert got[2]["keep"] and not got[1]["keep"]  # longest wins, not min id
    assert got[1]["component"] == got[2]["component"] == 1  # label stays min-id
    assert got[3]["keep"] and got[3]["component"] == 3


def test_ivf_filtered_prefilter_fills_k(spark, sf_dir):
    """Filtered vector search: every result satisfies the label filter
    AND every query still gets its full k — the pre-scoring filter point
    (a post-filter of the unfiltered top-5 would underfill k whenever an
    excluded label ranked high)."""
    from collections import Counter

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk_scaled_filtered(
        emb, emb.filter(F.col("vec_id") < 10), allowed_labels=[3, 7, 9],
        k=5, n_centroids=8, n_probe=4,
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert out and all(labels[r["corpus_id"]] in (3, 7, 9) for r in out)
    per_q = Counter(r["query_id"] for r in out)
    assert set(per_q.values()) == {5}, f"k underfilled: {per_q}"
    # and at least one query's unfiltered top-5 differs — the filter is
    # doing real work, not matching an already-allowed top-5
    unfiltered = similarity.ivf_topk_scaled(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=8, n_probe=4
    ).collect()
    assert {(r["query_id"], r["corpus_id"]) for r in out} != {
        (r["query_id"], r["corpus_id"]) for r in unfiltered
    }


def test_semdedup_incremental_statuses(spark):
    """Constructed frames pin the three statuses: a new vector ε-equal
    to a corpus vector → corpus_dup; two near-identical new vectors with
    no corpus twin → one kept + one batch_dup; an orthogonal new vector
    → kept. Chain-through-dropped semantics documented: linking only to
    a corpus_dup does NOT drop you."""
    import math

    dim = 8

    def vec(theta, axis=(0, 1)):
        v = [0.0] * dim
        v[axis[0]], v[axis[1]] = math.cos(theta), math.sin(theta)
        return v

    corpus = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(1.2))], "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [
            (10, vec(0.02)),            # ~corpus 0 -> corpus_dup
            (11, vec(2.4)),             # far from corpus; pairs with 12
            (12, vec(2.42)),            # ~11 -> batch_dup (11 kept)
            (13, [0.0] * 7 + [1.0]),    # orthogonal -> kept
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["status"]
        for r in similarity.semdedup_incremental(
            new, corpus, n_centroids=1, lloyd_iters=1
        ).collect()
    }
    assert got == {10: "corpus_dup", 11: "kept", 12: "batch_dup", 13: "kept"}


def test_bloom_dedup_no_false_negatives_and_fp_flagged(spark):
    """Structural contract: every exact duplicate bloom-hits (Bloom
    filters have zero false negatives); at a saturating m the non-dup
    keys surface as explicit false_positive rows, never as silent
    drops."""
    corpus = spark.createDataFrame(
        [(i, f"shared-{i}") for i in range(20)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        # 5 planted exact dups + 15 novel keys
        [(100 + i, f"shared-{i}") for i in range(5)]
        + [(200 + i, f"novel-{i}") for i in range(15)],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.bloom_dedup_report(corpus, batch, m_bits=4096, k=4).collect()
    }
    assert len(rows) == 20
    for i in range(5):
        r = rows[100 + i]
        assert r["exact_dup"] and r["bloom_hit"] and not r["false_positive"]
    for i in range(15):
        r = rows[200 + i]
        assert not r["exact_dup"]
        assert r["false_positive"] == r["bloom_hit"]
    # tiny filter (32 bits, 20 keys x 4 hashes): saturated, so novel keys
    # must read as false positives — the FP trade is observable, not hidden
    sat = dedup.bloom_dedup_report(corpus, batch, m_bits=32, k=4)
    fp = [r for r in sat.collect() if r["false_positive"]]
    # deterministic md5 family: 7 of the 15 novel keys collide at m=32
    assert len(fp) >= 5


def test_bloom_build_is_fixed_size_and_validates(spark):
    corpus = spark.createDataFrame(
        [(i, f"k{i}") for i in range(500)], "doc_id long, text string"
    )
    flt = dedup.bloom_build(corpus, m_bits=1024, k=4)
    # ≤ m/32 packed words no matter the corpus size; every word indexable
    words = flt.collect()
    assert len(words) <= 32
    assert all(0 <= r["word_idx"] < 32 for r in words)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple of 32"):
        dedup.bloom_build(corpus, m_bits=1000)


def test_semdedup_guard_warns_when_escalation_ineffective(spark, caplog):
    """Round-11 re-check: a tight blob deep in one orthant shares its
    leading signs, so the (cell, bucket) escalation cannot split it —
    the guard must say so loudly (naming the n_centroids remedy) rather
    than silently submitting the still-quadratic join. Results stay
    exact (precision is the ε-test's)."""
    import logging

    # 40 vectors, all strictly positive on every coordinate → one cell
    # (n_centroids=1) AND one sign bucket at any bit count
    rows = [
        (i, [1.0 + (i % 7) / 100.0] * 4 + [2.0 + (i % 5) / 100.0] * 4)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    logger_name = "cloudtrace_exporter_spark.operators.similarity"
    with caplog.at_level(logging.WARNING, logger=logger_name):
        guarded = sorted(
            similarity.semdedup_scaled(
                df,
                n_centroids=1,
                lloyd_iters=1,
                tau_num=95,
                tau_den=100,
                max_cell_rows=10,
                guard_block_bits=8,
            ).collect()
        )
    assert "auto-escalating" in caplog.text
    assert "INEFFECTIVE" in caplog.text and "raise n_centroids" in caplog.text
    unguarded = sorted(
        similarity.semdedup_scaled(
            df, n_centroids=1, lloyd_iters=1, tau_num=95, tau_den=100,
            max_cell_rows=None,
        ).collect()
    )
    assert guarded == unguarded


def test_bloom_merge_equals_union_build(spark):
    """Snapshot composition: OR-merging per-shard filters is bit-identical
    to building one filter over the concatenated corpus."""
    a = spark.createDataFrame(
        [(i, f"shard-a-{i}") for i in range(40)], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(i, f"shard-b-{i}") for i in range(40)], "doc_id long, text string"
    )
    kw = dict(m_bits=1024, k=4)
    merged = sorted(
        dedup.bloom_merge(
            dedup.bloom_build(a, **kw), dedup.bloom_build(b, **kw)
        ).collect()
    )
    union = sorted(dedup.bloom_build(a.unionByName(b), **kw).collect())
    assert merged == union
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        dedup.bloom_merge()


def test_minhash_dedup_incremental_statuses(spark):
    """Round-11 status twin: planted exact near-copies must flag
    corpus_dup (vs corpus) / batch_dup (within batch, min id kept), and
    the kept set must equal incremental_near_dedup's survivor ids minus
    within-batch collapse."""
    base = {i: " ".join(f"d{i}t{j}" for j in range(20)) for i in range(6)}
    corpus = spark.createDataFrame(
        [(i, base[i]) for i in range(4)], "doc_id long, text string"
    )
    # new batch: 500 copies corpus doc 0; 501/502 same fresh text (501
    # keeps, 502 batch_dup); 503 fresh unique
    new = spark.createDataFrame(
        [(500, base[0]), (501, base[4]), (502, base[4]), (503, base[5])],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["status"], r["component"])
        for r in dedup.minhash_dedup_incremental(new, corpus).collect()
    }
    assert out[500] == ("corpus_dup", 500)
    assert out[501] == ("kept", 501)
    assert out[502] == ("batch_dup", 501)
    assert out[503] == ("kept", 503)
    # survivor ids == incremental_near_dedup (corpus-probe survivors)
    surv = {
        r["doc_id"]
        for r in dedup.incremental_near_dedup(new, corpus).collect()
    }
    assert {i for i, (s, _) in out.items() if s != "corpus_dup"} == surv
    with pytest.raises(ValueError, match="exactly one"):
        dedup.minhash_dedup_incremental(new)
    with pytest.raises(ValueError, match="exactly one"):
        dedup.minhash_dedup_incremental(
            new, corpus, corpus_index=dedup.minhash_banded_index(corpus)
        )


def test_semantic_contamination_planted(spark):
    """Round-11 semantic decontamination: planted perturbed eval copies
    of corpus vectors 0 and 1 must flag exactly those corpus rows
    contaminated; with n_probe == n_centroids the probe is exhaustive so
    there is no recall trade in this fixture."""
    dim = 8
    # 8 corpus vectors: strictly orthogonal unit axes (pairwise cos = 0)
    vecs = [[1.0 if j == i else 0.0 for j in range(dim)] for i in range(8)]
    corpus = spark.createDataFrame(
        [(i, vecs[i]) for i in range(8)], "vec_id long, embedding array<double>"
    )
    # eval: tiny perturbations of corpus 0 and 1 + one far vector
    def perturb(v, eps):
        w = list(v)
        w[0] += eps
        return w

    ev = spark.createDataFrame(
        [
            (1000, perturb(vecs[0], 0.01)),
            (1001, perturb(vecs[1], 0.01)),
            (1002, perturb(vecs[0], 0.02)),  # second hit on corpus 0
            (1003, [0.5, -0.5, 0.5, -0.5, 0.5, -0.5, 0.5, -0.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["status"], r["eval_hits"], r["first_eval"])
        for r in similarity.semantic_contamination(
            corpus, ev, n_centroids=2, lloyd_iters=1, n_probe=2
        ).collect()
    }
    assert len(out) == 8
    assert out[0][0] == "contaminated" and out[0][1] == 2 and out[0][2] == 1000
    assert out[1][0] == "contaminated" and out[1][1] >= 1 and out[1][2] == 1001
    for i in range(2, 8):
        assert out[i] == ("clean", 0, -1), (i, out[i])
    # empty eval set: everything clean, one row per corpus vector
    empty = ev.limit(0)
    clean = similarity.semantic_contamination(
        corpus, empty, n_centroids=2, lloyd_iters=1, n_probe=2
    )
    assert clean.count() == 8
    assert clean.filter(F.col("status") != "clean").count() == 0


def test_phash_dedup_incremental_statuses(spark):
    """Round-11 visual status twin: planted 64-bit hashes within
    max_hamming of a corpus hash flag corpus_dup; a within-batch pair
    collapses to min-id kept + batch_dup; far hashes keep. Hashes are
    constructed with pairwise Hamming > max_hamming (asserted)."""
    h0, h1 = 0x0F0F0F0F0F0F0F0F, 0x00FF00FF00FF00FF
    hA, hF = 0x1234567812345678, 0x7EDCBA987EDCBA98
    base = [h0, h1, hA, hF]
    for i, x in enumerate(base):
        for y in base[i + 1:]:
            assert bin(x ^ y).count("1") > 4, (hex(x), hex(y))
    corpus = spark.createDataFrame(
        [(0, h0), (1, h1)], "doc_id long, ahash long"
    )
    new = spark.createDataFrame(
        [
            (500, h0 ^ 0b11),  # hamming 2 from corpus 0 -> corpus_dup
            (501, hA),          # kept (min of the 501/502 pair)
            (502, hA ^ 0b1),    # hamming 1 from 501 -> batch_dup
            (503, hF),          # kept, isolated
        ],
        "doc_id long, ahash long",
    )
    out = {
        r["doc_id"]: (r["status"], r["component"])
        for r in multimodal.phash_dedup_incremental(new, corpus).collect()
    }
    assert out == {
        500: ("corpus_dup", 500),
        501: ("kept", 501),
        502: ("batch_dup", 501),
        503: ("kept", 503),
    }
    # banding exactness: pigeonhole candidates == brute force at the cap
    pairs = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_near_dups(new, hash_col="ahash").collect()
    }
    assert pairs == {(501, 502)}


def test_domain_reweight_tilts_toward_hard_domains(spark):
    """Round-11 DoReMi-shaped tilt: the high-loss domain gains weight,
    the low-loss domain loses it, and the integer weight trajectory
    equals a Python replay of the same truncate-toward-zero algebra."""
    rows = []
    for i, (dom, ntok, ndocs) in enumerate(
        [("hard", 10, 2), ("mid", 6, 2), ("easy", 2, 2)]
    ):
        for j in range(ndocs):
            rows.append((i * 10 + j, dom, " ".join(f"t{k}" for k in range(ntok))))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["domain"]: r
        for r in curate.domain_reweight(docs, domain_col="source").collect()
    }

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    scale, eta_num, eta_den, rounds = 10**6, 1, 2, 4
    sums = {"hard": (2, 20), "mid": (2, 12), "easy": (2, 4)}
    ts, tn = 36, 6
    m = tdiv(ts, tn)
    for dom, (n, s) in sums.items():
        mean = tdiv(s, n)
        e = tdiv((mean - m) * scale, max(m, 1))
        w = scale
        for _ in range(rounds):
            w = tdiv(w * max(eta_den * scale + eta_num * e, 0), eta_den * scale)
        assert out[dom]["mean_loss"] == mean
        assert out[dom]["excess_ppm"] == e
        assert out[dom]["weight_raw"] == w, (dom, out[dom]["weight_raw"], w)
    assert out["hard"]["weight_raw"] > out["mid"]["weight_raw"] > out["easy"]["weight_raw"]
    fr = sum(r["weight_frac"] for r in out.values())
    assert abs(fr - 1.0) < 1e-4
