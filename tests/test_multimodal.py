"""Multimodal binary-column plumbing: real PPM/WAV codecs plus the
Spark plumbing — schemas, Arrow batching, 1→N frame explode."""

import numpy as np
import pandas as pd
import pytest

from meteaudata_spark.ext import multimodal

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def assets(spark):
    return multimodal.make_fake_assets(spark, n=30).cache()


def test_feature_extraction(spark, assets):
    feats = multimodal.extract_features(assets).toPandas()
    assert len(feats) == 30
    assert set(feats.columns) == {
        "asset_id", "modality", "n_bytes", "payload_sha", "mean_byte"
    }
    assert feats["payload_sha"].nunique() == 30  # deterministic, distinct


def test_feature_extraction_is_deterministic(spark, assets):
    a = multimodal.extract_features(assets).toPandas().sort_values("asset_id")
    b = multimodal.extract_features(assets).toPandas().sort_values("asset_id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_resize_rewrites_meta_and_payload(spark, assets):
    out = multimodal.resize_images(assets, 16, 16).toPandas()
    assert (out["meta"].apply(lambda m: m["width"]) == 16).all()
    # fake codec: payload truncated/padded to 16*16 plus magic
    assert all(
        len(p) == 16 * 16 + len(multimodal.FAKE_MAGIC) for p in out["payload"]
    )


def test_video_frame_sampling(spark, assets):
    frames = multimodal.sample_video_frames(assets, every_n=2).toPandas()
    n_videos = assets.filter("modality = 'video'").count()
    assert len(frames) >= n_videos  # at least frame 0 per video
    assert (frames["frame_no"] % 2 == 0).all()


def test_undecodable_format_raises(spark):
    # unknown magic (gzip) -> explicit NotImplementedError
    with pytest.raises(NotImplementedError):
        multimodal._decode_payload(b"\x1f\x8b\x08\x00unknown-format")
    # MP4 now routes to the real ISO BMFF parser: a bare truncated
    # header is a malformed container, not an unsupported format
    with pytest.raises(ValueError):
        multimodal._decode_payload(b"\x00\x00\x00\x18ftypmp42")
    # ... and an H.264 sample entry inside a well-formed container is
    # the unsupported-bitstream case (exercised in tests/test_mp4.py)


def test_ppm_round_trip():
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    payload = multimodal.encode_ppm(arr)
    assert payload.startswith(b"P6")
    out = multimodal.decode_image(payload)
    assert out.shape == (7, 5, 3)
    assert (out == arr).all()
    # dispatcher takes the same bytes
    assert (multimodal._decode_payload(payload) == arr.reshape(-1)).all()


def test_wav_round_trip():
    rng = np.random.default_rng(4)
    samples = rng.integers(-32768, 32768, size=321, dtype=np.int16)
    payload = multimodal.encode_wav(samples, 16000)
    out, rate = multimodal.decode_audio(payload)
    assert rate == 16000
    assert (out == samples).all()
    assert (multimodal._decode_payload(payload) == samples).all()


def test_wav_rejects_stereo_and_truncated():
    import struct

    samples = np.zeros(4, dtype=np.int16)
    payload = bytearray(multimodal.encode_wav(samples, 8000))
    payload[22:24] = struct.pack("<H", 2)  # channels = 2
    with pytest.raises(ValueError):
        multimodal.decode_audio(bytes(payload))
    with pytest.raises(ValueError):
        multimodal.decode_image(b"P6\n1 1\n65535\n\x00\x00\x00")


def test_ppm_truncated_header_raises_not_hangs():
    # a corrupt asset must fail fast, never spin the executor task
    for bad in (b"P6", b"P6\n", b"P6\n4 4", b"P6\n4 4\n255",
                b"P6\n4 4\n255\n" + b"\x00" * 10):
        with pytest.raises(ValueError):
            multimodal.decode_image(bad)
    with pytest.raises(ValueError):
        multimodal.decode_image(b"P6\n0 4\n255\n")


def test_mm_codec_stats_shape(spark):
    pdf = multimodal.mm_codec_stats(spark, "/root/testdata/sf0.001").toPandas()
    assert len(pdf) > 0
    img = pdf[pdf["modality"] == "image"]
    aud = pdf[pdf["modality"] == "audio"]
    assert (img["payload_bytes"] == 59).all()
    assert (aud["payload_bytes"] == 76).all()
    assert (img["width"] == 4).all() and (img["height"] == 4).all()
    assert (aud["n_samples"] == 16).all() and (aud["sample_rate"] == 8000).all()


def test_embed_assets_feeds_similarity_stack(spark):
    """multimodal → embedding → LSH index, end-to-end on the real
    Spark plumbing (decode stubbed, everything else genuine)."""
    from pyspark.sql import functions as F

    from meteaudata_spark.ext.multimodal import embed_assets, make_fake_assets
    from meteaudata_spark.ext.simsearch import _LSH_TABLES, lsh_bucketize

    assets = make_fake_assets(spark, n=30)
    emb = embed_assets(assets)
    pdf = emb.toPandas()
    assert len(pdf) == 30
    assert all(len(e) == 64 for e in pdf["embedding"])
    # unit-normalized
    import numpy as np

    norms = [np.linalg.norm(np.asarray(e, dtype=float)) for e in pdf["embedding"]]
    assert np.allclose(norms, 1.0, atol=1e-5)
    # flows into the LSH index unchanged
    buckets = lsh_bucketize(emb.withColumn("label", F.lit(None).cast("int")))
    bdf = buckets.toPandas()
    assert len(bdf) == 30 * _LSH_TABLES


def test_png_round_trip():
    rng = np.random.default_rng(9)
    arr = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    payload = multimodal.encode_png(arr)
    assert payload.startswith(multimodal.PNG_MAGIC)
    out = multimodal.decode_png(payload)
    assert out.shape == (11, 7, 3)
    assert (out == arr).all()
    assert (multimodal._decode_payload(payload) == arr.reshape(-1)).all()


def test_png_rejects_corruption():
    import struct

    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    payload = bytearray(multimodal.encode_png(arr))
    with pytest.raises(ValueError):
        multimodal.decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4)
    flipped = bytearray(payload)
    flipped[-6] ^= 0xFF  # corrupt a byte inside IEND's CRC
    with pytest.raises(ValueError):
        multimodal.decode_png(bytes(flipped))
    # 16-bit depth must be refused, not mis-decoded
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    import zlib
    bad = (
        multimodal.PNG_MAGIC
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    with pytest.raises(ValueError):
        multimodal.decode_png(bad)


def test_png_decodes_all_filter_types():
    """Externally-produced PNGs use Sub/Up/Average/Paeth scanline
    filters; apply each filter forward here (per the PNG spec) and
    assert the decoder reverses it."""
    import struct
    import zlib

    rng = np.random.default_rng(21)
    arr = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    stride = 6 * 3

    def forward_filter(ftype, line, prev):
        out = np.zeros(stride, dtype=np.uint8)
        for i in range(stride):
            x = int(line[i])
            left = int(line[i - 3]) if i >= 3 else 0
            up = int(prev[i])
            ul = int(prev[i - 3]) if i >= 3 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            out[i] = (x - pred) & 0xFF
        return out

    raw = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(5):
        ftype = y % 5  # exercise every filter type
        line = arr[y].reshape(-1)
        raw.append(ftype)
        raw += forward_filter(ftype, line, prev).tobytes()
        prev = line

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", 6, 5, 8, 2, 0, 0, 0)
    payload = (
        multimodal.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    out = multimodal.decode_png(payload)
    assert (out == arr).all()


def test_mm_png_stats_matches_digest(spark):
    pdf = multimodal.mm_png_stats(spark, "/root/testdata/sf0.001").toPandas()
    assert len(pdf) > 0
    assert (pdf["width"] == 4).all() and (pdf["height"] == 4).all()
    assert (pdf["value_min"] >= 0).all() and (pdf["value_max"] <= 255).all()
    assert (pdf["value_sum"] == 3 * (pdf["value_sum"] // 3)).all()


def test_resize_real_formats_roundtrip(spark):
    """PPM/PNG/JPEG payloads resize by real decode → NN resample →
    re-encode in the same format, executor-side."""
    from meteaudata_spark.ext.jpeg import encode_jpeg

    rng = np.random.default_rng(31)
    arr = rng.integers(0, 256, size=(12, 10, 3), dtype=np.uint8)
    payloads = [
        multimodal.encode_ppm(arr),
        multimodal.encode_png(arr),
        encode_jpeg(arr, quality=95),
    ]
    rows = [
        (i, "image", p,
         {"width": 10, "height": 12, "channels": 3, "sample_rate": None,
          "n_frames": None, "format": f})
        for i, (p, f) in enumerate(zip(payloads, ["ppm", "png", "jpeg"]))
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    out = multimodal.resize_images(assets, 6, 4).toPandas().sort_values("asset_id")
    magics = [bytes(p)[:2] for p in out["payload"]]
    assert magics[0] == b"P6"
    assert bytes(out["payload"].iloc[1]).startswith(multimodal.PNG_MAGIC)
    assert magics[2] == b"\xff\xd8"
    for p in out["payload"]:
        dec = multimodal._decode_rgb(bytes(p))
        assert dec.shape == (4, 6, 3)
    assert (pd_width := out["meta"].apply(lambda m: m["width"])).eq(6).all(), pd_width
    # lossless formats: NN resample is exactly reproducible driver-side
    expected = multimodal._resize_nn(arr, 6, 4)
    assert (multimodal._decode_rgb(bytes(out["payload"].iloc[0])) == expected).all()
    assert (multimodal._decode_rgb(bytes(out["payload"].iloc[1])) == expected).all()


def test_audio_features_pure_tone_and_silence(spark):
    """Closed-form checks: a full-scale 440 Hz tone reads RMS ≈ 1/√2
    and ZCR ≈ 2·440/rate; silence reads zeros; non-audio payloads are
    skipped."""
    import numpy as np

    from meteaudata_spark.ext.multimodal import (
        audio_features,
        encode_ppm,
        encode_wav,
    )

    rate = 16000
    t = np.arange(rate)  # 1 second
    tone = np.round(32767 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.int16)
    silence = np.zeros(rate, dtype=np.int16)
    img = encode_ppm(np.zeros((8, 8, 3), dtype=np.uint8))
    assets = spark.createDataFrame(
        [
            (0, "audio", bytearray(encode_wav(tone, rate))),
            (1, "audio", bytearray(encode_wav(silence, rate))),
            (2, "image", bytearray(img)),
        ],
        "asset_id long, modality string, payload binary",
    )
    out = {r["asset_id"]: r for r in audio_features(assets).collect()}
    assert set(out) == {0, 1}  # image skipped
    tone_r = out[0]
    assert tone_r["duration_ms"] == 1000 and tone_r["sample_rate"] == rate
    assert abs(tone_r["rms_micros"] - round(1_000_000 / np.sqrt(2))) < 20_000
    # 440 Hz -> 880 crossings/s -> zcr 880/16000 = 0.055
    assert abs(tone_r["zcr_micros"] - 55_000) < 2_000
    assert tone_r["peak"] == 32767
    sil = out[1]
    assert sil["rms_micros"] == 0 and sil["zcr_micros"] == 0 and sil["peak"] == 0


def test_audio_features_validates_knobs(spark):
    import pytest

    from meteaudata_spark.ext.multimodal import audio_features

    d = spark.createDataFrame([(1, "audio", bytearray(b"RIFF"))],
                              "asset_id long, modality string, payload binary")
    with pytest.raises(ValueError):
        audio_features(d, frame_ms=0)


def test_decode_health_triage_and_skip_mode(spark):
    """Undecodable payloads (e.g. H.264 bitstreams) are a fact of real
    corpora: decode_health reports them per asset instead of failing,
    and extract_features(decode_errors='skip') drops exactly those
    assets while 'raise' keeps the debugging default."""
    import numpy as np
    import pytest

    from meteaudata_spark.ext.multimodal import (
        decode_health,
        encode_ppm,
        encode_wav,
        extract_features,
    )

    good_img = encode_ppm(np.zeros((4, 4, 3), dtype=np.uint8))
    good_wav = encode_wav(np.zeros(100, dtype=np.int16), 8000)
    h264 = b"\x00\x00\x00\x01\x67\x42\x00\x1e" + b"\x55" * 64
    junk = b"\x13\x37" * 20
    assets = spark.createDataFrame(
        [
            (0, "image", bytearray(good_img)),
            (1, "audio", bytearray(good_wav)),
            (2, "video", bytearray(h264)),
            (3, "image", bytearray(junk)),
        ],
        "asset_id long, modality string, payload binary",
    )
    health = {r["asset_id"]: r for r in decode_health(assets).collect()}
    assert health[0]["decodable"] == "ok" and health[0]["detected_format"] == "ppm"
    assert health[1]["decodable"] == "ok" and health[1]["detected_format"] == "wav"
    assert health[2]["decodable"] == "error"
    assert health[2]["detected_format"] == "h264-annexb"
    assert "NotImplementedError" in health[2]["error"]
    assert health[3]["decodable"] == "error" and health[3]["detected_format"] == "unknown"

    kept = extract_features(assets, decode_errors="skip").collect()
    assert {r["asset_id"] for r in kept} == {0, 1}
    with pytest.raises(Exception):
        extract_features(assets, decode_errors="raise").collect()
    with pytest.raises(ValueError):
        extract_features(assets, decode_errors="quarantine")


def test_image_ahash_planted_neardups(spark):
    """Exact-copy payloads give Hamming 0; a mildly perturbed copy is
    found iff its true Hamming ≤ 3 — verified against a numpy replica
    of the hash."""
    import numpy as np
    import pandas as pd

    from meteaudata_spark.ext.multimodal import (
        encode_ppm,
        image_ahash_blocks,
        image_neardup_pairs,
    )

    rng = np.random.default_rng(7)
    payloads = []
    base = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    payloads.append((0, encode_ppm(base)))
    payloads.append((1, encode_ppm(base.copy())))  # exact twin
    pert = base.copy()
    pert[0, 0, 0] = (int(pert[0, 0, 0]) + 3) % 256  # near twin
    payloads.append((2, encode_ppm(pert)))
    for i in range(3, 40):  # unrelated noise images
        payloads.append(
            (i, encode_ppm(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)))
        )
    df = spark.createDataFrame(
        pd.DataFrame(payloads, columns=["asset_id", "payload"])
    )
    hashes = image_ahash_blocks(df)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in image_neardup_pairs(hashes, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0

    def ahash_bits(arr):
        luma = arr.astype(np.int64).sum(axis=2).reshape(-1)
        return (64 * luma > luma.sum()).astype(np.int64)

    true_h = int(np.sum(ahash_bits(base) != ahash_bits(pert)))
    if true_h <= 3:
        assert pairs[(0, 2)] == true_h
    else:
        assert (0, 2) not in pairs
    # spark hashes equal the numpy replica bit-for-bit
    got = {r["asset_id"]: (r["h0"], r["h1"], r["h2"], r["h3"])
           for r in hashes.collect()}
    bits = ahash_bits(base)
    expect = tuple(
        int((bits[16 * k : 16 * k + 16] << np.arange(16)).sum())
        for k in range(4)
    )
    assert got[0] == expect


def test_image_neardup_plan_no_cartesian(spark):
    from meteaudata_spark.ext.multimodal import mm_image_neardup
    from meteaudata_spark.plans import inspect

    df = mm_image_neardup(spark, "/root/testdata/sf0.001")
    joins = inspect.join_strategies(df)
    assert "CartesianProduct" not in joins, joins
    assert "BroadcastNestedLoopJoin" not in joins, joins


def test_phash_survives_clipped_brightness_shift_ahash_does_not(spark):
    """The pHash upgrade's reason to exist (VERDICT r8 #7): a global
    +100 brightness shift CLIPPED at 255 moves the luma mean
    nonlinearly, flipping mean-threshold aHash bits (Hamming 4 > 3 →
    the miner MISSES the twin), while the median-thresholded DCT
    signs survive (Hamming 2 → pHash catches it).  Image pair found
    by deterministic sweep (rng seed 1517)."""
    import numpy as np
    import pandas as pd

    from meteaudata_spark.ext import multimodal

    rng = np.random.default_rng(1517)
    gx, gy = rng.integers(5, 30), rng.integers(2, 12)
    base = np.clip(
        np.outer(np.arange(8), np.ones(8)) * gx
        + np.outer(np.ones(8), np.arange(8)) * gy
        + rng.integers(0, 40, (8, 8)),
        0, 255,
    ).astype(np.uint8)
    shifted = np.clip(base.astype(np.int64) + 100, 0, 255).astype(np.uint8)
    payloads = [
        multimodal.encode_ppm(np.stack([img] * 3, axis=-1))
        for img in (base, shifted)
    ]
    assets = spark.createDataFrame(
        pd.DataFrame({"asset_id": [1, 2], "payload": payloads})
    )
    a_pairs = multimodal.image_neardup_pairs(
        multimodal.image_ahash_blocks(assets), max_hamming=3
    ).collect()
    p_pairs = multimodal.image_neardup_pairs(
        multimodal.image_phash_blocks(assets), max_hamming=3
    ).collect()
    assert a_pairs == []  # aHash: Hamming 4, pair lost
    assert len(p_pairs) == 1 and p_pairs[0]["hamming"] <= 3  # pHash holds


def test_phash_matches_duckdb_oracle(spark):
    """mm_image_phash value-matches its digest-replay oracle."""
    import duckdb

    from meteaudata_spark.ext import multimodal

    sf = "/root/testdata/sf0.001"
    got = (
        multimodal.mm_image_phash(spark, sf)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = (
        con.execute(multimodal.MM_IMAGE_PHASH_SQL)
        .df().sort_values("doc_id").reset_index(drop=True)
    )
    for c in ("doc_id", "h0", "h1", "h2", "h3"):
        assert got[c].astype("int64").tolist() == want[c].astype("int64").tolist(), c


def test_image_neardup_empty_and_single(spark):
    import numpy as np
    import pandas as pd

    from meteaudata_spark.ext.multimodal import (
        encode_ppm,
        image_ahash_blocks,
        image_neardup_pairs,
    )

    one = spark.createDataFrame(
        pd.DataFrame(
            {
                "asset_id": [1],
                "payload": [
                    encode_ppm(
                        np.zeros((8, 8, 3), dtype=np.uint8) + 7
                    )
                ],
            }
        )
    )
    assert image_neardup_pairs(image_ahash_blocks(one)).count() == 0
