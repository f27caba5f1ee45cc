"""Multimodal media table: the payload-pruning layout of
``MEDIA_SCHEMA`` and the perceptual-hash near-dup stage over real
PNG / JPEG / WAV / MJPEG-in-MP4 bytes (committed golden fixtures)."""

from pyspark.sql import functions as F

from frontier_engine import multimodal as M


def test_metadata_filter_prunes_payload(spark, tmp_path):
    """Filtering on metadata must not read payload bytes: the parquet
    scan's ReadSchema for a meta-only query excludes the payload column."""
    rows = [
        {"media_id": i, "mime": mime, "payload": bytes([i]) * 16,
         "meta": {"width": w, "height": 480, "duration_s": None, "codec": codec}}
        for i, (mime, w, codec) in enumerate(
            [("image/png", 640, "png"), ("image/jpeg", 320, "jpeg"),
             ("image/png", 640, "png"), ("image/jpeg", 1024, "jpeg")]
        )
    ]
    path = str(tmp_path / "media")
    spark.createDataFrame(rows, M.MEDIA_SCHEMA).write.mode("overwrite").parquet(path)
    df = (
        spark.read.parquet(path)
        .select("media_id", "mime", "meta")
        .where(F.col("meta")["width"] == 640)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and all("payload" not in ln for ln in scan)
    assert sorted(r.media_id for r in df.collect()) == [0, 2]


def test_jpeg_reencode_lands_near_in_hamming(spark):
    """dHash over real JPEG decode: a quality-75 4:2:0 re-encode of the
    same image lands within 3 Hamming bits (the near-dup family's
    banding recall bound), while a different image lands far. Uses
    smooth random images (sum of random 2-D cosines): gradients are
    dHash-degenerate (constant offsets) and pixel noise is not
    JPEG-stable, but smooth fields are both distinct and robust."""
    import numpy as np

    from frontier_engine import jpeg as J

    def smooth(seed, h=32, w=48):
        rng = np.random.default_rng(seed)
        y, x = np.mgrid[0:h, 0:w]
        plane = sum(
            rng.uniform(40, 90) * np.cos(2 * np.pi * (fx * x / w + fy * y / h) + rng.uniform(0, 6))
            for fx, fy in [(1, 0), (0, 1), (1, 1), (2, 1)]
        )
        img = 128 + plane - plane.mean()
        return np.clip(np.stack([img] * 3, axis=2), 0, 255).astype(np.uint8)

    a, b = smooth(1), smooth(2)
    h90 = M.dhash64(M._decode_gray(J.encode_jpeg(a, quality=90), "image/jpeg"))
    h75 = M.dhash64(M._decode_gray(J.encode_jpeg(a, quality=75, subsample=True), "image/jpeg"))
    hb = M.dhash64(M._decode_gray(J.encode_jpeg(b, quality=90), "image/jpeg"))
    assert bin((h90 ^ h75) & ((1 << 64) - 1)).count("1") <= 3
    assert bin((h90 ^ hb) & ((1 << 64) - 1)).count("1") > 10


def test_dhash_reencode_invariant_and_edit_sensitivity(spark):
    """dHash is invariant to re-encoding (same pixels, different PNG
    filter strategies → identical hash) and a 2× nearest upscale (the
    9×8 downsample grid lands on the same source pixels), while a
    genuinely different image lands far away in Hamming distance."""
    import numpy as np

    from frontier_engine import png as P

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    other = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    h_cycle = M.dhash64(M._decode_gray(P.encode_png(img, "cycle"), "image/png"))
    h_none = M.dhash64(M._decode_gray(P.encode_png(img, "none"), "image/png"))
    up = P.resize_nearest(img, 96, 64)
    h_up = M.dhash64(M._decode_gray(P.encode_png(up, "cycle"), "image/png"))
    h_other = M.dhash64(M._decode_gray(P.encode_png(other, "cycle"), "image/png"))
    assert h_cycle == h_none == h_up
    ham = bin((h_cycle ^ h_other) & ((1 << 64) - 1)).count("1")
    assert ham > 10


def test_phash_near_pairs_matches_committed_golden(spark):
    """phash_near_pairs over the committed fixture must equal the
    all-pairs ≤3-Hamming set computed from the golden_phash column (the
    banding recall guarantee + decode/hash correctness in one check)."""
    import os

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "media_phash.parquet",
    )
    media = spark.read.parquet(fixture)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in M.phash_near_pairs(
            media.select("media_id", "mime", "payload"), max_hamming=3
        ).collect()
    }
    gold = {r.media_id: r.golden_phash for r in media.select("media_id", "golden_phash").collect()}
    want = {}
    for a in gold:
        for b in gold:
            if a < b:
                h = bin((gold[a] ^ gold[b]) & ((1 << 64) - 1)).count("1")
                if h <= 3:
                    want[(a, b)] = h
    assert got == want
    # the fixture plants structure: every re-encode pairs at hamming 0,
    # every one-bit edit at hamming 1
    assert all(got[(i, i + 100)] == 0 for i in range(10))
    assert all(got[(i, i + 300)] == 1 for i in range(10))


def test_audio_near_pairs_matches_committed_golden(spark):
    """Round-4 twin of the phash fixture test over REAL WAV payloads:
    phash_near_pairs (decode → log-spectrogram → band-energy-delta
    dHash → banding) must equal the all-pairs ≤3-Hamming set computed
    from the golden_fp column (independent struct-reader + DFT-matrix
    reference, scripts_make_audio_fixture.py)."""
    import os

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "media_audio.parquet",
    )
    media = spark.read.parquet(fixture)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in M.phash_near_pairs(
            media.select("media_id", "mime", "payload"), max_hamming=3
        ).collect()
    }
    gold = {r.media_id: r.golden_fp for r in media.select("media_id", "golden_fp").collect()}
    want = {}
    for a in gold:
        for b in gold:
            if a < b:
                h = bin((gold[a] ^ gold[b]) & ((1 << 64) - 1)).count("1")
                if h <= 3:
                    want[(a, b)] = h
    assert got == want
    # planted structure: byte-different re-encodes at hamming 0,
    # gain-halved copies within quantization tolerance
    assert all(got[(i, i + 100)] == 0 for i in range(10))
    assert all(got.get((i, i + 200), 99) <= 2 for i in range(10))


def test_video_phash_golden_fixture(spark):
    """r5: MJPEG-in-MP4 near-dup — engine hash (demux → jpeg decode →
    gray → dhash) must equal the fixture's golden_vhash (computed from
    SOURCE pixels by an independent explicit-loop implementation), and
    the planted pair structure must come out of the banded join."""
    import os

    fixture = os.path.join(os.path.dirname(__file__), "..", "fixtures", "media_video.parquet")
    media = spark.read.parquet(fixture)
    hashes = {
        r.media_id: r.phash
        for r in M.phash_media(media.select("media_id", "mime", "payload")).collect()
    }
    gold = {r.media_id: r.golden_vhash for r in media.select("media_id", "golden_vhash").collect()}
    assert hashes == gold
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in M.phash_near_pairs(
            media.select("media_id", "mime", "payload"), max_hamming=3
        ).collect()
    }
    assert all(got[(i, i + 100)] == 0 for i in range(8))  # re-encode
    assert all(got[(i, i + 200)] == 1 for i in range(8))  # one-cell edit
    assert all(got[(i + 100, i + 200)] == 1 for i in range(8))
    assert len(got) == 24  # nothing else within hamming 3
