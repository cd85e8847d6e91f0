"""Multimodal plumbing tests: real Spark schema/batch path, fake decode
backend, stubbed real backend surfaces as error rows (never exceptions)."""

from __future__ import annotations

import numpy as np

from ocr_award_extractor_spark.operators.multimodal import extract_media_features


def make_fake_image(width: int, height: int, seed: int) -> bytes:
    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=width * height, dtype=np.int64).astype(np.uint8)
    return b"FAKEIMG:%d:%d:" % (width, height) + px.tobytes()


def make_fake_video(n_frames: int, frame_len: int, seed: int) -> bytes:
    rng = np.random.RandomState(seed)
    fx = rng.randint(0, 256, size=n_frames * frame_len, dtype=np.int64).astype(np.uint8)
    return b"FAKEVID:%d:%d:" % (n_frames, frame_len) + fx.tobytes()


def test_media_feature_extraction(spark):
    rows = [
        ("img1", "fake_image", make_fake_image(4, 3, seed=1)),
        ("img2", "fake_image", make_fake_image(8, 2, seed=2)),
        ("vid1", "fake_video", make_fake_video(6, 10, seed=3)),
        ("bad1", "fake_image", b"FAKEIMG:4:3:xx"),        # truncated pixels
        ("real", "image", b"\x89PNG\r\n fake png bytes"),  # stubbed backend
    ]
    media = spark.createDataFrame(rows, "url string, kind string, payload binary")
    got = {r["url"]: r for r in extract_media_features(media).collect()}

    assert got["img1"]["status"] == "success"
    assert (got["img1"]["width"], got["img1"]["height"]) == (4, 3)
    assert 0.0 <= got["img1"]["mean_intensity"] <= 255.0
    assert got["vid1"]["n_frames"] == 6
    assert got["bad1"]["status"] == "error" and "truncated" in got["bad1"]["message"]
    assert got["real"]["status"] == "error" and "not in this" in got["real"]["message"]
    assert len(got) == 5


def test_media_deterministic_across_partitions(spark):
    rows = [(f"u{i}", "fake_image", make_fake_image(5, 5, seed=i)) for i in range(20)]
    media = spark.createDataFrame(rows, "url string, kind string, payload binary")
    a = sorted(map(tuple, extract_media_features(media.repartition(1)).collect()))
    b = sorted(map(tuple, extract_media_features(media.repartition(7)).collect()))
    assert a == b


def test_media_from_documents_closed_form(spark):
    """The derived media table's decode output matches the closed form the
    DuckDB oracle computes (multimodal.py:_MULTIMODAL_ORACLE)."""
    from ocr_award_extractor_spark.operators.multimodal import (
        _IMG_A, _IMG_B, _IMG_MOD, multimodal_features,
    )

    got = {r["url"]: r for r in multimodal_features(spark, "/root/testdata/sf0.001").collect()}

    # doc 3: 3%25 != 24 → good image, w=8+3%9=11, h=8+3%7=11
    r = got["media://img/00000003"]
    assert (r["status"], r["width"], r["height"]) == ("success", 11, 11)
    expect = sum((3 * _IMG_A + i * _IMG_B) % _IMG_MOD for i in range(121)) / 121
    assert abs(r["mean_intensity"] - expect) < 1e-12
    assert r["n_bytes"] == len(b"FAKEIMG:11:11:") + 121

    # doc 24: truncated image → error row with precise message
    r = got["media://img/00000024"]
    assert r["status"] == "error" and r["width"] is None
    assert "truncated image" in r["message"]

    # doc 4: video present, frame-sampled mean over frames 0,2,...
    r = got["media://vid/00000004"]
    assert (r["kind"], r["n_frames"]) == ("fake_video", 2 + 4 % 5)
    assert r["status"] == "success" and r["mean_intensity"] is not None

    # doc 1 has no video
    assert "media://vid/00000001" not in got


def test_ivf_probe_subset_of_bruteforce(spark):
    """IVF top-k (nprobe=1) returns vectors from exactly one centroid's
    cluster, each scored identically to the brute-force baseline."""
    from ocr_award_extractor_spark.operators.similarity import (
        ann_topk_cosine, ivf_topk_cosine,
    )
    from tests.oracle_spellings import ivf_assign

    sf = "/root/testdata/sf0.001"
    assign = {r["vec_id"]: r["centroid"] for r in ivf_assign(spark, sf).collect()}
    ivf = ivf_topk_cosine(spark, sf).collect()
    assert len({r["centroid"] for r in ivf}) == 1
    assert all(assign[r["vec_id"]] == r["centroid"] for r in ivf)

    brute = {r["vec_id"]: r["cos_sim"] for r in ann_topk_cosine(spark, sf).collect()}
    for r in ivf:
        if r["vec_id"] in brute:
            assert r["cos_sim"] == brute[r["vec_id"]]  # exact, quantized math


def test_resize_nearest_closed_form():
    """Nearest-neighbor resize samples exactly floor(j*h/th), floor(i*w/tw)."""
    import numpy as np

    from ocr_award_extractor_spark.operators.multimodal import resize_nearest

    w, h = 11, 9
    px = np.arange(w * h, dtype=np.int64)
    t = resize_nearest(px, w, h, tw=8, th=8)
    assert t.shape == (8, 8)
    for j in range(8):
        for i in range(8):
            assert t[j, i] == (j * h // 8) * w + (i * w // 8)
