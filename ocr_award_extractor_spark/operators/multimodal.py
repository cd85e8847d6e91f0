"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed in Arrow-batched mapInArrow stages.

The container has no image/audio codecs (no cv2/PIL/ffmpeg — the reference
needs cv2+PaddleOCR, certificate_ocr.py:3,:6), so the DECODE step is
pluggable: the default backend raises NotImplementedError; a deterministic
FAKE backend (a tiny self-describing byte format) makes the Spark-side
plumbing — schema, batch shape, partitioning, error contract — fully real
and testable. On a real cluster, pointing `_BACKENDS["image"]` at a
cv2/PIL implementation changes nothing else.

Media payload convention (fake backend):
    b"FAKEIMG:<width>:<height>:" + pixel bytes (1 byte/px, row-major)
    b"FAKEVID:<n_frames>:<frame_len>:" + frame bytes, concatenated
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ocr_award_extractor_spark.functions.batching import flat_map_rows, map_rows

FEATURE_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("kind", StringType()),
    StructField("status", StringType()),
    StructField("message", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("n_bytes", LongType()),
    StructField("mean_intensity", DoubleType()),
])

def _decode_fake_image(payload: bytes) -> dict:
    head, _, rest = payload.partition(b":")
    if head != b"FAKEIMG":
        raise ValueError("not a FAKEIMG payload")
    w_b, _, rest = rest.partition(b":")
    h_b, _, pixels = rest.partition(b":")
    w, h = int(w_b), int(h_b)
    px = np.frombuffer(pixels, dtype=np.uint8)
    if px.size != w * h:
        raise ValueError(f"truncated image: {px.size} != {w}*{h}")
    return {"width": w, "height": h, "n_frames": 1,
            "mean_intensity": float(px.mean()) if px.size else 0.0}


def _decode_fake_video(payload: bytes) -> dict:
    head, _, rest = payload.partition(b":")
    if head != b"FAKEVID":
        raise ValueError("not a FAKEVID payload")
    n_b, _, rest = rest.partition(b":")
    l_b, _, frames = rest.partition(b":")
    n, flen = int(n_b), int(l_b)
    fx = np.frombuffer(frames, dtype=np.uint8)
    if fx.size != n * flen:
        raise ValueError("truncated video")
    # frame-sample every 2nd frame — the realistic access pattern
    sampled = fx.reshape(n, flen)[::2] if n else fx.reshape(0, max(flen, 1))
    return {"width": flen, "height": 1, "n_frames": n,
            "mean_intensity": float(sampled.mean()) if sampled.size else 0.0}


def _real_decode_stub(payload: bytes) -> dict:
    raise NotImplementedError(
        "real image/audio decode needs cv2/PIL/ffmpeg — not in this "
        "container; register a backend on the cluster"
    )


_BACKENDS = {
    "fake_image": _decode_fake_image,
    "fake_video": _decode_fake_video,
    "image": _real_decode_stub,
    "audio": _real_decode_stub,
    "video": _real_decode_stub,
}


def _feature_row(url, kind, payload) -> dict:
    rec = {"url": url, "kind": kind, "status": "success", "message": None,
           "width": None, "height": None, "n_frames": None,
           "n_bytes": len(payload) if payload is not None else 0,
           "mean_intensity": None}
    try:
        rec.update(_BACKENDS[kind](payload))
    except NotImplementedError as e:
        rec.update(status="error", message=str(e))
    except Exception as e:  # decode failure → error ROW (cert:100-105)
        rec.update(status="error", message=f"decode failed: {e}")
    return rec


def extract_media_features(media: DataFrame) -> DataFrame:
    """media(url, kind, payload:binary) → typed feature rows. Same error
    contract and batch discipline as the HTML pipeline; the fat `payload`
    column is pruned before and dropped after this stage."""
    return map_rows(media, ("url", "kind", "payload"), _feature_row,
                    FEATURE_SCHEMA)


MEDIA_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("kind", StringType()),
    StructField("payload", BinaryType()),
])

# closed-form payload parameters — shared byte-for-byte with the DuckDB oracle
_IMG_MOD, _IMG_A, _IMG_B = 251, 31, 17
_VID_MOD, _VID_A, _VID_B = 247, 13, 29


def _media_rows(doc_id: int) -> list[dict]:
    """One deterministic FAKEIMG per doc (every 25th truncated to exercise
    the error contract), plus a FAKEVID for every 4th doc. Pixel byte i is
    (doc_id·a + i·b) mod m — a closed form DuckDB reproduces with a
    correlated SUM over range(), so mean_intensity is oracle-checkable."""
    w, h = 8 + doc_id % 9, 8 + doc_id % 7
    px = ((doc_id * _IMG_A + np.arange(w * h, dtype=np.int64) * _IMG_B)
          % _IMG_MOD).astype(np.uint8)
    body = px.tobytes()
    if doc_id % 25 == 24:  # truncated payload → error ROW, not exception
        body = body[:-1]
    rows = [{
        "url": f"media://img/{doc_id:08d}", "kind": "fake_image",
        "payload": b"FAKEIMG:%d:%d:" % (w, h) + body,
    }]
    if doc_id % 4 == 0:
        n, flen = 2 + doc_id % 5, 16 + doc_id % 16
        fx = ((doc_id * _VID_A + np.arange(n * flen, dtype=np.int64) * _VID_B)
              % _VID_MOD).astype(np.uint8)
        rows.append({
            "url": f"media://vid/{doc_id:08d}", "kind": "fake_video",
            "payload": b"FAKEVID:%d:%d:" % (n, flen) + fx.tobytes(),
        })
    return rows


def media_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, …) → media(url, kind, payload:binary),
    deterministic per doc_id. Stand-in for a real WARC media sidecar table;
    only doc_id is read (column pruning keeps the scan narrow)."""
    from ocr_award_extractor_spark.sources.tables import spread_small_scans

    return flat_map_rows(spread_small_scans(docs.select("doc_id")),
                         ("doc_id",), _media_rows, MEDIA_SCHEMA)


def multimodal_features(spark, sf_dir: str) -> DataFrame:
    """Full multimodal leg: derive media table → Arrow-batched decode +
    feature extraction → typed rows (success AND error contract)."""
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return extract_media_features(media_from_documents(docs)).select(
        "url", "kind", "status", "message",
        "width", "height", "n_frames", "n_bytes", "mean_intensity",
    )


_MULTIMODAL_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 9 AS INTEGER) AS w,
               CAST(8 + doc_id % 7 AS INTEGER) AS h,
               doc_id % 25 = 24 AS bad
        FROM documents
    ), img AS (
        SELECT 'media://img/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url,
               'fake_image' AS kind,
               CASE WHEN bad THEN 'error' ELSE 'success' END AS status,
               CASE WHEN bad THEN 'decode failed: truncated image: '
                         || (w * h - 1) || ' != ' || w || '*' || h END AS message,
               CASE WHEN NOT bad THEN w END AS width,
               CASE WHEN NOT bad THEN h END AS height,
               CASE WHEN NOT bad THEN CAST(1 AS INTEGER) END AS n_frames,
               CAST(10 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                    + w * h - CAST(bad AS INTEGER) AS BIGINT) AS n_bytes,
               CASE WHEN NOT bad THEN
                   (SELECT CAST(SUM((d.doc_id * {_IMG_A} + r.range * {_IMG_B})
                                    % {_IMG_MOD}) AS DOUBLE) / (d.w * d.h)
                    FROM range(16 * 14) r
                    WHERE r.range < d.w * d.h) END AS mean_intensity
        FROM d
    ), v AS (
        SELECT doc_id,
               CAST(2 + doc_id % 5 AS INTEGER) AS n,
               CAST(16 + doc_id % 16 AS INTEGER) AS flen
        FROM documents WHERE doc_id % 4 = 0
    ), vid AS (
        SELECT 'media://vid/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url,
               'fake_video' AS kind, 'success' AS status,
               CAST(NULL AS VARCHAR) AS message,
               flen AS width, CAST(1 AS INTEGER) AS height, n AS n_frames,
               CAST(10 + length(CAST(n AS VARCHAR)) + length(CAST(flen AS VARCHAR))
                    + n * flen AS BIGINT) AS n_bytes,
               (SELECT CAST(SUM((v.doc_id * {_VID_A} + r.range * {_VID_B})
                                % {_VID_MOD}) AS DOUBLE)
                       / (((v.n + 1) // 2) * v.flen)
                FROM range(6 * 31) r
                WHERE r.range < v.n * v.flen
                  AND (r.range // v.flen) % 2 = 0) AS mean_intensity
        FROM v
    )
    SELECT * FROM img UNION ALL SELECT * FROM vid
"""

THUMB_W, THUMB_H = 8, 8

THUMB_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("status", StringType()),
    StructField("thumb_w", IntegerType()),
    StructField("thumb_h", IntegerType()),
    StructField("thumb_mean", DoubleType()),
    StructField("thumb_sum", LongType()),
])


def resize_nearest(px: np.ndarray, w: int, h: int,
                   tw: int = THUMB_W, th: int = THUMB_H) -> np.ndarray:
    """Nearest-neighbor downsample (the deterministic stand-in for a real
    cv2.resize): target pixel (j,i) samples source (floor(j*h/th),
    floor(i*w/tw)) — integer math only, so the DuckDB oracle reproduces
    every sampled position."""
    ys = (np.arange(th, dtype=np.int64) * h) // th
    xs = (np.arange(tw, dtype=np.int64) * w) // tw
    return px.reshape(h, w)[np.ix_(ys, xs)]


def _thumb_row(url, payload) -> dict:
    rec = {"url": url, "status": "success",
           "thumb_w": THUMB_W, "thumb_h": THUMB_H,
           "thumb_mean": None, "thumb_sum": None}
    try:
        meta = _decode_fake_image(payload)
        w, h = meta["width"], meta["height"]
        px = np.frombuffer(payload.split(b":", 3)[3], dtype=np.uint8)
        t = resize_nearest(px.astype(np.int64), w, h)
        rec.update(thumb_mean=float(t.mean()), thumb_sum=int(t.sum()))
    except Exception:
        rec.update(status="error", thumb_w=None, thumb_h=None)
    return rec


def multimodal_thumbnails(spark, sf_dir: str) -> DataFrame:
    """Resize leg: derived media images → nearest-neighbor 8×8 thumbnails
    (mean + exact pixel sum). Truncated payloads stay error rows."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs).where(F.col("kind") == "fake_image")
    return map_rows(media, ("url", "payload"), _thumb_row, THUMB_SCHEMA)


_THUMB_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 9 AS INTEGER) AS w,
               CAST(8 + doc_id % 7 AS INTEGER) AS h,
               doc_id % 25 = 24 AS bad
        FROM documents
    ), sampled AS (
        SELECT d.doc_id,
               SUM((d.doc_id * {_IMG_A}
                    + (((r.range // {THUMB_W}) * d.h // {THUMB_H}) * d.w
                       + ((r.range % {THUMB_W}) * d.w // {THUMB_W})) * {_IMG_B})
                   % {_IMG_MOD}) AS s
        FROM d, range({THUMB_W} * {THUMB_H}) r
        WHERE NOT d.bad
        GROUP BY d.doc_id
    )
    SELECT 'media://img/' || lpad(CAST(d.doc_id AS VARCHAR), 8, '0') AS url,
           CASE WHEN d.bad THEN 'error' ELSE 'success' END AS status,
           CASE WHEN NOT d.bad THEN {THUMB_W} END AS thumb_w,
           CASE WHEN NOT d.bad THEN {THUMB_H} END AS thumb_h,
           CAST(s AS DOUBLE) / {THUMB_W * THUMB_H} AS thumb_mean,
           CAST(s AS BIGINT) AS thumb_sum
    FROM d LEFT JOIN sampled USING (doc_id)
"""

QUERIES = {
    "multimodal_features": multimodal_features,
    "multimodal_thumbnails": multimodal_thumbnails,
}
ORACLES = {
    "multimodal_features": _MULTIMODAL_ORACLE,
    "multimodal_thumbnails": _THUMB_ORACLE,
}
