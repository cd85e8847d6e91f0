"""The lineage checksum's row hash, computed in Python workers.

A committed split's checksum is the bit_xor of its rows' hashes, and
:func:`~ocr_award_extractor_spark.plans.lineage.verify_lineage` audits it in
the JVM with Spark's ``xxhash64(url, '\\0', coalesce(ocr_text, ''))``
(:func:`~ocr_award_extractor_spark.plans.lineage.row_hash`). The commit
kernel computes the same value here, bit for bit: Spark's ``xxhash64``
starts from seed 42 and, column by column, hashes each value's UTF-8 bytes
with XXH64 seeded by the hash so far; a NULL column leaves the hash as it
was. The result is a signed 64-bit integer.

XXH64 runs in the native library (``_segscan.c``'s ``xxh64``, built and
loaded by :mod:`~ocr_award_extractor_spark.functions.segscan`), whatever the
html.parser probe of the segmenter says. Without a C compiler it runs in
:func:`xxh64_py`: ~40 µs a row of the fixture corpus (mean text 476
bytes) against ~5 µs natively, where ``extract_record`` takes ~100-190 µs.
"""

from __future__ import annotations

import struct
from collections.abc import Sequence

import numpy as np

from ocr_award_extractor_spark.functions import segscan as _segscan

SEED = 42                                   # Spark's xxhash64 seed

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M


def xxh64_py(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` under the unsigned 64-bit ``seed``, unsigned: the
    fallback of the native ``xxh64``, the same algorithm line by line."""
    n, i = len(data), 0
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _M, (seed + _P2) & _M
        v3, v4 = seed, (seed - _P1) & _M
        for a, b, c, d in struct.iter_unpack("<4Q", memoryview(data)[:n - n % 32]):
            v1, v2 = _round(v1, a), _round(v2, b)
            v3, v4 = _round(v3, c), _round(v4, d)
        i = n - n % 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    for (lane,) in struct.iter_unpack("<Q", memoryview(data)[i:i + (n - i) // 8 * 8]):
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M
    i += (n - i) // 8 * 8
    if i + 4 <= n:
        h = (_rotl(h ^ struct.unpack_from("<I", data, i)[0] * _P1 & _M, 23)
             * _P2 + _P3) & _M
        i += 4
    for byte in data[i:]:
        h = _rotl(h ^ byte * _P5 & _M, 11) * _P1 & _M
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    return h ^ (h >> 32)


_NATIVE = _segscan.library()


def row_hashes(urls: Sequence[str | None],
               texts: Sequence[str | None]) -> np.ndarray:
    """Spark's ``xxhash64(url, '\\0', coalesce(ocr_text, ''))`` of each
    (url, ocr_text) pair, as int64."""
    lib = _NATIVE
    xxh64 = (xxh64_py if lib is None
             else lambda data, seed: lib.xxh64(data, len(data), seed))
    out = np.empty(len(urls), dtype=np.uint64)
    for k, (url, text) in enumerate(zip(urls, texts)):
        h = SEED if url is None else xxh64(url.encode(), SEED)
        out[k] = xxh64((text or "").encode(), xxh64(b"\0", h))
    return out.view(np.int64)
