"""Posting-list block codec — vectorized numpy kernels, no per-row Python.

The reference delegates the posting format to Lucene (ES text fields,
/root/reference/src/main/resources/es_mappings/addr_row.json:41-52); this is
our native replacement: docID delta encoding + FOR (frame-of-reference)
fixed-width bit packing in blocks of ``BLOCK_SIZE`` docs, with per-block
max-score metadata for block-max WAND pruning. It is the one posting format
(index_meta ``postings_codec: "for"``, index format 0.8); the parquet
column names ``doc_ids_delta_varbyte`` / ``tfs_varbyte`` predate it and are
kept because renaming them would change the format.

Within a block the first docID is stored as a delta against the block's
``min_doc_id`` metadata (so each block is independently decodable),
subsequent docIDs as gaps.

FOR layout: 1 header byte w = bit_length(max value) (0 = all values zero,
no payload), then every value's low w bits, little-endian bit order
(``np.packbits`` bitorder="little"). Decode is a handful of whole-array
shifts against a cached gather plan. Within-block deltas are near-uniform
after docID clustering, so one width per block wastes little. Exceptions
(Lucene's patching in PFor) are unnecessary at block granularity: one
outlier delta only widens its own 128-value block.

All kernels operate on whole numpy arrays (used inside applyInPandas /
mapInPandas over Arrow batches). Readers and writers call the public
``ids_*`` / ``tfs_*`` / ``f64_*`` names.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

# index_meta.json "postings_codec" value of the one supported format
FOR = "for"

# (n, w) -> (word_idx, bit_off, hi_shift, hi_is_zero, mask) unpack plan.
# Bounded: n <= BLOCK_SIZE tail sizes actually seen, w <= 64.
_FOR_PLANS: dict = {}


def _for_plan(n: int, w: int):
    key = (n, w)
    p = _FOR_PLANS.get(key)
    if p is None:
        pos = np.arange(n, dtype=np.uint64) * np.uint64(w)
        idx = (pos >> np.uint64(6)).astype(np.int64)
        off = pos & np.uint64(63)
        # value bits span words[idx] from bit `off`, spilling into
        # words[idx+1]; a 64-bit shift by 64 is UB, so off==0 rows force
        # shift 63 and zero the hi lane explicitly
        hi_shift = np.uint64(64) - np.maximum(off, np.uint64(1))
        hi_zero = off == 0
        mask = (
            np.uint64(0xFFFFFFFFFFFFFFFF)
            if w >= 64
            else np.uint64((1 << w) - 1)
        )
        p = _FOR_PLANS[key] = (idx, off, hi_shift, hi_zero, mask)
    return p


def for_encode(values: np.ndarray) -> bytes:
    """Fixed-width bit-pack a non-negative int array. Vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"\x00"
    w = int(v.max()).bit_length()
    if w == 0:
        return b"\x00"
    bits = (
        (v[:, None] >> np.arange(w, dtype=np.uint64)) & np.uint64(1)
    ).astype(np.uint8)
    return bytes([w]) + np.packbits(bits.ravel(), bitorder="little").tobytes()


def for_decode(buf: bytes, n: int) -> np.ndarray:
    """Decode ``n`` values from a FOR buffer. Vectorized, cached plan."""
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    w = buf[0]
    if w == 0:
        return np.zeros(n, dtype=np.int64)
    idx, off, hi_shift, hi_zero, mask = _for_plan(n, w)
    # copy into an aligned, one-word-overallocated scratch so the idx+1
    # gather never reads past the payload
    need = (int(idx[-1]) + 2) * 8
    scratch = np.zeros(need, dtype=np.uint8)
    payload = np.frombuffer(buf, dtype=np.uint8, offset=1)
    scratch[: payload.size] = payload
    words = scratch.view(np.uint64)
    lo = words[idx] >> off
    hi = words[idx + 1] << hi_shift
    hi[hi_zero] = np.uint64(0)
    return (((lo | hi) & mask)).astype(np.int64)


def delta_for_encode(sorted_ids: np.ndarray, base: int) -> bytes:
    ids = np.asarray(sorted_ids, dtype=np.int64)
    deltas = np.empty(ids.size, dtype=np.int64)
    if ids.size:
        deltas[0] = ids[0] - base
        np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    return for_encode(deltas)


def delta_for_decode(buf: bytes, n: int, base: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    deltas = for_decode(buf, n)
    deltas[0] += base
    return np.cumsum(deltas)


def f64_encode(values: np.ndarray) -> bytes:
    return np.asarray(values, dtype=np.float64).tobytes()


def f64_decode(buf: bytes, n: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.float64, count=n)


# ---- the public block-payload names readers and writers call ------------

def ids_encode(sorted_ids: np.ndarray, base: int) -> bytes:
    return delta_for_encode(sorted_ids, base)


def ids_decode(buf: bytes, n: int, base: int) -> np.ndarray:
    return delta_for_decode(buf, n, base)


def tfs_encode(tfs: np.ndarray) -> bytes:
    return for_encode(tfs)


def tfs_decode(buf: bytes, n: int) -> np.ndarray:
    return for_decode(buf, n)
