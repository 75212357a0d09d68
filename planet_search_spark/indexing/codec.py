"""Posting-list codec: delta-encoded doc-id gaps + variable-byte compression.

This is the Spark-native replacement for the per-field postings compression
the reference delegates to Lucene (implied by the index config at
``ElasticsearchHelper.java:105-165``). Layout per posting block:

* ``docs_bin``  — varbyte(delta(doc_ids))        (gaps; first id absolute)
* ``tfs_bin``   — varbyte(tfs)
* ``pos_bin``   — varbyte(concat per-doc delta(positions)), with per-doc
                  position counts equal to tf (positions are only needed by
                  the phrase paths, B11-B13, and are optional)

Varbyte: little-endian 7-bit groups, high bit set on the *last* byte of each
integer (classic vint). All encode/decode work is vectorized numpy — this
code runs inside Arrow-batched pandas UDFs, never per-row Python in a loop
over documents.
"""
from __future__ import annotations

import numpy as np


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a non-negative int64 array."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value (at least 1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        mask = tmp > 0
        if not mask.any():
            break
        nbits[mask] += 1
        tmp >>= np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # byte offsets: for each value, bytes are emitted LSB-group first
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # emit group k (k=0..max) of every value that has >= k+1 groups
    maxg = int(nbytes.max())
    shifted = v.copy()
    for k in range(maxg):
        mask = nbytes > k
        idx = starts[mask] + k
        last = (nbytes[mask] - 1) == k
        byte = (shifted[mask] & np.uint64(0x7F)).astype(np.uint8)
        byte[last] |= 0x80
        out[idx] = byte
        shifted >>= np.uint64(7)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> int64 array."""
    if not buf:
        return np.empty(0, dtype=np.int64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_last = (raw & 0x80) != 0
    # group index of each byte within its value: position since last terminator
    val_id = np.zeros(raw.size, dtype=np.int64)
    val_id[1:] = np.cumsum(is_last[:-1])
    n_vals = int(is_last.sum())
    # shift amount = index of byte within its value * 7
    first_of_val = np.ones(raw.size, dtype=bool)
    first_of_val[1:] = is_last[:-1]
    byte_pos = np.arange(raw.size) - np.maximum.accumulate(
        np.where(first_of_val, np.arange(raw.size), 0))
    contrib = (raw & 0x7F).astype(np.uint64) << (byte_pos.astype(np.uint64) * np.uint64(7))
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, val_id, contrib)
    return out.astype(np.int64)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    a = np.asarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.int64)
    return np.cumsum(g)


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """doc_ids must be sorted ascending."""
    return varbyte_encode(delta_encode(doc_ids)), varbyte_encode(tfs)


def decode_postings(docs_bin: bytes, tfs_bin: bytes) -> tuple[np.ndarray, np.ndarray]:
    return delta_decode(varbyte_decode(docs_bin)), varbyte_decode(tfs_bin)


def encode_positions(tfs: np.ndarray, flat_positions: np.ndarray) -> bytes:
    """Per-doc delta-encoded positions, concatenated. ``flat_positions`` is
    the concatenation of each doc's sorted position list; ``tfs`` gives the
    per-doc counts (sum(tfs) == len(flat_positions))."""
    pos = np.asarray(flat_positions, dtype=np.int64)
    if pos.size == 0:
        return b""
    tfs = np.asarray(tfs, dtype=np.int64)
    gaps = np.empty_like(pos)
    gaps[0] = pos[0]
    np.subtract(pos[1:], pos[:-1], out=gaps[1:])
    # reset the delta chain at each doc boundary (first position absolute)
    starts = np.cumsum(tfs)[:-1]
    gaps[starts] = pos[starts]
    return varbyte_encode(gaps)


def decode_positions(pos_bin: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions -> flat absolute positions array."""
    gaps = varbyte_decode(pos_bin)
    if gaps.size == 0:
        return gaps
    tfs = np.asarray(tfs, dtype=np.int64)
    # segmented cumsum: subtract the running total at each doc start
    csum = np.cumsum(gaps)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    base = np.repeat(csum[starts] - gaps[starts], tfs)
    return csum - base


def varbyte_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length of each value (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        mask = tmp > 0
        if not mask.any():
            break
        nbits[mask] += 1
        tmp >>= np.uint64(7)
    return np.maximum(nbits, 1)


def encode_blocks_multi_buffers(doc_ids: np.ndarray, tfs: np.ndarray,
                                dls: np.ndarray, group_starts: np.ndarray,
                                block_size: int) -> dict:
    """Vectorized block encode over MANY groups at once.

    Input rows must be sorted so each group is contiguous and doc_ids are
    ascending within a group; ``group_starts`` is a boolean flag per row.
    Blocks start at group starts and every ``block_size`` rows within a
    group, and each block's doc-gap chain restarts with an absolute id, so
    blocks decode independently. Each stream comes back as ONE contiguous
    varbyte buffer plus an int32 block-offsets array, ready to become an
    Arrow binary column zero-copy (``pa.Array.from_buffers``): a million
    tail-term blocks cost one buffer, not a million ``bytes`` objects.
    ``row_start`` is each block's first row, ``seq`` its ordinal within
    its group."""
    n = len(doc_ids)
    gidx = np.flatnonzero(group_starts)
    glen = np.diff(np.append(gidx, n))
    within = np.arange(n) - np.repeat(gidx, glen)
    is_start = group_starts | (within % block_size == 0)
    starts = np.flatnonzero(is_start)
    ends = np.append(starts[1:], n)

    gaps = np.empty(n, dtype=np.int64)
    if n:
        gaps[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
        gaps[starts] = doc_ids[starts]

    def enc(stream: np.ndarray) -> tuple[bytes, np.ndarray]:
        lens = varbyte_lengths(stream)
        offs = np.concatenate(([0], np.cumsum(lens)))
        # block-boundary offsets into the single encoded buffer
        return varbyte_encode(stream), np.append(
            offs[starts], offs[-1]).astype(np.int32)

    grp_of_block = np.searchsorted(gidx, starts, side="right") - 1
    first_block_of_grp = np.searchsorted(starts, gidx)
    seq = np.arange(len(starts)) - first_block_of_grp[grp_of_block]

    docs_buf, docs_off = enc(gaps)
    tfs_buf, tfs_off = enc(np.asarray(tfs, np.int64))
    dls_buf, dls_off = enc(np.asarray(dls, np.int64))
    return {
        "row_start": starts,
        "seq": seq,
        "n_docs": (ends - starts).astype(np.int32),
        "first_doc": doc_ids[starts],
        "last_doc": doc_ids[ends - 1],
        "docs_buf": docs_buf, "docs_off": docs_off,
        "tfs_buf": tfs_buf, "tfs_off": tfs_off,
        "dls_buf": dls_buf, "dls_off": dls_off,
    }
