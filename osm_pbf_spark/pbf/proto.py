"""Protobuf wire-format primitives (SURVEY.md §2.2 D1).

Public protobuf wire format: varint (type 0), fixed64 (1), length-
delimited (2), fixed32 (5). OSM-PBF uses only varint + length-delimited.

Two decode paths:
- a scalar message walker (``fields``/``walk``) for message skeletons —
  blocks have only a handful of fields each, so Python-level is fine;
- a numpy-vectorized packed-varint kernel (``decode_packed_varints``)
  for the hot arrays (ids / lats / lons / refs / keys_vals), where one
  DenseNodes block holds ~8000*3 varints.
"""

from __future__ import annotations

import numpy as np

WT_VARINT = 0
WT_FIXED64 = 1
WT_LEN = 2
WT_FIXED32 = 5


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Scalar varint read -> (value, new_pos). Max 10 bytes (uint64)."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result & 0xFFFFFFFFFFFFFFFF, pos
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long")


def zigzag_decode(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def to_signed64(u: int) -> int:
    """Interpret a varint as two's-complement int64 (spec plain int32/int64
    fields, e.g. PrimitiveBlock.lat_offset/lon_offset, may be negative)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def zigzag_decode_np(u: np.ndarray) -> np.ndarray:
    """Vectorized zigzag: works on uint64, returns int64."""
    u = np.asarray(u, dtype=np.uint64)
    return ((u >> np.uint64(1)) ^ (~(u & np.uint64(1)) + np.uint64(1))).astype(np.int64)


def fields(buf: bytes | memoryview) -> dict[int, list]:
    """Walk one message; group values by field number.

    varint fields -> int; length-delimited -> memoryview (caller decides
    whether it's a submessage, string, or packed array). fixed32/64 kept
    as raw ints for completeness (unused by OSM-PBF).
    """
    out: dict[int, list] = {}
    mv = memoryview(buf)
    pos = 0
    end = len(mv)
    while pos < end:
        tag, pos = read_varint(mv, pos)
        fno = tag >> 3
        wt = tag & 0x7
        if wt == WT_VARINT:
            val, pos = read_varint(mv, pos)
        elif wt == WT_LEN:
            ln, pos = read_varint(mv, pos)
            val = mv[pos : pos + ln]
            pos += ln
        elif wt == WT_FIXED64:
            val = int.from_bytes(mv[pos : pos + 8], "little")
            pos += 8
        elif wt == WT_FIXED32:
            val = int.from_bytes(mv[pos : pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt} (field {fno})")
        out.setdefault(fno, []).append(val)
    return out


def decode_packed_varints(data: bytes | memoryview) -> np.ndarray:
    """Vectorized decode of a packed varint array -> uint64 ndarray.

    Algorithm: terminator bytes have the high bit clear. Locate them,
    derive per-varint (start, length), then accumulate 7-bit groups with
    a broadcasted gather over byte offsets 0..9 (varints are <= 10
    bytes). O(10) vectorized passes regardless of element count — the
    hot-path replacement for protobuf-c's scalar loops.
    """
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    term = (b & 0x80) == 0
    ends = np.flatnonzero(term)
    if ends.size == 0 or ends[-1] != b.size - 1:
        raise ValueError("truncated packed varint array")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    if lengths.max(initial=0) > 10:
        raise ValueError("varint longer than 10 bytes")
    vals = np.zeros(len(starts), dtype=np.uint64)
    b64 = b.astype(np.uint64)
    for k in range(int(lengths.max())):
        sel = lengths > k
        byte = b64[starts[sel] + k]
        vals[sel] |= (byte & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals


def decode_packed_sint(data: bytes | memoryview) -> np.ndarray:
    """Packed sint64 (zigzag) -> int64 ndarray."""
    return zigzag_decode_np(decode_packed_varints(data))


def batch_repeated_scalar(
    vals_lists: list[list], packed_sint: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Decode ONE repeated-scalar field across MANY messages in a single
    vectorized pass -> (flat_values, per_message_counts).

    Per-message numpy kernels cost ~30us of fixed overhead each; a way
    has ~10 refs, so per-way decoding was overhead-dominated (measured
    ~4x the per-entity cost of the dense-node path). Packed varint
    chunks concatenate into a still-valid packed stream (every varint
    ends with a terminator byte), so all messages decode in one kernel
    call; per-message counts come from a cumulative count of terminator
    bytes at chunk boundaries (correct for empty chunks too).

    Falls back to the per-message path if any value arrived UNPACKED
    (bare varint instead of a length-delimited chunk) — legal but
    unused by real encoders.
    """
    for vl in vals_lists:
        for v in vl:
            if not isinstance(v, (bytes, bytearray, memoryview)):
                flats = [repeated_scalar(vl, packed_sint) for vl in vals_lists]
                counts = np.fromiter((len(f) for f in flats), np.int64, len(flats))
                flat = (
                    np.concatenate(flats) if flats else np.empty(0, dtype=np.int64)
                )
                return flat, counts
    bufs = [b"".join(vl) if len(vl) != 1 else vl[0] for vl in vals_lists]
    lens = np.fromiter((len(b) for b in bufs), np.int64, len(bufs))
    big = b"".join(bufs)
    u = decode_packed_varints(big)
    if len(big):
        term = ((np.frombuffer(big, dtype=np.uint8) & 0x80) == 0).astype(np.int64)
        cum = np.concatenate(([0], np.cumsum(term)))
        ends = np.cumsum(lens)
        starts = ends - lens
        counts = cum[ends] - cum[starts]
    else:
        counts = np.zeros(len(bufs), dtype=np.int64)
    flat = zigzag_decode_np(u) if packed_sint else u.astype(np.int64)
    return flat, counts


def segmented_cumsum(flat: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment cumulative sum (delta -> absolute) without a Python
    loop: global cumsum minus each segment's preceding total."""
    if flat.size == 0:
        return flat.astype(np.int64)
    c = np.cumsum(flat, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    nz = counts > 0
    seg_starts = starts[nz]
    base = c[seg_starts] - flat[seg_starts]
    return c - np.repeat(base, counts[nz])


def repeated_scalar(vals: list, packed_sint: bool = False) -> np.ndarray:
    """Normalize a protobuf repeated scalar field that may arrive either
    packed (length-delimited chunks) or unpacked (individual varints)."""
    chunks = []
    for v in vals:
        if isinstance(v, (bytes, memoryview)):
            chunks.append(decode_packed_varints(v))
        else:
            chunks.append(np.array([v], dtype=np.uint64))
    u = np.concatenate(chunks) if chunks else np.empty(0, dtype=np.uint64)
    return zigzag_decode_np(u) if packed_sint else u.astype(np.int64)
