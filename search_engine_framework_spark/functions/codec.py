"""Posting-block codec: delta-gap + varint compression with block-max metadata.

The reference holds postings as Java object vectors
(/root/reference/src/InvList.java:21-52 — ``(docid, tf, positions)``,
docid-ascending). At 10^12-turn scale that representation is the bottleneck,
so our segments store fixed-size blocks of postings as LEB128-varint byte
columns:

  block = struct<first_doc:long, last_doc:long, n:int, max_tf:int,
                 docs:binary, tfs:binary, doclens:binary, poss:binary>

* ``docs``    — varint gaps: doc_id deltas from the previous doc in the block
                (first delta is from ``first_doc``, i.e. 0).
* ``tfs``     — varint term frequencies.
* ``doclens`` — varint per-document field lengths. Duplicating doclen into
                the posting block makes query-time BM25/Indri scoring
                **join-free** (no 10^12-row doclen join per term).
* ``poss``    — per posting: varint n_positions, then varint position deltas.
* ``max_tf``  — block-max metadata: the largest tf in the block. Part of
                the segment format; ``IndexReader.term_stats`` reports its
                per-term maximum.

Encode/decode run inside Arrow-vectorized pandas UDFs; the hot paths here
are NumPy-vectorized (a whole posting group encodes as a handful of array
ops — no per-value Python). The ``*_py`` reference implementations are the
oracle the property tests cross-check the byte format against.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128


# --------------------------------------------------------------------------
# pure-Python reference implementations (test oracle for the byte format)
# --------------------------------------------------------------------------

def varint_encode_py(values) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        if v < 0:
            raise ValueError(f"varint_encode: negative value {v}")
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def varint_decode_py(buf: bytes) -> list[int]:
    out: list[int] = []
    cur = 0
    shift = 0
    for byte in buf:
        cur |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            out.append(cur)
            cur = 0
            shift = 0
    if shift:
        raise ValueError("varint_decode: truncated buffer")
    return out


# --------------------------------------------------------------------------
# NumPy-vectorized hot paths (identical byte format)
# --------------------------------------------------------------------------

def _varint_bytes(buf: np.ndarray, vals: np.ndarray, starts: np.ndarray) -> None:
    """Write LEB128 varints of ``vals`` into ``buf`` at byte offsets
    ``starts`` — one masked pass per byte position (≤ ceil(64/7) passes,
    in practice 1-3 since gaps/tfs/deltas are small)."""
    rem = vals.copy()
    idx = starts.copy()
    active = np.ones(len(vals), dtype=bool)
    while active.any():
        byte = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem = rem >> np.uint64(7)
        cont = rem > 0
        byte[cont] |= 0x80
        buf[idx[active]] = byte[active]
        idx[active] += 1
        active &= cont


def varint_encode(values) -> bytes:
    """Vectorized LEB128 encode (accepts list or ndarray)."""
    vals = np.asarray(values, dtype=np.uint64)
    if vals.size == 0:
        return b""
    if np.asarray(values).min() < 0:
        raise ValueError("varint_encode: negative value")
    nbytes = _varint_lengths(vals)
    starts = np.zeros(len(vals), dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    buf = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    _varint_bytes(buf, vals, starts)
    return buf.tobytes()


def _varint_lengths(vals: np.ndarray) -> np.ndarray:
    """Byte length of each value's varint encoding."""
    nbytes = np.ones(len(vals), dtype=np.int64)
    tmp = vals >> np.uint64(7)
    while tmp.any():
        nbytes += tmp > 0
        tmp = tmp >> np.uint64(7)
    return nbytes


def varint_decode(buf: bytes) -> list[int]:
    return varint_decode_np(buf).tolist()


def varint_decode_np(buf) -> np.ndarray:
    """Vectorized LEB128 decode → uint64 array."""
    a = np.frombuffer(bytes(buf), dtype=np.uint8)
    if a.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((a & 0x80) == 0)
    if ends.size == 0 or ends[-1] != a.size - 1:
        raise ValueError("varint_decode: truncated buffer")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    for k in range(int(lengths.max())):
        m = lengths > k
        vals[m] |= (a[starts[m] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * k
        )
    return vals


@dataclass
class Block:
    first_doc: int
    last_doc: int
    n: int
    max_tf: int
    docs: bytes
    tfs: bytes
    doclens: bytes
    poss: bytes


def _split_encoded(vals: np.ndarray, bounds: np.ndarray) -> list[bytes]:
    """Encode ``vals`` once, then split the byte stream at the value indices
    in ``bounds`` (so per-block byte strings come from ONE vectorized
    encode instead of one call per block)."""
    if vals.size == 0:
        return []
    nbytes = _varint_lengths(vals)
    starts = np.zeros(len(vals), dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    buf = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    _varint_bytes(buf, vals, starts)
    raw = buf.tobytes()
    byte_bounds = [int(starts[b]) for b in bounds[1:-1]] + [len(raw)]
    out = []
    prev = 0
    for b in byte_bounds:
        out.append(raw[prev:b])
        prev = b
    return out


def encode_pos_blob(positions) -> bytes:
    """One posting's positions → the ``poss``-stream fragment
    ``varint(count) varint(delta0) varint(delta1) ...``.

    This runs inside the tokenizer UDF (index build time) so the big
    term-partitioning shuffle carries ~1 byte/position binary blobs instead
    of ``array<int>`` columns, and the segment encoder concatenates blobs
    instead of re-encoding the position stream.
    """
    prev = 0
    vals = [len(positions)]
    for p in positions:
        vals.append(p - prev)
        prev = p
    if max(vals) < 0x80:
        # every value fits one varint byte — true for almost every posting
        # of a short-turn corpus (tf small, position deltas < 128); bytes()
        # of the list IS the varint stream, no per-byte loop.
        return bytes(vals)
    out = bytearray()
    for v in vals:  # positions are tiny lists; the loop beats NumPy here
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def encode_blocks_from_blobs(
    doc_ids,
    tfs,
    doclens,
    pos_blobs,
    block_size: int = BLOCK_SIZE,
) -> list[Block]:
    """Encode docid-ascending postings whose positions are ALREADY
    per-posting ``poss`` fragments (``encode_pos_blob``) into fixed-size
    blocks: gap/tf/doclen streams are single vectorized NumPy passes; the
    ``poss`` stream is a bytes join — no position re-encoding."""
    d = np.asarray(doc_ids, dtype=np.int64)
    n = d.size
    if n == 0:
        return []
    tf_arr = np.asarray(tfs, dtype=np.int64)
    dl_arr = np.asarray(doclens, dtype=np.int64)

    block_starts = np.arange(0, n, block_size, dtype=np.int64)
    n_blocks = len(block_starts)

    # doc gaps, reset to 0 at every block start
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = 0
    gaps[1:] = d[1:] - d[:-1]
    gaps[block_starts] = 0

    bounds = np.append(block_starts, n)
    docs_parts = _split_encoded(gaps.astype(np.uint64), bounds)
    tfs_parts = _split_encoded(tf_arr.astype(np.uint64), bounds)
    dls_parts = _split_encoded(dl_arr.astype(np.uint64), bounds)

    block_max_tf = np.maximum.reduceat(tf_arr, block_starts)
    blocks = []
    for i in range(n_blocks):
        s = int(block_starts[i])
        e = int(bounds[i + 1])
        blocks.append(
            Block(
                first_doc=int(d[s]),
                last_doc=int(d[e - 1]),
                n=e - s,
                max_tf=int(block_max_tf[i]),
                docs=docs_parts[i],
                tfs=tfs_parts[i],
                doclens=dls_parts[i],
                poss=b"".join(pos_blobs[s:e]),
            )
        )
    return blocks


def encode_blocks_from_blob_stream(
    doc_ids,
    tfs,
    doclens,
    blob_data: np.ndarray,
    blob_offsets: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> list[Block]:
    """Like ``encode_blocks_from_blobs`` but the per-posting ``poss``
    fragments live CONTIGUOUSLY (already in posting order) in one byte
    buffer with an offsets array — the Arrow BinaryArray layout. A block's
    ``poss`` stream is then a single buffer slice instead of a Python-level
    ``b"".join`` over per-row bytes objects (the join was the last
    per-posting Python object left in the encode path)."""
    d = np.asarray(doc_ids, dtype=np.int64)
    n = d.size
    if n == 0:
        return []
    tf_arr = np.asarray(tfs, dtype=np.int64)
    dl_arr = np.asarray(doclens, dtype=np.int64)

    block_starts = np.arange(0, n, block_size, dtype=np.int64)
    n_blocks = len(block_starts)

    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = 0
    gaps[1:] = d[1:] - d[:-1]
    gaps[block_starts] = 0

    bounds = np.append(block_starts, n)
    docs_parts = _split_encoded(gaps.astype(np.uint64), bounds)
    tfs_parts = _split_encoded(tf_arr.astype(np.uint64), bounds)
    dls_parts = _split_encoded(dl_arr.astype(np.uint64), bounds)

    block_max_tf = np.maximum.reduceat(tf_arr, block_starts)
    blocks = []
    for i in range(n_blocks):
        s = int(block_starts[i])
        e = int(bounds[i + 1])
        blocks.append(
            Block(
                first_doc=int(d[s]),
                last_doc=int(d[e - 1]),
                n=e - s,
                max_tf=int(block_max_tf[i]),
                docs=docs_parts[i],
                tfs=tfs_parts[i],
                doclens=dls_parts[i],
                poss=blob_data[blob_offsets[s]:blob_offsets[e]].tobytes(),
            )
        )
    return blocks


def encode_blocks(
    doc_ids,
    tfs,
    doclens,
    positions,
    block_size: int = BLOCK_SIZE,
) -> list[Block]:
    """Encode docid-ascending postings (positions as int lists) into
    fixed-size blocks. Thin wrapper over ``encode_blocks_from_blobs`` —
    identical byte format either way."""
    blobs = [encode_pos_blob(p) for p in positions]
    return encode_blocks_from_blobs(
        doc_ids, tfs, doclens, blobs, block_size=block_size
    )


def decode_block(block) -> tuple[list[int], list[int], list[int], list[list[int]]]:
    """Block (dataclass, Row, or dict) → (doc_ids, tfs, doclens, positions)."""
    get = block.get if isinstance(block, dict) else lambda k: getattr(block, k)
    gaps = varint_decode_np(get("docs")).astype(np.int64)
    doc_ids = (np.cumsum(gaps) + int(get("first_doc"))).tolist()
    tfs = varint_decode_np(get("tfs")).astype(np.int64).tolist()
    doclens = varint_decode_np(get("doclens")).astype(np.int64).tolist()
    stream = varint_decode_np(get("poss")).astype(np.int64)
    positions = _split_pos_stream(stream, len(doc_ids))
    return doc_ids, tfs, doclens, positions


def _split_pos_stream(stream: np.ndarray, n_postings: int) -> list[list[int]]:
    """[count, d0, d1, ...]* → per-posting absolute position lists."""
    positions: list[list[int]] = []
    i = 0
    for _ in range(n_postings):
        npos = int(stream[i])
        i += 1
        positions.append(np.cumsum(stream[i:i + npos]).tolist())
        i += npos
    return positions


def decode_block_arrays(block) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized decode → (doc_ids, tfs, doclens, pos_counts, flat_positions)
    as NumPy arrays; flat_positions concatenates all postings' absolute
    positions (the delta cumsum resets at each posting). The fast path for
    query-time posting scans that don't need per-posting Python lists.

    Uses the index invariant that a posting's position count equals its tf
    (every term occurrence carries a position) to locate the count slots
    without a serial scan; falls back to the scan if the invariant doesn't
    hold (e.g. foreign data).
    """
    get = block.get if isinstance(block, dict) else lambda k: getattr(block, k)
    gaps = varint_decode_np(get("docs")).astype(np.int64)
    doc_ids = np.cumsum(gaps) + int(get("first_doc"))
    tfs = varint_decode_np(get("tfs")).astype(np.int64)
    doclens = varint_decode_np(get("doclens")).astype(np.int64)
    stream = varint_decode_np(get("poss")).astype(np.int64)
    n = len(doc_ids)
    if stream.size == 0:
        return doc_ids, tfs, doclens, np.zeros(n, dtype=np.int64), stream

    cstarts = np.zeros(n, dtype=np.int64)
    np.cumsum(tfs[:-1], out=cstarts[1:])
    count_slots = np.arange(n, dtype=np.int64) + cstarts
    if count_slots[-1] < stream.size and np.array_equal(stream[count_slots], tfs):
        counts = tfs
    else:  # fallback: serial count-slot walk
        counts = np.empty(n, dtype=np.int64)
        slot = 0
        for i in range(n):
            counts[i] = stream[slot]
            slot += 1 + counts[i]
        cstarts = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=cstarts[1:])
        count_slots = np.arange(n, dtype=np.int64) + cstarts

    mask = np.ones(stream.size, dtype=bool)
    mask[count_slots] = False
    deltas = stream[mask]
    flat = np.cumsum(deltas)
    if deltas.size:
        # subtract each posting's starting offset so the cumsum restarts
        nz = counts > 0
        seg_starts = cstarts[nz]
        offs = np.zeros(seg_starts.size, dtype=np.int64)
        gt = seg_starts > 0
        offs[gt] = flat[seg_starts[gt] - 1]
        flat = flat - np.repeat(offs, counts[nz])
    return doc_ids, tfs, doclens, counts, flat


def merge_block_runs(runs: list[list[Block]]) -> list[Block]:
    """Merge salt sub-segment block runs whose doc ranges are disjoint and
    ordered (range-salted builds guarantee this): concatenation, no decode."""
    flat = [b for run in runs for b in run]
    flat.sort(key=lambda b: b.first_doc)
    for i in range(1, len(flat)):
        if flat[i].first_doc <= flat[i - 1].last_doc:
            raise ValueError("merge_block_runs: overlapping doc ranges")
    return flat
