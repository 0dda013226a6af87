"""Posting-list compression: delta + varint (LEB128) block codec with
block-max metadata.

Replaces the reference's ``CboRoaringBitmapCodec``
(``src/heed_codec/roaring_bitmap/cbo_roaring_bitmap_codec.rs:15-58`` — <=7
ints raw, else roaring) with the layout the north rule mandates: sorted
docids -> per-block delta gaps -> varint bytes, fixed-size blocks carrying
(first_docid, max_docid, max_impact) so query-time block-max WAND can skip
whole blocks without decoding, plus per-block byte offsets for random access.

Everything is numpy-vectorized (no per-value Python in encode/decode hot
paths); these functions run inside Arrow-batched pandas UDFs.

A posting list for one ``(term, shard)`` group is four byte strings + a
metadata list:

* ``docs``  — per block: delta-encoded docids (block's first docid is stored
  in metadata; within the block value i>0 is ``docid[i] - docid[i-1]``, and
  value 0 is ``docid[0] - first_docid == 0`` so blocks decode independently).
* ``tfs``   — varint term frequencies, blocked at the same boundaries.
* ``dls``   — varint document lengths (denormalized into the posting so BM25
  scoring needs NO join against doc_stats at query time — at 10^12 docs a
  docid->dl join would be the dominant shuffle).
* ``poss``  — optional: per document, delta-encoded positions (first position
  absolute); the per-doc position count equals tf, so no length prefix.

``max_impact`` is the block max of ``tf / (tf + k1*(1 - b + b*dl/avgdl))``,
i.e. the document-dependent BM25 factor excluding idf. Query-time upper
bound for a term within a block = ``idf(term) * max_impact``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_BOUNDS = np.array([1 << (7 * i) for i in range(1, 10)], dtype=np.uint64)
# dtype-matched bound tables so narrow inputs (uint16 tf, uint32 dl/gap/
# position temporaries — the 8->32 byte diet) never pay a uint64 upcast
# copy in searchsorted: LEB128 bytes depend only on the VALUE, so the
# narrow-dtype encode is byte-identical to the uint64 one (tested).
_BOUNDS_BY_SIZE = {
    1: np.array([1 << 7], dtype=np.uint8),
    2: np.array([1 << 7, 1 << 14], dtype=np.uint16),
    4: np.array([1 << (7 * i) for i in range(1, 5)], dtype=np.uint32),
    8: _BOUNDS,
}


def _as_unsigned(values: np.ndarray) -> np.ndarray:
    """Contiguous same-width unsigned view of an integer array (no copy for
    signed inputs — callers guarantee non-negative values)."""
    v = np.ascontiguousarray(values)
    if v.dtype.kind == "i":
        v = v.view(f"u{v.dtype.itemsize}")
    elif v.dtype.kind != "u":
        v = np.ascontiguousarray(values, dtype=np.uint64)
    return v


def varint_encode(values: np.ndarray, nb: np.ndarray | None = None) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized).

    Dtype-native: a uint16/uint32 input is encoded without any widening
    copy (bytes depend only on values, so output is identical across
    dtypes). ``nb``: optional precomputed per-value byte counts
    (``varint_nbytes``) so callers that also need the counts
    (``varint_encode_runs``) pay the searchsorted once. All-single-byte
    inputs (small gaps/tfs — the common posting payload) short-circuit to
    one astype."""
    v = _as_unsigned(values)
    if v.size == 0:
        return b""
    if nb is None:
        bounds = _BOUNDS_BY_SIZE[v.dtype.itemsize]
        nb = (np.searchsorted(bounds, v, side="right") + 1).astype(np.int64)
    max_nb = int(nb.max())
    if max_nb == 1:
        return v.astype(np.uint8).tobytes()
    offsets = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nb[:-1], out=offsets[1:])
    total = int(offsets[-1] + nb[-1])
    out = np.zeros(total, dtype=np.uint8)
    t = v.dtype.type
    for j in range(max_nb):
        mask = nb > j
        idx = offsets[mask] + j
        byte = ((v[mask] >> t(7 * j)) & t(0x7F)).astype(np.uint8)
        if j + 1 < max_nb:
            byte |= (nb[mask] > j + 1).astype(np.uint8) << 7
        out[idx] = byte
    return out.tobytes()


def varint_decode(
    buf: bytes | memoryview, n: int | None = None, dtype=np.uint64
) -> np.ndarray:
    """Decode LEB128 bytes back to unsigned ints (vectorized).

    ``dtype``: output dtype (default uint64). Passing uint32 for streams
    whose values are known < 2**32 (tf/dl/position payloads) halves the
    decode's memory traffic — the accumulator array IS the output. Raises
    if the stream holds a value wider than ``dtype``.

    Per-BYTE-POSITION passes (at most 10), each a plain gather + shifted OR
    into a value-indexed array — no scatter (``np.add.at`` here measured
    ~10x slower than these gathers on posting-sized buffers). The all-
    single-byte case (small gaps/tfs — the common posting payload) is one
    astype."""
    dt = np.dtype(dtype)
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=dt)
    terminal = b < 0x80
    term_pos = np.flatnonzero(terminal)
    n_vals = len(term_pos)
    if n is not None and n != n_vals:
        raise ValueError(f"expected {n} varints, found {n_vals}")
    if n_vals == b.size:  # every byte terminal: all values < 128
        return b.astype(dt)
    starts = np.empty(n_vals, dtype=np.int64)
    starts[0] = 0
    starts[1:] = term_pos[:-1] + 1
    lens = term_pos - starts + 1
    vals = (b[starts] & np.uint8(0x7F)).astype(dt)
    max_len = int(lens.max())
    width = 8 * dt.itemsize
    if 7 * (max_len - 1) >= width:
        raise ValueError(
            f"varint stream holds {max_len}-byte values; too wide for {dt}"
        )
    if 7 * max_len > width:
        # boundary length: the terminal byte may carry bits past the dtype
        # (a 5-byte varint holds up to 35 bits; uint32 has 32) — byte count
        # alone can't catch it, so check the top byte's value. Only
        # max_len-long values can overflow (shorter ones fit by the guard
        # above); one gather over that usually-tiny subset.
        tb = b[term_pos[lens == max_len]]
        if tb.size and int(tb.max()) >= (1 << (width - 7 * (max_len - 1))):
            raise ValueError(f"varint stream holds values too wide for {dt}")
    t = dt.type
    sel = np.flatnonzero(lens > 1)
    for j in range(1, max_len):
        vals[sel] |= (b[starts[sel] + j] & np.uint8(0x7F)).astype(
            dt
        ) << t(7 * j)
        if j + 1 < max_len:
            sel = sel[lens[sel] > j + 1]
    return vals


def delta_encode(sorted_values: np.ndarray, base: int = 0) -> np.ndarray:
    v = np.ascontiguousarray(sorted_values, dtype=np.int64)
    out = np.empty_like(v)
    if v.size:
        out[0] = v[0] - base
        np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray, base: int = 0) -> np.ndarray:
    d = deltas.astype(np.int64, copy=True)
    if d.size:
        d[0] += base
        np.cumsum(d, out=d)
    return d


def varint_nbytes(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte counts (int64) for non-negative ints
    (dtype-native: no widening copy for narrow inputs)."""
    v = _as_unsigned(values)
    bounds = _BOUNDS_BY_SIZE[v.dtype.itemsize]
    return (np.searchsorted(bounds, v, side="right") + 1).astype(np.int64)


def varint_encode_runs(
    values: np.ndarray, run_value_offsets: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Varint-encode a flat value array once and return the BYTE offsets that
    cut the encoded buffer at the given value offsets (len = n_runs + 1).

    Varint streams are self-delimiting, so slicing the single encoded buffer
    at these offsets yields exactly per-run ``varint_encode(run_values)`` —
    the building block for emitting thousands of per-(term, shard) runs from
    one vectorized pass (no per-run Python encode calls).
    """
    nb = varint_nbytes(values)
    buf = varint_encode(values, nb=nb)
    cum = np.zeros(len(nb) + 1, dtype=np.int64)
    np.cumsum(nb, out=cum[1:])
    return buf, cum[np.ascontiguousarray(run_value_offsets, dtype=np.int64)]


def delta_encode_runs(values: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """Per-run delta encode a flat array of concatenated ascending runs:
    each run's first value stays ABSOLUTE, later values become gaps —
    so runs decode independently (``delta_decode_runs``).

    Dtype-native (byte-diet): within a run values ascend so gaps are
    non-negative in the input dtype; any cross-run wraparound of the raw
    diff is immediately overwritten with the absolute run-start value."""
    v = np.ascontiguousarray(values)
    out = np.empty_like(v)
    if v.size:
        out[0] = v[0]
        np.subtract(v[1:], v[:-1], out=out[1:])
        out[run_starts] = v[run_starts]
    return out


def delta_decode_runs(deltas: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """Inverse of ``delta_encode_runs``: one global cumsum + a per-run base
    correction (vectorized segmented prefix sum)."""
    d = np.ascontiguousarray(deltas, dtype=np.int64)
    if not d.size:
        return d
    c = np.cumsum(d)
    starts = np.ascontiguousarray(run_starts, dtype=np.int64)
    if len(starts) <= 1:
        return c
    # base[i] = cumsum just before run i (0 for run 0); runs start absolute,
    # so subtracting the pre-run cumsum restores each run's values
    base = np.concatenate(([0], c[starts[1:] - 1]))
    reps = np.diff(np.append(starts, len(d)))
    return c - np.repeat(base, reps)


def bm25_impact(
    tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float,
    weight: float = 1.0,
) -> np.ndarray:
    """The one BM25 kernel: weight * tf / (tf + k1*(1 - b + b*dl/avgdl)).
    ``weight`` 1.0 gives the document-dependent impact the block-max
    metadata stores; a term's idf weight gives its score contribution."""
    tf = tf.astype(np.float64)
    denom = tf + k1 * (1.0 - b + b * dl.astype(np.float64) / max(avgdl, 1e-12))
    return weight * tf / denom


@dataclass
class EncodedPostings:
    n_docs: int
    docs: bytes
    tfs: bytes
    dls: bytes
    poss: bytes  # b"" when positions not stored
    # parallel per-block arrays
    first_docid: np.ndarray
    max_docid: np.ndarray
    max_impact: np.ndarray
    doc_off: np.ndarray  # byte offset of block start in `docs` (+ end sentinel)
    tf_off: np.ndarray
    dl_off: np.ndarray
    pos_off: np.ndarray

    def block_meta_rows(self) -> list[dict]:
        nb = len(self.first_docid)
        return [
            {
                "first_docid": int(self.first_docid[i]),
                "max_docid": int(self.max_docid[i]),
                "max_impact": float(self.max_impact[i]),
                "doc_off": int(self.doc_off[i]),
                "tf_off": int(self.tf_off[i]),
                "dl_off": int(self.dl_off[i]),
                "pos_off": int(self.pos_off[i]),
            }
            for i in range(nb)
        ]


def encode_postings(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: "list[np.ndarray] | tuple[np.ndarray, np.ndarray] | None",
    *,
    block_size: int,
    avgdl: float,
    k1: float,
    b: float,
) -> EncodedPostings:
    """Encode one (term, shard) posting list. ``docids`` must be sorted asc
    and unique; ``positions`` (if given) is either a list of per-posting
    arrays (each sorted asc, len == tfs[i]) or the equivalent pre-flattened
    ``(flat_values, per_posting_lens)`` pair — the hot build path passes the
    flat form so no per-posting Python objects are created."""
    n = int(len(docids))
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    impacts = bm25_impact(tfs, dls, avgdl, k1, b)

    starts = np.arange(0, n, block_size, dtype=np.int64)
    ends = np.minimum(starts + block_size, n)
    nb = len(starts)

    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        z1 = np.zeros(1, dtype=np.int64)
        return EncodedPostings(0, b"", b"", b"", b"", z, z, z.astype(np.float64),
                               z1, z1, z1, z1)

    # LEB128 concatenates per value, so one whole-array encode plus byte
    # offsets sliced at block boundaries is bit-identical to per-block
    # encodes — this keeps the hot path fully vectorized (one numpy pass
    # per stream instead of a Python loop per block).
    def _venc(vals: np.ndarray, value_starts: np.ndarray) -> tuple[bytes, np.ndarray]:
        v = np.ascontiguousarray(vals, dtype=np.uint64)
        if v.size == 0:
            return b"", np.zeros(len(value_starts) + 1, dtype=np.int64)
        nbytes = (np.searchsorted(_BOUNDS, v, side="right") + 1).astype(np.int64)
        voff = np.zeros(v.size + 1, dtype=np.int64)
        np.cumsum(nbytes, out=voff[1:])
        buf = varint_encode(v)
        return buf, np.concatenate((voff[value_starts], voff[-1:]))

    first_docid = docids[starts]
    max_docid = docids[ends - 1]
    max_impact = np.maximum.reduceat(impacts, starts)

    deltas = delta_encode(docids)
    deltas[starts] = 0  # block-local: first delta of each block is 0 (base
    # = first_docid from metadata), so blocks decode independently
    docs_b, doc_off = _venc(deltas, starts)
    tfs_b, tf_off = _venc(tfs, starts)
    dls_b, dl_off = _venc(dls, starts)

    if positions is not None:
        if isinstance(positions, tuple):
            flat, lens = positions
            flat = np.ascontiguousarray(flat, dtype=np.int64)
            lens = np.ascontiguousarray(lens, dtype=np.int64)
        else:
            lens = np.fromiter((len(p) for p in positions), np.int64, n)
            flat = (np.concatenate(positions) if lens.sum()
                    else np.zeros(0, dtype=np.int64))
        doc_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=doc_starts[1:])
        pdeltas = delta_encode(flat.astype(np.int64))
        nz = doc_starts[lens > 0]  # reset delta at each doc's first position
        pdeltas[nz] = flat[nz]
        poss_b, pos_off = _venc(pdeltas, doc_starts[starts])
    else:
        poss_b, pos_off = b"", np.zeros(nb + 1, dtype=np.int64)

    return EncodedPostings(
        n_docs=n,
        docs=docs_b,
        tfs=tfs_b,
        dls=dls_b,
        poss=poss_b,
        first_docid=first_docid,
        max_docid=max_docid,
        max_impact=max_impact,
        doc_off=doc_off,
        tf_off=tf_off,
        dl_off=dl_off,
        pos_off=pos_off,
    )


def encode_postings_batch(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: "tuple[np.ndarray, np.ndarray] | None",
    term_starts: np.ndarray,
    *,
    block_size: int,
    avgdl: float,
    k1: float,
    b: float,
):
    """Encode MANY (term, shard) posting lists in one vectorized pass.

    ``docids``/``tfs``/``dls`` are the whole group's postings sorted by
    (term segment, docid); ``term_starts`` (len = n_terms) marks each
    term's first posting. ``positions`` is the group-flat
    (values, per-posting lens) pair.

    Byte-identical to calling :func:`encode_postings` per term (property-
    tested): the per-stream work collapses from O(n_terms) Python encode
    calls to ONE delta pass + ONE varint pass per stream, with the block
    cut points fed to ``varint_encode_runs``. Per-term outputs are byte
    slices of the single buffers; block metadata comes from ``reduceat``
    over the global block-start array.

    -> dict with per-term lists: ``n_docs, docs, tfs, dls, poss`` (bytes)
    and flat per-block arrays + ``block_offsets`` (len n_terms + 1) to cut
    them, each block row carrying
    (first_docid, max_docid, max_impact, doc_off, tf_off, dl_off, pos_off)
    with byte offsets RELATIVE to the owning term's slice.
    """
    n = int(len(docids))
    n_terms = len(term_starts)
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    # tf/dl keep their native width (uint32 from the decode path) — the
    # whole encode then runs without a single 8-byte temporary for them
    # (varint_* are dtype-native), halving this kernel's DRAM traffic
    tfs = np.ascontiguousarray(tfs)
    dls = np.ascontiguousarray(dls)
    term_starts = np.ascontiguousarray(term_starts, dtype=np.int64)
    term_ends = np.append(term_starts[1:], n)
    term_lens = term_ends - term_starts

    # global block structure: per term, ceil(len/bs) blocks of bs
    nb_t = (term_lens + block_size - 1) // block_size
    fb = np.zeros(n_terms + 1, dtype=np.int64)  # first block index per term
    np.cumsum(nb_t, out=fb[1:])
    total_blocks = int(fb[-1])
    within = np.arange(total_blocks, dtype=np.int64) - np.repeat(fb[:-1], nb_t)
    block_term = np.repeat(np.arange(n_terms, dtype=np.int64), nb_t)
    block_start = term_starts[block_term] + block_size * within
    block_end = np.minimum(block_start + block_size, term_ends[block_term])

    impacts = bm25_impact(tfs, dls, avgdl, k1, b)
    first_docid = docids[block_start]
    max_docid = docids[block_end - 1]
    max_impact = np.maximum.reduceat(impacts, block_start) if n else np.zeros(0)

    cuts = np.append(block_start, n)
    deltas = delta_encode(docids)
    deltas[block_start] = 0  # block-local: base = first_docid from metadata
    docs_buf, docs_off = varint_encode_runs(deltas, cuts)
    tfs_buf, tfs_off = varint_encode_runs(tfs, cuts)
    dls_buf, dls_off = varint_encode_runs(dls, cuts)

    if positions is not None:
        flat, lens = positions
        flat = np.ascontiguousarray(flat)  # native width (uint32 hot path)
        lens = np.ascontiguousarray(lens, dtype=np.int64)
        tok_cum = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=tok_cum[1:])
        # delta in the native dtype; unsigned wraparound can only occur
        # across posting boundaries, and every boundary is a reset point
        # overwritten with the absolute value just below
        pdeltas = np.empty_like(flat)
        if flat.size:
            pdeltas[0] = flat[0]
            np.subtract(flat[1:], flat[:-1], out=pdeltas[1:])
        nz = tok_cum[:-1][lens > 0]  # reset at each posting's first position
        pdeltas[nz] = flat[nz]
        pos_cuts = np.append(tok_cum[block_start], int(tok_cum[-1]))
        poss_buf, poss_off = varint_encode_runs(pdeltas, pos_cuts)
    else:
        poss_buf = b""
        poss_off = np.zeros(total_blocks + 1, dtype=np.int64)

    # per-term byte slices (memoryview: no copies until bytes())
    def _slices(buf: bytes, boffs: np.ndarray) -> list:
        mv = memoryview(buf)
        lo = boffs[fb[:-1]]
        hi = boffs[fb[1:]]
        return [bytes(mv[lo[t]:hi[t]]) for t in range(n_terms)]

    # block byte offsets relative to the owning term's slice
    rel = lambda boffs: boffs[:-1] - boffs[fb[block_term]]  # noqa: E731

    return {
        "n_docs": term_lens,
        "docs": _slices(docs_buf, docs_off),
        "tfs": _slices(tfs_buf, tfs_off),
        "dls": _slices(dls_buf, dls_off),
        "poss": (
            _slices(poss_buf, poss_off) if positions is not None
            else [b""] * n_terms
        ),
        "first_docid": first_docid,
        "max_docid": max_docid,
        "max_impact": max_impact,
        "doc_off": rel(docs_off),
        "tf_off": rel(tfs_off),
        "dl_off": rel(dls_off),
        "pos_off": (
            rel(poss_off) if positions is not None
            else np.zeros(total_blocks, dtype=np.int64)
        ),
        "block_offsets": fb,
    }


class PostingReader:
    """Random-access decoder over one encoded (term, shard) posting list.

    ``decode_all`` is the vectorized exhaustive path; ``decode_block`` is the
    unit of work for block-max WAND (skip blocks whose idf*max_impact can't
    beat the heap threshold without touching their bytes).
    """

    def __init__(
        self,
        n_docs: int,
        docs: bytes,
        tfs: bytes,
        dls: bytes,
        poss: bytes,
        first_docid: np.ndarray,
        max_docid: np.ndarray,
        max_impact: np.ndarray,
        doc_off: np.ndarray,
        tf_off: np.ndarray,
        dl_off: np.ndarray,
        pos_off: np.ndarray,
        block_size: int,
    ):
        self.n_docs = n_docs
        self._docs = docs
        self._tfs = tfs
        self._dls = dls
        self._poss = poss
        self.first_docid = np.asarray(first_docid, dtype=np.int64)
        self.max_docid = np.asarray(max_docid, dtype=np.int64)
        self.max_impact = np.asarray(max_impact, dtype=np.float64)
        self.doc_off = np.asarray(doc_off, dtype=np.int64)
        self.tf_off = np.asarray(tf_off, dtype=np.int64)
        self.dl_off = np.asarray(dl_off, dtype=np.int64)
        self.pos_off = np.asarray(pos_off, dtype=np.int64)
        self.block_size = block_size
        self.n_blocks = len(self.first_docid)
        # segment generation this posting list belongs to (set by from_row;
        # generation-horizon tombstones compare against it)
        self.gen = 0

    @staticmethod
    def from_row(row: dict, block_size: int) -> "PostingReader":
        """Build from a postings-table row (dict with binary cols + block_meta)."""
        meta = row["block_meta"]
        gen = int(row.get("gen", 0) or 0)
        nb = len(meta)
        fd = np.fromiter((m["first_docid"] for m in meta), np.int64, nb)
        md = np.fromiter((m["max_docid"] for m in meta), np.int64, nb)
        mi = np.fromiter((m["max_impact"] for m in meta), np.float64, nb)

        def offs(key: str, total: int) -> np.ndarray:
            o = np.fromiter((m[key] for m in meta), np.int64, nb)
            return np.concatenate((o, [total]))

        r = PostingReader(
            n_docs=int(row["n_docs"]),
            docs=bytes(row["docs"]),
            tfs=bytes(row["tfs"]),
            dls=bytes(row["dls"]),
            poss=bytes(row["poss"]) if row.get("poss") is not None else b"",
            first_docid=fd,
            max_docid=md,
            max_impact=mi,
            doc_off=offs("doc_off", len(row["docs"])),
            tf_off=offs("tf_off", len(row["tfs"])),
            dl_off=offs("dl_off", len(row["dls"])),
            pos_off=offs(
                "pos_off", len(row["poss"]) if row.get("poss") is not None else 0
            ),
            block_size=block_size,
        )
        r.gen = gen
        return r

    def _block_len(self, i: int) -> int:
        if i < self.n_blocks - 1:
            return self.block_size
        return self.n_docs - (self.n_blocks - 1) * self.block_size

    def decode_block(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """-> (docids, tfs, dls) for block i."""
        n = self._block_len(i)
        d = varint_decode(self._docs[self.doc_off[i] : self.doc_off[i + 1]], n, dtype=np.int64)
        docids = delta_decode(d.astype(np.int64), base=int(self.first_docid[i]))
        tfs = varint_decode(self._tfs[self.tf_off[i] : self.tf_off[i + 1]], n, dtype=np.int64)
        dls = varint_decode(self._dls[self.dl_off[i] : self.dl_off[i + 1]], n, dtype=np.int64)
        return docids, tfs, dls

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if self.n_docs == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z.copy(), z.copy()
        deltas = varint_decode(self._docs, self.n_docs, dtype=np.int64)
        # un-delta across blocks: add block base at each block start
        starts = np.arange(self.n_blocks) * self.block_size
        deltas[starts] = self.first_docid  # delta at block start is 0 by construction
        docids = _grouped_cumsum(deltas, starts)
        tfs = varint_decode(self._tfs, self.n_docs, dtype=np.int64)
        dls = varint_decode(self._dls, self.n_docs, dtype=np.int64)
        return docids, tfs, dls

    @staticmethod
    def _decode_pos_runs(pos_bytes: bytes, tfs: np.ndarray) -> np.ndarray:
        """Decode a delta+varint position slice into flat absolute positions.

        The encoder (``encode_postings``) resets the delta at every doc's
        first position (the run start is stored absolute), so one whole-slice
        varint decode + one segmented prefix sum recovers every doc's sorted
        positions with zero per-posting Python work."""
        total = int(tfs.sum())
        deltas = varint_decode(pos_bytes, total, dtype=np.int64)
        doc_starts = np.zeros(len(tfs), dtype=np.int64)
        np.cumsum(tfs[:-1], out=doc_starts[1:])
        return delta_decode_runs(deltas, doc_starts[tfs > 0])

    def decode_flat_positions(self) -> tuple[np.ndarray, np.ndarray]:
        """-> (flat absolute positions, per-posting lens) for the whole list
        (requires stored positions). This is the scorer-path form: callers
        pair it with ``np.repeat(docids, lens)`` and stay fully vectorized —
        no per-posting array objects are created."""
        if len(self._poss) == 0:
            raise ValueError("positions not stored in this index")
        tfs = varint_decode(self._tfs, self.n_docs, dtype=np.int64)
        return self._decode_pos_runs(self._poss, tfs), tfs

    def decode_block_flat_positions(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """-> (flat absolute positions, per-posting lens) for block i."""
        if len(self._poss) == 0:
            raise ValueError("positions not stored in this index")
        n = self._block_len(i)
        tfs = varint_decode(self._tfs[self.tf_off[i] : self.tf_off[i + 1]], n, dtype=np.int64)
        flat = self._decode_pos_runs(
            self._poss[self.pos_off[i] : self.pos_off[i + 1]], tfs
        )
        return flat, tfs

    def decode_all_positions(self) -> list[np.ndarray]:
        flat, tfs = self.decode_flat_positions()
        return np.split(flat, np.cumsum(tfs[:-1]))


def _grouped_cumsum(values: np.ndarray, group_starts: np.ndarray) -> np.ndarray:
    """Cumulative sum that restarts at each group start (vectorized).

    cumsum(v) minus, within each group, the cumsum total accrued before the
    group started.
    """
    cs = np.cumsum(values)
    if len(group_starts) <= 1:
        return cs
    # offset for group g = cs[start_g - 1]; subtract from elements of group g
    offsets = np.zeros(len(group_starts), dtype=np.int64)
    offsets[1:] = cs[group_starts[1:] - 1]
    group_of = np.searchsorted(group_starts, np.arange(len(values)), side="right") - 1
    return cs - offsets[group_of]
