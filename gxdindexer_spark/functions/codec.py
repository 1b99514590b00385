"""Posting-list physical codec: delta + varbyte compressed blocks with
skip pointers and block-max metadata.

This is the from-scratch artifact the reference delegates to Lucene
(the reference repo ships documents to Solr and never touches postings;
see /root/reference README.md:2). Everything here is pure numpy so it
can run inside Arrow-batched ``applyInPandas`` workers with no per-row
Python (BASELINE.json input_hint).

Layout per (field, term, shard):

* doc ids are sorted ascending, delta-encoded (first id absolute),
  then varbyte-compressed per block of ``BLOCK_SIZE`` docs;
* term frequencies are varbyte-compressed per block (no delta);
* per-posting doc lengths (the BM25 norm input) are varbyte-compressed
  alongside — the Lucene-norms analog that makes every posting segment
  self-contained: scoring needs NO side lookup (and therefore no
  doc_stats shuffle per query);
* per block we keep ``first_doc``, ``last_doc`` (skip pointers) and
  ``max_tf_norm`` — the maximum length-normalized tf in the block,
  which multiplied by the term idf gives the block-max score bound
  used by block-max WAND (Ding & Suel, WWW'11).

Varbyte convention: little-endian groups of 7 bits, MSB set on every
byte except the last of a value ("more bytes follow").
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128


# ---------------------------------------------------------------- varbyte


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array -> bytes.

    Loops over byte *positions* (<= 10), never over values.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value: max(1, ceil(bitlen/7))
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    # bit length via successive shifts (at most 10 iterations for 64-bit)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp >>= np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    del nbits
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    out = np.empty(total, dtype=np.uint8)
    starts = ends - nbytes
    maxb = int(nbytes.max())
    for pos in range(maxb):
        mask = nbytes > pos
        idx = starts[mask] + pos
        chunk = (v[mask] >> np.uint64(7 * pos)) & np.uint64(0x7F)
        is_last = (nbytes[mask] - 1) == pos
        out[idx] = chunk.astype(np.uint8) | np.where(is_last, 0, 0x80).astype(
            np.uint8
        )
    return out.tobytes()


def varbyte_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # value index for each byte: number of completed values before it
    val_idx = np.zeros(b.size, dtype=np.int64)
    np.cumsum(is_last[:-1], out=val_idx[1:])
    n_vals = int(is_last.sum())
    # position of byte within its value = idx - start_of_value
    starts = np.zeros(n_vals, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    pos_in_val = np.arange(b.size, dtype=np.int64) - starts[val_idx]
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(
        out,
        val_idx,
        (b & np.uint8(0x7F)).astype(np.uint64) << (7 * pos_in_val).astype(np.uint64),
    )
    if count is not None and n_vals != count:
        raise ValueError(f"decoded {n_vals} values, expected {count}")
    return out


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """ascending int64 ids -> gaps (first absolute). Raises if unsorted."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return a.astype(np.uint64)
    d = np.diff(a)
    if (d <= 0).any():
        raise ValueError("doc ids must be strictly ascending")
    out = np.empty(a.size, dtype=np.uint64)
    out[0] = np.uint64(a[0])
    out[1:] = d.astype(np.uint64)
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(gaps.astype(np.int64))


# ---------------------------------------------------------------- blocks


@dataclass
class PostingList:
    """Decoded-header posting list; payload bytes decoded per block."""

    term: str
    df: int
    block_first: np.ndarray  # int64 per block (skip pointer lo)
    block_last: np.ndarray  # int64 per block (skip pointer hi)
    block_max_tfn: np.ndarray  # float32 per block (block-max tf-norm)
    block_count: np.ndarray  # int32 docs per block
    doc_offsets: np.ndarray  # int64 byte offsets into docs_buf (len = nblocks+1)
    tf_offsets: np.ndarray  # int64 byte offsets into tfs_buf (len = nblocks+1)
    dl_offsets: np.ndarray  # int64 byte offsets into dls_buf (len = nblocks+1)
    docs_buf: bytes
    tfs_buf: bytes
    dls_buf: bytes  # per-posting doc length (Lucene-norms analog)
    # optional positional payload: per posting [npos, pos0, deltas...]
    # varbyte-concatenated per block (empty when built without positions)
    pos_offsets: np.ndarray | None = None
    pos_buf: bytes = b""

    @property
    def n_blocks(self) -> int:
        return len(self.block_first)

    def decode_block(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """-> (doc_ids int64 asc, tfs uint64, dls uint64) for block i."""
        n = int(self.block_count[i])
        gaps = varbyte_decode(
            self.docs_buf[self.doc_offsets[i] : self.doc_offsets[i + 1]], n
        )
        docs = delta_decode(gaps)
        tfs = varbyte_decode(
            self.tfs_buf[self.tf_offsets[i] : self.tf_offsets[i + 1]], n
        )
        dls = varbyte_decode(
            self.dls_buf[self.dl_offsets[i] : self.dl_offsets[i + 1]], n
        )
        return docs, tfs, dls

    def decode_block_positions(self, i: int) -> list[np.ndarray]:
        """-> per-posting ascending position arrays for block i."""
        if self.pos_offsets is None or not len(self.pos_buf):
            raise ValueError("posting list was built without positions")
        vals = varbyte_decode(
            self.pos_buf[self.pos_offsets[i] : self.pos_offsets[i + 1]]
        ).astype(np.int64)
        out: list[np.ndarray] = []
        p = 0
        for _ in range(int(self.block_count[i])):
            n = int(vals[p])
            out.append(np.cumsum(vals[p + 1 : p + 1 + n]))
            p += 1 + n
        return out

    def decode_all_positions(self) -> list[np.ndarray]:
        out: list[np.ndarray] = []
        for i in range(self.n_blocks):
            out.extend(self.decode_block_positions(i))
        return out

    def decode_positions_flat(
        self, counts: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """ALL postings' positions as ONE flat int64 array plus the
        per-posting counts — zero per-posting python.

        One varbyte pass over the whole pos_buf; the per-posting
        [npos, ...] headers sit at offsets computable from the tf
        stream (positional builds guarantee npos == tf:
        analyze.term_freqs_positions sets tf = len(positions)), so a
        boolean mask drops them and a segmented cumsum undoes the
        per-posting delta coding. Pass ``counts`` (the decoded tf
        array) to skip re-decoding tfs_buf.
        -> (pos_flat, counts); posting j's positions are
        pos_flat[cum[j]:cum[j+1]] with cum = cumsum(counts).
        """
        if self.pos_offsets is None or not len(self.pos_buf):
            raise ValueError("posting list was built without positions")
        vals = varbyte_decode(self.pos_buf).astype(np.int64)
        if counts is None:
            counts = varbyte_decode(self.tfs_buf)
        counts = counts.astype(np.int64)
        n = counts.size
        if not int(counts.sum()):
            return np.empty(0, np.int64), counts
        # header slot of posting j in vals: sum of (1 + count) before j
        heads = np.zeros(n, dtype=np.int64)
        np.cumsum(1 + counts[:-1], out=heads[1:])
        mask = np.ones(vals.size, dtype=bool)
        mask[heads] = False
        deltas = vals[mask]
        # segmented cumsum: per-posting running sum (first is absolute)
        cs = np.cumsum(deltas)
        seg0 = np.cumsum(counts) - counts
        offset = cs[seg0] - deltas[seg0]
        pos_flat = cs - np.repeat(offset, counts)
        return pos_flat, counts

    def decode_blocks(
        self, blocks: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Selective decode of an ASCENDING block-id subset in one
        varbyte pass per stream (per-block decode pays a fixed numpy
        overhead ~100x the per-value cost; batching the byte ranges
        makes k-block selective decode as cheap as one k-block scan).
        Returns (doc_ids asc, tfs, dls) concatenated across blocks —
        globally ascending because block doc ranges are disjoint asc.
        """
        blocks = np.asarray(blocks, dtype=np.int64)
        counts = self.block_count[blocks].astype(np.int64)
        total = int(counts.sum())
        if total == 0:
            e = np.empty(0, np.uint64)
            return np.empty(0, np.int64), e, e
        def gather(buf: bytes, offs: np.ndarray) -> bytes:
            return b"".join(
                buf[offs[b] : offs[b + 1]] for b in blocks
            )
        gaps = varbyte_decode(gather(self.docs_buf, self.doc_offsets), total)
        tfs = varbyte_decode(gather(self.tfs_buf, self.tf_offsets), total)
        dls = varbyte_decode(gather(self.dls_buf, self.dl_offsets), total)
        # segmented cumsum: every block starts with an ABSOLUTE doc id
        cs = np.cumsum(gaps.astype(np.int64))
        seg_starts = np.zeros(blocks.size, dtype=np.int64)
        np.cumsum(counts[:-1], out=seg_starts[1:])
        offset = cs[seg_starts] - gaps[seg_starts].astype(np.int64)
        seg = np.repeat(np.arange(blocks.size), counts)
        docs = cs - offset[seg]
        return docs, tfs, dls

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        gaps = varbyte_decode(self.docs_buf)
        tfs = varbyte_decode(self.tfs_buf)
        dls = varbyte_decode(self.dls_buf)
        docs = np.empty(gaps.size, dtype=np.int64)
        # gaps are absolute at every block start, so cumsum per block
        off = 0
        for i in range(self.n_blocks):
            n = int(self.block_count[i])
            docs[off : off + n] = np.cumsum(gaps[off : off + n].astype(np.int64))
            off += n
        return docs, tfs, dls


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    tf_norms: np.ndarray,
    block_size: int = BLOCK_SIZE,
    dls: np.ndarray | None = None,
    positions: list | None = None,
) -> dict:
    """Encode one term's docID-sorted postings into compressed blocks.

    ``tf_norms`` is the precomputed length-normalized tf per posting
    (tf / (tf + k1*(1-b+b*dl/avgdl))) used only for the block-max
    metadata; it is NOT stored per posting. ``dls`` (per-posting doc
    length) IS stored — the Lucene-norms analog.

    Returns a dict of plain-python/bytes values matching the postings
    table schema (arrays as lists for Arrow friendliness).
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    if dls is None:
        dls = np.zeros(doc_ids.size, dtype=np.uint64)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)
    n = doc_ids.size
    if n == 0:
        return {
            "df": 0, "cf": 0, "block_first": [], "block_last": [],
            "block_max_tfn": [], "block_count": [], "doc_offsets": [0],
            "tf_offsets": [0], "dl_offsets": [0], "docs_buf": b"",
            "tfs_buf": b"", "dls_buf": b"", "pos_offsets": [0],
            "pos_buf": b"",
        }
    nblocks = (n + block_size - 1) // block_size
    starts = np.arange(nblocks, dtype=np.int64) * block_size
    ends = np.minimum(starts + block_size, n)
    if (np.diff(doc_ids) <= 0).any():
        raise ValueError("doc ids must be strictly ascending")
    # gaps with per-block absolute first value (blocks decode standalone)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = np.uint64(doc_ids[0])
    gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    gaps[starts] = doc_ids[starts].astype(np.uint64)
    # one vectorized varbyte pass per buffer; block byte offsets come
    # from the per-value byte lengths (no per-block Python loop).
    doc_off = _block_offsets(gaps, starts)
    tf_off = _block_offsets(tfs, starts)
    dl_off = _block_offsets(dls, starts)
    # block-max tf-norm, rounded UP to float32: the stored bound must
    # never fall below the float64 tf-norm recomputed at query time,
    # or block-max pruning would drop true top-k docs.
    tfn = np.asarray(tf_norms, dtype=np.float64)
    m64 = np.maximum.reduceat(tfn, starts)
    m32 = m64.astype(np.float32)
    bump = m32.astype(np.float64) < m64
    m32[bump] = np.nextafter(m32[bump], np.float32(np.inf))
    # optional positions payload: per posting [npos, first, deltas...]
    pos_off = [0] * (nblocks + 1)
    pos_buf = b""
    if positions is not None:
        counts = np.fromiter(
            (len(p) for p in positions), dtype=np.int64, count=n
        )
        flat = (
            np.concatenate([np.asarray(p, dtype=np.int64) for p in positions])
            if counts.sum()
            else np.empty(0, np.int64)
        )
        # delta within each posting (first absolute)
        pstarts = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=pstarts[1:])
        deltas = flat.copy()
        if flat.size:
            deltas[1:] = np.diff(flat)
            nz = pstarts[counts > 0]
            deltas[nz] = flat[nz]
        # interleave [count, deltas...] per posting
        vstarts = pstarts + np.arange(n)  # +1 slot per preceding posting
        big = np.zeros(n + int(counts.sum()), dtype=np.uint64)
        big[vstarts] = counts.astype(np.uint64)
        mask = np.ones(big.size, dtype=bool)
        mask[vstarts] = False
        big[mask] = deltas.astype(np.uint64)
        # per-block offsets: values per block via reduceat over (1+count)
        per_posting = counts + 1
        vals_per_block = np.add.reduceat(per_posting, starts)
        vcum = np.zeros(nblocks + 1, dtype=np.int64)
        np.cumsum(vals_per_block, out=vcum[1:])
        byte_cum = np.zeros(big.size + 1, dtype=np.int64)
        np.cumsum(_varbyte_lengths(big), out=byte_cum[1:])
        pos_off = byte_cum[vcum].tolist()
        pos_buf = varbyte_encode(big)
    return {
        "df": n,
        "cf": int(tfs.sum()),
        "block_first": doc_ids[starts].tolist(),
        "block_last": doc_ids[ends - 1].tolist(),
        "block_max_tfn": m32.tolist(),
        "block_count": (ends - starts).astype(np.int32).tolist(),
        "doc_offsets": doc_off.tolist(),
        "tf_offsets": tf_off.tolist(),
        "dl_offsets": dl_off.tolist(),
        "docs_buf": varbyte_encode(gaps),
        "tfs_buf": varbyte_encode(tfs),
        "dls_buf": varbyte_encode(dls),
        "pos_offsets": pos_off,
        "pos_buf": pos_buf,
    }


def _varbyte_lengths(values: np.ndarray) -> np.ndarray:
    """bytes each value will occupy when varbyte-encoded."""
    nbytes = np.ones(values.shape, dtype=np.int64)
    tmp = values.copy()
    tmp >>= np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nbytes


def _block_offsets(values: np.ndarray, block_starts: np.ndarray) -> np.ndarray:
    """byte offsets of each block boundary in the encoded buffer
    (len = nblocks + 1)."""
    csum = np.zeros(values.size + 1, dtype=np.int64)
    np.cumsum(_varbyte_lengths(values), out=csum[1:])
    return np.concatenate([csum[block_starts], csum[-1:]])


def posting_list_from_row(term: str, row: dict) -> PostingList:
    """Rehydrate a PostingList from a postings-table row (dict-like)."""
    return PostingList(
        term=term,
        df=int(row["df"]),
        block_first=np.asarray(row["block_first"], dtype=np.int64),
        block_last=np.asarray(row["block_last"], dtype=np.int64),
        block_max_tfn=np.asarray(row["block_max_tfn"], dtype=np.float32),
        block_count=np.asarray(row["block_count"], dtype=np.int32),
        doc_offsets=np.asarray(row["doc_offsets"], dtype=np.int64),
        tf_offsets=np.asarray(row["tf_offsets"], dtype=np.int64),
        dl_offsets=np.asarray(row["dl_offsets"], dtype=np.int64),
        docs_buf=bytes(row["docs_buf"]),
        tfs_buf=bytes(row["tfs_buf"]),
        dls_buf=bytes(row["dls_buf"]),
        pos_offsets=(
            np.asarray(row["pos_offsets"], dtype=np.int64)
            if row.get("pos_offsets") is not None
            else None
        ),
        pos_buf=bytes(row.get("pos_buf") or b""),
    )

