"""First-party canonical Huffman entropy coder (vectorized numpy).

The entropy stage the perceptual codecs were missing: MDCT used zlib
where MP3/AAC sit on Huffman codebooks, and IFV used zlib where H.26x
uses CABAC — the honest-stub text in operators/multimodal.py named
"Huffman tables" as the gap. This module generalizes the canonical
machinery the repo already owned on the decode side
(operators/jpeg.py `_HuffDecoder`: per-length mincode/maxcode/valptr)
into a standalone encode+decode pair over arbitrary u16 alphabets,
so both codecs can opt into `entropy='huffman'`.

Design (all public-knowledge classics):
- optimal code lengths from a heap-built Huffman tree, then
  length-limited to 16 bits by the JPEG Annex-K BITS adjustment (the
  same algorithm cited in jpeg.py's encoder);
- CANONICAL code assignment (codes follow from the sorted
  (length, symbol) order alone), so the serialized table is just
  per-length counts + the symbol list — the JPEG DHT layout, sized
  by the alphabet, never by the message;
- vectorized encode: per-symbol (code, length) lookup, then one
  (n, 16) bit matrix masked/flattened/`packbits`-ed — no per-symbol
  Python in the hot loop;
- table-driven decode: a 2^16-entry (symbol, length) LUT built with
  slice assignment per distinct symbol, then a bit-cursor walk over
  precomputed 16-bit windows. The walk is a Python loop (variable-
  length codes are inherently sequential within one message), but
  each message is one media payload decoded INSIDE mapInPandas — the
  parallelism at 100 TB is across payloads, never within one.

Self-delimiting wire format (all little-endian):
  u16 n_distinct | u16 counts[16] | u16 symbols[n_distinct]
  | u32 n_bits | stream bytes (zero-padded to a byte boundary)

Every malformed-input path raises ValueError (the errors='coerce'
contract shared by the whole media family).
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

#: hard cap on code length — keeps the decode LUT at 2^16 entries and
#: matches the JPEG limit the Annex-K adjustment was designed for
_MAX_LEN = 16

_HDR = struct.Struct("<H16H")


def _code_lengths(freqs: np.ndarray) -> np.ndarray:
    """Positive counts (one per distinct symbol) → optimal prefix-code
    lengths, limited to `_MAX_LEN` bits. Ties break on heap insertion
    order (deterministic: same freqs → same lengths)."""
    n = len(freqs)
    if n == 1:
        # a lone symbol still needs 1 bit so the stream length encodes
        # the symbol COUNT (0 bits per symbol would be ambiguous)
        return np.array([1], dtype=np.int64)
    heap: list[tuple[int, int, int]] = [
        (int(f), i, i) for i, f in enumerate(freqs)
    ]
    heapq.heapify(heap)
    parent: dict[int, int] = {}
    nxt = n
    while len(heap) > 1:
        f1, _, a = heapq.heappop(heap)
        f2, _, b = heapq.heappop(heap)
        parent[a] = nxt
        parent[b] = nxt
        heapq.heappush(heap, (f1 + f2, nxt, nxt))
        nxt += 1
    # internal node ids strictly exceed their children's, so one
    # descending pass resolves every depth off its parent
    depth = {heap[0][2]: 0}
    for node in range(nxt - 2, -1, -1):
        depth[node] = depth[parent[node]] + 1
    lengths = np.array([depth[i] for i in range(n)], dtype=np.int64)
    if lengths.max() <= _MAX_LEN:
        return lengths
    # JPEG Annex-K adjustment on the per-length counts: repeatedly
    # move a pair of leaves up from the overlong level, paying with
    # one leaf from the nearest shorter level
    bits = np.bincount(lengths, minlength=lengths.max() + 1)
    i = len(bits) - 1
    while i > _MAX_LEN:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # reassign: symbols keep their optimal-length RANK (stable sort),
    # lengths come from the adjusted counts in ascending order
    order = np.argsort(lengths, kind="stable")
    new_lengths = np.empty_like(lengths)
    new_lengths[order] = np.repeat(
        np.arange(len(bits)), bits
    )[: len(lengths)]
    return new_lengths


def _canonical_codes(
    lengths: np.ndarray,
) -> np.ndarray:
    """Code lengths (canonical symbol order) → code values. Assumes
    lengths are sorted ascending (the canonical order)."""
    codes = np.empty(len(lengths), dtype=np.uint32)
    code = 0
    prev = int(lengths[0]) if len(lengths) else 0
    for i, ln in enumerate(lengths):
        code <<= int(ln) - prev
        prev = int(ln)
        codes[i] = code
        code += 1
    return codes


def huff_encode(symbols: np.ndarray) -> bytes:
    """Integer array (values in [0, 65535]) → self-delimiting
    canonical-Huffman block (table + bitstream)."""
    symbols = np.asarray(symbols)
    if symbols.size and not np.issubdtype(symbols.dtype, np.integer):
        # a float array like [1.5, 2.7] passes the range check, then
        # astype(int64) silently truncates — a LOSSY "roundtrip"
        # violating the module's loud-ValueError contract
        raise ValueError(
            f"huff_encode: symbols must be an integer array, got "
            f"dtype {symbols.dtype}"
        )
    if symbols.size and (
        symbols.min() < 0 or symbols.max() > 0xFFFF
    ):
        raise ValueError("huff_encode: symbols must fit u16")
    symbols = symbols.astype(np.int64).ravel()
    if symbols.size == 0:
        return _HDR.pack(0, *([0] * 16)) + struct.pack("<I", 0)
    freqs_full = np.bincount(symbols)
    distinct = np.flatnonzero(freqs_full)
    lengths = _code_lengths(freqs_full[distinct])
    # canonical order: (length, symbol); distinct is already
    # symbol-ascending, so a stable length sort suffices
    order = np.argsort(lengths, kind="stable")
    c_syms = distinct[order]
    c_lens = lengths[order]
    c_codes = _canonical_codes(c_lens)
    counts = np.bincount(c_lens, minlength=_MAX_LEN + 1)
    # per-symbol lookup over the (bounded, <= 65536) alphabet
    code_of = np.zeros(int(distinct.max()) + 1, dtype=np.uint32)
    len_of = np.zeros(int(distinct.max()) + 1, dtype=np.int64)
    code_of[c_syms] = c_codes
    len_of[c_syms] = c_lens
    s_codes = code_of[symbols]
    s_lens = len_of[symbols]
    # (chunk, 16) bit matrix per 1M-symbol chunk: row i holds code
    # bits MSB-first in the first s_lens[i] columns; masked row-major
    # flatten preserves order. Chunking bounds the matrix peak at
    # ~16 MB regardless of payload size (a 6 MB video frame would
    # otherwise transiently allocate ~100 MB per task).
    j = np.arange(_MAX_LEN)
    chunks = []
    for lo in range(0, len(symbols), 1 << 20):
        sc = s_codes[lo : lo + (1 << 20)]
        sl = s_lens[lo : lo + (1 << 20)]
        shift = sl[:, None] - 1 - j[None, :]
        bits = (
            (sc[:, None] >> np.maximum(shift, 0).astype(np.uint32)) & 1
        ).astype(np.uint8)
        chunks.append(bits[shift >= 0])
    flat = chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
    stream = np.packbits(flat).tobytes()
    return (
        _HDR.pack(len(c_syms), *counts[1:].tolist())
        + c_syms.astype("<u2").tobytes()
        + struct.pack("<I", int(flat.size))
        + stream
    )


def huff_decode(
    data: bytes, n_symbols: int, what: str = "huffman block"
) -> np.ndarray:
    """Inverse of `huff_encode`: decode exactly `n_symbols` symbols,
    validating the table (Kraft consistency), the bit count, and the
    stream length. Returns int64 symbol values."""
    if len(data) < _HDR.size + 4:
        raise ValueError(f"{what}: truncated huffman header")
    fields = _HDR.unpack_from(data)
    n_distinct, counts = fields[0], np.array(fields[1:], dtype=np.int64)
    pos = _HDR.size
    if counts.sum() != n_distinct:
        raise ValueError(f"{what}: huffman table count mismatch")
    if len(data) < pos + 2 * n_distinct + 4:
        raise ValueError(f"{what}: truncated huffman symbol list")
    c_syms = np.frombuffer(
        data, dtype="<u2", count=n_distinct, offset=pos
    ).astype(np.int64)
    pos += 2 * n_distinct
    (n_bits,) = struct.unpack_from("<I", data, pos)
    pos += 4
    if n_distinct == 0:
        if n_symbols != 0 or n_bits != 0:
            raise ValueError(f"{what}: empty table for non-empty stream")
        return np.empty(0, dtype=np.int64)
    if n_symbols == 0:
        raise ValueError(f"{what}: non-empty table for empty message")
    # every code is at least 1 bit long: a (corrupt) symbol count above
    # the bit count must not reach the output allocation below
    if n_symbols > n_bits:
        raise ValueError(f"{what}: more symbols than stream bits")
    # rebuild canonical lengths/codes and check Kraft validity: after
    # level L the running code must fit L bits, else the table lies
    c_lens = np.repeat(np.arange(1, _MAX_LEN + 1), counts)
    code = 0
    for ln in range(1, _MAX_LEN + 1):
        code += int(counts[ln - 1])
        if code > (1 << ln):
            raise ValueError(f"{what}: invalid huffman table (Kraft)")
        code <<= 1
    c_codes = _canonical_codes(c_lens)
    # 2^16 LUT: every 16-bit window starting with code c (length l)
    # maps to that symbol — one slice assignment per distinct symbol
    lut_sym = np.zeros(1 << _MAX_LEN, dtype=np.int64)
    lut_len = np.zeros(1 << _MAX_LEN, dtype=np.int64)
    for sym, c, ln in zip(c_syms, c_codes, c_lens):
        start = int(c) << (_MAX_LEN - int(ln))
        span = 1 << (_MAX_LEN - int(ln))
        lut_sym[start : start + span] = sym
        lut_len[start : start + span] = ln
    stream = np.frombuffer(data, dtype=np.uint8, offset=pos)
    if n_bits > 8 * len(stream) or 8 * len(stream) - n_bits >= 8:
        raise ValueError(f"{what}: huffman stream length mismatch")
    bits = np.unpackbits(stream)
    if n_bits < len(bits) and bits[n_bits:].any():
        raise ValueError(f"{what}: nonzero huffman padding bits")
    padded = np.concatenate([bits, np.zeros(_MAX_LEN, dtype=np.uint8)])
    # precomputed 16-bit windows, built as 16 shifted 1-D ORs: peak
    # memory is 2 bytes/bit for the result plus one transient shifted
    # copy — never a 2-D (n_bits, 16) materialization (a sliding-
    # window matmul would transiently cost 8-32 bytes/bit on large
    # payloads)
    # one window past the last bit, so a stream that ends before
    # n_symbols are decoded reads a window at cursor == n_bits and
    # fails the length check below instead of indexing past the end
    n_all = len(bits) + 1
    windows = np.zeros(n_all, dtype=np.uint16)
    for k in range(_MAX_LEN):
        windows |= padded[k : k + n_all].astype(np.uint16) << (
            _MAX_LEN - 1 - k
        )
    out = np.empty(n_symbols, dtype=np.int64)
    cursor = 0
    for i in range(n_symbols):
        w = windows[cursor]
        ln = lut_len[w]
        if ln == 0 or cursor + ln > n_bits:
            raise ValueError(f"{what}: corrupt huffman stream")
        out[i] = lut_sym[w]
        cursor += int(ln)
    if cursor != n_bits:
        raise ValueError(f"{what}: huffman stream has trailing bits")
    return out


def huff_encode_bytes(raw: bytes) -> bytes:
    """Byte-alphabet convenience wrapper (IFV frame payloads)."""
    return huff_encode(np.frombuffer(raw, dtype=np.uint8))


def huff_decode_bytes(
    data: bytes, expected: int, what: str = "huffman block"
) -> bytes:
    """Decode exactly `expected` bytes; ValueError on any symbol
    outside the byte alphabet (a forged table)."""
    syms = huff_decode(data, expected, what)
    if syms.size and syms.max() > 0xFF:
        raise ValueError(f"{what}: symbol outside byte alphabet")
    return syms.astype(np.uint8).tobytes()
