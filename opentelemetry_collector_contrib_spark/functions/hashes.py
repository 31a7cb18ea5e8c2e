"""Exact non-cryptographic hash converters: FNV-1a, MurmurHash3.

Byte-compatible with the reference's OTTL converters
(pkg/ottl/ottlfuncs/func_fnv.go:35-60 — FNV-1a 64 as signed int64;
func_murmur3_hash.go:35-47 — murmur3 32 seed 0, little-endian hex;
func_murmur3_hash128.go:35-49 — murmur3 x64 128, little-endian hex of
h1||h2), verified against the reference test vectors in
func_fnv_test.go / func_murmur3_hash_test.go /
func_murmur3_hash128_test.go.

Spark has no built-in for these exact algorithms (``F.hash`` is
murmur3-32 over Spark's *internal row encoding* with seed 42, not over
the raw UTF-8 bytes, so its output can never match the reference).
They run as Arrow-batched pandas UDFs that hash the whole batch at
once: ``_byte_matrices`` reads the batch's Arrow string buffers into
zero-padded ``uint8`` matrices, FNV-1a steps over byte positions and
Murmur3 over 4-/16-byte blocks for every row together. numpy's fixed
width ``uint32``/``uint64`` arithmetic wraps mod 2^32/2^64 exactly as
Go's does. The same kernels serve the samplers (``operators/
filters.py`` fnv_seed, ``operators/tailsampling.py`` probabilistic),
which prefix a seed or salt and hash hex strings as raw bytes.

The scalar functions (``fnv1a_32``, ``fnv1a_64``, ``murmur3_32``,
``murmur3_x64_128``) are the byte-level specification: the property
tests check every kernel against them, and they stay importable for
driver-side use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

_M32 = 0xFFFFFFFF
_M64 = (1 << 64) - 1


def fnv1a_64(data: bytes) -> int:
    """FNV-1a 64 over raw bytes -> unsigned int in [0, 2^64)."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & _M64
    return h


def fnv1a_32(data: bytes) -> int:
    """FNV-1a 32 over raw bytes -> unsigned int in [0, 2^32) — the
    probabilisticsampler's hash (fnvhasher.go computeHash applies it to
    little-endian seed bytes + value bytes)."""
    h = 0x811C9DC5
    for b in data:
        h ^= b
        h = (h * 0x01000193) & _M32
    return h


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit -> unsigned int in [0, 2^32)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M64
    k ^= k >> 33
    return k


def murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """MurmurHash3 x64 128-bit -> (h1, h2) unsigned 64-bit ints."""
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h1 = h2 = seed
    nblocks = len(data) // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[16 * i:16 * i + 8], "little")
        k2 = int.from_bytes(data[16 * i + 8:16 * i + 16], "little")
        k1 = (k1 * c1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * c2) & _M64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _M64
        h1 = (h1 * 5 + 0x52DCE729) & _M64
        k2 = (k2 * c2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * c1) & _M64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _M64
        h2 = (h2 * 5 + 0x38495AB5) & _M64
    tail = data[16 * nblocks:]
    tl = len(tail)
    k1 = k2 = 0
    for i in range(tl - 1, 7, -1):
        k2 ^= tail[i] << (8 * (i - 8))
    if tl > 8:
        k2 = (k2 * c2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * c1) & _M64
        h2 ^= k2
    for i in range(min(tl, 8) - 1, -1, -1):
        k1 ^= tail[i] << (8 * i)
    if tl > 0:
        k1 = (k1 * c1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * c2) & _M64
        h1 ^= k1
    h1 ^= len(data)
    h2 ^= len(data)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1, h2


# ---- batch kernels -------------------------------------------------

# What Go's hex.DecodeString accepts: pairs of hex digits, no whitespace,
# no odd length (bytes.fromhex is looser on both counts). The empty
# string is left out: its raw and UTF-8 bytes are the same.
_HEX_RE = r"^(?:[0-9a-fA-F]{2})+$"
_NIBBLE = np.zeros(256, np.uint8)          # ASCII hex digit -> value
_NIBBLE[np.frombuffer(b"0123456789abcdef", np.uint8)] = np.arange(16)
_NIBBLE[np.frombuffer(b"ABCDEF", np.uint8)] = np.arange(10, 16)


def _utf8_spans(s: pd.Series, raw_hex: bool):
    """The batch's bytes as ``(data, starts, lens, null)``: row i is
    ``data[starts[i]:starts[i] + lens[i]]`` (length 0 when null).
    ``raw_hex`` rows matching ``_HEX_RE`` point at their decoded bytes,
    which are appended to ``data``: every byte pair of the buffer is
    decoded once at each parity, so a row starting at an even offset
    reads the first run and one at an odd offset the second."""
    arr = pa.array(s, type=pa.string(), from_pandas=True)
    _, off_buf, data_buf = arr.buffers()
    offsets = np.frombuffer(off_buf, np.int32, len(arr) + 1,
                            arr.offset * 4).astype(np.int64)
    data = np.frombuffer(data_buf, np.uint8)
    null = arr.is_null().to_numpy(zero_copy_only=False)
    starts = offsets[:-1]
    lens = np.where(null, 0, np.diff(offsets))
    if raw_hex:
        hexed = pc.fill_null(pc.match_substring_regex(arr, _HEX_RE), False)
        hexed = hexed.to_numpy(zero_copy_only=False)
        if not hexed.any():
            return data, starts, lens, null
        nib = _NIBBLE[data]
        m0, m1 = len(data) // 2, max(len(data) - 1, 0) // 2
        even = (nib[0:2 * m0:2] << 4) | nib[1:2 * m0:2]
        odd = (nib[1:2 * m1 + 1:2] << 4) | nib[2:2 * m1 + 2:2]
        starts = np.where(hexed, len(data) + starts // 2 + (starts % 2) * m0,
                          starts)
        lens = np.where(hexed, lens // 2, lens)
        data = np.concatenate([data, even, odd])
    return data, starts, lens, null


def _byte_matrices(s: pd.Series, prefix: bytes = b"", raw_hex: bool = False):
    """Read a string batch into zero-padded byte matrices.

    Returns ``(null, groups)``. Each group is ``(rows, mat, lens)``: the
    batch positions it holds, a C-contiguous ``uint8`` matrix with one
    row per string (``prefix``, then the UTF-8 bytes, then zeros) and
    the byte lengths, prefix included. Rows are grouped by power-of-two
    width, so one long row does not pad the short ones to its length.
    Widths are multiples of 16 with at least one zero byte past every
    row, so a Murmur3 kernel can read the whole block at the tail
    position. ``raw_hex``: see ``_utf8_spans``. Null rows have no bytes
    of their own and are flagged in ``null``; an empty batch yields one
    empty group, so a kernel still fixes the output dtype."""
    data, starts, lens, null = _utf8_spans(s, raw_hex)
    p = len(prefix)
    total = lens + p
    def width_class(n):
        return np.ceil(np.log2(n // 16 + 1)).astype(np.int64)

    cls = width_class(total)
    # an empty batch's one group must still be wide enough for the prefix
    classes = np.unique(cls) if len(cls) else width_class(np.array([p]))
    # zero tail: a row's gather may run up to a full width past its start
    data = np.concatenate([data, np.zeros(16 << int(classes[-1]), np.uint8)])
    out = []
    for c in classes:
        rows = np.flatnonzero(cls == c)
        mat = np.empty((len(rows), 16 << int(c)), np.uint8)
        mat[:, :p] = np.frombuffer(prefix, np.uint8)
        cols = np.arange(mat.shape[1] - p)
        body = data[starts[rows][:, None] + cols]
        body[cols >= lens[rows][:, None]] = 0
        mat[:, p:] = body
        out.append((rows, mat, total[rows]))
    return null, out


def hash_batch(kernel, s: pd.Series, prefix: bytes = b"",
               raw_hex: bool = False):
    """Hash every string of a batch: ``kernel`` is one of the
    ``*_kernel`` functions below, ``prefix`` and ``raw_hex`` are as in
    ``_byte_matrices``. Returns ``(hashes, null)`` in batch order; a
    null row's hash is that of the prefix alone and is to be ignored."""
    null, groups = _byte_matrices(s, prefix, raw_hex)
    out = None
    for rows, mat, lens in groups:
        h = kernel(mat, lens)
        if out is None:
            out = np.empty((len(null),) + h.shape[1:], h.dtype)
        out[rows] = h
    return out, null


# Kernels: ``(mat, lens)`` from ``_byte_matrices`` -> one hash per row,
# equal to the scalar function of the same name on each row's bytes.

def _fnv1a(mat, lens, basis, prime):
    h = np.full(len(mat), basis, prime.dtype)
    cols = np.ascontiguousarray(mat.T)
    shortest = lens.min() if len(lens) else 0
    for j in range(lens.max() if len(lens) else 0):
        # a row whose bytes ended before position j keeps its hash
        np.multiply(h ^ cols[j], prime, out=h,
                    where=True if j < shortest else j < lens)
    return h


def fnv1a_32_kernel(mat, lens):
    return _fnv1a(mat, lens, 0x811C9DC5, np.uint32(0x01000193))


def fnv1a_64_kernel(mat, lens):
    return _fnv1a(mat, lens, 0xCBF29CE484222325, np.uint64(0x100000001B3))


def _rotl(x, r: int):
    return (x << r) | (x >> (x.dtype.itemsize * 8 - r))


def murmur3_32_kernel(mat, lens):
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    words = mat.view("<u4")
    nb = lens // 4
    h = np.zeros(len(mat), np.uint32)
    for b in range(nb.max() if len(nb) else 0):
        k = _rotl(words[:, b] * c1, 15) * c2
        hn = _rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
        h = np.where(b < nb, hn, h)
    # the word at block nb holds the 0-3 tail bytes, zero padded; an
    # empty tail is 0 and leaves h as it is
    tail = words[np.arange(len(mat)), nb]
    h ^= _rotl(tail * c1, 15) * c2
    h ^= lens.astype(np.uint32)
    h ^= h >> 16
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> 13
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> 16
    return h


def _fmix64_rows(k):
    k ^= k >> 33
    k *= np.uint64(0xFF51AFD7ED558CCD)
    k ^= k >> 33
    k *= np.uint64(0xC4CEB9FE1A85EC53)
    k ^= k >> 33
    return k


def murmur3_x64_128_kernel(mat, lens):
    c1, c2 = np.uint64(0x87C37B91114253D5), np.uint64(0x4CF5AD432745937F)
    words = mat.view("<u8")
    nb = lens // 16
    h1 = np.zeros(len(mat), np.uint64)
    h2 = np.zeros(len(mat), np.uint64)
    five = np.uint64(5)
    for b in range(nb.max() if len(nb) else 0):
        k1 = _rotl(words[:, 2 * b] * c1, 31) * c2
        n1 = (_rotl(h1 ^ k1, 27) + h2) * five + np.uint64(0x52DCE729)
        k2 = _rotl(words[:, 2 * b + 1] * c2, 33) * c1
        n2 = (_rotl(h2 ^ k2, 31) + n1) * five + np.uint64(0x38495AB5)
        live = b < nb
        h1 = np.where(live, n1, h1)
        h2 = np.where(live, n2, h2)
    # the two words at block nb hold the 0-15 tail bytes, zero padded;
    # a zero word leaves its half of the state as it is
    r = np.arange(len(mat))
    h2 ^= _rotl(words[r, 2 * nb + 1] * c2, 33) * c1
    h1 ^= _rotl(words[r, 2 * nb] * c1, 31) * c2
    n = lens.astype(np.uint64)
    h1 ^= n
    h2 ^= n
    h1 += h2
    h2 += h1
    h1 = _fmix64_rows(h1)
    h2 = _fmix64_rows(h2)
    h1 += h2
    h2 += h1
    return np.column_stack([h1, h2])


def _hex_series(h: np.ndarray, null: np.ndarray) -> pd.Series:
    """Little-endian hex of each row of ``h``, None where null."""
    width = 2 * h.dtype.itemsize * (h.shape[1] if h.ndim == 2 else 1)
    hexed = np.ascontiguousarray(h, h.dtype.newbyteorder("<")).tobytes().hex()
    out = np.frombuffer(hexed.encode("ascii"), f"S{width}").astype(f"U{width}")
    out = out.astype(object)
    out[null] = None
    return pd.Series(out)


# The pandas_udf wrappers are created lazily (at first call, on the
# driver): decorating at module import time would re-run pandas_udf on
# executors when cloudpickle re-imports this module, where no
# SparkSession exists.

def _fnv1a64_batch(s: pd.Series) -> pd.Series:
    h, null = hash_batch(fnv1a_64_kernel, s)
    return pd.Series(pd.arrays.IntegerArray(h.view(np.int64), null))


def _murmur3_hex_batch(s: pd.Series) -> pd.Series:
    return _hex_series(*hash_batch(murmur3_32_kernel, s))


def _murmur3_128_hex_batch(s: pd.Series) -> pd.Series:
    return _hex_series(*hash_batch(murmur3_x64_128_kernel, s))


def fnv1a64_udf(c: Column) -> Column:
    """FNV converter: signed int64 of FNV-1a 64 over UTF-8 bytes."""
    return pandas_udf(_fnv1a64_batch, "long")(c.cast("string"))


def murmur3_hex_udf(c: Column) -> Column:
    """Murmur3Hash converter: little-endian hex of murmur3-32(seed 0)."""
    return pandas_udf(_murmur3_hex_batch, "string")(c.cast("string"))


def murmur3_128_hex_udf(c: Column) -> Column:
    """Murmur3Hash128 converter: LE hex of h1 then h2."""
    return pandas_udf(_murmur3_128_hex_batch, "string")(c.cast("string"))
