"""Gorilla-style time-series chunk codec (frozen specs "dod-v1" and
"gorilla-v1") — BASELINE.json north_star "delta-of-delta timestamp +
Gorilla XOR value encoded ... per-partition compressed chunk structs".

Scheme follows Pelkonen et al., *Gorilla: A Fast, Scalable, In-Memory
Time Series Database*, VLDB 2015 (public paper; PAPERS.md corpus is the
background) — re-derived here from the paper's description, sized for
microsecond timestamps:

dod-v1 (timestamps, int64 microseconds):
  [first ts: 64 bits][first delta: 64 bits] then per point the
  delta-of-delta D in prefix buckets:
    D == 0                : '0'
    D in [-63, 64]        : '10'   + 7 bits  (D + 63)
    D in [-8191, 8192]    : '110'  + 14 bits (D + 8191)
    D in [-2^21+1, 2^21]  : '1110' + 22 bits (D + 2^21 - 1)
    else                  : '1111' + 64 bits (D as two's complement)

gorilla-v1 (float64 values, bit-exact incl. NaN payloads and -0.0):
  [first value: 64 raw bits] then per point X = bits(prev) ^ bits(cur):
    X == 0                                   : '0'
    leading/trailing-zero window reusable    : '10' + meaningful bits
    else: '11' + 6 bits #leading + 6 bits #meaningful + meaningful bits
  (#meaningful stored minus 1 so 64 fits in 6 bits.)

Encoders/decoders are sequential bit loops per chunk — chunks are
bounded (≤ CHUNK_MAX points), and the Spark layer (operators/chunks.py)
hands a whole Arrow batch of chunks to one Python call that runs one
loop per chunk, so the Python loop cost is O(chunk), embarrassingly
parallel across chunks.
"""

from __future__ import annotations

import numpy as np


class _BitWriter:
    """Big-endian bit stream, O(1) amortized per write.

    Completed bytes are flushed out of the small accumulator as they
    fill (a first version kept the WHOLE chunk in one growing Python
    bignum, making every write O(chunk bytes) — quadratic per chunk;
    measured ~6× slower on 4000-point chunks). Bitstream output is
    identical."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def to_bytes(self) -> bytes:
        if self.nbits:
            return bytes(self.out) + bytes(
                [(self.acc << ((-self.nbits) % 8)) & 0xFF]
            )
        return bytes(self.out)


class _BitReader:
    """Big-endian bit stream reader, O(1) per read (same fix as the
    writer: never shift a chunk-sized bignum)."""

    __slots__ = ("data", "acc", "nbits", "bytepos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.acc = 0
        self.nbits = 0
        self.bytepos = 0

    def read(self, nbits: int) -> int:
        while self.nbits < nbits:
            self.acc = (self.acc << 8) | self.data[self.bytepos]
            self.bytepos += 1
            self.nbits += 8
        self.nbits -= nbits
        v = (self.acc >> self.nbits) & ((1 << nbits) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v


_DOD_BUCKETS = (
    (64, "10", 7, 63),
    (8192, "110", 14, 8191),
    (1 << 21, "1110", 22, (1 << 21) - 1),
)


def encode_timestamps(ts_us: np.ndarray) -> bytes:
    """int64 microsecond timestamps (sorted) → dod-v1 bytes."""
    ts = np.asarray(ts_us, dtype=np.int64)
    n = len(ts)
    w = _BitWriter()
    if n == 0:
        return b""
    w.write(int(ts[0]), 64)
    if n == 1:
        return w.to_bytes()
    first_delta = int(ts[1]) - int(ts[0])
    w.write(first_delta, 64)
    deltas = np.diff(ts)
    dods = np.diff(deltas, prepend=deltas[:1])[1:]  # dod for points 2..n-1
    for d in dods:
        d = int(d)
        if d == 0:
            w.write(0, 1)
            continue
        for bound, prefix, nbits, bias in _DOD_BUCKETS:
            if -bound + 1 <= d <= bound:
                w.write(int(prefix, 2), len(prefix))
                w.write(d + bias, nbits)
                break
        else:
            w.write(0b1111, 4)
            w.write(d, 64)
    return w.to_bytes()


def decode_timestamps(data: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    r = _BitReader(data)
    out = np.empty(n, dtype=np.int64)
    out[0] = _signed(r.read(64), 64)
    if n == 1:
        return out
    delta = _signed(r.read(64), 64)
    out[1] = out[0] + delta
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(14) - 8191
        elif r.read(1) == 0:
            dod = r.read(22) - ((1 << 21) - 1)
        else:
            dod = _signed(r.read(64), 64)
        delta += dod
        out[i] = out[i - 1] + delta
    return out


def _signed(v: int, nbits: int) -> int:
    return v - (1 << nbits) if v >= (1 << (nbits - 1)) else v


def encode_values(vals: np.ndarray) -> bytes:
    """float64 values → gorilla-v1 bytes (bit-exact round trip)."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits)
    w = _BitWriter()
    if n == 0:
        return b""
    w.write(int(bits[0]), 64)
    prev = int(bits[0])
    lead, mean_len = -1, 0  # current reusable window (invalid at start)
    for i in range(1, n):
        cur = int(bits[i])
        x = prev ^ cur
        prev = cur
        if x == 0:
            w.write(0, 1)
            continue
        xl = 64 - x.bit_length()  # leading zeros
        xt = (x & -x).bit_length() - 1  # trailing zeros
        if lead >= 0 and xl >= lead and (64 - xt) <= lead + mean_len:
            w.write(0b10, 2)
            w.write(x >> (64 - lead - mean_len), mean_len)
        else:
            lead = min(xl, 63)
            mean_len = 64 - lead - xt
            w.write(0b11, 2)
            w.write(lead, 6)
            w.write(mean_len - 1, 6)
            w.write(x >> xt, mean_len)
    return w.to_bytes()


def decode_values(data: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.float64)
    r = _BitReader(data)
    out = np.empty(n, dtype=np.uint64)
    prev = r.read(64)
    out[0] = prev
    lead, mean_len = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 1:
            lead = r.read(6)
            mean_len = r.read(6) + 1
        x = r.read(mean_len) << (64 - lead - mean_len)
        prev ^= x
        out[i] = prev
    return out.view(np.float64)
