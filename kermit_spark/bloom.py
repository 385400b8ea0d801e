"""Bloom-filter kernel of the partitioned URL-seen set (the default).

Replaces the reference's O(1) dedup-on-insert (nedb unique index on ``url``,
/root/reference/src/kermit/QueueSystem.coffee:162,194-201) with the structure
the north rule names: a **partitioned Bloom filter keyed on canonicalized URL
hashes**, one bitset per host-salt partition, persisted as binary blobs in the
``url_seen`` table.

Role at 10^10-frontier scale (SURVEY §4.2): the set is a *shuffle reduction
prefilter*, never membership truth. Discovered links that the partition's
filter rejects are **definitely new** (no false negatives) and skip the exact
anti-join; only the "maybe seen" remainder is shuffled into the anti-join
against the frontier partition, so a false positive can never silently drop
a URL (SURVEY §7).

This module is numpy only: ``BloomSpec`` (sizing, saturation test, blob-row
conversion) plus ``BloomFilter``, one partition's bitset, whose insert /
contains run ``_probe_positions`` / ``_set_bits`` / ``_test_bits`` — double
hashing (h1 + i*h2 mod m, Kirsch–Mitzenmacher) derives k probe positions
from the 64-bit url_hash without rehashing strings. The Spark blob layer
(build, merge, probe, fill stats) is written once over any kernel in
``seen.py``; the deletable cuckoo kernel (``cuckoo.py``) plugs into the same
layer. A Bloom never refuses a key: it saturates instead (fpp = fill^k
climbs), which the frontier's health check measures and answers with a grow.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class BloomSpec:
    """m sized for the *expected per-partition* URL count: bits_per_key=10,
    k=7 gives fpp ≈ 0.8%."""

    m_bits: int = 1 << 20
    k_hashes: int = 7

    deletable = False

    @staticmethod
    def for_capacity(n_keys_per_partition: int, bits_per_key: int = 10) -> "BloomSpec":
        # m is rounded UP to a byte multiple: blob buffers hold m >> 3
        # bytes, so a non-multiple-of-8 m would let probe positions in the
        # last partial byte index past the buffer (auto-grow computes
        # ceil(peak × growth), which lands on odd values whenever the
        # float cardinality estimate exceeds the exact count)
        m = max(1 << 10, -(-int(n_keys_per_partition) * bits_per_key // 8) * 8)
        return BloomSpec(m_bits=m, k_hashes=7)

    def fit(self, n_keys: int) -> "BloomSpec":
        """Spec for a partition built with ``n_keys`` keys: the spec itself.
        A Bloom holds any number of keys; saturation is measured, not
        prevented."""
        return self

    def new(self) -> "BloomFilter":
        return BloomFilter(np.zeros(self.m_bits >> 3, dtype=np.uint8), self.m_bits, self.k_hashes)

    @staticmethod
    def load(blob: bytes, n_items: int, m_bits: int, k_hashes: int) -> "BloomFilter":
        """A blob row's filter. The bits stay a read-only view of the blob
        until the first insert copies them."""
        return BloomFilter(np.frombuffer(blob, dtype=np.uint8), m_bits, k_hashes, n_items)

    @staticmethod
    def saturated(stats: dict, max_fpp: float | None) -> bool:
        """The blob's actual fpp (fill^k) is past ``max_fpp``; None = off."""
        return max_fpp is not None and stats["est_fpp"] > max_fpp


@dataclass
class BloomFilter:
    """One partition's bitset. Every operation reads the filter's own
    (m_bits, k_hashes), never a spec: a resumed frontier holds the default
    spec even when the stored blobs were grown, and probing modulo the wrong
    m would give false NEGATIVES."""

    bits: np.ndarray
    m_bits: int
    k_hashes: int
    n_items: int = 0

    def insert(self, keys: np.ndarray) -> int:
        """OR the keys in; returns the number of keys it could not hold —
        always 0 for a Bloom."""
        if not self.bits.flags.writeable:
            self.bits = self.bits.copy()
        if len(keys):
            _set_bits(self.bits, _probe_positions(keys, self.m_bits, self.k_hashes))
        self.n_items += len(keys)
        return 0

    def contains(self, keys: np.ndarray) -> np.ndarray:
        return _test_bits(self.bits, _probe_positions(keys, self.m_bits, self.k_hashes))

    def row(self) -> tuple[bytes, int, int, int]:
        """(filter, n_items, m_bits, k_hashes) of the url_seen blob row."""
        return self.bits.tobytes(), self.n_items, self.m_bits, self.k_hashes

    def fill_stats(self) -> dict:
        """Saturation stats. ``est_keys`` inverts the expected-fill curve
        E[fill] = 1-(1-1/m)^(kn) ≈ 1-e^(-kn/m)  ⇒  n ≈ -(m/k)·ln(1-fill)
        (standard Bloom cardinality estimate — Swamidass & Baldi 2007);
        ``est_fpp`` = fill^k, the *actual* false-positive rate of the blob as
        built, which keeps climbing as merges OR more keys into a fixed m."""
        m, k = self.m_bits, self.k_hashes
        fill = _popcount(self.bits) / m if m else 0.0
        if 0.0 < fill < 1.0:
            est_keys = -(m / k) * float(np.log1p(-fill))
        else:
            est_keys = 0.0 if fill == 0.0 else float("inf")
        return {
            "n_items": int(self.n_items),
            "m_bits": int(m),
            "k_hashes": int(k),
            "fill_ratio": fill,
            "est_keys": est_keys,
            "est_fpp": fill**k if k else 1.0,
        }


def _popcount(bits: np.ndarray) -> int:
    """Set-bit count of a uint8 buffer (numpy>=2 bitwise_count; unpackbits
    fallback keeps numpy 1.x working)."""
    bc = getattr(np, "bitwise_count", None)
    if bc is not None:
        return int(bc(bits).sum())
    return int(np.unpackbits(bits).sum())


def _probe_positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) probe bit positions via double hashing on the uint64 key."""
    h = hashes.astype(np.uint64)
    h1 = h
    # odd multiplier keeps h2 well distributed; force h2 odd so strides cover
    h2 = (h * np.uint64(0x9E3779B97F4A7C15) >> np.uint64(17)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k probes are set (maybe-seen)."""
    probes = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return probes.all(axis=1)
