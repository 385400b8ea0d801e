"""Cuckoo-filter kernel of the partitioned URL-seen set — supports deletion.

The north rule names "bloom/cuckoo URL-seen (cuckoo fallback for deletions)".
The engine's default is the Bloom kernel (bloom.py): the reference's
``UrlStore.reschedule`` flips status without un-seeing the URL
(/root/reference/src/kermit/QueueSystem.coffee:189-191), so nothing ever
needs deletion and Bloom's smaller bitset wins. Deletion (``Frontier.evict``
re-crawl/aging policies) is the one reason to pick cuckoo, so cuckoo is a
kernel, not a second pipeline: ``CuckooSpec`` (sizing, load-factor
saturation test, blob-row conversion) plus ``CuckooFilter``, one
partition's bucket table. The Spark blob layer in ``seen.py`` runs it
exactly like the Bloom kernel, with the same prefilter contract (no false
negatives for present keys; exactness via anti-join).

Standard cuckoo filter (Fan et al., CoNEXT'14, public): 4-slot buckets,
8-bit fingerprints, partial-key cuckoo hashing — bucket2 = bucket1 XOR
hash(fingerprint). All operations vectorized with numpy over Arrow batches.
Unlike a Bloom, a cuckoo table can run full: ``insert`` reports the keys it
could not place, and the frontier answers any such key with a grow and a
rebuild from the frontier table, so no committed blob stays short of a key.
Blobs ride the Bloom row layout: ``filter`` = the bucket table bytes,
``m_bits`` = n_buckets, ``k_hashes`` = 0.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_EMPTY = 0  # fingerprints are 1..255; 0 marks an empty slot
_SLOTS = 4
_MAX_KICKS = 500
# load factor past which a table counts as saturated: 4-slot buckets start
# failing placements near 95%, so grow before that rather than at the
# first failed key
_MAX_LOAD = 0.9


@dataclass
class CuckooFilter:
    """Single-partition filter over int64 keys (url_hash values)."""

    n_buckets: int

    def __post_init__(self):
        # power-of-two buckets so the XOR trick stays in range
        n = 1
        while n < self.n_buckets:
            n <<= 1
        self.n_buckets = n
        self.table = np.zeros((n, _SLOTS), dtype=np.uint8)
        self.n_items = 0

    # -- hashing -----------------------------------------------------------

    def _fingerprint(self, keys: np.ndarray) -> np.ndarray:
        fp = ((keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(56)).astype(np.uint8)
        return np.where(fp == _EMPTY, np.uint8(1), fp)

    def _bucket1(self, keys: np.ndarray) -> np.ndarray:
        return (keys.astype(np.uint64) % np.uint64(self.n_buckets)).astype(np.int64)

    def _alt_bucket(self, bucket: np.ndarray, fp: np.ndarray) -> np.ndarray:
        h = fp.astype(np.uint64) * np.uint64(0x5BD1E995)
        return ((bucket.astype(np.uint64) ^ h) % np.uint64(self.n_buckets)).astype(np.int64)

    # -- operations --------------------------------------------------------

    def _claim_empty_slots(self, buckets: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized bulk placement: write each fp into an empty slot of its
        bucket, one winner per (bucket, slot) per round (losers retry against
        the updated table — each round fills at least one contested slot, so
        the loop terminates). Returns the placed mask."""
        placed = np.zeros(len(buckets), dtype=bool)
        pending = np.arange(len(buckets))
        while len(pending):
            bb = buckets[pending]
            empties = self.table[bb] == _EMPTY  # (m, 4)
            has = empties.any(axis=1)
            if not has.any():
                break
            idx = pending[has]
            slot = empties[has].argmax(axis=1)
            key = bb[has] * _SLOTS + slot
            _, first = np.unique(key, return_index=True)
            winners, wslot = idx[first], slot[first]
            self.table[buckets[winners], wslot] = fps[winners]
            placed[winners] = True
            pending = idx[~np.isin(idx, winners)]
        return placed

    def insert(self, keys: np.ndarray) -> int:
        """Insert keys; returns the number of keys it could NOT place (the
        table is too full to settle a key after MAX_KICKS evictions; the
        filter then lacks keys and must be rebuilt larger). Bulk-vectorized:
        empty-slot placement in bucket1 then bucket2 handles ~everything at
        sane load factors; only keys finding both buckets full take the
        per-key cuckoo kick loop."""
        fps = self._fingerprint(keys)
        b1s = self._bucket1(keys)
        b2s = self._alt_bucket(b1s, fps)
        placed = self._claim_empty_slots(b1s, fps)
        rem = ~placed
        if rem.any():
            placed2 = self._claim_empty_slots(b2s[rem], fps[rem])
            placed[np.flatnonzero(rem)[placed2]] = True
        inserted = int(placed.sum())
        for i in np.flatnonzero(~placed):
            if not self._insert_one(np.uint8(fps[i]), int(b1s[i])):
                # the table is full: leave the rest unplaced rather than
                # spend MAX_KICKS on each of them
                break
            inserted += 1
        self.n_items += inserted
        return len(keys) - inserted

    def _insert_one(self, fp: np.uint8, b1: int) -> bool:
        b2 = int(self._alt_bucket(np.array([b1]), np.array([fp]))[0])
        for b in (b1, b2):
            empty = np.where(self.table[b] == _EMPTY)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        # cuckoo eviction loop
        rng = np.random.default_rng(int(fp) * 2654435761 % (2**32))  # deterministic per fp
        b = b1
        for _ in range(_MAX_KICKS):
            slot = int(rng.integers(_SLOTS))
            fp, self.table[b, slot] = self.table[b, slot], fp
            b = int(self._alt_bucket(np.array([b]), np.array([fp]))[0])
            empty = np.where(self.table[b] == _EMPTY)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        return False  # the fingerprint in hand (possibly another key's) is lost

    def contains(self, keys: np.ndarray) -> np.ndarray:
        fps = self._fingerprint(keys)
        b1 = self._bucket1(keys)
        b2 = self._alt_bucket(b1, fps)
        in1 = (self.table[b1] == fps[:, None]).any(axis=1)
        in2 = (self.table[b2] == fps[:, None]).any(axis=1)
        return in1 | in2

    def _clear_matching_slots(self, buckets: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized bulk deletion: clear ONE slot matching fp per request,
        one winner per (bucket, slot) per round (losers retry — a second
        request for the same fp either finds another matching slot next
        round or drops out). Returns the cleared mask."""
        cleared = np.zeros(len(buckets), dtype=bool)
        pending = np.arange(len(buckets))
        while len(pending):
            bb = buckets[pending]
            matches = self.table[bb] == fps[pending][:, None]  # (m, 4)
            has = matches.any(axis=1)
            if not has.any():
                break
            idx = pending[has]
            slot = matches[has].argmax(axis=1)
            key = bb[has] * _SLOTS + slot
            _, first = np.unique(key, return_index=True)
            winners, wslot = idx[first], slot[first]
            self.table[buckets[winners], wslot] = _EMPTY
            cleared[winners] = True
            pending = idx[~np.isin(idx, winners)]
        return cleared

    def delete(self, keys: np.ndarray) -> int:
        """Remove one matching fingerprint per key; returns number removed.
        (Deleting a never-inserted key can evict a colliding entry — the
        standard cuckoo caveat; callers only delete keys they inserted.)
        Bulk-vectorized like insert: bucket1 pass, then bucket2 for the
        remainder."""
        fps = self._fingerprint(keys)
        b1s = self._bucket1(keys)
        b2s = self._alt_bucket(b1s, fps)
        cleared = self._clear_matching_slots(b1s, fps)
        rem = ~cleared
        if rem.any():
            cleared2 = self._clear_matching_slots(b2s[rem], fps[rem])
            cleared[np.flatnonzero(rem)[cleared2]] = True
        removed = int(cleared.sum())
        self.n_items -= removed
        return removed

    def fill_stats(self) -> dict:
        """Saturation stats in the Bloom stats layout: ``fill_ratio`` is the
        slot load factor, ``est_keys`` the occupied slots, and ``est_fpp``
        the structural bound 2·SLOTS/2^8 (2 candidate buckets × 4 slots of
        8-bit fingerprints) — it does not climb with fill the way a Bloom's
        does, which is why saturation is a load test (CuckooSpec.saturated)."""
        occupied = int(np.count_nonzero(self.table))
        return {
            "n_items": int(self.n_items),
            "m_bits": int(self.n_buckets),
            "k_hashes": 0,
            "fill_ratio": occupied / self.table.size,
            "est_keys": float(occupied),
            "est_fpp": 2.0 * _SLOTS / 256.0,
        }

    # -- (de)serialization for catalog blobs -------------------------------

    def row(self) -> tuple[bytes, int, int, int]:
        """(filter, n_items, m_bits, k_hashes) of the url_seen blob row."""
        return self.to_bytes(), self.n_items, self.n_buckets, 0

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes, n_buckets: int) -> "CuckooFilter":
        f = cls(n_buckets)
        f.table = np.frombuffer(blob, dtype=np.uint8).reshape(f.n_buckets, _SLOTS).copy()
        f.n_items = int((f.table != _EMPTY).sum())
        return f


@dataclass(frozen=True)
class CuckooSpec:
    """Buckets sized for the expected per-partition URL count at ~95% max
    load (4 slots/bucket)."""

    n_buckets: int = 1 << 17

    deletable = True

    @staticmethod
    def for_capacity(n_keys_per_partition: int) -> "CuckooSpec":
        return CuckooSpec(n_buckets=max(1 << 8, int(n_keys_per_partition / (_SLOTS * 0.95))))

    def fit(self, n_keys: int) -> "CuckooSpec":
        """Spec for a partition built with ``n_keys`` keys: never smaller
        than one at most half full, so a build or rebuild places every key
        even when the spec is undersized for the partition."""
        need = CuckooSpec.for_capacity(2 * n_keys).n_buckets
        return self if self.n_buckets >= need else CuckooSpec(need)

    def new(self) -> CuckooFilter:
        return CuckooFilter(self.n_buckets)

    @staticmethod
    def load(blob: bytes, n_items: int, m_bits: int, k_hashes: int) -> CuckooFilter:
        """A blob row's filter (a writable copy of its table)."""
        return CuckooFilter.from_bytes(blob, m_bits)

    @staticmethod
    def saturated(stats: dict, max_fpp: float | None) -> bool:
        """Load factor past _MAX_LOAD. ``max_fpp`` does not apply: the fp
        bound is structural (see CuckooFilter.fill_stats)."""
        return stats["fill_ratio"] > _MAX_LOAD
