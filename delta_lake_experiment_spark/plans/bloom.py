"""Per-file bloom filters for point-lookup file pruning.

The reference's roadmap names "per-object column stats / bloom filters"
(reference README.md:37). Min/max stats (already in every ``add``
action) prune RANGE predicates well, but do nothing for equality
lookups on high-cardinality columns whose per-file [min, max] spans
overlap — the most common selective predicate a real user hits (pk
point lookups). A small bloom per declared column closes that gap:
``live_files(prune={col: (v, v)})`` drops every file whose bloom
excludes ``v``.

Design points:

- **Log-embedded, not sidecar.** Delta stores blooms as sidecar files
  read by executors at scan time; our pruning is driver-side over the
  snapshot, so the bits live in the ``add`` action (and fold into
  checkpoints). That bounds bloom size: ~10 bits/row, capped — declared
  columns only (opt-in via ``create_table(bloom_columns=...)``,
  defaulting to none).
- **Deterministic double hashing** (Kirsch–Mitzenmacher): positions
  ``(h1 + i*h2) mod m`` from one blake2b digest of a type-tagged
  encoding, so build and probe agree across processes with no stored
  seeds. Values are tagged (``i:``/``s:``) so ``1`` and ``'1'`` never
  alias.
- Only int and string columns participate; float equality pruning is a
  correctness trap (NaN, -0.0, representation drift) and is skipped.
"""

from __future__ import annotations

import base64
import hashlib
from dataclasses import dataclass
from typing import Any, Optional

# ~10 bits/value at k=7 gives ~1% false-positive rate.
BITS_PER_VALUE = 10
NUM_HASHES = 7
MIN_BITS = 1024
# Log-size guard: a 200k-row file yields a ~250 KB base64 blob; above
# that the bloom is skipped (min/max stats still apply).
MAX_VALUES = 200_000
# Blooms whose base64 bitset exceeds this spill to a SIDECAR object
# (``bloomf_<uuid>``) referenced from the add action as {"ref": name} —
# Delta's sidecar pattern: at 10^5-10^6 files, inlining ~250 KB/file
# would drag GBs of base64 through every snapshot replay/checkpoint.
# 4 KiB keeps log records ~footer-sized; small files stay inline (one
# less round-trip on probe).
SIDECAR_THRESHOLD_B64 = 4096

# Sidecar blooms are immutable once written (new file -> new uuid), so a
# small module-level cache makes repeated point-lookup probes cheap.
_SIDECAR_CACHE: dict[str, "BloomFilter"] = {}
_SIDECAR_CACHE_MAX = 512


def resolve_bloom(d: dict, store) -> Optional["BloomFilter"]:
    """BloomFilter from an add-action bloom entry: inline {m,k,b64} or
    sidecar {"ref": name}. Returns None (admit the file) when a sidecar
    cannot be read — e.g. vacuumed beyond this reader's snapshot."""
    ref = d.get("ref")
    if ref is None:
        return BloomFilter.from_json(d)
    bf = _SIDECAR_CACHE.get(ref)
    if bf is None:
        import json

        try:
            bf = BloomFilter.from_json(json.loads(store.read(ref)))
        except Exception:
            return None
        if len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
            _SIDECAR_CACHE.clear()
        _SIDECAR_CACHE[ref] = bf
    return bf


def _tagged(value: Any) -> Optional[bytes]:
    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, int):
        return b"i:" + str(value).encode()
    if isinstance(value, str):
        return b"s:" + value.encode("utf-8")
    return None


def _h1h2(data: bytes) -> tuple[int, int]:
    d = hashlib.blake2b(data, digest_size=16).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1


@dataclass
class BloomFilter:
    m: int  # number of bits
    k: int
    bits: bytearray

    @classmethod
    def sized_for(cls, n_values: int) -> "BloomFilter":
        m = max(MIN_BITS, n_values * BITS_PER_VALUE)
        m = (m + 7) // 8 * 8
        return cls(m=m, k=NUM_HASHES, bits=bytearray(m // 8))

    def add(self, value: Any) -> None:
        data = _tagged(value)
        if data is None:
            return
        h1, h2 = _h1h2(data)
        for i in range(self.k):
            pos = (h1 + i * h2) % self.m
            self.bits[pos >> 3] |= 1 << (pos & 7)

    def might_contain(self, value: Any) -> bool:
        data = _tagged(value)
        if data is None:
            return True  # untaggable probe -> cannot prune
        h1, h2 = _h1h2(data)
        for i in range(self.k):
            pos = (h1 + i * h2) % self.m
            if not self.bits[pos >> 3] & (1 << (pos & 7)):
                return False
        return True

    def to_json(self) -> dict:
        return {"m": self.m, "k": self.k, "b64": base64.b64encode(bytes(self.bits)).decode()}

    @classmethod
    def from_json(cls, d: dict) -> "BloomFilter":
        return cls(m=int(d["m"]), k=int(d["k"]), bits=bytearray(base64.b64decode(d["b64"])))


def build_column_blooms(
    columns: dict[str, list[Any]], bloom_cols: list[str]
) -> dict[str, dict]:
    """Blooms (JSON-ready) for the requested columns of one data object.
    Columns absent, oversized, or wholly untaggable produce no bloom
    (min/max stats still apply to them)."""
    out: dict[str, dict] = {}
    for col in bloom_cols:
        values = columns.get(col)
        if values is None or len(values) > MAX_VALUES:
            continue
        bf = BloomFilter.sized_for(len(values))
        tagged_any = False
        for v in values:
            if _tagged(v) is not None:
                tagged_any = True
            bf.add(v)
        if tagged_any:
            out[col] = bf.to_json()
    return out
