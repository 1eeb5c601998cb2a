"""Manifest-level Bloom filters: file skipping for point lookups.

Min/max stats prune files only when the probed column is clustered; a
high-cardinality key written in arrival order (the common shape for
merge keys and document ids) gives every file a near-full [min, max]
range, so an equality probe on a 100 TB table scans everything.  A
per-file Bloom filter answers "might this FILE contain value v?" in
O(k) bit tests with zero false negatives, which is exactly the file-
skipping contract manifests need — the planning analogue of Iceberg's
``write.parquet.bloom-filter-enabled.column.*`` (those blooms live in
parquet footers and skip ROW GROUPS after the file is already opened;
these live in manifest entries and skip the open itself).

Reference parity: the reference delegates scans to PyIceberg/DuckDB
(src/dlt_iceberg/sql_client.py:142-146), which prune by min/max only;
file-level blooms are our scale addition for the unsorted-key case.

Layout: blooms ride the existing per-entry ``sketches`` dict under
``"bloom:<col>"`` keys as ``{"b": base64(bits), "m": m_bits, "k":
n_hashes, "t": dtype_tag}``.  Entries are discriminated from KMV NDV
sketches by VALUE shape (blooms carry ``"b"``, KMV carry ``"h"``), so
no column name can collide with the routing.  Manifest refs carry the
bit-OR fold of their entries' blooms (same m/k/t), letting a probe skip
a whole 500-file manifest chunk without opening it.

Hashing: Spark's ``xxhash64`` of each value (seed 42; ints and dates
through the 4-byte path — a date as its int32 day count — longs through
the 8-byte path, strings as UTF-8 bytes), split Guava-style into two
32-bit halves h1/h2; bit i = (h1 + i*h2) mod m (Kirsch-Mitzenmacher
double hashing).  Local tables build the bits on the driver from the
staged files' columns (:func:`build_bloom`, the numpy Spark-parity
kernels in functions/xxhash.py); non-local FileIO builds them in one
Spark job with the JVM ``xxhash64``, bit-identical.  The probe side
replays the same scheme with the pure-Python xxh64, framed by the
STORED dtype tag — a file written when the column was int stays
correctly testable after an int->long promotion, because its values
were int-framed when its bits were set.

Soundness: a bloom can only say "definitely absent" for values whose
k positions were never set, and every non-null value in the file set
its positions at write time — no false negatives, so pruning is a
conservative superset exactly like min/max.  NULLs set no bits and
equality probes never match NULL rows.  Any framing/parse failure
keeps the file.

Sizing: m defaults to 2^15 bits (4 KB packed per file per column).
FPR ~ (1 - e^(-k*n/m))^k: ~0.7% at n=3k distinct/file, ~9% at n=10k,
degrading gracefully (never unsound).  At production file sizes pick
``m ~ 10 bits x expected distinct-per-file`` via the module constants;
aggregation state is bounded by m bits per file per column regardless
of row count (positions, not values, are collected).  Blooms whose
load factor exceeds SATURATION_DROP are not stored — they could no
longer skip anything worth their manifest bytes.
"""

from __future__ import annotations

import base64
from datetime import date, datetime
from typing import Any

import numpy as np
import pyarrow as pa

from dlt_iceberg_spark.functions.xxhash import (
    spark_xxhash64_int,
    spark_xxhash64_int_np,
    spark_xxhash64_long,
    spark_xxhash64_long_np,
    spark_xxhash64_string,
    spark_xxhash64_string_arrow,
)

#: bloom size in bits — power of two (folding and pos arithmetic rely on it)
BLOOM_M_BITS = 1 << 15
#: hash functions per value
BLOOM_K = 5
#: don't store blooms fuller than this (FPR too high to earn their bytes)
SATURATION_DROP = 0.9
#: dtype simpleStrings blooms are built for (frames with exact Python parity)
BLOOM_FRAMES = ("int", "bigint", "string", "date")

_EPOCH = date(1970, 1, 1)
_MASK64 = 0xFFFFFFFFFFFFFFFF


def bloom_key(col: str) -> str:
    return f"bloom:{col}"


def is_bloom(entry: Any) -> bool:
    """Routing discriminator: bloom sketch-dict values carry ``"b"``."""
    return isinstance(entry, dict) and "b" in entry


def _frame_hash(tag: str, val: Any) -> int | None:
    """Unsigned Spark-parity xxhash64 of ``val`` in the stored frame, or
    None when the value cannot be framed (conservative: keep the file)."""
    try:
        if tag == "bigint":
            return spark_xxhash64_long(int(val)) & _MASK64
        if tag == "int":
            v = int(val)
            if not (-(1 << 31) <= v < (1 << 31)):
                return None
            return spark_xxhash64_int(v) & _MASK64
        if tag == "string":
            return spark_xxhash64_string(str(val)) & _MASK64
        if tag == "date":
            if isinstance(val, datetime):
                d = val.date()
            elif isinstance(val, date):
                d = val
            else:  # predicate normalization ISO-encodes dates as strings
                d = date.fromisoformat(str(val)[:10])
            return spark_xxhash64_int((d - _EPOCH).days) & _MASK64
    except (ValueError, TypeError, OverflowError):
        return None
    return None


def probe_positions(tag: str, m: int, k: int, val: Any) -> list[int] | None:
    h = _frame_hash(tag, val)
    if h is None:
        return None
    h1, h2 = h >> 32, h & 0xFFFFFFFF
    return [(h1 + i * h2) & (m - 1) for i in range(k)]


def _test(bits: bytes, positions: list[int]) -> bool:
    return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)


def bloom_may_contain(bloom: dict, op: str, val: Any) -> bool:
    """Conservative membership: False ONLY when the bloom proves no probed
    value can be in the covered rows.  ``op`` is ``=``/``==``/``in``."""
    try:
        m, k = int(bloom["m"]), int(bloom["k"])
        if m <= 0 or m & (m - 1):
            return True
        bits = base64.b64decode(bloom["b"])
        if len(bits) * 8 < m:
            return True
        tag = bloom.get("t")
        vals = list(val) if op == "in" else [val]
        for v in vals:
            if v is None:
                return True
            pos = probe_positions(tag, m, k, v)
            if pos is None or _test(bits, pos):
                return True
        return False
    except Exception:
        return True


def _encode(bits: np.ndarray) -> str | None:
    """Packed little-endian bitmap -> base64; None when more than
    SATURATION_DROP of its bits are set (too full to earn its bytes)."""
    if np.unpackbits(bits).sum() > SATURATION_DROP * bits.size * 8:
        return None
    return base64.b64encode(bits.tobytes()).decode("ascii")


def pack_positions(positions, m: int) -> str | None:
    """Set-bits (a sequence or ndarray of positions) -> base64 bitmap
    (bit p = byte p>>3, bit p&7); None when too saturated to store."""
    flags = np.zeros(m, dtype=np.uint8)
    flags[np.asarray(positions, dtype=np.int64)] = 1
    return _encode(np.packbits(flags, bitorder="little"))


def _hashes(tag: str, arr: pa.Array) -> np.ndarray:
    """Unsigned Spark-parity xxhash64 of every non-null value of ``arr``
    in the bloom frame ``tag``."""
    arr = arr.drop_null()
    if tag == "bigint":
        h = spark_xxhash64_long_np(arr.to_numpy())
    elif tag == "int":
        h = spark_xxhash64_int_np(arr.to_numpy())
    elif tag == "date":
        h = spark_xxhash64_int_np(arr.cast(pa.int32()).to_numpy())
    else:  # string
        h, _ = spark_xxhash64_string_arrow(arr)
    return h.view(np.uint64)


def build_bloom(tag: str, batches) -> dict | None:
    """The write-side twin of :func:`probe_positions`: the bloom of every
    non-null value in ``batches`` (pyarrow arrays of one column in the
    bloom frame ``tag``; NULLs set no bits), or None once the bits
    saturate.  Memory is one batch plus m flags, whatever the row count,
    and a saturating column stops hashing at the batch that fills it."""
    m, k = BLOOM_M_BITS, BLOOM_K
    flags = np.zeros(m, dtype=np.uint8)
    for arr in batches:
        h = _hashes(tag, arr)
        h1, h2 = h >> np.uint64(32), h & np.uint64(0xFFFFFFFF)
        for i in range(k):
            # uint64 array arithmetic wraps like the JVM's long
            flags[(h1 + np.uint64(i) * h2) & np.uint64(m - 1)] = 1
        if flags.sum() > SATURATION_DROP * m:
            return None
    packed = _encode(np.packbits(flags, bitorder="little"))
    return {"b": packed, "m": m, "k": k, "t": tag}


def fold_blooms(blooms: list[dict]) -> dict | None:
    """Bit-OR union for the manifest-ref aggregate.  None unless every
    entry carries a compatible bloom (same m/k/frame) and the union stays
    below the saturation threshold — absence is always safe."""
    if not blooms or any(not is_bloom(b) for b in blooms):
        return None
    frames = {(b.get("m"), b.get("k"), b.get("t")) for b in blooms}
    if len(frames) > 1:
        return None
    m, k, t = frames.pop()
    if not isinstance(m, int) or m <= 0 or m & (m - 1):
        return None
    raws = [np.frombuffer(base64.b64decode(b["b"]), dtype=np.uint8) for b in blooms]
    if any(r.size != m >> 3 for r in raws):
        return None
    packed = _encode(np.bitwise_or.reduce(raws))
    if packed is None:
        return None
    return {"b": packed, "m": m, "k": k, "t": t}


def sketch_keeps_file(sketches: dict | None, col: str, op: str, val: Any) -> bool:
    """The planning hook: False only when a stored bloom proves the probe
    cannot match.  Used identically for manifest refs (fold-OR blooms)
    and data-file entries."""
    if not sketches or op not in ("=", "==", "in"):
        return True
    bl = sketches.get(bloom_key(col))
    if not is_bloom(bl):
        return True
    return bloom_may_contain(bl, op, val)
