"""Bloom-filtered term dictionary: FuzzySet + MurmurHash2, reference-exact.

Reproduces the reference's opt-in bloom postings codec
(lucene/codecs/src/java/org/apache/lucene/codecs/bloom/):

- MurmurHash2.java:41-79 — the 32-bit hash with Java's SIGNED tail-byte
  sign extension (`h ^= data[offset+len-3] << 16` on a signed byte flips
  the high half-word) and int32 wraparound multiplies.
- FuzzySet.java — all-ones bitset sizes (downsize is a mask-AND modulo,
  :77-94), `contains` with the `hash * -1` abs that leaves
  Integer.MIN_VALUE negative (:161-167 — Java overflow semantics, kept),
  createSetBasedOnQuality's float32 saturation sizing (:119-132),
  downsize's first-fitting-size projection (:251-286), and the exact
  serialize() byte format (:187-198: BE int version=2, BE int bloomSize,
  BE int numLongs, BE signed longs from FixedBitSet.getBits).
- DefaultBloomFilterFactory.java — sizing on maxDoc at 0.10 desired
  saturation, the >0.9 isSaturated retire rule, and
  BloomFilterFactory.downsize's 0.1 target (:47-52).

All of it is pinned bit-for-bit against the compiled reference binary in
tests/test_lucene_ground_truth.py (ground-truth round 39).

Engine mapping: Lucene attaches one FuzzySet per SEGMENT's term
dictionary so a term miss skips the BlockTree seek
(BloomFilteringPostingsFormat.java:331 `filter.contains(text) == NO`).
This index's term-dictionary unit is the BUCKET partition of term_stats
(crc32(term) % n_term_buckets — the file a term lookup must open), so
`build_bloom` writes one serialized FuzzySet per bucket; the searcher
answers "definitely absent" for a query term from a few KB of
driver-cached bitset without reading any parquet. Like the reference's
codec, the filter is OPT-IN (it is not the default Lucene50 format).

Bulk hashing is numpy-vectorized over a padded byte matrix (the per-term
Python loop would dominate the build stage at vocabulary scale).
"""

from __future__ import annotations

import struct

import numpy as np

_M = 0x5BD1E995
_MASK32 = 0xFFFFFFFF
_SEED = 0x9747B28C  # MurmurHash2.hash32's fixed seed (MurmurHash2.java:92-94)


def murmurhash2(data: bytes) -> int:
    """MurmurHash2.hash32 (MurmurHash2.java:41-94), returned as the
    UNSIGNED 32-bit pattern of Java's signed int result."""
    ln = len(data)
    h = (_SEED ^ ln) & _MASK32
    n4 = ln >> 2
    for i in range(n4):
        o = i << 2
        # the sign-extended first byte's high bits all shift out of the
        # 32-bit word (k << 24), so the word load is effectively unsigned LE
        k = data[o] | (data[o + 1] << 8) | (data[o + 2] << 16) | (data[o + 3] << 24)
        k = (k * _M) & _MASK32
        k ^= k >> 24
        k = (k * _M) & _MASK32
        h = ((h * _M) & _MASK32) ^ k
    left = ln - (n4 << 2)
    if left:
        # tail bytes ARE signed in Java: data[i] sign-extends before the
        # shift, so a high byte flips bits above its lane too
        if left >= 3:
            b = data[ln - 3]
            h ^= ((b - 256 if b >= 128 else b) << 16) & _MASK32
        if left >= 2:
            b = data[ln - 2]
            h ^= ((b - 256 if b >= 128 else b) << 8) & _MASK32
        b = data[ln - 1]
        h ^= (b - 256 if b >= 128 else b) & _MASK32
        h = (h * _M) & _MASK32
    h ^= h >> 13
    h = (h * _M) & _MASK32
    h ^= h >> 15
    return h


def murmurhash2_bulk(values: list[bytes]) -> np.ndarray:
    """Vectorized murmurhash2 over many byte strings -> uint32 array.
    Same result as the scalar path (asserted in tests); loops run over
    word INDEX (max_len/4 iterations), never per value."""
    n = len(values)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=n)
    maxlen = int(lens.max())
    buf = np.zeros((n, max(maxlen, 4)), dtype=np.uint8)
    for i, v in enumerate(values):
        if v:
            buf[i, : len(v)] = np.frombuffer(v, dtype=np.uint8)
    m = np.uint32(_M)
    h = np.uint32(_SEED) ^ lens.astype(np.uint32)
    n4 = lens >> 2
    for j in range(int(n4.max()) if n else 0):
        active = n4 > j
        o = j << 2
        k = (
            buf[:, o].astype(np.uint32)
            | (buf[:, o + 1].astype(np.uint32) << np.uint32(8))
            | (buf[:, o + 2].astype(np.uint32) << np.uint32(16))
            | (buf[:, o + 3].astype(np.uint32) << np.uint32(24))
        )
        k *= m
        k ^= k >> np.uint32(24)
        k *= m
        h = np.where(active, (h * m) ^ k, h)
    left = lens - (n4 << 2)
    rows = np.arange(n)
    tail = h.copy()
    for need, shift in ((3, 16), (2, 8), (1, 0)):
        sel = left >= need
        if sel.any():
            # int8 view sign-extends the tail byte exactly as Java does
            b = buf[rows[sel], lens[sel] - need].astype(np.int8).astype(np.int32)
            tail[sel] ^= b.astype(np.uint32) << np.uint32(shift)
    h = np.where(left > 0, tail * m, h)
    h ^= h >> np.uint32(13)
    h *= m
    h ^= h >> np.uint32(15)
    return h.astype(np.uint64)


def _positions_from_hashes(h_u32: np.ndarray, bloom_size: int) -> np.ndarray:
    """FuzzySet.contains/addValue hash folding (FuzzySet.java:161-167,
    234-242): signed abs (Integer.MIN_VALUE stays negative — Java
    overflow), then & bloomSize (all-ones mask == modulo)."""
    s = h_u32.astype(np.uint32).view(np.int32).astype(np.int64)
    s = np.where(s < 0, -s, s)
    # -(-2^31) overflows back to -2^31 in Java; in int64 it is +2^31 whose
    # low 31 bits (all the mask keeps) are identical — & mask matches
    return (s & np.int64(bloom_size)).astype(np.int64)


# Bitset sizes that are all-ones in binary (FuzzySet.java:84-94)
USABLE_BITSET_SIZES: list[int] = []
_size = 1
for _ in range(30):
    _size = (_size << 1) | 1
    USABLE_BITSET_SIZES.append(_size)
del _size


def _java_double_to_int(x: float) -> int:
    """Java (int) cast of a double: NaN -> 0, saturating at int32 bounds."""
    if x != x:
        return 0
    if x >= 2147483647.0:
        return 2147483647
    if x <= -2147483648.0:
        return -2147483648
    return int(x)


def estimated_unique_values(set_size: int, num_recorded_bits: int) -> int:
    """FuzzySet.getEstimatedNumberUniqueValuesAllowingForCollisions
    (:294-301), double math + Java int cast."""
    saturation = float(num_recorded_bits) / float(set_size)
    with np.errstate(divide="ignore"):
        log_inv = -float(np.log(1.0 - saturation)) if saturation < 1.0 else float("inf")
    return _java_double_to_int(float(set_size) * log_inv)


def get_nearest_set_size(max_values: int, desired_saturation: float) -> int:
    """FuzzySet.getNearestSetSize(int, float) (:119-132): smallest
    all-ones size whose estimated capacity at the desired saturation
    exceeds max_values; -1 if none. numSetBits uses FLOAT32 multiply."""
    for size in USABLE_BITSET_SIZES:
        num_set = int(np.float32(size) * np.float32(desired_saturation))
        if estimated_unique_values(size, num_set) > max_values:
            return size
    return -1


class FuzzySet:
    """The reference FuzzySet over a numpy uint64 FixedBitSet."""

    VERSION_CURRENT = 2

    def __init__(self, bloom_size: int, words: np.ndarray | None = None):
        if bloom_size not in USABLE_BITSET_SIZES:
            raise ValueError(f"bloom_size {bloom_size} is not an all-ones size")
        self.bloom_size = bloom_size
        n_words = ((bloom_size + 1 - 1) >> 6) + 1 if bloom_size + 1 > 0 else 0
        # FixedBitSet.bits2words(numBits) = ((numBits-1) >> 6) + 1
        self.words = (
            words if words is not None else np.zeros(n_words, dtype=np.uint64)
        )

    @classmethod
    def create_set_based_on_quality(
        cls, max_unique_values: int, desired_max_saturation: float = 0.10
    ) -> "FuzzySet":
        """createSetBasedOnQuality (:140-144) with the
        DefaultBloomFilterFactory sizing (maxDoc, 0.10)."""
        size = get_nearest_set_size(max_unique_values, desired_max_saturation)
        if size < 0:
            # the reference would construct FixedBitSet(0) and fail on the
            # first addValue; surface the condition instead
            raise ValueError(
                f"no usable bitset size holds {max_unique_values} values "
                f"at saturation {desired_max_saturation}"
            )
        return cls(size)

    # ---- recording / membership ----

    def add_many(self, values: list[bytes]) -> None:
        if not values:
            return
        pos = _positions_from_hashes(murmurhash2_bulk(values), self.bloom_size)
        np.bitwise_or.at(
            self.words, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
        )

    def contains(self, value: bytes) -> bool:
        """True == MAYBE, False == definitely NO (FuzzySet.java:161-167)."""
        pos = int(
            _positions_from_hashes(
                np.array([murmurhash2(value)], dtype=np.uint64), self.bloom_size
            )[0]
        )
        return bool((self.words[pos >> 6] >> np.uint64(pos & 63)) & np.uint64(1))

    # ---- sizing / stats ----

    def cardinality(self) -> int:
        return int(np.unpackbits(self.words.view(np.uint8)).sum())

    def get_saturation(self) -> float:
        """getSaturation (:303-306): float32 division."""
        return float(np.float32(self.cardinality()) / np.float32(self.bloom_size))

    def get_estimated_unique_values(self) -> int:
        return estimated_unique_values(self.bloom_size, self.cardinality())

    def downsize(self, target_max_saturation: float = 0.1) -> "FuzzySet | None":
        """downsize (:251-286): first (smallest) all-ones size whose
        float32 saturation <= target; project set bits by mask-AND.
        None when no smaller size fits (caller keeps the original —
        BloomFilteringPostingsFormat.java:506-510)."""
        num_set = self.cardinality()
        right_size = self.bloom_size
        for candidate in USABLE_BITSET_SIZES:
            if np.float32(num_set) / np.float32(candidate) <= np.float32(
                target_max_saturation
            ):
                right_size = candidate
                break
        if right_size >= self.bloom_size:
            return None
        out = FuzzySet(right_size)
        set_bits = np.nonzero(np.unpackbits(self.words.view(np.uint8), bitorder="little"))[0]
        pos = set_bits & right_size
        np.bitwise_or.at(
            out.words, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
        )
        return out

    # ---- the exact serialize() byte format (FuzzySet.java:187-214) ----

    def serialize(self) -> bytes:
        head = struct.pack(">iii", self.VERSION_CURRENT, self.bloom_size, len(self.words))
        return head + self.words.view(np.int64).astype(">i8").tobytes()

    @classmethod
    def deserialize(cls, data: bytes) -> "FuzzySet":
        version, bloom_size, n_longs = struct.unpack_from(">iii", data, 0)
        off = 12
        if version == 1:  # VERSION_SPI carried a hash-function name string
            raise ValueError("VERSION_SPI blooms are not produced by this engine")
        words = (
            np.frombuffer(data, dtype=">i8", count=n_longs, offset=off)
            .astype(np.int64)
            .view(np.uint64)
        )
        return cls(bloom_size, words.copy())


def is_saturated(fs: FuzzySet) -> bool:
    """DefaultBloomFilterFactory.isSaturated: retire filters >90% full."""
    return fs.get_saturation() > 0.9


def right_size_for_save(fs: FuzzySet) -> FuzzySet:
    """saveAppropriatelySizedBloomFilter (BloomFilteringPostingsFormat
    .java:503-512): downsize to 0.1 target, keep original when null."""
    smaller = fs.downsize(0.1)
    return smaller if smaller is not None else fs


# The factory sizes on the SEGMENT's maxDoc (the unique-primary-key
# assumption, DefaultBloomFilterFactory.java:33-36); the largest usable
# all-ones size caps what that can express (FuzzySet.getNearestSetSize
# returns -1 past ~226M expected values at 0.10 saturation — a Lucene
# segment never gets there, a 100 TB corpus's doc_count does). Sizing
# input is capped here: the set is built oversized and right-sized by
# the same downsize(0.1) the reference applies, so the cap only bounds
# the BUILD-time bitset (2^27-1 bits = 16 MB per task), not accuracy.
BLOOM_MAX_SIZING_DOCS = 8_000_000


def build_bloom_table(
    spark,
    term_stats_path: str,
    out_path: str,
    sizing_docs: int,
    desired_saturation: float = 0.10,
) -> None:
    """One FuzzySet per term-dictionary bucket, written as parquet
    (bucket, n_terms, bloom_size, saturation, bloom). Mirrors the
    reference writer flow (BloomFilteringPostingsFormat.java:466-512):
    size on maxDoc at 0.10 desired saturation, add every term that has
    postings, retire >0.9-saturated sets (NULL bloom — the searcher
    treats the bucket as always-MAYBE), else downsize(0.1) and
    serialize. Runs as one applyInPandas over the term_stats bucket
    grouping — the terms are already bucket-partitioned, so the shuffle
    is a no-op repartition of a stats-sized (not corpus-sized) table."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: N812

    sizing = min(int(sizing_docs), BLOOM_MAX_SIZING_DOCS)
    stats = spark.read.parquet(term_stats_path).select("term", "bucket")

    def _one_bucket(key, pdf):
        bucket = int(key[0])
        terms = [t.encode("utf-8") for t in pdf["term"]]
        fs = FuzzySet.create_set_based_on_quality(
            max(sizing, 1), desired_saturation
        )
        fs.add_many(terms)
        if is_saturated(fs):
            blob, size, sat = None, -1, fs.get_saturation()
        else:
            fs = right_size_for_save(fs)
            blob, size, sat = fs.serialize(), fs.bloom_size, fs.get_saturation()
        return pd.DataFrame(
            {
                "bucket": pd.array([bucket], dtype="int32"),
                "n_terms": pd.array([len(terms)], dtype="int64"),
                "bloom_size": pd.array([size], dtype="int64"),
                "saturation": pd.array([float(sat)], dtype="float64"),
                "bloom": pd.array([blob], dtype=object),
            }
        )

    (
        stats.groupBy("bucket")
        .applyInPandas(
            _one_bucket,
            "bucket int, n_terms long, bloom_size long, saturation double, bloom binary",
        )
        .write.mode("overwrite")
        .parquet(out_path)
    )


def load_blooms(spark, bloom_path: str) -> dict[int, "FuzzySet | None"]:
    """Driver-side bloom cache: bucket -> FuzzySet (None = retired set,
    always MAYBE). Small by construction — each serialized set is the
    downsized 0.1-saturation size (~n_terms * 10 bits)."""
    out: dict[int, FuzzySet | None] = {}
    for row in spark.read.parquet(bloom_path).collect():
        blob = row["bloom"]
        out[int(row["bucket"])] = (
            FuzzySet.deserialize(bytes(blob)) if blob is not None else None
        )
    return out
