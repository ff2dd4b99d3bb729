"""Large-scale training-data pipeline operators over the `documents`,
`embeddings`, and `events` tables.

These extend the reference's surface with the operations a 100 TB
pre-training corpus pipeline needs: deduplication (exact, bag-of-words,
MinHash+LSH, SimHash, exact n-gram Jaccard, embedding-cosine), approximate
nearest-neighbor search (brute-force + trained-centroid IVF), text analysis
(language ID, quality scoring, token counting, fingerprinting), multimodal
binary-column plumbing, graph BFS, and sessionization.

Design rules shared by every op:
  * Declarative Catalyst plans (higher-order array functions, window
    functions, joins) — no per-row Python except the SimHash and multimodal
    UDFs, which are Arrow-batched mapInPandas with vectorized numpy inner
    loops (the reference's "no per-row Python" posture, BASELINE.json).
  * All hashing is sha256-of-string so the DuckDB oracle computes the
    IDENTICAL algorithm — LSH candidate sets match by construction, not by
    probabilistic recall.
  * Quadratic steps are always blocked (LSH band buckets, sign buckets,
    shared-shingle joins) so the pair space stays near-linear at 100 TB;
    the one deliberately unblocked op (dedup_ngram_jaccard) is the small-
    scale ground truth for the MinHash path and documented as such.

Each OPS entry is (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

MINHASH_K = 8  # permutations (min-sha256 salted hashes)
MINHASH_BAND_R = 2  # rows per band -> 4 bands
SHINGLE_K = 3  # word shingle width
JACCARD_THRESHOLD = 0.5
SIMHASH_HAMMING_MAX = 6
# SimHash blocking: 8 chunks x 8 bits, candidate tables = all C(8,2)=28
# chunk PAIRS (16-bit keys). Pigeonhole: <= SIMHASH_HAMMING_MAX (=6)
# differing bits touch <= 6 chunks, leaving >= 2 clean chunks, so every
# true pair shares at least one clean chunk-pair table — EXACT recall at
# the verify threshold (the r1 4x16-bit scheme only guaranteed
# hamming <= 3 and went quadratic past 10^9 docs; pair space here is
# 28 * sum_b n_b^2 over 65536-value buckets per table).
SIMHASH_N_CHUNKS = 8
COSINE_DUP_THRESHOLD = 0.4
# Embedding near-dup blocking: BANDED sign-LSH (random-hyperplane family
# using the native dims as hyperplanes): 8 bands x 8 sign bits each over
# the 64 dims; a pair is a candidate iff ALL 8 signs of SOME band agree,
# then exact cosine verifies. Per-hyperplane agreement P = 1 - theta/pi,
# so per-band recall = P^8 and overall = 1-(1-P^8)^8: ~93% at a
# production near-dup threshold cos 0.9, intentionally low at weakly-
# similar pairs. Pair space = 8 * sum_b n_b^2 over 256-value bands
# (measured ~3% of all pairs on this corpus vs r1's single 256-cell
# table, which was both lower-recall and quadratic in the hot cell).
EMB_BANDS = 8
EMB_BAND_BITS = 8
ANN_K = 10
ANN_N_QUERIES = 5
# IVF over TRAINED spherical-k-means centroids (the production recall
# path; r2 measured sign-of-leading-dims cells at recall 0.00-0.02 on
# isotropic data — hyperplanes through the origin don't follow the data,
# so those variants were deleted, not demoted). k ~ sqrt(n) cells at
# scale; nprobe is the recall/cost dial (nprobe=1 cells touch ~1/k of
# the corpus, nprobe=4 ~4/k). At 100 TB the corpus table is STORED
# partitioned by the centroid cell, so a probe is a partition-pruned
# scan. The fit is DETERMINISTIC (bounded lowest-vec_id sample, first-k
# init, fixed Lloyd iterations), which lets the DuckDB oracle embed the
# fitted centroids as a VALUES literal table and replay assignment +
# probing + scoring exactly (argmax cosine, ties to the lowest cell).
# k chosen by measured recall frontier on the corpus (k=16 beats k=32
# AND k=64 at every nprobe: 0.84@nprobe1 / 0.94@nprobe4 vs 0.76/0.82 —
# the synthetic embeddings have ~16 intrinsic clusters, and past the
# intrinsic cluster count extra cells only split true neighborhoods).
# At real scale re-run the same sweep; cells ~sqrt(n) is the starting
# point, the recall-vs-scan-fraction frontier is the decider.
ANN_KMEANS_K = 16
ANN_KMEANS_NPROBE = 4
ANN_KMEANS_ITERS = 10
ANN_KMEANS_SAMPLE = 4096  # deterministic fit sample (lowest vec_ids)


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _events(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/events.parquet")


def _with_tokens(df: DataFrame) -> DataFrame:
    return df.withColumn("toks", F.expr("filter(split(text, ' '), x -> x <> '')"))


def _spread(df: DataFrame) -> DataFrame:
    """CPU-bound Arrow stages need >= cores input splits: a small test
    corpus arrives as ONE parquet split, which would serialize the whole
    Python stage on a single core. Round-robin the INPUT rows (one row
    per doc — never the expanded grams/chunks) when the scan is narrower
    than the cluster; at real scale the scan already has >= cores splits
    and this is a no-op with no exchange added."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def _flat_tokens(doc_ids, texts):
    """Flatten one Arrow batch into (token object-array, doc lens,
    doc_id int64 array). The only per-row Python is the split; every
    downstream step (factorize/hash-fold/concat/dedup) is a vectorized
    numpy/pandas pass over the flat arrays (r3 VERDICT #2)."""
    tok_lists = [[x for x in (t or "").split(" ") if x] for t in texts]
    lens = np.fromiter(
        (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    flat = np.empty(int(lens.sum()), dtype=object)
    pos = 0
    for t in tok_lists:
        flat[pos : pos + len(t)] = t
        pos += len(t)
    return flat, lens, np.asarray(doc_ids, dtype=np.int64)


def _shingle_starts(lens, k):
    """(doc index per shingle, flat start offset per shingle) for word
    k-grams that never cross a document boundary — pure numpy."""
    counts = np.maximum(lens - k + 1, 0)
    offsets = np.concatenate(([0], np.cumsum(lens)))[:-1]
    didx = np.repeat(np.arange(len(lens)), counts)
    cum = np.concatenate(([0], np.cumsum(counts)))
    starts = (np.arange(int(cum[-1])) - np.repeat(cum[:-1], counts)
              + np.repeat(offsets, counts))
    return didx, starts


def shingle_rows(df: DataFrame, k: int = SHINGLE_K, distinct: bool = False) -> DataFrame:
    """(doc_id, s) word k-gram shingle rows via an Arrow-batched
    mapInPandas generator — ZERO shuffle: shingles are a per-row
    expansion, so each input split emits its own shingles and the plan
    stays embarrassingly parallel at any corpus size (the r2 version
    posexploded tokens through a doc_id window, i.e. shuffled+sorted
    every token in the corpus; measured 2x slower at sf0.1 and strictly
    worse at scale). HOF transform()+explode was 4-8x slower than either
    (interpreted lambdas).

    r4: the per-shingle Python join loop is gone — the gram strings are
    built by elementwise object-array concatenation over the flat token
    array (one C-level pass per gram position), and distinct=True
    dedups via a vectorized drop_duplicates on (doc, s). Per-doc
    distinct still needs no shuffle: every doc's shingles come from one
    input row."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            flat, lens, dids = _flat_tokens(pdf["doc_id"], pdf["text"])
            didx, starts = _shingle_starts(lens, k)
            if len(starts) == 0:
                yield pd.DataFrame(
                    {"doc_id": pd.Series([], dtype="int64"),
                     "s": pd.Series([], dtype="object")})
                continue
            grams = flat[starts]
            for step in range(1, k):
                grams = grams + " "
                grams = grams + flat[starts + step]
            out = pd.DataFrame({"doc_id": dids[didx], "s": grams})
            if distinct:
                out = out.drop_duplicates()
            yield out

    return _spread(df.select("doc_id", "text")).mapInPandas(
        gen, "doc_id long, s string"
    )


# SQL fragments shared by several oracles (DuckDB dialect).
_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_SQL_SHINGLES = f"""
toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+{SHINGLE_K - 1}], ' ') AS s
  FROM toks, unnest(generate_series(1, greatest(len(t) - {SHINGLE_K - 1}, 0))) AS g(i)
)
"""


# ------------------------------------------------------------------ dedup

def dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy on sha256(text); keeper = min doc_id.

    At 100 TB this is one shuffle on a 64-hex key with near-perfect key
    distribution (no skew by construction)."""
    d = _docs(spark, sf)
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    return (
        d.withColumn("keeper_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "keeper_id",
            (F.col("doc_id") != F.col("keeper_id")).cast("int").alias("is_dup"),
        )
        .orderBy("doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id,
       CAST(doc_id <> min(doc_id) OVER (PARTITION BY sha256(text)) AS INTEGER) AS is_dup
FROM documents ORDER BY doc_id
"""


def dedup_bag_of_words(spark, sf):
    """Order-insensitive exact dedup: key = sha256 of the sorted token
    multiset (catches shuffled copies that byte-hashing misses)."""
    d = _with_tokens(_docs(spark, sf))
    key = F.sha2(F.concat_ws(" ", F.sort_array(F.col("toks"))), 256)
    w = Window.partitionBy(key)
    return (
        d.withColumn("keeper_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id", "keeper_id")
        .orderBy("doc_id")
    )


DEDUP_BAG_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         min(doc_id) OVER (
           PARTITION BY sha256(array_to_string(list_sort({_SQL_TOKS}), ' '))
         ) AS keeper_id
  FROM documents
)
SELECT doc_id, keeper_id FROM keyed WHERE doc_id <> keeper_id ORDER BY doc_id
"""


#: verified near-dup pairs, persisted per (JVM, corpus). Pair generation
#: is an index-build-like step: a real pipeline materializes it once and
#: every downstream consumer (cluster collapse, keeper selection, audits)
#: reads the materialized table — mirroring the search side's per-snapshot
#: term-stats cache. Keyed by sf dir; the persisted plan is deterministic.
def _session_key(spark) -> str:
    """Cache key that cannot alias across sessions: a stopped session's
    CPython id() can be reused by a new SparkSession object, which would
    hand out persisted DataFrames bound to a dead SparkContext."""
    return spark.sparkContext.applicationId


_PAIRS_CACHE: dict = {}


#: Shingle-hash fold and minhash-salt constants. The shingle identity is
#: a 64-bit fold over per-TOKEN sha256 prefixes:
#:   th(w) = first 8 bytes of sha256(w) as uint64
#:   h(w1..wk) = fold(h*P + th(wi)) mod 2^64
#: and permutation j is hj = ((h XOR SALT_j) * SP) mod 2^64 (odd
#: multiplier = bijection on Z_2^64, so each j is an independent-enough
#: ordering for the minwise family). sha256 therefore runs once per
#: DISTINCT TOKEN per batch (factorize) instead of once per shingle —
#: the r3 VERDICT #2 vectorization — while staying replayable in DuckDB
#: as exact HUGEINT-mod arithmetic.
_MH_P = np.uint64(0x9E3779B97F4A7C15)
_MH_SP = np.uint64(0xBF58476D1CE4E5B9)
_MH_SALTS = tuple(
    np.uint64(((2 * j + 1) * 0x94D049BB133111EB) % (1 << 64))
    for j in range(MINHASH_K)
)


def _shingle_hash_batch(doc_ids, texts, k):
    """(doc_id array, uint64 shingle-hash array) for one Arrow batch —
    vectorized end-to-end: factorize the flat token array, sha256 only
    the DISTINCT tokens, gather, then numpy-fold k consecutive token
    hashes per shingle (uint64 wraparound == the SQL mod 2^64)."""
    flat, lens, dids = _flat_tokens(doc_ids, texts)
    didx, starts = _shingle_starts(lens, k)
    if len(starts) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    codes, uniques = pd.factorize(flat)
    th = np.fromiter(
        (int.from_bytes(hashlib.sha256(u.encode()).digest()[:8], "big")
         for u in uniques),
        dtype=np.uint64, count=len(uniques))
    tok_h = th[codes]
    h = tok_h[starts].copy()
    for step in range(1, k):
        h = h * _MH_P + tok_h[starts + step]
    return dids[didx], h


def dedup_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.

    shingle-hash -> K=8 salted min-hashes -> 4 bands of r=2 ->
    band-bucket self-join (the ONLY pair generator: candidate count is
    linear in bucket occupancy, never all-pairs) -> exact
    shingle-Jaccard >= 0.5 verify. The oracle runs the identical
    algorithm (same fold/salt arithmetic in HUGEINT SQL), so the
    candidate set matches by construction."""
    key = (_session_key(spark), sf)
    if key in _PAIRS_CACHE:
        return _PAIRS_CACHE[key]
    d = _docs(spark, sf)
    # Everything per-document is computed in ZERO-SHUFFLE Arrow passes:
    # the min-hash signature, its banding, the per-doc DISTINCT shingle
    # set, and the set size are all functions of one row, so no token or
    # shingle ever crosses the network — r2 shuffled the full shingle
    # table twice (distinct + signature groupBy). r4 (VERDICT #2): no
    # per-token Python either — sha256 once per distinct token, the
    # shingle fold / salted permutations / per-doc mins / dedup are all
    # numpy or C-level pandas passes.
    n_bands = MINHASH_K // MINHASH_BAND_R
    k_sh, k_min, band_r = SHINGLE_K, MINHASH_K, MINHASH_BAND_R

    def band_gen(batches):
        mcols = [f"m{j}" for j in range(k_min)]
        for pdf in batches:
            dids, h = _shingle_hash_batch(pdf["doc_id"], pdf["text"], k_sh)
            dd = pd.DataFrame({"d": dids, "h": h}).drop_duplicates()
            if dd.empty:
                yield pd.DataFrame(
                    {"doc_id": pd.Series([], dtype="int64"),
                     "band": pd.Series([], dtype="int32"),
                     "bv": pd.Series([], dtype="object")})
                continue
            hv = dd["h"].to_numpy()
            for j in range(k_min):
                dd[mcols[j]] = (hv ^ _MH_SALTS[j]) * _MH_SP
            mins = dd.groupby("d", sort=False)[mcols].min()
            outs = []
            for b in range(n_bands):
                bv = mins[mcols[b * band_r]].astype(str)
                for r in range(1, band_r):
                    bv = bv + "|" + mins[mcols[b * band_r + r]].astype(str)
                outs.append(pd.DataFrame(
                    {"doc_id": mins.index.to_numpy(),
                     "band": np.full(len(mins), b, dtype=np.int32),
                     "bv": bv.to_numpy()}))
            yield pd.concat(outs, ignore_index=True)

    def shd_gen(batches):
        for pdf in batches:
            dids, h = _shingle_hash_batch(pdf["doc_id"], pdf["text"], k_sh)
            dd = pd.DataFrame({"doc_id": dids, "h": h}).drop_duplicates()
            sizes = dd.groupby("doc_id", sort=False)["h"].transform("size")
            # n rides only on the first row per doc: the set-size table
            # is then a map-side filter, never an aggregation
            firsts = ~dd["doc_id"].duplicated()
            yield pd.DataFrame(
                {"doc_id": dd["doc_id"].to_numpy(),
                 "s": dd["h"].to_numpy().view(np.int64),
                 "n": sizes.where(firsts).astype("Int64")}
            )

    src = _spread(d.select("doc_id", "text"))
    bands = src.mapInPandas(band_gen, "doc_id long, band int, bv string")
    shd = src.mapInPandas(shd_gen, "doc_id long, s long, n long").persist()
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bv") == F.col("b.bv")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    sz = shd.filter(F.col("n").isNotNull()).select("doc_id", "n")
    # verify via TWO broadcast (map-side) joins: the candidate pair set
    # is orders of magnitude smaller than the corpus by construction
    # (band-bucket collisions), so the expanded a-side shingles are
    # still tiny; the corpus-sized shd is never shuffled for the verify
    # (r2 shuffled all shingles by the shingle string)
    x_side = shd.join(
        F.broadcast(cand), F.col("doc_id") == F.col("a_id")
    ).select("a_id", "b_id", "s")
    inter = (
        shd.alias("y")
        .join(
            F.broadcast(x_side).alias("x"),
            (F.col("y.doc_id") == F.col("x.b_id")) & (F.col("y.s") == F.col("x.s")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    # set sizes attach by broadcasting the TINY pair table into two
    # map-side passes over the per-doc size table (sz is corpus-sized)
    with_na = (
        sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
        .join(F.broadcast(inter), "a_id")
    )
    pairs = (
        sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
        .join(F.broadcast(with_na), "b_id")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
        .orderBy("a_id", "b_id")
        .persist()
    )
    pairs.count()  # materialize eagerly so the shingle cache can be freed
    shd.unpersist()
    _PAIRS_CACHE[key] = pairs
    return pairs


def _minhash_sql_cte() -> str:
    """DuckDB replay of the vectorized shingle-hash minhash (see the
    _MH_* constants note): per-token sha256 prefix as UBIGINT, the
    k-token fold and the salted permutations as exact HUGEINT-mod-2^64
    arithmetic — bit-identical to the numpy uint64 wraparound."""
    m64 = 1 << 64
    m32 = 1 << 32

    def mulmod(expr: str, c: int) -> str:
        # (a*c) mod 2^64 without overflowing INT128: split a into 32-bit
        # halves — a*c ≡ a_lo*c + ((a_hi*c_lo) mod 2^32)·2^32 (mod 2^64);
        # every intermediate stays < 2^96
        c_lo = c % m32
        return (
            f"CAST((CAST(({expr}) % {m32} AS HUGEINT) * {c}"
            f" + CAST(((({expr}) // {m32}) * {c_lo}) % {m32} AS HUGEINT)"
            f" * {m32}) % {m64} AS UBIGINT)"
        )

    p = int(_MH_P)
    sp = int(_MH_SP)
    # fold h = ((th[i]*P + th[i+1]) mod 2^64)*P + th[i+2] mod 2^64 ...
    fold = "th[i]"
    for step in range(1, SHINGLE_K):
        fold = (f"CAST((CAST({mulmod(fold, p)} AS HUGEINT)"
                f" + th[i+{step}]) % {m64} AS UBIGINT)")
    mins = ", ".join(
        "min({v}) AS h{j}".format(
            v=mulmod(f"xor(h, CAST({int(_MH_SALTS[j])} AS UBIGINT))", sp),
            j=j)
        for j in range(MINHASH_K)
    )
    n_bands = MINHASH_K // MINHASH_BAND_R
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {bv} AS bv FROM sig".format(
            b=b,
            bv=" || '|' || ".join(
                f"CAST(h{b * MINHASH_BAND_R + r} AS VARCHAR)"
                for r in range(MINHASH_BAND_R)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
thl AS (
  SELECT doc_id,
         list_transform(t, w ->
           CAST(('0x' || substr(sha256(w), 1, 16)) AS UBIGINT)) AS th
  FROM toks
),
sh AS (
  SELECT doc_id, {fold} AS h
  FROM thl,
       unnest(generate_series(1, greatest(len(th) - {SHINGLE_K - 1}, 0))) AS g(i)
),
shd AS (SELECT DISTINCT doc_id, h FROM sh),
sig AS (SELECT doc_id, {mins} FROM shd GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.a_id, c.b_id, count(*) AS i
  FROM cand c
  JOIN shd x ON x.doc_id = c.a_id
  JOIN shd y ON y.doc_id = c.b_id AND y.h = x.h
  GROUP BY 1, 2
)
"""


DEDUP_MINHASH_SQL = f"""
WITH {_minhash_sql_cte().strip()}
SELECT a_id, b_id,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = a_id
JOIN sz sb ON sb.doc_id = b_id
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


#: rounds taken by the last connected-components run (inspected by the
#: logarithmic-convergence test)
LAST_CC_ROUNDS = 0

#: edge sets at or below this size collapse driver-side via union-find
#: (a distributed round costs ~0.5s of scheduling; union-find does 1M
#: edges in well under that). Larger graphs take the star rounds.
CC_DRIVER_MAX = 1_000_000


def _cc_large_small_star(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    the standard Spark CC pattern). Each round is two bounded shuffle
    stages; convergence is O(log n) ROUNDS even on a chain (plain
    min-label propagation, which r2 used, needs O(diameter) rounds — on
    near-dup chains that was the bench's single biggest cost).

    edges: DataFrame(a, b), any orientation, self-loops ignored.
    Returns star edges (a=node, b=component-min root) for every non-root
    node. localCheckpoint(eager=False) per round truncates lineage while
    letting the convergence probe (count+hash set signature) be the one
    materializing action per round. The shuffle width for the CC rounds
    is sized to the edge count (~250k edges/partition, floor 1) — near-dup
    pair graphs are tiny relative to the corpus, and a fixed-width shuffle
    would pay full scheduling overhead per round at small scale while
    still scaling up for 100-TB pair graphs."""
    global LAST_CC_ROUNDS
    spark = edges.sparkSession
    g = edges.where("a <> b").distinct()
    n0 = g.count()
    if n0 <= CC_DRIVER_MAX:
        # near-dup pair graphs are orders of magnitude smaller than the
        # corpus; below the threshold a driver-side union-find (O(n α(n)),
        # microseconds per edge) beats any number of distributed rounds —
        # the star rounds below remain the >CC_DRIVER_MAX scale path
        # (forced in tests via monkeypatched threshold)
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in g.collect():
            ra, rb = find(int(r["a"])), find(int(r["b"]))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(n, find(n)) for n in parent]
        rows = [(n, r) for n, r in rows if n != r]
        LAST_CC_ROUNDS = 1
        if not rows:
            return spark.createDataFrame([], "a long, b long")
        return spark.createDataFrame(rows, "a long, b long")
    parts = max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions")), n0 // 250_000 + 1))
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        return _cc_rounds(g.localCheckpoint(), max_rounds)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _cc_rounds(g: DataFrame, max_rounds: int) -> DataFrame:
    global LAST_CC_ROUNDS
    prev = None
    prev_g = None
    rounds = 0
    while True:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError("connected components did not converge")
        # large-star: for each center u, attach every LARGER neighbor to
        # min(N(u) ∪ {u})
        sym = g.unionByName(g.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mn = sym.groupBy("a").agg(F.min("b").alias("mb"))
        ls = (
            sym.join(mn, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.least(F.col("a"), F.col("mb")).alias("b"))
            .where("a <> b")
            .distinct()
        )
        # small-star: orient toward the smaller endpoint; attach every
        # smaller neighbor AND the center to min(N_small(u) ∪ {u})
        o = ls.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        mn2 = o.groupBy("a").agg(F.min("b").alias("mb"))
        j = o.join(mn2, "a")
        ss = (
            j.select(F.col("b").alias("a"), F.col("mb").alias("b"))
            .unionByName(j.select(F.col("a"), F.col("mb").alias("b")))
            .where("a <> b")
            .distinct()
        )
        prev_g = g
        g = ss.localCheckpoint(eager=False)
        chk = g.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38) sum never overflows ANSI long arithmetic
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        # the probe materialized g; its input checkpoint is now dead weight
        prev_g.unpersist()
        sig = (int(chk["n"]), int(chk["h"]))
        if sig == prev:
            break
        prev = sig
    LAST_CC_ROUNDS = rounds
    return g


def dedup_minhash_clusters(spark, sf):
    """Cluster collapse over the MinHash near-dup PAIRS: connected
    components via large-star/small-star (see _cc_large_small_star),
    keeper = min doc_id of the component; one row per clustered doc
    (keepers map to themselves). This is the step a real dedup pipeline
    runs after pair generation: drop every member except the keeper."""
    pairs = dedup_minhash_lsh(spark, sf).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    stars = _cc_large_small_star(pairs)
    nodes = (
        pairs.select("a")
        .unionByName(pairs.select(F.col("b").alias("a")))
        .distinct()
    )
    lbl = stars.groupBy("a").agg(F.min("b").alias("keeper"))
    return (
        nodes.join(lbl, "a", "left")
        .select(
            F.col("a").alias("doc_id"),
            F.coalesce("keeper", F.col("a")).alias("keeper_id"),
        )
        .orderBy("doc_id")
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_minhash_sql_cte().strip()},
pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sz sa ON sa.doc_id = a_id
  JOIN sz sb ON sb.doc_id = b_id
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT a_id AS a, b_id AS b FROM pairs UNION SELECT b_id, a_id FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT re.node, e.b FROM reach re JOIN edges e ON e.a = re.r
)
SELECT node AS doc_id, min(r) AS keeper_id
FROM reach GROUP BY node ORDER BY doc_id
"""


TEXT_PROFILE_QUANT_RATE = 0.01


def text_profile_signatures(df: DataFrame, quant_rate: float = TEXT_PROFILE_QUANT_RATE) -> DataFrame:
    """TextProfileSignature (solr/core/src/java/org/apache/solr/update/
    processor/TextProfileSignature.java, Nutch lineage): a fuzzy content
    signature from the QUANTIZED term-frequency profile — QUANT =
    round(maxFreq·quantRate) clamped to 2 (1 when maxFreq==1), counts
    rounded down to QUANT multiples, sub-QUANT terms dropped, profile
    serialized (freq DESC, term ASC) and hashed. Insertions/reorderings
    that don't move any quantized frequency produce the SAME signature.
    Returns (doc_id, signature). Two shuffles: the (doc, term) count and
    the per-doc profile rollup — both map-side combined."""
    counts = (
        df.select("doc_id", F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
    )
    wd = Window.partitionBy("doc_id")
    q0 = F.floor(F.max("cnt").over(wd) * quant_rate + 0.5)
    quant = (
        F.when(q0 >= 2, q0).when(F.max("cnt").over(wd) > 1, F.lit(2)).otherwise(F.lit(1))
    )
    prof = (
        counts.withColumn("qnt", quant)
        .withColumn("q", (F.floor(F.col("cnt") / F.col("qnt")) * F.col("qnt")).cast("long"))
        .filter(F.col("q") >= F.col("qnt"))
    )
    arr = F.sort_array(F.collect_list(F.struct((-F.col("q")).alias("nq"), F.col("w"), F.col("q"))))
    sig = F.sha2(
        F.array_join(F.expr("transform(prof, s -> concat(s.w, ':', cast(s.q as string)))"), " "),
        256,
    )
    return (
        prof.groupBy("doc_id")
        .agg(arr.alias("prof"))
        .select("doc_id", sig.alias("signature"))
    )


def dedup_text_profile(spark, sf):
    """SignatureUpdateProcessor-style fuzzy dedup (solr/core/.../update/
    processor/SignatureUpdateProcessorFactory.java with
    TextProfileSignature): keeper = min doc_id per signature. The same
    signature column drives INDEX-TIME overwrite semantics through
    update_documents(key_cols=['signature']) — tested in
    tests/test_streaming.py."""
    sigs = text_profile_signatures(_docs(spark, sf))
    w = Window.partitionBy("signature")
    return (
        sigs.withColumn("keeper_id", F.min("doc_id").over(w))
        .select("doc_id", "keeper_id")
        .orderBy("doc_id")
    )


DEDUP_TEXT_PROFILE_SQL = f"""
WITH counts AS (
  SELECT doc_id, t.tok AS w, count(*) AS cnt
  FROM documents d, unnest({_SQL_TOKS}) AS t(tok)
  GROUP BY doc_id, t.tok
),
quantized AS (
  SELECT doc_id, w, cnt,
         CASE WHEN floor(max(cnt) OVER (PARTITION BY doc_id) * {TEXT_PROFILE_QUANT_RATE} + 0.5) >= 2
              THEN CAST(floor(max(cnt) OVER (PARTITION BY doc_id) * {TEXT_PROFILE_QUANT_RATE} + 0.5) AS BIGINT)
              WHEN max(cnt) OVER (PARTITION BY doc_id) > 1 THEN 2 ELSE 1 END AS qnt
  FROM counts
),
prof AS (
  SELECT doc_id, w, CAST(floor(cnt / qnt) * qnt AS BIGINT) AS q, qnt
  FROM quantized WHERE CAST(floor(cnt / qnt) * qnt AS BIGINT) >= qnt
),
sigs AS (
  SELECT doc_id,
         sha256(string_agg(w || ':' || CAST(q AS VARCHAR), ' ' ORDER BY q DESC, w ASC)) AS signature
  FROM prof GROUP BY doc_id
)
SELECT doc_id, min(doc_id) OVER (PARTITION BY signature) AS keeper_id
FROM sigs ORDER BY doc_id
"""


def dedup_fingerprint(spark, sf):
    """FingerprintFilter (lucene/analysis/common/.../miscellaneous/
    FingerprintFilter.java — pinned bit-for-bit vs the compiled filter in
    GT round 55) as a dedup key, the Solr FingerprintUpdateProcessor
    shape: the single output token = sorted DISTINCT tokens joined by
    ' ' — SET semantics, one step fuzzier than the bag-of-words multiset
    key (catches copies that repeat or drop duplicate words). Uncapped
    maxOutputTokenSize (the factory's knob; the 1024 default would drop
    long docs from dedup entirely). Keeper = min doc_id per fingerprint.
    One window over one projection — no joins, skew-free at 100 TB (the
    window key is the full fingerprint string; identical-content groups
    are the only co-located rows)."""
    d = _with_tokens(_docs(spark, sf))
    key = F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("toks"))))
    w = Window.partitionBy(key)
    return (
        d.withColumn("keeper_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id", "keeper_id")
        .orderBy("doc_id")
    )


DEDUP_FINGERPRINT_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         min(doc_id) OVER (
           PARTITION BY array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')
         ) AS keeper_id
  FROM documents
)
SELECT doc_id, keeper_id FROM keyed WHERE doc_id <> keeper_id ORDER BY doc_id
"""


def dedup_exact_family(spark, sf):
    """Exact-dedup family + cluster collapse as one tagged union (gate
    consolidation like ops.relational.facets_combined): byte-exact
    keepers, order-insensitive bag-of-words keepers, MinHash near-dup
    cluster keepers, TextProfileSignature fuzzy keepers, and
    FingerprintFilter set-semantics keepers, all as
    (variant, doc_id, keeper_id)."""
    d1 = dedup_exact(spark, sf).select(
        F.lit("exact").alias("variant"), "doc_id", "keeper_id"
    )
    d2 = dedup_bag_of_words(spark, sf).select(
        F.lit("bag").alias("variant"), "doc_id", "keeper_id"
    )
    d3 = dedup_minhash_clusters(spark, sf).select(
        F.lit("cluster").alias("variant"), "doc_id", "keeper_id"
    )
    d4 = dedup_text_profile(spark, sf).select(
        F.lit("profile").alias("variant"), "doc_id", "keeper_id"
    )
    d5 = dedup_fingerprint(spark, sf).select(
        F.lit("fingerprint").alias("variant"), "doc_id", "keeper_id"
    )
    return (
        d1.unionByName(d2).unionByName(d3).unionByName(d4).unionByName(d5)
        .orderBy("variant", "doc_id")
    )


DEDUP_EXACT_FAMILY_SQL = f"""
SELECT * FROM (
  SELECT 'exact' AS variant, doc_id, keeper_id FROM ({DEDUP_EXACT_SQL})
  UNION ALL
  SELECT 'bag' AS variant, doc_id, keeper_id FROM ({DEDUP_BAG_SQL})
  UNION ALL
  SELECT 'cluster' AS variant, doc_id, keeper_id FROM ({DEDUP_CLUSTERS_SQL})
  UNION ALL
  SELECT 'profile' AS variant, doc_id, keeper_id FROM ({DEDUP_TEXT_PROFILE_SQL})
  UNION ALL
  SELECT 'fingerprint' AS variant, doc_id, keeper_id FROM ({DEDUP_FINGERPRINT_SQL})
) ORDER BY variant, doc_id
"""


def dedup_ngram_jaccard(spark, sf):
    """Exact shingle-Jaccard pairs via shared-shingle join — the ground
    truth for dedup_minhash_lsh. Pair generation is blocked on sharing at
    least one shingle (never an all-pairs cross join), but a stopword-scale
    shingle still fans out; at 100 TB use dedup_minhash_lsh and keep this
    as the sampled-audit op."""
    d = _docs(spark, sf)
    # per-doc distinct inside the generator: no (doc_id, s) exchange; the
    # only shuffle left is the shared-shingle join's own partitioning on s
    shd = shingle_rows(d, distinct=True)
    sz = shd.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        shd.alias("x")
        .join(shd.alias("y"), (F.col("x.s") == F.col("y.s")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na")), "a_id")
        .join(sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb")), "b_id")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
        .orderBy("a_id", "b_id")
    )


DEDUP_NGRAM_SQL = f"""
WITH {_SQL_SHINGLES.strip()},
shd AS (SELECT DISTINCT doc_id, s FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS i
  FROM shd x JOIN shd y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = a_id
JOIN sz sb ON sb.doc_id = b_id
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------- simhash

SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("simhash_lo", T.LongType(), False),
        T.StructField("simhash_hi", T.LongType(), False),
    ]
)

_J = np.arange(64)


def _simhash_map(iterator):
    """r4 vectorization (same shape as the minhash fold): factorize the
    batch's flat tokens, build the ±1 bit matrix once per DISTINCT word
    (sha256 per word, numpy nibble unpack), then accumulate every doc's
    64-dim signed vector in ONE np.add.at scatter over the
    (doc, word, count) triples — no per-token or per-(doc, word) Python
    loop. Identical convention to the SQL oracle (bit j = bit (j%4) of
    hex nibble j//4 of sha256(word)[:16])."""
    pow_lo = (np.uint64(1) << np.arange(32, dtype=np.uint64)).astype(np.int64)
    for pdf in iterator:
        flat, lens, dids = _flat_tokens(pdf["doc_id"], pdf["text"])
        n_docs = len(lens)
        if len(flat) == 0:
            yield pd.DataFrame(
                {"doc_id": dids.astype("int64"),
                 "simhash_lo": np.zeros(n_docs, dtype=np.int64),
                 "simhash_hi": np.zeros(n_docs, dtype=np.int64)})
            continue
        codes, uniques = pd.factorize(flat)
        sign = np.empty((len(uniques), 64), dtype=np.int64)
        for ui, w in enumerate(uniques):
            h16 = hashlib.sha256(w.encode()).hexdigest()[:16]
            nib = np.frombuffer(h16.encode("ascii"), dtype=np.uint8)
            vals = np.where(nib >= 97, nib - 87, nib - 48).astype(np.int64)
            sign[ui] = ((vals[_J // 4] >> (_J % 4)) & 1) * 2 - 1
        tok_doc = np.repeat(np.arange(n_docs), lens)
        # (doc, word) counts via C-level hash groupby — memory O(nnz),
        # never O(docs x vocab)
        gb = (pd.DataFrame({"d": tok_doc, "c": codes})
              .groupby(["d", "c"], sort=False).size())
        d_idx = gb.index.get_level_values(0).to_numpy()
        w_idx = gb.index.get_level_values(1).to_numpy()
        cnt = gb.to_numpy()
        v = np.zeros((n_docs, 64), dtype=np.int64)
        np.add.at(v, d_idx, cnt[:, None] * sign[w_idx])
        sb = (v > 0).astype(np.int64)
        yield pd.DataFrame({
            "doc_id": dids.astype("int64"),
            "simhash_lo": (sb[:, :32] * pow_lo).sum(axis=1),
            "simhash_hi": (sb[:, 32:] * pow_lo).sum(axis=1),
        })


def simhash_fingerprints(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc as two 32-bit halves (BIGINT-safe), via an
    Arrow-batched mapInPandas with a per-batch word-hash cache (vocabulary
    is tiny relative to tokens, so the numpy inner loop is per-WORD, not
    per-token)."""
    return _spread(df.select("doc_id", "text")).mapInPandas(
        _simhash_map, schema=SIMHASH_SCHEMA
    )


def dedup_simhash(spark, sf):
    """SimHash near-dup pairs with chunk-PAIR blocking (see the constants
    note: 8x8-bit chunks, 28 pair tables, EXACT recall for hamming <=
    SIMHASH_HAMMING_MAX by pigeonhole), verified via popcount of xor.
    The oracle runs the identical blocking, so candidates match by
    construction."""
    d = _docs(spark, sf)
    # persist: the blocking self-join reads the fingerprints twice, and
    # without a cache each side re-runs the Arrow fingerprinting stage
    # over the full corpus. The cached table is doc_id + two longs —
    # ~16 bytes/doc, negligible next to the corpus at any scale
    fp = simhash_fingerprints(d).persist()
    # 8-bit chunks c0..c3 from lo, c4..c7 from hi (integer arithmetic so
    # the SQL mirror is exact)
    half = SIMHASH_N_CHUNKS // 2
    for i in range(half):
        fp = fp.withColumn(
            f"c{i}", (F.floor(F.col("simhash_lo") / (256 ** i)) % 256).cast("int")
        ).withColumn(
            f"c{i + half}", (F.floor(F.col("simhash_hi") / (256 ** i)) % 256).cast("int")
        )
    pair_structs = [
        F.struct(
            F.lit(i * SIMHASH_N_CHUNKS + j).alias("cno"),
            (F.col(f"c{i}") * 256 + F.col(f"c{j}")).alias("cv"),
        )
        for i in range(SIMHASH_N_CHUNKS)
        for j in range(i + 1, SIMHASH_N_CHUNKS)
    ]
    chunks = fp.select(
        "doc_id", "simhash_lo", "simhash_hi",
        F.explode(F.array(*pair_structs)).alias("c"),
    ).select(
        "doc_id", "simhash_lo", "simhash_hi",
        F.col("c.cno").alias("cno"), F.col("c.cv").alias("cv"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(
        F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo"))
    ) + F.bit_count(F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi")))
    return (
        a.join(b, (F.col("a.cno") == F.col("b.cno")) & (F.col("a.cv") == F.col("b.cv")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .orderBy("a_id", "b_id")
    )


_SIMHASH_SQL_CTE = f"""
tok AS (
  SELECT doc_id, t.tok AS w, count(*) AS cnt
  FROM documents d, unnest({_SQL_TOKS}) AS t(tok)
  GROUP BY 1, 2
),
hw AS (SELECT doc_id, cnt, substr(sha256(w), 1, 16) AS h FROM tok),
bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN (
               (CASE WHEN ascii(substr(h, j // 4 + 1, 1)) >= 97
                     THEN ascii(substr(h, j // 4 + 1, 1)) - 87
                     ELSE ascii(substr(h, j // 4 + 1, 1)) - 48 END
               ) >> (j % 4)) & 1 = 1
             THEN cnt ELSE -cnt END) AS v
  FROM hw, unnest(generate_series(0, 63)) AS g(j)
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN j < 32 AND v > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS simhash_lo,
         sum(CASE WHEN j >= 32 AND v > 0 THEN CAST(1 AS BIGINT) << (j - 32) ELSE 0 END) AS simhash_hi
  FROM bits GROUP BY doc_id
)
"""

_SIMHASH_PAIR_ROWS = ",".join(
    f"({i * SIMHASH_N_CHUNKS + j}, {i}, {j})"
    for i in range(SIMHASH_N_CHUNKS)
    for j in range(i + 1, SIMHASH_N_CHUNKS)
)

DEDUP_SIMHASH_SQL = f"""
WITH {_SIMHASH_SQL_CTE.strip()},
c8 AS (
  SELECT doc_id, simhash_lo, simhash_hi, ci,
         CASE WHEN ci < 4 THEN (simhash_lo // power(256, ci)::BIGINT) % 256
              ELSE (simhash_hi // power(256, ci - 4)::BIGINT) % 256 END AS cval
  FROM fp, unnest(generate_series(0, {SIMHASH_N_CHUNKS - 1})) AS g(ci)
),
pairs(cno, i, j) AS (VALUES {_SIMHASH_PAIR_ROWS}),
chunks AS (
  SELECT x.doc_id, x.simhash_lo, x.simhash_hi, p.cno,
         x.cval * 256 + y.cval AS cv
  FROM pairs p
  JOIN c8 x ON x.ci = p.i
  JOIN c8 y ON y.ci = p.j AND y.doc_id = x.doc_id
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash_lo, b.simhash_lo))
            + bit_count(xor(a.simhash_hi, b.simhash_hi)) AS INTEGER) AS hamming
FROM chunks a JOIN chunks b ON a.cno = b.cno AND a.cv = b.cv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash_lo, b.simhash_lo))
      + bit_count(xor(a.simhash_hi, b.simhash_hi)) <= {SIMHASH_HAMMING_MAX}
ORDER BY a_id, b_id
"""


# ------------------------------------------------------------- embeddings

def _with_demb(df: DataFrame) -> DataFrame:
    """float32 -> double BEFORE any arithmetic, so Spark and the oracle
    multiply/accumulate identical doubles."""
    return df.withColumn("demb", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))"))


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"


def _pair_dot_udf():
    """Arrow-vectorized pairwise dot product with the SAME double
    accumulation order as the _DOT higher-order expression (and DuckDB's
    list aggregate): acc += a_d * b_d left-to-right over dimensions, so
    the doubles are bit-identical to the interpreted zip_with/aggregate
    lambdas it replaces on the verify's pair table. Built lazily — a
    module-level pandas_udf would demand a SparkSession at import."""

    @F.pandas_udf("double")
    def _pair_dot(ea: pd.Series, eb: pd.Series) -> pd.Series:
        if len(ea) == 0:
            return pd.Series([], dtype="float64")
        a = np.array(ea.tolist(), dtype=np.float64)
        b = np.array(eb.tolist(), dtype=np.float64)
        acc = np.zeros(len(a), dtype=np.float64)
        for d in range(a.shape[1]):
            acc += a[:, d] * b[:, d]
        return pd.Series(acc)

    return _pair_dot


def _cos_expr(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


def dedup_embedding_cosine(spark, sf):
    """Embedding near-dup pairs via banded sign-LSH (see EMB_BANDS note):
    band-bucket self-join generates candidates, exact cosine >= threshold
    verifies. The oracle runs the identical banding, so candidates match
    by construction. The exact-cosine verify is interpreted
    higher-order-function arithmetic (zip_with/aggregate lambdas are not
    codegen'd), so the scan side must be spread across cores — a small
    corpus arrives as one parquet split and would otherwise verify every
    candidate pair on a single task."""
    e = _with_demb(_spread(_emb(spark, sf)))
    band_structs = []
    for bnd in range(EMB_BANDS):
        bits = None
        for d in range(EMB_BAND_BITS):
            dim = bnd * EMB_BAND_BITS + d
            bit = F.when(F.element_at("demb", dim + 1) >= 0, F.lit(1 << d)).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        band_structs.append(F.struct(F.lit(bnd).alias("band"), bits.alias("bv")))
    bands = e.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bx")
    ).select("vec_id", F.col("bx.band").alias("band"), F.col("bx.bv").alias("bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bv") == F.col("b.bv")))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    # precompute each vector's norm ONCE (the pairwise verify then does a
    # single dot product per candidate instead of three aggregates; the
    # expression sqrt(dot(x,x)) is unchanged, so doubles stay identical
    # to the oracle's list_cosine_similarity)
    nrm = F.expr(f"sqrt({_DOT.format(a='demb', b='demb')})")
    vn = e.withColumn("nrm", nrm)
    va = vn.select(F.col("vec_id").alias("a_id"), F.col("demb").alias("ea"), F.col("nrm").alias("na"))
    vb = vn.select(F.col("vec_id").alias("b_id"), F.col("demb").alias("eb"), F.col("nrm").alias("nb"))
    cos = _pair_dot_udf()(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("a_id", "b_id", F.round("cosine", 4).alias("cosine"))
        .orderBy("a_id", "b_id")
    )


def _emb_bands_sql() -> str:
    selects = []
    for bnd in range(EMB_BANDS):
        key = " + ".join(
            f"(CASE WHEN emb[{bnd * EMB_BAND_BITS + d + 1}] >= 0 THEN {1 << d} ELSE 0 END)"
            for d in range(EMB_BAND_BITS)
        )
        selects.append(f"SELECT vec_id, {bnd} AS band, ({key}) AS bv FROM v")
    return " UNION ALL ".join(selects)


DEDUP_EMB_COS_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
bands AS ({_emb_bands_sql()}),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       round(list_cosine_similarity(x.emb, y.emb), 4) AS cosine
FROM cand c
JOIN v x ON x.vec_id = c.a_id
JOIN v y ON y.vec_id = c.b_id
WHERE list_cosine_similarity(x.emb, y.emb) >= {COSINE_DUP_THRESHOLD}
ORDER BY a_id, b_id
"""


def ann_cosine_topk(spark, sf):
    """Brute-force cosine top-k: the exact baseline every ANN variant is
    graded against. Query side (5 vectors) is broadcast; the big side
    streams — one pass, no shuffle until the per-query top-k window."""
    e = _with_demb(_emb(spark, sf))
    q = e.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("demb").alias("qemb")
    )
    cos = F.expr(_cos_expr("qemb", "demb"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"))
        .orderBy("query_id", "rank")
    )


ANN_BRUTE_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id < {ANN_N_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id,
         list_cosine_similarity(q.qemb, v.emb) AS cosine
  FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank,
       vec_id AS neighbor_id
FROM scored
QUALIFY rank <= {ANN_K}
ORDER BY query_id, rank
"""


def _kmeans_fit(V: "np.ndarray") -> "np.ndarray":
    """Deterministic spherical k-means on row vectors V (float64): unit-
    normalize, init = first k rows, ANN_KMEANS_ITERS Lloyd iterations,
    unit-normalized centroids so assignment is argmax dot (= argmax
    cosine). Shared verbatim by the Spark fit and the DuckDB oracle fit
    so both sides hold bit-identical centroids."""
    V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    C = V[:ANN_KMEANS_K].copy()
    for _ in range(ANN_KMEANS_ITERS):
        a = np.argmax(V @ C.T, axis=1)
        for j in range(ANN_KMEANS_K):
            m = a == j
            if m.any():
                c = V[m].mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


#: fitted centroids / assigned-embedding table per (JVM, corpus): the
#: fit and the assign-and-carry pass are index-build-like steps shared by
#: every nprobe variant in the family (cf. _PAIRS_CACHE)
_ANN_FIT_CACHE: dict = {}
_ANN_ASSIGN_CACHE: dict = {}


def _fit_centroids(spark, sf) -> "np.ndarray":
    """Fit sample = the ANN_KMEANS_SAMPLE lowest vec_ids. vec_id is dense
    from 0 (TESTDATA contract), so the sample is a PUSHED-DOWN filter
    scan + tiny sort, not a full-table TakeOrdered — at 100 TB this
    reads a handful of partitions; the centroids broadcast everywhere."""
    key = (_session_key(spark), sf)
    if key in _ANN_FIT_CACHE:
        return _ANN_FIT_CACHE[key]
    rows = (
        _emb(spark, sf)
        .filter(F.col("vec_id") < ANN_KMEANS_SAMPLE)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    C = _kmeans_fit(np.array([r["embedding"] for r in rows], dtype=np.float64))
    _ANN_FIT_CACHE[key] = C
    return C


def _oracle_fit_centroids(sf_dir: str) -> "np.ndarray":
    """The oracle-side replay of _fit_centroids: same rows (lowest
    vec_ids, vec_id order), same float32->float64 widening, same
    _kmeans_fit — no Spark involved, so oracle_sql() can embed the
    resulting centroids as literals."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    pdf = t.to_pandas()
    pdf = pdf[pdf["vec_id"] < ANN_KMEANS_SAMPLE].sort_values("vec_id")
    return _kmeans_fit(np.stack(pdf["embedding"].values).astype(np.float64))


def _assigned_emb(spark, sf, C: "np.ndarray") -> DataFrame:
    """ONE pass over embeddings attaching the centroid cell: the Arrow
    batch computes the argmax-dot bucket and passes embedding through,
    so no second scan / self-join is needed (r2 scanned twice and
    shuffled a full-table join to attach buckets). Persisted per
    (JVM, corpus): every nprobe variant probes the same assignment."""
    key = (_session_key(spark), sf)
    if key in _ANN_ASSIGN_CACHE:
        return _ANN_ASSIGN_CACHE[key]
    Cb = spark.sparkContext.broadcast(C)

    def assign(it):
        for pdf in it:
            V = np.stack(pdf["embedding"].values).astype(np.float64)
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            yield pdf.assign(bucket=np.argmax(V @ Cb.value.T, axis=1).astype("int32"))

    out = _with_demb(
        _spread(_emb(spark, sf).select("vec_id", "embedding"))
        .mapInPandas(assign, "vec_id long, embedding array<float>, bucket int")
    ).persist()
    _ANN_ASSIGN_CACHE[key] = out
    return out


def _ivf_probe(spark, sf, e: DataFrame, C: "np.ndarray", nprobe: int) -> DataFrame:
    """Shared IVF probe: queries pick their nprobe nearest cells driver-side
    (k centroids, tiny), the candidate side filters to those cells, and the
    bounded query set broadcasts into the pruned scan."""
    q_rows = sorted(
        _emb(spark, sf).filter(F.col("vec_id") < ANN_N_QUERIES).collect(),
        key=lambda r: int(r["vec_id"]),
    )
    Q = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    probe_map = {
        int(r["vec_id"]): [int(x) for x in np.argsort(-(Q[i] @ C.T), kind="stable")[:nprobe]]
        for i, r in enumerate(q_rows)
    }
    probes_df = spark.createDataFrame(
        [(qid, b) for qid, bs in probe_map.items() for b in bs],
        "query_id long, bucket int",
    )
    all_probe_buckets = sorted({b for bs in probe_map.values() for b in bs})
    q = (
        e.filter(F.col("vec_id") < ANN_N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("demb").alias("qemb"))
        .join(probes_df, "query_id")
    )
    cos = F.expr(_cos_expr("qemb", "demb"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        e.filter(F.col("bucket").isin(all_probe_buckets))  # partition prune
        .join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"))
        .orderBy("query_id", "rank")
    )


def ann_ivf_kmeans(spark, sf, nprobe: int = ANN_KMEANS_NPROBE):
    """Trained-centroid IVF ANN (the production recall path; see the
    ANN_KMEANS note): spherical k-means centroids fitted driver-side on
    a deterministic sample, broadcast into a single Arrow-batched
    assign-and-carry pass; queries probe their `nprobe` nearest cells.
    At scale the corpus is stored partitioned by the centroid cell
    (build_ivf_index / ann_ivf_stored), so a probe is a partition-pruned
    scan — plan-asserted in tests/test_plans.py."""
    C = _fit_centroids(spark, sf)
    return _ivf_probe(spark, sf, _assigned_emb(spark, sf, C), C, nprobe)


def build_ivf_index(spark, sf, out_dir: str) -> "np.ndarray":
    """Materialize the IVF layout the 100-TB deployment stores: the
    embedding corpus written PARTITIONED BY its centroid cell, so a probe
    becomes a partition-pruned scan (cells not probed are never opened).
    Returns the centroids that define the layout."""
    C = _fit_centroids(spark, sf)
    (
        _assigned_emb(spark, sf, C)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )
    return C


def ann_ivf_stored(spark, sf, index_dir: str, nprobe: int = ANN_KMEANS_NPROBE):
    """IVF probe over the STORED cell-partitioned layout: the bucket
    filter is a partition filter (directory prune) rather than a row
    predicate — identical results to ann_ivf_kmeans, but only the probed
    cells' files are ever read."""
    C = _fit_centroids(spark, sf)
    return _ivf_probe(spark, sf, spark.read.parquet(index_dir), C, nprobe)


def ann_family(spark, sf):
    """ANN as one tagged union (gate consolidation): `exact` brute-force
    baseline, `ivf` trained-centroid IVF at nprobe=1, `ivf_probe` at
    nprobe=ANN_KMEANS_NPROBE (the recall/cost dial). All three variants
    are value-checked against the DuckDB oracle, which refits the same
    deterministic k-means and replays assignment + probing in SQL."""
    parts = [
        ("exact", ann_cosine_topk(spark, sf)),
        ("ivf", ann_ivf_kmeans(spark, sf, nprobe=1)),
        ("ivf_probe", ann_ivf_kmeans(spark, sf, nprobe=ANN_KMEANS_NPROBE)),
    ]
    from functools import reduce

    dfs = [d.select(F.lit(v).alias("variant"), "query_id", "rank", "neighbor_id") for v, d in parts]
    return reduce(DataFrame.unionByName, dfs).orderBy("variant", "query_id", "rank")


def _centroid_values_sql(C: "np.ndarray") -> str:
    rows = ",\n".join(
        "({}, [{}])".format(j, ",".join(repr(float(x)) for x in C[j]))
        for j in range(C.shape[0])
    )
    return f"(VALUES {rows})"


def _ann_kmeans_sql(C: "np.ndarray", nprobe: int) -> str:
    """Replay of ann_ivf_kmeans in DuckDB given the fitted centroids as
    literals: assignment = best cell by cosine (ties -> lowest cell,
    matching numpy argmax), probes = the query's nprobe best cells,
    candidates = probed cells, exact cosine rank <= K."""
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cent(cell, c) AS (SELECT * FROM {_centroid_values_sql(C)}),
asg AS (
  SELECT vec_id, cell AS bucket FROM (
    SELECT v.vec_id, cent.cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.emb, cent.c) DESC, cent.cell ASC
           ) AS rn
    FROM v CROSS JOIN cent) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id < {ANN_N_QUERIES}),
qprobe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, cent.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qemb, cent.c) DESC, cent.cell ASC
           ) AS rn
    FROM q CROSS JOIN cent) WHERE rn <= {nprobe}
),
scored AS (
  SELECT q.query_id, v.vec_id, list_cosine_similarity(q.qemb, v.emb) AS cosine
  FROM v
  JOIN asg USING (vec_id)
  JOIN qprobe p ON p.cell = asg.bucket
  JOIN q ON q.query_id = p.query_id
  WHERE v.vec_id <> q.query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank,
       vec_id AS neighbor_id
FROM scored
QUALIFY rank <= {ANN_K}
ORDER BY query_id, rank
"""


def ann_family_sql(sf_dir: str | None = None) -> str:
    """Lazy oracle (resolved by __spark_entry__.oracle_sql / the parity
    tool): the centroids depend on the data, so the SQL is built against
    the gate's sf dir (env SPARK_GRAFT_ORACLE_SF_DIR, default the
    driver's sf0.01) by refitting the deterministic k-means and
    embedding the result as literals."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    C = _oracle_fit_centroids(sf_dir)
    parts = [
        ("exact", ANN_BRUTE_SQL),
        ("ivf", _ann_kmeans_sql(C, nprobe=1)),
        ("ivf_probe", _ann_kmeans_sql(C, nprobe=ANN_KMEANS_NPROBE)),
    ]
    inner = "\nUNION ALL\n".join(
        f"SELECT '{v}' AS variant, query_id, rank, neighbor_id FROM ({sql})"
        for v, sql in parts
    )
    return f"SELECT * FROM (\n{inner}\n) ORDER BY variant, query_id, rank"


# ----------------------------------------------------------- text analysis

_LANG_SETS = {
    "en": ["the", "a", "and", "of", "to", "is", "in", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "ich"],
}


def lang_id(spark, sf):
    """Wordlist-overlap language ID (n-gram-heuristic family): score each
    language by its function-word hit count over the token multiset;
    argmax, ties/zero -> 'und'. Pure Catalyst (array_intersect-style via
    filter+size); one narrow pass over text."""
    d = _with_tokens(_docs(spark, sf))
    for code, words in _LANG_SETS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        d = d.withColumn(
            f"n_{code}",
            F.expr(f"size(filter(toks, x -> array_contains(array({arr}), x)))"),
        )
    best = F.greatest(*[F.col(f"n_{c}") for c in _LANG_SETS])
    pred = F.when(best <= 0, F.lit("und"))
    for code in _LANG_SETS:  # first max wins in declaration order
        pred = pred.when(F.col(f"n_{code}") == best, F.lit(code))
    return d.select(
        "doc_id",
        pred.alias("pred_lang"),
        *[F.col(f"n_{c}").cast("int").alias(f"n_{c}") for c in _LANG_SETS],
    ).orderBy("doc_id")


def _lang_sql() -> str:
    cols = []
    for code, words in _LANG_SETS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        cols.append(
            f"len(list_filter({_SQL_TOKS}, x -> list_contains([{arr}], x))) AS n_{code}"
        )
    codes = list(_LANG_SETS)
    best = f"greatest({', '.join('n_' + c for c in codes)})"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN n_{c} = {best} THEN '{c}'" for c in codes
    ) + " END"
    ncols = ", ".join(f"CAST(n_{c} AS INTEGER) AS n_{c}" for c in codes)
    return f"""
WITH scored AS (SELECT doc_id, {', '.join(cols)} FROM documents)
SELECT doc_id, {case} AS pred_lang, {ncols}
FROM scored ORDER BY doc_id
"""


LANG_ID_SQL = _lang_sql()

_STOP10 = "'the','a','and','of','to','is','in','that','it','for'"


#: C4-style cleaning (Raffel et al. 2020 §2.2) over the synthetic corpus:
#: the corpus has no newlines or punctuation, so page structure is
#: DERIVED deterministically (documented, replayed verbatim by the
#: oracle): a "line" is a run of C4_LINE_W words; line i of doc d ends in
#: terminal punctuation iff (d + i) % 3 != 0; docs with doc_id % 97 == 0
#: get a literal ' lorem ipsum' planted so the phrase filter has real
#: positives to catch. The RULES are C4's: keep a line iff it ends in
#: terminal punctuation and has >= C4_MIN_LINE_WORDS words; keep the page
#: iff >= C4_MIN_LINES lines survive and it does not contain
#: 'lorem ipsum'.
C4_LINE_W = 8
C4_MIN_LINE_WORDS = 5
C4_MIN_LINES = 3


def quality_score(spark, sf):
    """Document quality heuristics: token count, distinct-token ratio,
    stopword ratio, mean token length; composite linear score. All
    double arithmetic with identical literals on both sides -> bit-equal.

    Plus C4-style page cleaning signals (see the C4_* constants note):
    kept-line counting is CLOSED-FORM integer arithmetic — full lines of
    W words all pass the >=5-word rule, and the count of terminal lines
    among i in [0, m) is m - (floor((d+m+2)/3) - floor((d+2)/3)) — so the
    whole filter is one whole-stage-codegen projection, no lambdas, no
    shuffle, O(1) per document regardless of page length."""
    d = _with_tokens(_docs(spark, sf))
    n_tok = F.size("toks").cast("double")
    n_dist = F.size(F.array_distinct("toks")).cast("double")
    n_stop = F.expr(f"size(filter(toks, x -> x IN ({_STOP10})))").cast("double")
    sum_len = F.expr("aggregate(toks, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))").cast("double")
    w, mw, ml = C4_LINE_W, C4_MIN_LINE_WORDS, C4_MIN_LINES
    page = F.when(
        F.col("doc_id") % 97 == 0, F.concat(F.col("text"), F.lit(" lorem ipsum"))
    ).otherwise(F.col("text"))
    n_tok_i = F.size("toks")
    full = F.floor(n_tok_i / w)  # lines with exactly w (>= mw) words
    r = n_tok_i % w
    terminal_full = full - (
        F.floor((F.col("doc_id") + full + 2) / 3) - F.floor((F.col("doc_id") + 2) / 3)
    )
    partial_kept = (
        (r >= mw) & (((F.col("doc_id") + full) % 3) != 0)
    ).cast("long")
    c4_kept = (terminal_full + partial_kept).cast("long")
    has_lorem = F.col("_page").contains("lorem ipsum")
    return (
        d.withColumn("_page", page)
        .withColumn("n_tokens", n_tok)
        .withColumn("distinct_ratio", n_dist / n_tok)
        .withColumn("stop_ratio", n_stop / n_tok)
        .withColumn("mean_tok_len", sum_len / n_tok)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("distinct_ratio", 6).alias("distinct_ratio"),
            F.round("stop_ratio", 6).alias("stop_ratio"),
            F.round("mean_tok_len", 6).alias("mean_tok_len"),
            F.round(
                F.col("distinct_ratio") * 2.0 - F.col("stop_ratio") * 3.0
                + F.col("n_tokens") * 0.002,
                6,
            ).alias("quality"),
            (full + (r > 0).cast("long")).cast("long").alias("c4_lines"),
            c4_kept.alias("c4_kept_lines"),
            has_lorem.cast("int").alias("c4_has_lorem"),
            ((c4_kept >= ml) & ~has_lorem).cast("int").alias("c4_keep"),
        )
        .orderBy("doc_id")
    )


QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks,
         CASE WHEN doc_id % 97 = 0 THEN text || ' lorem ipsum' ELSE text END AS page
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dist,
         CAST(len(list_filter(toks, x -> x IN ({_STOP10}))) AS DOUBLE) AS n_stop,
         CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) AS sum_len,
         len(toks) // {C4_LINE_W} AS full_lines,
         len(toks) % {C4_LINE_W} AS part_words,
         contains(page, 'lorem ipsum') AS has_lorem
  FROM t
),
c4 AS (
  SELECT doc_id,
         full_lines + CASE WHEN part_words > 0 THEN 1 ELSE 0 END AS c4_lines,
         (full_lines
          - ((doc_id + full_lines + 2) // 3 - (doc_id + 2) // 3)
          + CASE WHEN part_words >= {C4_MIN_LINE_WORDS}
                  AND (doc_id + full_lines) % 3 <> 0 THEN 1 ELSE 0 END
         ) AS c4_kept_lines,
         has_lorem
  FROM m
)
SELECT m.doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       round(n_dist / n_tok, 6) AS distinct_ratio,
       round(n_stop / n_tok, 6) AS stop_ratio,
       round(sum_len / n_tok, 6) AS mean_tok_len,
       round((n_dist / n_tok) * 2.0 - (n_stop / n_tok) * 3.0 + n_tok * 0.002, 6) AS quality,
       CAST(c4.c4_lines AS BIGINT) AS c4_lines,
       CAST(c4.c4_kept_lines AS BIGINT) AS c4_kept_lines,
       CAST(CASE WHEN c4.has_lorem THEN 1 ELSE 0 END AS INTEGER) AS c4_has_lorem,
       CAST(CASE WHEN c4.c4_kept_lines >= {C4_MIN_LINES} AND NOT c4.has_lorem
                 THEN 1 ELSE 0 END AS INTEGER) AS c4_keep
FROM m JOIN c4 USING (doc_id) ORDER BY m.doc_id
"""


def token_count(spark, sf):
    """Token counting: whitespace tokens, alnum-run tokens (BPE-ish regex
    pre-tokenizer), and characters. Stays entirely in whole-stage codegen."""
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").alias("ws_tokens"),
        F.expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))").cast("long").alias("alnum_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len({_SQL_TOKS}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS alnum_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents ORDER BY doc_id
"""


def quality_gopher(spark, sf):
    """Gopher/RefinedWeb-style repetition filters (Rae et al. 2021 §A1.1),
    the standard pre-training quality gate alongside `quality_score`:

      top_bigram_frac  — fraction of document characters covered by the
                         most frequent word 2-gram (ties resolved toward
                         the larger character mass so both engines agree);
      dup_trigram_frac — fraction of 3-gram-instance characters whose
                         3-gram occurs more than once;
      gopher_keep      — 1 iff top_bigram_frac <= 0.20 (the published
                         2-gram threshold) and dup_trigram_frac <= 0.60.

    Plan shape (the 100-TB consideration): n-grams EXPLODE to
    (doc_id, n, gram) rows and aggregate twice — per-gram counts, then
    per-doc signals — both stages whole-stage-codegen'd with map-side
    partial aggregation on the (doc, gram) shuffle. A per-row
    higher-order-function formulation (first cut) was 5x slower at
    sf0.1 and O(words^2) per document: Catalyst lambdas run interpreted,
    so a 1k-word web page would cost ~1M interpreted comparisons. The
    explode plan is linear in corpus size and document length."""
    d = _with_tokens(_docs(spark, sf)).filter(F.size("toks") >= 3)
    bg = "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"
    tg = (
        "transform(sequence(0, size(toks) - 3), "
        "i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))"
    )
    grams = (
        d.select(
            "doc_id",
            F.length("text").alias("tlen"),
            F.explode(
                F.map_from_arrays(F.array(F.lit(2), F.lit(3)), F.array(F.expr(bg), F.expr(tg)))
            ).alias("n", "gs"),
        )
        .select("doc_id", "tlen", "n", F.explode("gs").alias("gram"))
    )
    per_gram = grams.groupBy("doc_id", "n", "gram").agg(
        F.first("tlen").alias("tlen"),
        F.count("*").alias("cnt"),
        F.length(F.first("gram")).alias("glen"),
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("cnt") * F.col("glen"))).alias("top_bg_chars"),
        F.sum(
            F.when((F.col("n") == 3) & (F.col("cnt") >= 2), F.col("cnt") * F.col("glen"))
        ).alias("dup_tg_chars"),
        F.sum(F.when(F.col("n") == 3, F.col("cnt") * F.col("glen"))).alias("all_tg_chars"),
        F.first("tlen").alias("tlen"),
    )
    return (
        per_doc.select(
            "doc_id",
            F.round(F.col("top_bg_chars").cast("double") / F.col("tlen"), 6).alias(
                "top_bigram_frac"
            ),
            F.round(
                F.coalesce(F.col("dup_tg_chars"), F.lit(0)).cast("double")
                / F.col("all_tg_chars").cast("double"),
                6,
            ).alias("dup_trigram_frac"),
        )
        .withColumn(
            "gopher_keep",
            F.when(
                (F.col("top_bigram_frac") <= 0.20) & (F.col("dup_trigram_frac") <= 0.60), 1
            ).otherwise(0).cast("int"),
        )
        .orderBy("doc_id")
    )


QUALITY_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
),
g AS (
  SELECT doc_id, text,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bg,
         list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS tg
  FROM t WHERE len(toks) >= 3
),
m AS (
  SELECT doc_id,
         round(CAST(list_max(list_transform(bg,
                 x -> len(list_filter(bg, y -> y = x)) * length(x))) AS DOUBLE)
               / length(text), 6) AS top_bigram_frac,
         round(CAST(list_sum(list_transform(tg,
                 x -> CASE WHEN len(list_filter(tg, y -> y = x)) >= 2
                           THEN length(x) ELSE 0 END)) AS DOUBLE)
               / CAST(list_sum(list_transform(tg, x -> length(x))) AS DOUBLE),
               6) AS dup_trigram_frac
  FROM g
)
SELECT doc_id, top_bigram_frac, dup_trigram_frac,
       CAST(CASE WHEN top_bigram_frac <= 0.20 AND dup_trigram_frac <= 0.60
                 THEN 1 ELSE 0 END AS INTEGER) AS gopher_keep
FROM m ORDER BY doc_id
"""


def significant_terms(spark, sf):
    """Significant-terms extraction (the Solr 6.5+ SignificantTermsStream /
    ES significant_terms shape; scored with the JLH heuristic): terms
    overrepresented in a FOREGROUND slice (lang='de') vs the whole corpus.
    jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct) over per-doc-distinct
    term frequencies. One distinct + one aggregation: tokens explode to
    (doc_id, term) pairs, dedup per doc, then a single groupBy(term)
    computes fg and bg docFreq together (fg = conditional sum, no second
    pass, no join of two aggregates). Whitespace tokens, stopwords kept —
    this is a corpus-analysis op, not an index query."""
    d = _with_tokens(_docs(spark, sf))
    pairs = (
        d.select("doc_id", "lang", F.explode(F.array_distinct("toks")).alias("term"))
        .withColumn("is_fg", (F.col("lang") == "de").cast("long"))
    )
    # one metadata-light job for both corpus constants (not two counts)
    row = _docs(spark, sf).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lang") == "de").cast("long")).alias("nfg"),
    ).first()
    n_docs, n_fg = int(row["n"]), int(row["nfg"])
    agg = pairs.groupBy("term").agg(
        F.count("*").alias("bg_df"), F.sum("is_fg").alias("fg_df")
    )
    fg_pct = F.col("fg_df").cast("double") / F.lit(float(n_fg))
    bg_pct = F.col("bg_df").cast("double") / F.lit(float(n_docs))
    return (
        agg.filter(F.col("fg_df") > 0)
        .withColumn("jlh", F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6))
        .select("term", "fg_df", "bg_df", "jlh")
        .orderBy(F.col("jlh").desc(), F.col("term").asc())
        .limit(15)
    )


SIGNIFICANT_TERMS_SQL = """
WITH pairs AS (
  SELECT DISTINCT doc_id, lang, term FROM (
    SELECT doc_id, lang,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
    FROM documents
  )
),
tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(count(*) FILTER (WHERE lang = 'de') AS DOUBLE) AS n_fg
  FROM documents
),
agg AS (
  SELECT term, count(*) AS bg_df,
         CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS fg_df
  FROM pairs GROUP BY term
)
SELECT term, fg_df, bg_df,
       round((fg_df / n_fg - bg_df / n_docs) * ((fg_df / n_fg) / (bg_df / n_docs)), 6) AS jlh
FROM agg CROSS JOIN tot
WHERE fg_df > 0
ORDER BY jlh DESC, term ASC LIMIT 15
"""


#: DatasetSplitter ratios for the gate's stratified variant
STRAT_TEST_RATIO = 0.2
STRAT_CV_RATIO = 0.1


def dataset_splitter_assign_py(
    rows: list[tuple[int, str]], test_ratio: float, cv_ratio: float,
) -> list[str]:
    """Pure-Python mirror of DatasetSplitter.split (lucene/
    classification/utils/DatasetSplitter.java — pinned vs the compiled
    splitter, GT round 64): classes grouped in FIRST-OCCURRENCE order,
    docs walked group-major with a GLOBAL counter b; a doc goes to test
    when b is even and the group's test quota (totalHits * testRatio)
    is unmet, else to cv under its quota, else to train. Returns the
    split per input row (rows are (doc_id, class) in doc order)."""
    order: list[str] = []
    groups: dict[str, list[int]] = {}
    for pos, (_doc, cls) in enumerate(rows):
        if cls not in groups:
            order.append(cls)
            groups[cls] = []
        groups[cls].append(pos)
    out = [""] * len(rows)
    b = 0
    for cls in order:
        members = groups[cls]
        total = len(members)
        tc = cvc = 0
        for pos in members:
            if b % 2 == 0 and tc < total * test_ratio:
                out[pos] = "test"
                tc += 1
            elif cvc < total * cv_ratio:
                out[pos] = "cv"
                cvc += 1
            else:
                out[pos] = "train"
            b += 1
    return out


def dataset_splitter_assign(
    df: DataFrame, class_col: str,
    test_ratio: float = STRAT_TEST_RATIO,
    cv_ratio: float = STRAT_CV_RATIO,
) -> DataFrame:
    """DatasetSplitter's assignment as pure Catalyst windows (no
    sequential walk needed — the reference's global counter b has the
    closed form group_offset + row_number, and its tc/cvc counters are
    rank predicates): test ⟺ b even ∧ even_rank-1 < n*testRatio;
    cv ⟺ ¬test ∧ nontest_rank-1 < n*cvRatio. Three window passes over
    one scan — stratified splitting at 100 TB without a shuffle beyond
    the class partitioning."""
    wcls = Window.partitionBy(class_col)
    wcls_ord = wcls.orderBy("doc_id")
    d = df.withColumn("_first", F.min("doc_id").over(wcls)).withColumn(
        "_n", F.count("*").over(wcls)
    ).withColumn("_i", F.row_number().over(wcls_ord) - 1)
    # group offset: total docs in classes whose first doc comes earlier
    firsts = (
        d.groupBy(class_col)
        .agg(F.min("doc_id").alias("_f"), F.count("*").alias("_cnt"))
    )
    woff = Window.orderBy("_f").rowsBetween(Window.unboundedPreceding, -1)
    offsets = firsts.select(
        class_col,
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"),
    )
    d = d.join(F.broadcast(offsets), class_col)
    d = d.withColumn("_b", F.col("_off") + F.col("_i"))
    d = d.withColumn("_even", F.col("_b") % 2 == 0)
    d = d.withColumn(
        "_even_rank",
        F.sum(F.when(F.col("_even"), 1).otherwise(0)).over(wcls_ord),
    )
    d = d.withColumn(
        "split",
        F.when(
            F.col("_even")
            & ((F.col("_even_rank") - 1) < F.col("_n") * F.lit(test_ratio)),
            F.lit("test"),
        ),
    )
    d = d.withColumn(
        "_nt_rank",
        F.sum(F.when(F.col("split").isNull(), 1).otherwise(0)).over(wcls_ord),
    )
    return d.withColumn(
        "split",
        F.coalesce(
            F.col("split"),
            F.when(
                (F.col("_nt_rank") - 1) < F.col("_n") * F.lit(cv_ratio),
                F.lit("cv"),
            ).otherwise(F.lit("train")),
        ),
    ).drop("_first", "_n", "_i", "_off", "_b", "_even", "_even_rank",
           "_nt_rank")


def stratified_splits(spark, sf):
    """DatasetSplitter over the corpus with lang as the class field:
    per (class, split) rollup in the splits_family union shape."""
    d = dataset_splitter_assign(
        _docs(spark, sf).select("doc_id", "lang", "n_chars"), "lang")
    return (
        d.groupBy("lang", "split")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("n_chars"), 6).alias("metric"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
    )


STRATIFIED_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, n_chars,
         min(doc_id) OVER (PARTITION BY lang) AS f,
         count(*) OVER (PARTITION BY lang) AS n,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1 AS i
  FROM documents
),
offs AS (
  SELECT lang,
         coalesce(sum(cnt) OVER (ORDER BY f
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM (SELECT lang, min(doc_id) AS f, count(*) AS cnt
        FROM documents GROUP BY lang)
),
b AS (
  SELECT base.*, (base.i + offs.off) % 2 = 0 AS even
  FROM base JOIN offs USING (lang)
),
er AS (
  SELECT *, sum(CASE WHEN even THEN 1 ELSE 0 END)
              OVER (PARTITION BY lang ORDER BY doc_id) AS even_rank
  FROM b
),
t AS (
  SELECT *, (even AND (even_rank - 1) < n * {STRAT_TEST_RATIO}) AS is_test
  FROM er
),
nt AS (
  SELECT *, sum(CASE WHEN is_test THEN 0 ELSE 1 END)
              OVER (PARTITION BY lang ORDER BY doc_id) AS nt_rank
  FROM t
),
assigned AS (
  SELECT lang, doc_id, n_chars,
         CASE WHEN is_test THEN 'test'
              WHEN (nt_rank - 1) < n * {STRAT_CV_RATIO} THEN 'cv'
              ELSE 'train' END AS split
  FROM nt
)
SELECT lang, split, CAST(count(*) AS BIGINT) AS cnt,
       round(avg(n_chars), 6) AS metric,
       min(doc_id) AS lo, max(doc_id) AS hi
FROM assigned GROUP BY lang, split
"""


def data_splits(spark, sf):
    """Deterministic train/val/test assignment for a training-data
    pipeline: split = first hex nibble of sha256(salt # doc_id) — '0'-'b'
    train (12/16), 'c'-'d' val, 'e'-'f' test. Pure projection (the hash
    IS the assignment; no sampling state, no shuffle to assign), then one
    partial-aggregating rollup per (lang, split) to audit the strata.
    Rerunning at any scale or cluster size yields byte-identical splits,
    which is the property that matters when 100 TB is re-sharded."""
    d = _docs(spark, sf)
    nib = F.substring(
        F.sha2(F.concat(F.lit("split-salt-1#"), F.col("doc_id").cast("string")), 256), 1, 1
    )
    split = (
        F.when(nib <= "b", "train").when(nib <= "d", "val").otherwise("test").alias("split")
    )
    return (
        d.select("doc_id", "lang", "n_chars", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang", "split")
    )


DATA_SPLITS_SQL = """
WITH a AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN substr(sha256('split-salt-1#' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
              THEN 'train'
              WHEN substr(sha256('split-salt-1#' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
              THEN 'val' ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, count(*) AS cnt, round(avg(n_chars), 4) AS avg_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM a GROUP BY lang, split ORDER BY lang, split
"""


#: GPT-style token-stream packing: documents concatenate within a shard
#: and split into fixed SEQ_LEN-token training sequences (documents cross
#: sequence boundaries — the GPT-2/3 continuous-packing recipe). Shards
#: are a pure function of doc_id, so packing is byte-identical under any
#: re-shard or cluster size; within a shard the token stream is ordered
#: by doc_id. At 100 TB the shard count scales with the corpus and each
#: shard's cumsum is one window over its own partition.
PACK_SEQ_LEN = 512
PACK_SHARDS = 8


def sequence_packing(spark, sf):
    """Per-doc packing assignment: shard, token offset in the shard's
    stream, first/last sequence index, boundary-crossing flag — all from
    ONE cumulative-sum window per shard (partitionBy shard, orderBy
    doc_id). Everything downstream of the tokenizer count is integer
    arithmetic in whole-stage codegen."""
    d = _with_tokens(_docs(spark, sf))
    n_tok = F.size("toks").cast("long")
    shard = (F.col("doc_id") % PACK_SHARDS).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = d.select("doc_id", shard.alias("shard"), n_tok.alias("n_tok"))
    cum = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (
        base.withColumn("start_tok", cum)
        .select(
            "doc_id",
            "shard",
            "n_tok",
            "start_tok",
            F.floor(F.col("start_tok") / PACK_SEQ_LEN).cast("long").alias("seq_first"),
            F.floor(
                (F.col("start_tok") + F.col("n_tok") - 1) / PACK_SEQ_LEN
            ).cast("long").alias("seq_last"),
        )
        .withColumn(
            "crosses", (F.col("seq_last") > F.col("seq_first")).cast("int")
        )
    )


def packing_audit(spark, sf):
    """Per-shard packing rollup: documents, total tokens, sequence count
    ceil(tokens/SEQ_LEN), fill ratio of the last-padded stream, and how
    many documents cross a sequence boundary."""
    p = sequence_packing(spark, sf)
    return (
        p.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("crosses").alias("n_crossing"),
        )
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            F.ceil(F.col("n_tokens") / PACK_SEQ_LEN).cast("long").alias("n_seqs"),
            F.round(
                F.col("n_tokens")
                / (F.ceil(F.col("n_tokens") / PACK_SEQ_LEN) * PACK_SEQ_LEN),
                6,
            ).alias("fill_ratio"),
            "n_crossing",
        )
        .orderBy("shard")
    )


def splits_family(spark, sf):
    """data_splits + sequence-packing audit as one tagged union (the
    deterministic-assignment pair of a training-data pipeline: which
    split a doc lands in, and where it lands in the packed token
    stream)."""
    s = data_splits(spark, sf).select(
        F.lit("splits").alias("variant"),
        F.col("lang").alias("key"),
        F.col("split").alias("subkey"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("avg_chars").cast("double").alias("metric"),
        F.col("min_doc").cast("long").alias("lo"),
        F.col("max_doc").cast("long").alias("hi"),
    )
    p = packing_audit(spark, sf).select(
        F.lit("packing").alias("variant"),
        F.col("shard").cast("string").alias("key"),
        F.lit("").alias("subkey"),
        F.col("n_docs").cast("long").alias("cnt"),
        F.col("fill_ratio").cast("double").alias("metric"),
        F.col("n_seqs").cast("long").alias("lo"),
        F.col("n_crossing").cast("long").alias("hi"),
    )
    t = stratified_splits(spark, sf).select(
        F.lit("stratified").alias("variant"),
        F.col("lang").alias("key"),
        F.col("split").alias("subkey"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("metric").cast("double").alias("metric"),
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
    )
    return s.unionByName(p).unionByName(t).orderBy("variant", "key", "subkey")


SPLITS_FAMILY_SQL = """
WITH a AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN substr(sha256('split-salt-1#' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
              THEN 'train'
              WHEN substr(sha256('split-salt-1#' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
              THEN 'val' ELSE 'test' END AS split
  FROM documents
),
toks AS (
  SELECT doc_id, CAST(doc_id % {shards} AS INTEGER) AS shard,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
packed AS (
  SELECT shard, n_tok,
         COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM toks
),
psh AS (
  SELECT shard, count(*) AS n_docs, sum(n_tok) AS n_tokens,
         sum(CASE WHEN (start_tok + n_tok - 1) // {seq} > start_tok // {seq}
                  THEN 1 ELSE 0 END) AS n_crossing
  FROM packed GROUP BY shard
)
SELECT * FROM (
  SELECT 'splits' AS variant, lang AS key, split AS subkey,
         count(*) AS cnt, round(avg(n_chars), 4) AS metric,
         CAST(min(doc_id) AS BIGINT) AS lo, CAST(max(doc_id) AS BIGINT) AS hi
  FROM a GROUP BY lang, split
  UNION ALL
  SELECT 'packing', CAST(shard AS VARCHAR), '',
         n_docs, round(n_tokens * 1.0 / (ceil(n_tokens * 1.0 / {seq}) * {seq}), 6),
         CAST(ceil(n_tokens * 1.0 / {seq}) AS BIGINT),
         CAST(n_crossing AS BIGINT)
  FROM psh
  UNION ALL
  SELECT 'stratified', lang, split, cnt, metric, CAST(lo AS BIGINT),
         CAST(hi AS BIGINT)
  FROM ({stratified})
) ORDER BY variant, key, subkey
""".format(shards=PACK_SHARDS, seq=PACK_SEQ_LEN,
           stratified=STRATIFIED_SQL)


def domain_mixture(spark, sf):
    """Deterministic domain-mixture downsampling (the data-mixing step of
    a pre-training pipeline: per-domain target rates, e.g. upweight code
    and reference text, downsample crawl): keep a doc iff the first 16
    bits of sha256(salt # doc_id), read as a fraction via hex-string
    comparison, fall below the domain's rate. Rates here key off the
    source id's numeric suffix (suffix%4==0 -> 1.0, 1 or 2 -> 0.5,
    3 -> 0.125). Like `data_splits`, the hash IS the decision — no RNG
    state, no shuffle to sample, identical keeps under any re-shard or
    cluster size; the audit rollup is the only aggregation."""
    d = _docs(spark, sf)
    sfx = F.substring(F.col("source"), 4, 10).cast("int") % 4
    rate = (
        F.when(sfx == 0, 1.0).when(sfx.isin(1, 2), 0.5).otherwise(0.125).alias("rate")
    )
    thresh = (
        F.when(sfx == 0, "ffff").when(sfx.isin(1, 2), "8000").otherwise("2000")
    )
    nib4 = F.substring(
        F.sha2(F.concat(F.lit("mix-salt-1#"), F.col("doc_id").cast("string")), 256), 1, 4
    )
    kept = (nib4 < thresh) | (thresh == "ffff")
    return (
        d.select("doc_id", "source", rate, kept.cast("long").alias("kept"))
        .groupBy("source", "rate")
        .agg(F.count("*").alias("total"), F.sum("kept").alias("kept"))
        .orderBy("source")
    )


DOMAIN_MIXTURE_SQL = """
WITH a AS (
  SELECT doc_id, source,
         CAST(substr(source, 4) AS INTEGER) % 4 AS sfx,
         substr(sha256('mix-salt-1#' || CAST(doc_id AS VARCHAR)), 1, 4) AS nib4
  FROM documents
),
b AS (
  SELECT doc_id, source,
         CAST(CASE WHEN sfx = 0 THEN 1.0 WHEN sfx IN (1, 2) THEN 0.5 ELSE 0.125 END AS DOUBLE) AS rate,
         CASE WHEN sfx = 0 THEN 'ffff' WHEN sfx IN (1, 2) THEN '8000' ELSE '2000' END AS thresh,
         nib4
  FROM a
)
SELECT source, rate, count(*) AS total,
       CAST(sum(CASE WHEN nib4 < thresh OR thresh = 'ffff' THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM b GROUP BY source, rate ORDER BY source
"""


def doc_fingerprint(spark, sf):
    """Winnowing-style document fingerprint: min & max sha256 over word
    5-gram shingles (window = whole doc; the per-window generalization is
    the same groupBy with a window id). 16-hex prefix keeps it join-friendly."""
    k = 5
    d = shingle_rows(_docs(spark, sf), k=k)
    h = F.substring(F.sha2(F.col("s"), 256), 1, 16)
    return (
        d.groupBy("doc_id")
        .agg(F.min(h).alias("fp_min"), F.max(h).alias("fp_max"), F.count("*").alias("n_grams"))
        .orderBy("doc_id")
    )


DOC_FINGERPRINT_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s
  FROM toks, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS g(i)
)
SELECT doc_id, min(substr(sha256(s), 1, 16)) AS fp_min,
       max(substr(sha256(s), 1, 16)) AS fp_max,
       count(*) AS n_grams
FROM sh GROUP BY doc_id ORDER BY doc_id
"""


# -------------------------------------------------------------- multimodal

MM_TARGET_W = 224  # resize target (edge cap, aspect preserved)
MM_FRAME_STRIDE = 4  # sample every 4th frame

MM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("n_frames", T.LongType(), False),
        # decoded content statistic: mean pixel value (bmp) / PCM RMS (wav)
        T.StructField("feat", T.DoubleType(), False),
        # resize stage: cap the long edge at MM_TARGET_W (aspect kept)
        T.StructField("resized_w", T.IntegerType(), False),
        # frame-sample stage: every MM_FRAME_STRIDE-th frame
        T.StructField("sampled_frames", T.LongType(), False),
    ]
)


def _synth_media_batch(doc_ids) -> list[bytes]:
    """Deterministic media corpus: even doc_ids get a REAL 24-bit BMP
    (BITMAPFILEHEADER + BITMAPINFOHEADER + padded bottom-up pixel rows),
    odd ones a REAL RIFF/WAVE PCM s16 mono file. Dimensions and content
    derive from doc_id alone so the DuckDB oracle can recompute every
    decoded field arithmetically without parsing binary."""
    import struct

    out = []
    for did in doc_ids:
        did = int(did)
        if did % 2 == 0:
            w = 4 + did % 13
            h = 3 + did % 7
            seed = (did * 31) % 256
            stride = ((w * 3 + 3) // 4) * 4
            px = ((seed + np.arange(w * h * 3, dtype=np.int64) * 7) % 256).astype(np.uint8)
            rows = px.reshape(h, w * 3)
            padded = np.zeros((h, stride), dtype=np.uint8)
            padded[:, : w * 3] = rows
            data = padded[::-1].tobytes()  # bottom-up row order
            size = 54 + len(data)
            hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
            info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
            out.append(hdr + info + data)
        else:
            n = 2000 + did % 500
            sr = 8000
            samples = (((did * 17 + np.arange(n, dtype=np.int64) * 5) % 201) - 100).astype("<i2")
            data = samples.tobytes()
            hdr = (
                struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
                + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, sr, sr * 2, 2, 16)
                + struct.pack("<4sI", b"data", len(data))
            )
            out.append(hdr + data)
    return out


def _decode_bmp(payload: bytes) -> tuple:
    """Pure-numpy BMP decoder: validates the 'BM' magic, reads the pixel
    array offset, BITMAPINFOHEADER dims/bpp, un-pads the bottom-up rows,
    and computes the mean pixel value over the REAL decoded pixels."""
    import struct

    magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if hsz < 40 or bpp != 24 or comp != 0:
        raise ValueError("unsupported BMP variant")
    stride = ((w * 3 + 3) // 4) * 4
    raw = np.frombuffer(payload, dtype=np.uint8, count=stride * abs(h), offset=offset)
    rows = raw.reshape(abs(h), stride)[:, : w * 3]
    if h > 0:
        rows = rows[::-1]  # bottom-up -> top-down
    mean_px = float(rows.astype(np.float64).mean())
    return ("bmp", w, abs(h), mean_px)


def _decode_wav(payload: bytes) -> tuple:
    """Pure-numpy RIFF/WAVE decoder: walks the chunk list, parses the
    fmt chunk (PCM s16 mono), decodes the data chunk samples, and
    computes the PCM RMS."""
    import struct

    riff, _sz, wave = struct.unpack_from("<4sI4s", payload, 0)
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, sr, bits, channels, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, csz = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + csz]
        if cid == b"fmt ":
            _fmt, channels, sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)
    if sr is None or data is None or bits != 16 or channels != 1:
        raise ValueError("unsupported WAV variant")
    samples = np.frombuffer(data, dtype="<i2").astype(np.float64)
    rms = float(np.sqrt(np.mean(samples * samples))) if samples.size else 0.0
    return ("wav", sr, samples.size, rms)


def _decode_media_batch(payloads: list[bytes]) -> list[tuple]:
    """Container sniff + real decode (the r2 deterministic stand-in and
    its NotImplementedError path are gone): BMP -> (w, h, mean pixel),
    WAV -> (sample_rate, n_samples, rms). Feature/resize/frame-sample
    stages derive from the decoded values."""
    out = []
    for p in payloads:
        if p[:2] == b"BM":
            modality, width, frames, feat = _decode_bmp(p)
        else:
            modality, width, frames, feat = _decode_wav(p)
        out.append(
            (
                modality,
                len(p),
                width,
                frames,
                round(feat, 4),
                min(width, MM_TARGET_W),
                (frames + MM_FRAME_STRIDE - 1) // MM_FRAME_STRIDE,
            )
        )
    return out


def _mm_synth_map(iterator):
    for pdf in iterator:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "payload": _synth_media_batch(pdf["doc_id"]),
            }
        )


def _mm_decode_map(iterator):
    for pdf in iterator:
        decoded = _decode_media_batch([bytes(x) for x in pdf["payload"]])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "modality": [d[0] for d in decoded],
                "n_bytes": [d[1] for d in decoded],
                "width": pd.Series([d[2] for d in decoded], dtype="int32"),
                "n_frames": [d[3] for d in decoded],
                "feat": pd.Series([d[4] for d in decoded], dtype="float64"),
                "resized_w": pd.Series([d[5] for d in decoded], dtype="int32"),
                "sampled_frames": [d[6] for d in decoded],
            }
        )


def multimodal_decode(spark, sf):
    """Multimodal pipeline over an opaque binary column: synthesize a
    deterministic media corpus (REAL BMP/WAV containers keyed by doc_id)
    as one Arrow stage, then decode -> feature-extract -> resize ->
    frame-sample as a second Arrow-batched mapInPandas stage whose
    decoders genuinely parse the binary (headers, padding, chunk walks —
    see _decode_bmp/_decode_wav). Zero shuffle end-to-end; the oracle
    recomputes every decoded field arithmetically from doc_id."""
    d = _spread(_docs(spark, sf).select("doc_id"))
    payloads = d.mapInPandas(_mm_synth_map, schema="doc_id long, payload binary")
    decoded = payloads.mapInPandas(_mm_decode_map, schema=MM_SCHEMA)
    # the global sort's range-partitioner runs a SAMPLING job over its
    # child first — persist the decoded rows so the synth+decode Python
    # stages execute once, not twice (the decoded table is narrow; the
    # binary payloads are already dropped)
    return decoded.persist().orderBy("doc_id")


MULTIMODAL_SQL = f"""
WITH bmp AS (
  SELECT doc_id,
         4 + doc_id % 13 AS w,
         3 + doc_id % 7 AS h,
         (doc_id * 31) % 256 AS seed
  FROM documents WHERE doc_id % 2 = 0
),
bmp_px AS (
  SELECT b.doc_id, avg(CAST((b.seed + (g.i - 1) * 7) % 256 AS DOUBLE)) AS mean_px
  FROM bmp b, unnest(generate_series(1, b.w * b.h * 3)) AS g(i)
  GROUP BY b.doc_id
),
bmp_rows AS (
  SELECT b.doc_id, 'bmp' AS modality,
         CAST(54 + ((b.w * 3 + 3) // 4) * 4 * b.h AS BIGINT) AS n_bytes,
         CAST(b.w AS INTEGER) AS width,
         CAST(b.h AS BIGINT) AS n_frames,
         round(p.mean_px, 4) AS feat,
         CAST(least(b.w, {MM_TARGET_W}) AS INTEGER) AS resized_w,
         CAST((b.h + {MM_FRAME_STRIDE - 1}) // {MM_FRAME_STRIDE} AS BIGINT) AS sampled_frames
  FROM bmp b JOIN bmp_px p USING (doc_id)
),
wav AS (
  SELECT doc_id, 2000 + doc_id % 500 AS n FROM documents WHERE doc_id % 2 = 1
),
wav_rms AS (
  SELECT w.doc_id,
         sqrt(avg(pow(CAST((w.doc_id * 17 + (g.i - 1) * 5) % 201 - 100 AS DOUBLE), 2))) AS rms
  FROM wav w, unnest(generate_series(1, w.n)) AS g(i)
  GROUP BY w.doc_id
),
wav_rows AS (
  SELECT w.doc_id, 'wav' AS modality,
         CAST(44 + w.n * 2 AS BIGINT) AS n_bytes,
         CAST(8000 AS INTEGER) AS width,
         CAST(w.n AS BIGINT) AS n_frames,
         round(r.rms, 4) AS feat,
         CAST(least(8000, {MM_TARGET_W}) AS INTEGER) AS resized_w,
         CAST((w.n + {MM_FRAME_STRIDE - 1}) // {MM_FRAME_STRIDE} AS BIGINT) AS sampled_frames
  FROM wav w JOIN wav_rms r USING (doc_id)
)
SELECT * FROM bmp_rows UNION ALL SELECT * FROM wav_rows ORDER BY doc_id
"""


# ---------------------------------------------------------- graph / events

def graph_bfs(spark, sf):
    """BFS over the event-type transition graph (ShortestPathStream analog,
    solr/solrj/.../io/graph/ShortestPathStream.java:55): edges = consecutive
    events per user; min-hop distance from 'error' up to 3 hops via
    iterated joins — each iteration is one broadcast-able join, the frontier
    never leaves the cluster."""
    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    edges = (
        ev.withColumn("dst", F.lead("event_type").over(w))
        .filter(F.col("dst").isNotNull())
        .select(F.col("event_type").alias("src"), "dst")
        .distinct()
        .persist()  # the window+distinct derivation appeared 4x in the
        # r1 DAG (once per hop + final); persist makes each hop a join
        # against the cached (tiny) edge list
    )
    edges.count()  # materialize the cache BEFORE the hop joins fan out
    frontier = spark.createDataFrame([("error", 0)], "node string, d int")
    reached = frontier
    for _ in range(3):
        step = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
            .distinct()
        )
        reached = reached.unionByName(step)
        frontier = step
    return (
        reached.groupBy("node").agg(F.min("d").cast("int").alias("hops")).orderBy("node")
    )


GRAPH_BFS_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT event_type AS src, dst FROM (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS dst
    FROM events
  ) WHERE dst IS NOT NULL
),
r(node, d) AS (
  SELECT 'error', 0
  UNION ALL
  SELECT e.dst, r.d + 1 FROM r JOIN edges e ON e.src = r.node WHERE r.d < 3
)
SELECT node, CAST(min(d) AS INTEGER) AS hops FROM r GROUP BY node ORDER BY node
"""


# The raw event-type transition graph is complete at any realistic SF
# (every pair co-occurs), so shortest paths are trivially 1 hop. The
# allowlist below models a funnel TOPOLOGY; an observed transition
# becomes a graph edge only if the funnel permits it. Deterministic and
# SF-independent, giving two distinct 3-hop shortest paths.
_FUNNEL_EDGES = [
    ("error", "click"), ("error", "signup"),
    ("click", "view"), ("signup", "view"),
    ("view", "purchase"),
]


def shortest_path(spark, sf, src: str = "error", dst: str = "purchase", max_depth: int = 4):
    """ShortestPathStream (solr/solrj/.../io/graph/ShortestPathStream.java:55):
    BFS between two endpoints returning the ACTUAL minimal paths (not
    just hop counts — the r1 gap). Level-synchronous joins against the
    persisted edge list, cycle-pruned via array_contains; stops at the
    first depth that reaches the target and returns every distinct
    shortest path."""
    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    allow = spark.createDataFrame(_FUNNEL_EDGES, "src string, dst string")
    edges = (
        ev.withColumn("dst", F.lead("event_type").over(w))
        .filter(F.col("dst").isNotNull())
        .select(F.col("event_type").alias("src"), "dst")
        .distinct()
        .join(F.broadcast(allow), ["src", "dst"], "left_semi")
        .persist()
    )
    edges.count()  # materialize the cache before the level joins
    frontier = spark.createDataFrame([(src, [src])], "node string, path array<string>")
    for depth in range(1, max_depth + 1):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .filter(~F.array_contains(F.col("path"), F.col("dst")))
            .select(F.col("dst").alias("node"), F.concat("path", F.array("dst")).alias("path"))
            .distinct()
        )
        hits = frontier.filter(F.col("node") == dst)
        if hits.limit(1).count() > 0:  # level-synchronous: first depth wins
            return (
                hits.select(
                    F.concat_ws("->", "path").alias("path"),
                    F.lit(depth).cast("int").alias("hops"),
                )
                .distinct()
                .orderBy("path")
            )
    return spark.createDataFrame([], "path string, hops int")


def _shortest_path_sql(src: str = "error", dst: str = "purchase", max_depth: int = 4) -> str:
    allow = ", ".join(f"('{s}', '{d}')" for s, d in _FUNNEL_EDGES)
    return f"""
WITH RECURSIVE allow(src, dst) AS (VALUES {allow}),
edges AS (
  SELECT DISTINCT t.src, t.dst FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS dst
    FROM events
  ) t JOIN allow a ON a.src = t.src AND a.dst = t.dst
),
p(node, path, d) AS (
  SELECT '{src}', ['{src}'], 0
  UNION ALL
  SELECT e.dst, list_append(p.path, e.dst), p.d + 1
  FROM p JOIN edges e ON e.src = p.node
  WHERE p.d < {max_depth} AND NOT list_contains(p.path, e.dst)
),
hits AS (
  SELECT array_to_string(path, '->') AS path, d AS hops FROM p WHERE node = '{dst}'
),
m AS (SELECT min(hops) AS mh FROM hits)
SELECT DISTINCT path, CAST(hops AS INTEGER) AS hops
FROM hits, m WHERE hops = m.mh
ORDER BY path
"""


SHORTEST_PATH_SQL = _shortest_path_sql()


def sessionize(spark, sf):
    """Sessionization: a new session starts after a >30-minute gap per user
    (stateful streaming's session window, expressed as the batch prefix-sum
    idiom: lag -> gap flag -> cumulative sum = session id)."""
    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # integer microseconds: exact, and any tz interpretation offset cancels
    # in the lag difference (oracle uses epoch_us)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1).otherwise(0)
    sess = ev.withColumn("new_sess", gap).withColumn(
        "sess_id", F.sum("new_sess").over(w)
    )
    return (
        sess.groupBy("user_id")
        .agg(
            (F.max("sess_id") + 1).cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id, CAST(max(sess_id) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id
"""


def _classification_base(spark, sf):
    """Shared corpus pass for both classifiers: ONE token explode +
    ONE (doc, class, term) aggregation, the doc-length rollup derived
    from it, and the two scalar corpus stats fetched in a single
    action. Both classifiers consume exactly these inputs, so the
    combined gate entry tokenizes the corpus once instead of twice."""
    from ..analysis.tokenizer import ENGLISH_STOP_WORDS

    d = _docs(spark, sf)
    stop = sorted(ENGLISH_STOP_WORDS)
    tok = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("w"),
        )
        .filter(~F.col("w").isin(stop))
    )
    tf = tok.groupBy("doc_id", "lang", "w").agg(F.count(F.lit(1)).alias("tf")).persist()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    n_docs = d.count()
    # sumDocFreq (distinct (doc,term) pairs) and the total token count
    # in one aggregate over the persisted tf table
    row = tf.agg(
        F.count(F.lit(1)).alias("sum_doc_freq"), F.sum("tf").alias("total_len")
    ).collect()[0]
    return d, tf, dl, n_docs, int(row["sum_doc_freq"]), float(row["total_len"])


def classification_nb(spark, sf, base=None):
    """SimpleNaiveBayesClassifier (lucene/classification/src/java/org/
    apache/lucene/classification/SimpleNaiveBayesClassifier.java):
    classify every document's text against the per-class statistics the
    index already holds, reproducing the reference formula exactly:

      prior(c)       = log(docFreq(c)) - log(docsWithClass)      (:271)
      P(w|c)         = (hits(w,c) + 1) / (avgUniqueTermsPerDoc
                        * docFreq(c) + docsWithClass)            (:208-227)
      hits(w,c)      = # docs of class c containing w            (:255)
      avgUnique      = sumDocFreq / docCount                     (:236-244)
      score(d,c)     = prior(c) + SUM over d's token OCCURRENCES
                        of log(P(w|c))

    assigned class = argmax (ties -> lexicographically first class,
    the reference's term-dict iteration order). The occurrence sum is
    regrouped as SUM tf*log(hits+1) - dl*log(den) so missing (w,c)
    pairs need no outer join. Class field = `lang`. Pure Catalyst:
    one token explode, three aggregations, a 5-row class broadcast."""
    from .bm25_sql import stoplist_sql as _sl  # noqa: F401 (oracle symmetry)

    d, tf, dl, n_docs, sum_doc_freq, _ = base or _classification_base(spark, sf)
    dt = tf.select("doc_id", "lang", "w")
    avg_unique = float(sum_doc_freq) / float(n_docs)
    nc = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nc"))
    classes = (
        nc.select(
            F.col("lang").alias("cls"),
            (F.log(F.col("nc").cast("double")) - F.lit(float(np.log(n_docs)))).alias("prior"),
            F.log(
                F.lit(avg_unique) * F.col("nc").cast("double") + F.lit(float(n_docs))
            ).alias("log_den"),
        )
    )
    wc = dt.groupBy("w", F.col("lang").alias("cls")).agg(F.count(F.lit(1)).alias("wc"))
    contrib = (
        tf.join(wc, "w")
        .groupBy("doc_id", "cls")
        .agg(F.sum(F.col("tf") * F.log(F.col("wc") + F.lit(1.0))).alias("s1"))
    )
    scored = (
        dl.crossJoin(F.broadcast(classes))
        .join(contrib, ["doc_id", "cls"], "left")
        .withColumn(
            "score",
            F.col("prior")
            + F.coalesce(F.col("s1"), F.lit(0.0))
            - F.col("dl") * F.col("log_den"),
        )
    )
    rn = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("cls").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cls").alias("assigned_lang"), F.round("score", 4).alias("score"))
        .orderBy("doc_id")
    )


def _classification_sql() -> str:
    from .bm25_sql import stoplist_sql

    return f"""
WITH tok AS (
  SELECT d.doc_id, d.lang, t.tok AS w
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, w),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id),
dt AS (SELECT DISTINCT doc_id, lang, w FROM tok),
avgu AS (SELECT CAST(count(*) AS DOUBLE) / n.n AS v FROM dt CROSS JOIN n GROUP BY n.n),
nc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS nc FROM documents GROUP BY lang),
classes AS (
  SELECT nc.lang AS cls,
         ln(nc.nc) - ln(n.n) AS prior,
         ln(avgu.v * nc.nc + n.n) AS log_den
  FROM nc CROSS JOIN n CROSS JOIN avgu
),
wc AS (SELECT w, lang AS cls, CAST(count(*) AS DOUBLE) AS wc FROM dt GROUP BY w, lang),
contrib AS (
  SELECT tf.doc_id, wc.cls, sum(tf.tf * ln(wc.wc + 1.0)) AS s1
  FROM tf JOIN wc USING (w) GROUP BY tf.doc_id, wc.cls
),
scored AS (
  SELECT dl.doc_id, c.cls,
         c.prior + COALESCE(ct.s1, 0.0) - dl.dl * c.log_den AS score
  FROM dl CROSS JOIN classes c
  LEFT JOIN contrib ct ON ct.doc_id = dl.doc_id AND ct.cls = c.cls
)
SELECT doc_id, cls AS assigned_lang, round(score, 4) AS score
FROM (
  SELECT doc_id, cls, score,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY round(score, 6) DESC, cls ASC
         ) AS rn
  FROM scored
)
WHERE rn = 1 ORDER BY doc_id
"""


CLASSIFICATION_SQL = _classification_sql()


#: kNN classifier geometry (KNearestNeighborClassifier defaults are
#: maxQueryTerms=25/k=10; smaller here so the 500-doc gate corpus keeps
#: >1 candidate class per doc)
KNN_N_TERMS = 5
KNN_K = 5
#: reference kNN classifies ONE doc per assignClass call; the gate entry
#: classifies the deterministic sample doc_id % KNN_QDOC_MOD == 0 (the
#: "incoming batch") against the FULL corpus as the neighbor index —
#: per-query cost is Σ df(selected terms), the standard MLT cost model,
#: and the batch size (not the corpus) bounds the candidate join
KNN_QDOC_MOD = 25
#: cap the batch at a FIXED query count so the gate's cost is
#: corpus-size-independent (doc_id % 25 == 0 alone grows the batch
#: linearly with the corpus; on this 29-word-vocabulary corpus every MLT
#: term has df ~= N, so batch x Σdf would scale quadratically). 20 =
#: exactly the sf0.01 batch, so gate results are unchanged there.
KNN_BATCH_MAX = 20


def classification_knn(spark, sf, base=None):
    """KNearestNeighborClassifier (lucene/classification/src/java/org/
    apache/lucene/classification/KNearestNeighborClassifier.java):
    classify a doc by majority class among its top-k BM25 neighbors,
    where the neighbor query is the doc's MoreLikeThis term selection
    (:169-183 mlt.like -> searcher top-k -> classifyFromTopDocs class
    counts). Every document is classified in ONE distributed pass —
    the per-doc "run an MLT query" loop becomes a sparse term
    self-join:

      qterms  = per doc, top KNN_N_TERMS terms by tf*(ln((N+1)/(df+1))+1)
                (MoreLikeThis.createQueue score order under its default
                ClassicSimilarity idf; ties term ASC)
      cand    = qterms JOIN tf ON term, candidate != query doc
      score   = SUM BM25(term, candidate)   [same formula as the
                engine: idf*(k1+1)*tf/(tf+k1*(1-b+b*dnorm/avgdl)),
                candidate length norm through the floatToByte315 LUT]
      vote    = among top KNN_K neighbors per query doc: class with
                the highest count; ties -> higher summed neighbor
                score, then class ASC (classifyFromTopDocs counts +
                a deterministic total order)

    Scale shape: the reference classifies one doc per assignClass call;
    here the query batch is the deterministic sample doc_id %
    KNN_QDOC_MOD == 0, scored against the FULL corpus as the neighbor
    index. Cost = |batch| * SUM df(selected terms) — the MLT cost model;
    the corpus side contributes one postings-sized pass that precomputes
    each candidate's per-term BM25 partial, so the expanded candidate
    join carries one double per row. On corpora with rare terms the
    fan-out is tiny; on THIS gate corpus (29-word vocabulary, every df
    ~= N) it degenerates to batch x corpus, which is exactly why the
    batch — not the corpus — must bound the join. The two window ranks
    are partitioned by qdoc. Class field = `lang`; score column = vote
    count (double), so the gate value-checks the full vote, not a float
    sum."""
    from .bm25_sql import K1, B, norm_lut_rows

    _, tf_raw, dl_raw, n_docs, _, total_len = base or _classification_base(spark, sf)
    tf = tf_raw.select(
        "doc_id", "lang", "w", F.col("tf").cast("double").alias("tf")
    )
    dfr = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("df"))
    dl = dl_raw.select("doc_id", F.col("dl").cast("double").alias("dl"))
    avgdl = total_len / float(n_docs)
    lut = spark.createDataFrame(
        norm_lut_rows(), "dl_lo long, dl_hi long, dnorm double"
    )
    dnorm = dl.join(
        F.broadcast(lut),
        (F.col("dl") >= F.col("dl_lo")) & (F.col("dl") <= F.col("dl_hi")),
    ).select("doc_id", "dnorm")

    wq = Window.partitionBy("qdoc").orderBy(
        (
            F.col("tf")
            * (F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0)
        ).desc(),
        F.col("w").asc()
    )
    qterms = (
        tf.filter(
            (F.col("doc_id") % KNN_QDOC_MOD == 0)
            & (F.col("doc_id") < KNN_QDOC_MOD * KNN_BATCH_MAX)
        )
        .select(F.col("doc_id").alias("qdoc"), "w", "tf")
        .join(dfr, "w")
        .withColumn("tr", F.row_number().over(wq))
        .filter(F.col("tr") <= KNN_N_TERMS)
        .select("qdoc", "w")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    # per-(candidate doc, term) BM25 partial computed ONCE on the tf
    # table (≈ postings size), so the candidate join carries a single
    # precomputed double instead of re-joining df/norm per expanded row
    scored = (
        tf.select(F.col("doc_id").alias("cdoc"), F.col("lang").alias("clang"), "w", "tf")
        .join(dfr, "w")
        .join(dnorm.withColumnRenamed("doc_id", "cdoc"), "cdoc")
        .select(
            "cdoc",
            "clang",
            "w",
            (
                idf
                * F.lit(K1 + 1.0)
                * F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(K1)
                    * (F.lit(1.0 - B) + F.lit(B) * F.col("dnorm") / F.lit(avgdl))
                )
            ).alias("tscore"),
        )
    )
    cand = (
        qterms.join(scored, "w")
        .filter(F.col("cdoc") != F.col("qdoc"))
        .groupBy("qdoc", "cdoc", "clang")
        .agg(F.sum("tscore").alias("nscore"))
    )
    wn = Window.partitionBy("qdoc").orderBy(
        F.round(F.col("nscore"), 6).desc(), F.col("cdoc").asc()
    )
    nbrs = cand.withColumn("nr", F.row_number().over(wn)).filter(F.col("nr") <= KNN_K)
    votes = nbrs.groupBy("qdoc", "clang").agg(
        F.count(F.lit(1)).cast("double").alias("votes"),
        F.sum("nscore").alias("ssum"),
    )
    wv = Window.partitionBy("qdoc").orderBy(
        F.col("votes").desc(), F.round(F.col("ssum"), 6).desc(), F.col("clang").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            F.col("qdoc").alias("doc_id"),
            F.col("clang").alias("assigned_lang"),
            F.col("votes").alias("score"),
        )
        .orderBy("doc_id")
    )


def _classification_knn_sql() -> str:
    from .bm25_sql import K1, B, norm_lut_values_sql, stoplist_sql

    return f"""
WITH tok AS (
  SELECT d.doc_id, d.lang, t.tok AS w
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
tf AS (SELECT doc_id, lang, w, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, lang, w),
dfr AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT CAST(sum(dl) AS DOUBLE) / n.n AS avgdl FROM dl CROSS JOIN n GROUP BY n.n),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
dn AS (
  SELECT dl.doc_id, lut.dnorm FROM dl
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
),
qterms AS (
  SELECT qdoc, w FROM (
    SELECT tf.doc_id AS qdoc, tf.w,
           row_number() OVER (
             PARTITION BY tf.doc_id
             ORDER BY tf.tf * (ln((n.n + 1) / (dfr.df + 1)) + 1) DESC, tf.w ASC
           ) AS tr
    FROM tf JOIN dfr USING (w) CROSS JOIN n
    WHERE tf.doc_id % {KNN_QDOC_MOD} = 0
      AND tf.doc_id < {KNN_QDOC_MOD * KNN_BATCH_MAX}
  ) WHERE tr <= {KNN_N_TERMS}
),
cand AS (
  SELECT q.qdoc, c.doc_id AS cdoc, c.lang AS clang,
         sum(ln(1 + (n.n - dfr.df + 0.5) / (dfr.df + 0.5)) * ({K1} + 1)
             * c.tf / (c.tf + {K1} * ((1 - {B}) + {B} * dn.dnorm / s.avgdl))) AS nscore
  FROM qterms q
  JOIN tf c USING (w)
  JOIN dfr USING (w)
  JOIN dn ON dn.doc_id = c.doc_id
  CROSS JOIN n CROSS JOIN stats s
  WHERE c.doc_id <> q.qdoc
  GROUP BY q.qdoc, c.doc_id, c.lang
),
nbrs AS (
  SELECT * FROM (
    SELECT qdoc, cdoc, clang, nscore,
           row_number() OVER (
             PARTITION BY qdoc ORDER BY round(nscore, 6) DESC, cdoc ASC
           ) AS nr
    FROM cand
  ) WHERE nr <= {KNN_K}
),
votes AS (
  SELECT qdoc, clang, CAST(count(*) AS DOUBLE) AS votes, sum(nscore) AS ssum
  FROM nbrs GROUP BY qdoc, clang
)
SELECT doc_id, assigned_lang, score FROM (
  SELECT qdoc AS doc_id, clang AS assigned_lang, votes AS score,
         row_number() OVER (
           PARTITION BY qdoc ORDER BY votes DESC, round(ssum, 6) DESC, clang ASC
         ) AS vr
  FROM votes
) WHERE vr = 1 ORDER BY doc_id
"""


CLASSIFICATION_KNN_SQL = _classification_knn_sql()


def classification_combined(spark, sf):
    """SimpleNaiveBayes + KNearestNeighbor classifiers as one tagged
    union (lucene/classification/): same 50-row-gate consolidation as
    `facets` — both variants keep their value-checked score column
    (NB: rounded log-likelihood, kNN: vote count). The corpus is
    tokenized/aggregated ONCE (`_classification_base`) and both
    classifiers read the shared persisted tf table."""
    base = _classification_base(spark, sf)
    c1 = classification_nb(spark, sf, base=base).select(
        F.lit("nb").alias("variant"), "doc_id", "assigned_lang",
        F.col("score").cast("double").alias("score"),
    )
    c2 = classification_knn(spark, sf, base=base).select(
        F.lit("knn").alias("variant"), "doc_id", "assigned_lang", "score",
    )
    return c1.unionByName(c2).orderBy("variant", "doc_id")


CLASSIFICATION_COMBINED_SQL = f"""
SELECT * FROM (
  SELECT 'nb' AS variant, doc_id, assigned_lang, CAST(score AS DOUBLE) AS score
  FROM ({CLASSIFICATION_SQL})
  UNION ALL
  SELECT 'knn' AS variant, doc_id, assigned_lang, score
  FROM ({CLASSIFICATION_KNN_SQL})
) ORDER BY variant, doc_id
"""


# ---------------------------------------------------------------------------
# PII scrub + benchmark decontamination — the two remaining first-class
# training-data pipeline stages (redaction before training; eval-set
# contamination measurement before mixing).
# ---------------------------------------------------------------------------

# Patterns restricted to the syntax subset where Java regex (Spark) and
# RE2 (DuckDB) agree exactly: ASCII \d, ASCII \b, bounded classes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{4}\b"


def _pii_augmented(d: DataFrame):
    """Deterministically plant PII in a subset of docs (the corpus text is
    a clean synthetic vocabulary, so without planting, every count is 0 and
    the gate would not exercise the regexes). Same construction in the
    DuckDB oracle: doc_id%3==0 gets an email, %5==0 an IPv4, %7==0 a
    phone — overlapping moduli give docs with 0-3 distinct PII kinds."""
    did = F.col("doc_id")
    email = F.when(
        did % 3 == 0,
        F.concat(F.lit(" contact dev"), did.cast("string"), F.lit("@example.com")),
    ).otherwise("")
    ipv4 = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" host 10."), (did % 200).cast("string"),
            F.lit(".0."), (did % 250).cast("string"),
        ),
    ).otherwise("")
    phone = F.when(
        did % 7 == 0,
        F.concat(F.lit(" tel 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise("")
    return F.concat(F.col("text"), email, ipv4, phone)


def pii_scrub(spark, sf):
    """PII detection + redaction (the scrub stage every pre-training
    pipeline runs before tokenization): per-doc counts of emails / IPv4
    literals / phone-shaped numbers plus a fingerprint of the redacted
    text (emails -> <EMAIL>, IPs -> <IP>, phones -> <PHONE>, applied in
    that fixed order so overlapping matches resolve identically in both
    engines). Pure Catalyst projection — regexp_count/regexp_replace are
    whole-stage-codegen'd JVM expressions, zero shuffle, and the op
    composes with any scan: at 100 TB this is a map-only pass whose cost
    is bounded by the text scan itself. The redacted fingerprint (not the
    redacted text) is returned so the gate hash stays small while still
    value-checking every replacement byte."""
    d = _docs(spark, sf)
    aug = _pii_augmented(d)
    red = F.regexp_replace(aug, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PII_PHONE_RE, "<PHONE>")
    return (
        d.select(
            "doc_id",
            F.regexp_count(aug, F.lit(PII_EMAIL_RE)).cast("long").alias("n_email"),
            F.regexp_count(aug, F.lit(PII_IPV4_RE)).cast("long").alias("n_ipv4"),
            F.regexp_count(aug, F.lit(PII_PHONE_RE)).cast("long").alias("n_phone"),
            F.substring(F.sha2(red, 256), 1, 16).alias("redacted_fp"),
        )
        .orderBy("doc_id")
    )


_PII_AUG_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact dev' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
)

PII_SCRUB_SQL = f"""
WITH a AS (SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents),
r AS (
  SELECT doc_id, aug,
         regexp_replace(regexp_replace(regexp_replace(aug,
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g') AS red
  FROM a
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{PII_EMAIL_RE}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(aug, '{PII_IPV4_RE}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(aug, '{PII_PHONE_RE}')) AS BIGINT) AS n_phone,
       substr(sha256(red), 1, 16) AS redacted_fp
FROM r ORDER BY doc_id
"""


#: html_clean synth template pieces — the wrapped page exercises
#: DOCTYPE removal, block/inline tags, attributes, entities, a script
#: body holding a decoy close-quote, a comment, and <br>
_HTML_PRE = '<!DOCTYPE html><html><body onload="init()"><p class="d'
_HTML_MID = '">'
_HTML_POST1 = '</p><br><script>var s="</script><!-- c'
_HTML_POST2 = " --></body></html>"


def html_clean(spark, sf):
    """HTML boilerplate stripping — the FIRST stage of a web-scale
    pre-training pipeline. Each document is wrapped in a deterministic
    page (DOCTYPE + html/body/p with attributes + entity-escaped text +
    br + a script whose body hides a decoy quote + a comment) and the
    REAL HTMLStripCharFilter port (analysis/htmlstrip.py — pinned
    bit-for-bit vs the compiled jflex scanner, GT round 57) strips it in
    one zero-shuffle Arrow stage. Because strip(synthesize(text)) has a
    closed form ('\\n'*3 + text + '\\n'*5), the DuckDB oracle value-checks
    every byte the parser produced without running Python. At 100 TB
    this is a map-only pass bounded by the text scan."""
    from lucene_solr_spark.analysis.htmlstrip import html_strip

    d = _docs(spark, sf)
    esc = F.replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    page = F.concat(
        F.lit(_HTML_PRE), F.col("doc_id").cast("string"), F.lit(_HTML_MID),
        esc, F.lit(_HTML_POST1), F.col("doc_id").cast("string"),
        F.lit(_HTML_POST2),
    )
    src = _spread(d.select("doc_id", page.alias("page")))

    def strip_batch(it):
        for pdf in it:
            cleaned = [html_strip(p)[0] for p in pdf["page"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": [len(p) for p in pdf["page"]],
                    "clean_len": [len(c) for c in cleaned],
                    "clean_fp": [
                        hashlib.sha256(c.encode()).hexdigest()[:16]
                        for c in cleaned
                    ],
                }
            )

    out = src.mapInPandas(
        strip_batch,
        "doc_id long, raw_len long, clean_len long, clean_fp string",
    )
    return out.select(
        "doc_id", "raw_len", "clean_len",
        (F.col("raw_len") - F.col("clean_len")).alias("removed"),
        "clean_fp",
    ).orderBy("doc_id")


HTML_CLEAN_SQL = f"""
WITH pages AS (
  SELECT doc_id,
         '{_HTML_PRE}' || CAST(doc_id AS VARCHAR) || '{_HTML_MID}'
           || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
           || '{_HTML_POST1}' || CAST(doc_id AS VARCHAR) || '{_HTML_POST2}'
           AS page,
         repeat(chr(10), 3) || text || repeat(chr(10), 5) AS clean
  FROM documents
)
SELECT doc_id,
       CAST(len(page) AS BIGINT) AS raw_len,
       CAST(len(clean) AS BIGINT) AS clean_len,
       CAST(len(page) - len(clean) AS BIGINT) AS removed,
       substr(sha256(clean), 1, 16) AS clean_fp
FROM pages ORDER BY doc_id
"""


def scrub_clean(spark, sf):
    """Scrub/clean family as one tagged union: PII redaction (pii_scrub)
    + HTML boilerplate stripping (html_clean), melted onto a common
    (variant, doc_id, c1, c2, c3, fp) schema."""
    p = pii_scrub(spark, sf).select(
        F.lit("pii").alias("variant"), "doc_id",
        F.col("n_email").alias("c1"), F.col("n_ipv4").alias("c2"),
        F.col("n_phone").alias("c3"), F.col("redacted_fp").alias("fp"),
    )
    h = html_clean(spark, sf).select(
        F.lit("html").alias("variant"), "doc_id",
        F.col("raw_len").alias("c1"), F.col("clean_len").alias("c2"),
        F.col("removed").alias("c3"), F.col("clean_fp").alias("fp"),
    )
    return p.unionByName(h).orderBy("variant", "doc_id")


SCRUB_CLEAN_SQL = f"""
SELECT * FROM (
  SELECT 'pii' AS variant, doc_id, n_email AS c1, n_ipv4 AS c2,
         n_phone AS c3, redacted_fp AS fp FROM ({PII_SCRUB_SQL})
  UNION ALL
  SELECT 'html' AS variant, doc_id, raw_len AS c1, clean_len AS c2,
         removed AS c3, clean_fp AS fp FROM ({HTML_CLEAN_SQL})
) ORDER BY variant, doc_id
"""


CONTAM_EVAL_MOD = 37  # doc_id % 37 == 0 -> held-out "benchmark" doc
CONTAM_K = 5  # word n-gram width for the overlap test


def contamination_check(spark, sf):
    """Benchmark decontamination (the eval-overlap stage of a training
    pipeline: before mixing, measure how much of each training document's
    n-gram mass appears verbatim in the held-out eval set). Eval set =
    doc_id % 37 == 0 (deterministic, same in the oracle). Per train doc:
    distinct word 5-grams, how many occur in ANY eval doc, and the
    contaminated fraction.

    Scale shape: the eval set is tiny relative to the corpus (benchmarks
    are KBs against 100 TB), so its distinct-gram table is broadcast and
    the whole op is one map-side semi-join over the zero-shuffle shingle
    stream — no shuffle of the training corpus; per-doc distinct grams
    are deduped INSIDE the shingle generator (a doc's grams never span
    partitions), so the only exchange is the per-doc aggregate (map-side
    combined to <=1 row per doc)."""
    sh = shingle_rows(_docs(spark, sf), k=CONTAM_K, distinct=True)
    ev = (
        sh.filter(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
        .select("s").distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh.filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0).select("doc_id", "s")
    return (
        train.join(F.broadcast(ev), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contam_frac",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+{CONTAM_K - 1}], ' ') AS s
  FROM toks, unnest(generate_series(1, greatest(len(t) - {CONTAM_K - 1}, 0))) AS g(i)
),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} = 0),
train AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} <> 0)
SELECT t.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       round(CAST(sum(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS contam_frac
FROM train t LEFT JOIN ev e ON t.s = e.s
GROUP BY t.doc_id ORDER BY t.doc_id
"""


# `dedup_exact_family` unions exact/bag-of-words/minhash-cluster keepers
# (gate consolidation; individual fns remain public API)
OPS: dict[str, tuple] = {
    "dedup_exact_family": (dedup_exact_family, DEDUP_EXACT_FAMILY_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMB_COS_SQL),
    # exact + trained-IVF variants as one tagged union; the oracle is a
    # LAZY callable (centroids are data-dependent literals)
    "ann_family": (ann_family, ann_family_sql),
    "lang_id": (lang_id, LANG_ID_SQL),
    # pii_scrub + html_clean melted into one scrub/clean union
    "scrub_clean": (scrub_clean, SCRUB_CLEAN_SQL),
    "contamination_check": (contamination_check, CONTAMINATION_SQL),
    "quality_score": (quality_score, QUALITY_SQL),
    "quality_gopher": (quality_gopher, QUALITY_GOPHER_SQL),
    "data_splits": (splits_family, SPLITS_FAMILY_SQL),
    "significant_terms": (significant_terms, SIGNIFICANT_TERMS_SQL),
    "domain_mixture": (domain_mixture, DOMAIN_MIXTURE_SQL),
    "token_count": (token_count, TOKEN_COUNT_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "multimodal_decode": (multimodal_decode, MULTIMODAL_SQL),
    "graph_bfs": (graph_bfs, GRAPH_BFS_SQL),
    "shortest_path": (shortest_path, SHORTEST_PATH_SQL),
    "sessionize": (sessionize, SESSIONIZE_SQL),
    # nb + knn as one tagged union (both variants value-checked)
    "classification": (classification_combined, CLASSIFICATION_COMBINED_SQL),
}
