"""Bit-exact float32 Okapi BM25, shared by the Spark engine and the oracle.

Reference math (lucene/core/.../search/similarities/BM25Similarity.java):
  idf      = (float) Math.log(1 + (docCount - df + 0.5)/(df + 0.5))   :72-74
             (double math, cast to float)
  avgdl    = (float)(sumTotalTermFreq / (double) docCount)            :89-97
  cache[i] = k1 * ((1-b) + b * NORM_TABLE[i] / avgdl)                 :214-217
             (float math)
  weight   = idf * boost; weightValue = weight * (k1 + 1)             :292-297,223
  score    = weightValue * tf / (tf + cache[normByte])                :241-245
Boolean combinations sum per-clause float scores in DOUBLE and cast the sum
back to float (DisjunctionSumScorer.java:40-46, ConjunctionScorer.java:61-67,
coord == 1 for BM25).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

import numpy as np

from ..analysis.smallfloat import NORM_TABLE

K1 = np.float32(1.2)
B = np.float32(0.75)


def idf_f32(df: int, doc_count: int) -> np.float32:
    """double-precision log, single cast to float32 (BM25Similarity.java:72-74)."""
    x = 1.0 + (float(doc_count) - float(df) + 0.5) / (float(df) + 0.5)
    return np.float32(np.log(x))


def idf_sum_f32(idfs) -> np.float32:
    """Multi-TermStatistics idf sum, accumulated in FLOAT32 in clause
    order — BM25Similarity.idfExplain(collectionStats, termStats[]) in
    this reference uses `float idf = 0.0f; idf += termIdf` (the sum-into-
    a-double change is a later upstream fix), so the sum is order- and
    precision-sensitive at the last ULP. Pinned against the compiled
    reference in tests/test_lucene_ground_truth.py."""
    acc = np.float32(0.0)
    for v in idfs:
        acc = np.float32(acc + np.float32(v))
    return acc


def avgdl_f32(sum_ttf: int, doc_count: int) -> np.float32:
    if sum_ttf <= 0:
        return np.float32(1.0)
    return np.float32(float(sum_ttf) / float(doc_count))


def norm_cache(avgdl: np.float32, k1: np.float32 = K1, b: np.float32 = B) -> np.ndarray:
    """256-entry freq-independent denominator cache (BM25Similarity.java:214-217)."""
    one = np.float32(1.0)
    return (k1 * ((one - b) + b * NORM_TABLE / avgdl)).astype(np.float32)


@dataclass(frozen=True)
class TermWeight:
    """Stats-bound per-term scorer state (TermWeight + BM25Stats analog)."""

    term: str
    df: int
    weight_value: np.float32  # idf * boost * (k1 + 1)
    cache: np.ndarray  # float32[256]

    def score(self, tf: np.ndarray, norm_byte: np.ndarray) -> np.ndarray:
        """Vectorized float32 BM25 for posting arrays."""
        freq = np.asarray(tf, dtype=np.float32)
        norm = self.cache[np.asarray(norm_byte, dtype=np.uint8)]
        return (self.weight_value * freq / (freq + norm)).astype(np.float32)

    def max_score(self, max_tf: np.ndarray, max_norm_byte: np.ndarray) -> np.ndarray:
        """Block-max upper bound: score is increasing in tf and in norm_byte
        (cache is decreasing in the byte), so (block_max_tf, block_max_norm)
        bounds every posting in the block. Used for WAND pruning only —
        never changes results."""
        return self.score(max_tf, max_norm_byte)


def make_term_weight(
    term: str,
    df: int,
    doc_count: int,
    avgdl: np.float32,
    boost: float = 1.0,
    k1: np.float32 = K1,
    b: np.float32 = B,
) -> TermWeight:
    idf = idf_f32(df, doc_count)
    weight = np.float32(idf * np.float32(boost))
    weight_value = np.float32(weight * (k1 + np.float32(1.0)))
    return TermWeight(term, df, weight_value, norm_cache(avgdl, k1, b))


def combine_scores(per_term_scores: list[np.ndarray]) -> np.ndarray:
    """Sum float32 clause scores in double, cast back to float32
    (DisjunctionSumScorer.java:40-46)."""
    acc = np.zeros_like(per_term_scores[0], dtype=np.float64)
    for s in per_term_scores:
        acc += s.astype(np.float64)
    return acc.astype(np.float32)


# ------------------------------------------------- ClassicSimilarity

def classic_idf_f32(df: int, doc_count: int) -> np.float32:
    """ClassicSimilarity.idf (similarities/ClassicSimilarity.java:138):
    (float)(log((docCount+1)/(docFreq+1)) + 1.0) — double log, one cast."""
    return np.float32(np.log((float(doc_count) + 1.0) / (float(df) + 1.0)) + 1.0)


def classic_query_norm(idf_boost_pairs) -> np.float32:
    """ClassicSimilarity.queryNorm through this reference's
    createNormalizedWeight (IndexSearcher.java:733-740 — queryNorm
    predates its upstream removal): v = float32 running sum of each
    scoring clause's squared queryWeight (IDFStats.getValueForNorm:
    queryWeight*queryWeight with queryWeight = boost*idf after
    BoostQuery's normalize(1f, boost)); queryNorm =
    (float)(1.0/sqrt(v)), infinite/NaN -> 1. Pinned vs the compiled
    reference in tests/test_lucene_ground_truth.py."""
    import math

    v = np.float32(0.0)
    for idf, boost in idf_boost_pairs:
        qw = np.float32(np.float32(np.float32(1.0) * np.float32(boost)) * np.float32(idf))
        v = np.float32(v + np.float32(qw * qw))
    if float(v) <= 0.0:
        return np.float32(1.0)
    qn = np.float32(1.0 / math.sqrt(float(v)))
    if not np.isfinite(qn):
        return np.float32(1.0)
    return qn


def classic_weight_value(
    df: int, doc_count: int, boost: float = 1.0, query_norm: float = 1.0
) -> np.float32:
    """TFIDFSimilarity.IDFStats.normalize(queryNorm, boost):
    queryWeight = queryNorm * boost * idf (float32, left-to-right);
    value = queryWeight * idf."""
    idf = classic_idf_f32(df, doc_count)
    qw = np.float32(
        np.float32(np.float32(query_norm) * np.float32(boost)) * idf
    )
    return np.float32(qw * idf)


def _build_classic_decode() -> np.ndarray:
    """ClassicSimilarity.NORM_TABLE: decodeNormValue(byte) =
    byte315ToFloat — the raw decoded lengthNorm 1/sqrt(numTerms)
    (ClassicSimilarity.java:103-107), NOT BM25's reconstructed dl."""
    from ..analysis.smallfloat import byte315_to_float

    return byte315_to_float(np.arange(256, dtype=np.uint8))


CLASSIC_DECODE: np.ndarray = _build_classic_decode()


# ------------------------------------- SimilarityBase LM models

def _build_simbase_decode() -> np.ndarray:
    """SimilarityBase.NORM_TABLE (similarities/SimilarityBase.java:220-228):
    docLen(byte) = 1 / byte315ToFloat(byte)^2 for bytes 1..255 (float32 op
    order: reciprocal of the float square), byte 0 = 1/NORM_TABLE[255]."""
    from ..analysis.smallfloat import byte315_to_float

    dec = byte315_to_float(np.arange(256, dtype=np.uint8)).astype(np.float32)
    with np.errstate(divide="ignore"):  # dec[0]=0 -> inf, overwritten below
        out = (np.float32(1.0) / (dec * dec)).astype(np.float32)
    out[0] = np.float32(np.float32(1.0) / out[255])
    return out


SIMBASE_DECODE: np.ndarray = _build_simbase_decode()

LMDIR_MU = np.float32(2000.0)
LMJM_LAMBDA = np.float32(0.7)


def collection_probability_f32(ttf: int, sum_ttf: int) -> np.float32:
    """LMSimilarity.DefaultCollectionModel.computeProbability
    (similarities/LMSimilarity.java:154-156): float32
    (totalTermFreq + 1F) / (numberOfFieldTokens + 1F)."""
    return np.float32(
        (np.float32(ttf) + np.float32(1.0)) / (np.float32(sum_ttf) + np.float32(1.0))
    )


def lm_dirichlet_scores(
    freq: np.ndarray,
    norm_byte: np.ndarray,
    p: np.float32,
    boost: float = 1.0,
    mu: np.float32 = LMDIR_MU,
) -> np.ndarray:
    """LMDirichletSimilarity.score (similarities/LMDirichletSimilarity.java:66-70):
    boost * (float)(log(1 + freq/(mu*p)) + log(mu/(docLen+mu))), clamped
    below at 0, with p = collection_probability_f32(ttf, sum_ttf). Inner
    arithmetic is float32 (Java float expressions), the two logs and
    their sum are double, one cast to float, float multiply."""
    f = np.asarray(freq, dtype=np.float32)
    dl = SIMBASE_DECODE[np.asarray(norm_byte, dtype=np.uint8)]
    inner1 = np.float32(1.0) + f / np.float32(mu * p)
    inner2 = np.float32(mu) / (dl + np.float32(mu))
    s = np.log(inner1.astype(np.float64)) + np.log(inner2.astype(np.float64))
    s = (np.float32(boost) * s.astype(np.float32)).astype(np.float32)
    return np.maximum(s, np.float32(0.0))


def lm_jelinek_mercer_scores(
    freq: np.ndarray,
    norm_byte: np.ndarray,
    p: np.float32,
    boost: float = 1.0,
    lam: np.float32 = LMJM_LAMBDA,
) -> np.ndarray:
    """LMJelinekMercerSimilarity.score (LMJelinekMercerSimilarity.java:54-59):
    boost * (float)log(1 + ((1-lambda)*freq/docLen) / (lambda*p))."""
    f = np.asarray(freq, dtype=np.float32)
    dl = SIMBASE_DECODE[np.asarray(norm_byte, dtype=np.uint8)]
    inner = np.float32(1.0) + ((np.float32(1.0) - lam) * f / dl) / np.float32(lam * p)
    s = np.log(inner.astype(np.float64)).astype(np.float32)
    return (np.float32(boost) * s).astype(np.float32)


# ------------------------------------- SimilarityBase DFR / IB models

_LN2 = np.float64(np.log(2.0))


def simbase_avgdl_f32(sum_ttf: int, doc_count: int) -> np.float32:
    """SimilarityBase.fillBasicStats (SimilarityBase.java:126-129):
    avgFieldLength = (float)numberOfFieldTokens / numberOfDocuments —
    the long is cast to FLOAT first, then float32 division (BM25Similarity
    instead divides in double and casts the quotient)."""
    if sum_ttf <= 0:
        return np.float32(1.0)
    return np.float32(np.float32(sum_ttf) / np.float32(doc_count))


# --- SimilarityBase normalizations: tfn(freq, norm_byte, ttf, sum_ttf, avgdl32)

def _tfn_h1(freq, norm_byte, ttf, sum_ttf, avgdl32):
    """NormalizationH1.tfn, c=1 (NormalizationH1.java:44-46):
    tf * c * avgFieldLength / len — float32 at every step."""
    dl = SIMBASE_DECODE[np.asarray(norm_byte, dtype=np.uint8)]
    f = np.asarray(freq, dtype=np.float32)
    return (((f * np.float32(1.0)) * np.float32(avgdl32)) / dl).astype(
        np.float32)


def _tfn_h2(freq, norm_byte, ttf, sum_ttf, avgdl32):
    """NormalizationH2.tfn with the default c=1 (NormalizationH2.java:47-53):
    (float)(tf * log2(1 + c * avgFieldLength / docLen)). The inner
    1 + c*avg/len is all-float32 arithmetic; log2 and the tf product run
    in double, then one cast to float."""
    dl = SIMBASE_DECODE[np.asarray(norm_byte, dtype=np.uint8)]
    inner = np.float32(1.0) + (np.float32(1.0) * np.float32(avgdl32)) / dl
    t = np.asarray(freq, dtype=np.float32).astype(np.float64) * (
        np.log(inner.astype(np.float64)) / _LN2
    )
    return t.astype(np.float32)


def _tfn_h3(freq, norm_byte, ttf, sum_ttf, avgdl32, mu: float = 800.0):
    """NormalizationH3.tfn, mu=800 (NormalizationH3.java:51-53):
    (tf + mu*((ttf+1F)/(sumttf+1F))) / (len + mu) * mu — float32."""
    dl = SIMBASE_DECODE[np.asarray(norm_byte, dtype=np.uint8)]
    f = np.asarray(freq, dtype=np.float32)
    mu32 = np.float32(mu)
    prior = np.float32(
        mu32 * np.float32((np.float32(ttf) + np.float32(1.0))
                          / (np.float32(sum_ttf) + np.float32(1.0))))
    return (((f + prior) / (dl + mu32)) * mu32).astype(np.float32)


def _tfn_z(freq, norm_byte, ttf, sum_ttf, avgdl32, z: float = 0.30):
    """NormalizationZ.tfn, z=0.30 (NormalizationZ.java:46-48):
    (float)(tf * pow(avgFieldLength/len, z)) — the ratio is a float32
    division, pow/multiply run in double, one cast back."""
    dl = SIMBASE_DECODE[np.asarray(norm_byte, dtype=np.uint8)]
    f = np.asarray(freq, dtype=np.float32)
    ratio = (np.float32(avgdl32) / dl).astype(np.float32)
    return (f.astype(np.float64)
            * np.power(ratio.astype(np.float64),
                       np.float64(np.float32(z)))).astype(np.float32)


def _jlog(x: np.ndarray) -> np.ndarray:
    """Element-wise double log via libm (math.log) — bit-matches Java
    Math.log where numpy's SIMD log drifts by 1 ulp; the BE/P/D basic
    models subtract nearly-equal logs, so that ulp survives the float32
    cast (np.log is fine for the other cells, where it washes out)."""
    import math

    flat = np.asarray(x, dtype=np.float64).ravel()
    out = np.fromiter(
        (math.log(v) if v > 0.0
         else (float("-inf") if v == 0.0 else float("nan"))
         for v in flat),
        dtype=np.float64, count=flat.size)
    return out.reshape(np.shape(x))


# --- DFR basic models: score(tfn, df, ttf, doc_count) -> float32

def _bm_in(tfn, df, ttf, doc_count):
    """BasicModelIn.java:36: tfn * (float)log2((N+1)/(n+0.5))."""
    bmlog = np.float32(
        np.log((np.float64(doc_count) + 1.0) / (np.float64(df) + 0.5))
        / _LN2)
    return (tfn * bmlog).astype(np.float32)


def _bm_g(tfn, df, ttf, doc_count):
    """BasicModelG.java:38-43: lambda = (F+1)/(N+(F+1)) in DOUBLE, score =
    (float)(log2(lambda+1) + tfn*log2((1+lambda)/lambda)) (tfn promoted
    to double inside, ONE cast to float)."""
    big_f = np.float64(ttf) + 1.0
    lam = big_f / (np.float64(doc_count) + big_f)
    return (
        np.log(lam + 1.0) / _LN2
        + tfn.astype(np.float64) * (np.log((1.0 + lam) / lam) / _LN2)
    ).astype(np.float32)


def _bm_if(tfn, df, ttf, doc_count):
    """BasicModelIF.java:35-37: tfn * (float)log2(1 + (N+1)/(F+0.5))
    — the inner ratio is all-double ((N+1) long promoted over the
    double F+0.5), one cast, then a float32 multiply with tfn."""
    bmlog = np.float32(
        np.log(1.0 + (np.float64(doc_count) + 1.0) / (np.float64(ttf) + 0.5))
        / _LN2
    )
    return (tfn * bmlog).astype(np.float32)


def _bm_ine(tfn, df, ttf, doc_count):
    """BasicModelIne.java:35-39: ne = N*(1 - ((N-1)/N)^F) in double,
    score = tfn * (float)log2((N+1)/(ne+0.5))."""
    n64 = np.float64(doc_count)
    ne = n64 * (1.0 - np.power((n64 - 1.0) / n64, np.float64(ttf)))
    bmlog = np.float32(np.log((n64 + 1.0) / (ne + 0.5)) / _LN2)
    return (tfn * bmlog).astype(np.float32)


def _bm_be(tfn, df, ttf, doc_count):
    """BasicModelBE.score (BasicModelBE.java:37-48): F = ttf+1+tfn and
    N = F + numberOfDocuments in DOUBLE; -log2((N-1)e) + f(N+F-1,
    N+F-tfn-2) - f(F, F-tfn) with f(n,m) = (m+0.5)log2(n/m) +
    (n-m)log2(n); ONE cast to float at the end."""
    t = tfn.astype(np.float64)
    # Java binary numeric promotion: (ttf + 1) is a long, long + float
    # tfn is a FLOAT add; only the assignment widens to double
    big_f = (np.float32(ttf + 1) + tfn).astype(np.float32).astype(np.float64)
    big_n = big_f + np.float64(doc_count)

    def f(n, m):
        return (m + 0.5) * (_jlog(n / m) / _LN2) + (n - m) * (_jlog(n) / _LN2)

    val = (-(_jlog((big_n - 1.0) * np.e) / _LN2)
           + f(big_n + big_f - 1.0, big_n + big_f - t - 2.0)
           - f(big_f, big_f - t))
    return val.astype(np.float32)


def _bm_p(tfn, df, ttf, doc_count):
    """BasicModelP.score (BasicModelP.java:38-43): lambda =
    (float)(F+1)/(N+1) — float32 division; tfn/lambda is ALSO a float32
    division before the double log2; (lambda + 1/(12 tfn) - tfn) chains
    in float32 then multiplies the double LOG2_E; one final cast."""
    lam = np.float32(np.float32(ttf + 1) / np.float32(doc_count + 1))
    ratio = (tfn / lam).astype(np.float32)
    mid = ((lam + (np.float32(1.0) / (np.float32(12.0) * tfn))) - tfn
           ).astype(np.float32)
    t = tfn.astype(np.float64)
    log2_e = 1.0 / _LN2
    val = (t * (_jlog(ratio.astype(np.float64)) / _LN2)
           + mid.astype(np.float64) * log2_e
           + 0.5 * (_jlog(2.0 * np.pi * t) / _LN2))
    return val.astype(np.float32)


def _bm_d(tfn, df, ttf, doc_count):
    """BasicModelD.score (BasicModelD.java:39-51): F = ttf+1+tfn, phi =
    tfn/F, p = 1/(N+1), D = phi log2(phi/p) + (1-phi) log2((1-phi)/(1-p));
    (float)(D*F + 0.5 log2(1 + 2 pi tfn (1-phi))) — all double, one cast."""
    t = tfn.astype(np.float64)
    # same long + float -> float promotion as BE (see above)
    big_f = (np.float32(ttf + 1) + tfn).astype(np.float32).astype(np.float64)
    phi = t / big_f
    nphi = 1.0 - phi
    p = 1.0 / (np.float64(doc_count) + 1.0)
    d = (phi * (_jlog(phi / p) / _LN2)
         + nphi * (_jlog(nphi / (1.0 - p)) / _LN2))
    val = d * big_f + 0.5 * (_jlog(1.0 + 2.0 * np.pi * t * nphi) / _LN2)
    return val.astype(np.float32)


# --- DFR after effects: score(tfn, df, ttf) -> float32

def _ae_b(tfn, df, ttf):
    """AfterEffectB.score (AfterEffectB.java:32-36): F=ttf+1, n=df+1
    longs; (F+1)/(n*(tfn+1)) — the long operands promote to float32, so
    the multiply and divide are float32 ops."""
    return (np.float32(ttf + 2)
            / (np.float32(df + 1) * (tfn + np.float32(1.0)))
            ).astype(np.float32)


def _ae_l(tfn, df, ttf):
    """AfterEffectL.score (AfterEffectL.java:32-34): 1/(tfn+1), float32."""
    return (np.float32(1.0) / (tfn + np.float32(1.0))).astype(np.float32)


# --- IB lambdas: lambda(df, ttf, doc_count) -> float32, and distributions

def _lambda_df(df, ttf, doc_count):
    """LambdaDF.java:32: (docFreq+1F)/(numberOfDocuments+1F), float32."""
    return np.float32(
        (np.float32(df) + np.float32(1.0)) / (np.float32(doc_count) + np.float32(1.0))
    )


def _lambda_ttf(df, ttf, doc_count):
    """LambdaTTF.java:31: (totalTermFreq+1F)/(N+1F), float32."""
    return np.float32(
        (np.float32(ttf) + np.float32(1.0))
        / (np.float32(doc_count) + np.float32(1.0))
    )


def _dist_ll(tfn, lam):
    """DistributionLL.java:34: (float)-Math.log(lambda/(tfn+lambda)) — the
    ratio is float32 division, the log is natural and double."""
    ratio = (lam / (tfn + lam)).astype(np.float32)
    return (-np.log(ratio.astype(np.float64))).astype(np.float32)


def _dist_spl(tfn, lam):
    """DistributionSPL.java:34-39: lambda==1f -> 0.99f, then
    (float)-log((lambda^(tfn/(tfn+1)) - lambda)/(1-lambda)) — the
    exponent tfn/(tfn+1) is a float32 division, everything after
    promotes to double for pow/log, one cast back."""
    if lam == np.float32(1.0):
        lam = np.float32(0.99)
    expo = (tfn / (tfn + np.float32(1.0))).astype(np.float32)
    lam64 = np.float64(lam)
    inner = (np.power(lam64, expo.astype(np.float64)) - lam64) / (1.0 - lam64)
    return (-np.log(inner)).astype(np.float32)


def _dfr_cell(basic_model, after_effect, normalization):
    """DFRSimilarity.score (DFRSimilarity.java:84-87): boost *
    basicModel * afterEffect, each product a float32 op, over the
    normalization's tfn."""

    def scorer(freq, norm_byte, df, ttf, sum_ttf, doc_count, avgdl32,
               boost=1.0):
        tfn = normalization(freq, norm_byte, ttf, sum_ttf, avgdl32)
        bm = basic_model(tfn, df, ttf, doc_count)
        ae = after_effect(tfn, df, ttf)
        return ((np.float32(boost) * bm) * ae).astype(np.float32)

    return scorer


def _ib_cell(distribution, lambda_):
    """IBSimilarity.score: boost * distribution(tfn, lambda) over the
    NormalizationH2 tfn."""

    def scorer(freq, norm_byte, df, ttf, sum_ttf, doc_count, avgdl32,
               boost=1.0):
        tfn = _tfn_h2(freq, norm_byte, ttf, sum_ttf, avgdl32)
        dist = distribution(tfn, lambda_(df, ttf, doc_count))
        return (np.float32(boost) * dist).astype(np.float32)

    return scorer


#: SimilarityBase DFR/IB grid cells: name -> scorer. Every cell takes
#: (freq, norm_byte, df, ttf, sum_ttf, doc_count, avgdl32, boost).
#: DFR names spell BasicModel, AfterEffect, Normalization: inl2 =
#: In x L x H2 (the classic InL2), beb2 = BE x B x H2, inlz = In x L x Z.
DFR_IB_SCORERS = {
    "dfr_inl2": _dfr_cell(_bm_in, _ae_l, _tfn_h2),
    "ib_ll": _ib_cell(_dist_ll, _lambda_df),
    "dfr_gb2": _dfr_cell(_bm_g, _ae_b, _tfn_h2),
    "dfr_ifb2": _dfr_cell(_bm_if, _ae_b, _tfn_h2),
    "dfr_ineb2": _dfr_cell(_bm_ine, _ae_b, _tfn_h2),
    "ib_spl_ttf": _ib_cell(_dist_spl, _lambda_ttf),
    "dfr_inl1": _dfr_cell(_bm_in, _ae_l, _tfn_h1),
    "dfr_inl3": _dfr_cell(_bm_in, _ae_l, _tfn_h3),
    "dfr_inlz": _dfr_cell(_bm_in, _ae_l, _tfn_z),
    "dfr_beb2": _dfr_cell(_bm_be, _ae_b, _tfn_h2),
    "dfr_bel2": _dfr_cell(_bm_be, _ae_l, _tfn_h2),
    "dfr_pb2": _dfr_cell(_bm_p, _ae_b, _tfn_h2),
    "dfr_pl2": _dfr_cell(_bm_p, _ae_l, _tfn_h2),
    "dfr_db2": _dfr_cell(_bm_d, _ae_b, _tfn_h2),
    "dfr_dl2": _dfr_cell(_bm_d, _ae_l, _tfn_h2),
}


#: SweetSpotSimilarity.setBaselineTfFactors demo parameters.
SWEETSPOT_TF_BASE = np.float32(1.5)
SWEETSPOT_TF_MIN = np.float32(2.0)


def sweetspot_baseline_tf(
    freq: np.ndarray,
    base: np.float32 = SWEETSPOT_TF_BASE,
    tf_min: np.float32 = SWEETSPOT_TF_MIN,
) -> np.ndarray:
    """SweetSpotSimilarity.baselineTf (SweetSpotSimilarity.java:176-184):
    0 at freq==0; base when freq <= min; else
    (float)sqrt(freq + base*base - min) — the inner sum is float32
    arithmetic, the sqrt double, one cast back."""
    f = np.asarray(freq, dtype=np.float32)
    inner = ((f + np.float32(base) * np.float32(base)) - np.float32(tf_min)).astype(
        np.float32
    )
    with np.errstate(invalid="ignore"):
        out = np.sqrt(inner.astype(np.float64)).astype(np.float32)
    out = np.where(f <= np.float32(tf_min), np.float32(base), out)
    return np.where(f == np.float32(0.0), np.float32(0.0), out).astype(np.float32)


def dfi_scores(
    freq: np.ndarray,
    norm_byte: np.ndarray,
    ttf: int,
    sum_ttf: int,
    boost: float = 1.0,
    measure: str = "chi_squared",
) -> np.ndarray:
    """DFISimilarity.score (similarities/DFISimilarity.java:54-64):
    expected = (totalTermFreq+1) * docLen / (numberOfFieldTokens+1) —
    Java long+1 converts to FLOAT, multiply then divide, each op float32;
    score 0 when freq <= expected (hit kept, score zero), else
    boost * (float)log2(measure(freq, expected) + 1) where the measure is
    Independence{ChiSquared,Standardized,Saturated}.java:
    chi² (f-e)²/e · standardized (f-e)/(float)sqrt(e) · saturated (f-e)/e,
    every step float32, sqrt and log2 in double."""
    f = np.asarray(freq, dtype=np.float32)
    dl = SIMBASE_DECODE[np.asarray(norm_byte, dtype=np.uint8)]
    a = np.float32(ttf + 1)
    b = np.float32(sum_ttf + 1)
    expected = ((a * dl) / b).astype(np.float32)
    diff = (f - expected).astype(np.float32)
    if measure == "chi_squared":
        m = ((diff * diff) / expected).astype(np.float32)
    elif measure == "standardized":
        root = np.sqrt(expected.astype(np.float64)).astype(np.float32)
        m = (diff / root).astype(np.float32)
    elif measure == "saturated":
        m = (diff / expected).astype(np.float32)
    else:
        raise ValueError(f"unknown DFI independence measure: {measure}")
    with np.errstate(invalid="ignore", divide="ignore"):
        # lanes with freq <= expected can have measure+1 <= 0; they are
        # masked to 0 below (the reference returns before the log)
        s = (
            np.log((m + np.float32(1.0)).astype(np.float64)) / _LN2
        ).astype(np.float32)
    s = (np.float32(boost) * s).astype(np.float32)
    return np.where(f <= expected, np.float32(0.0), s).astype(np.float32)


# ------------------------------------------------- the similarity table

#: one term's SimScorer: score(freq float32[], norm_byte uint8[]) -> float32[]
Scorer = Callable[[np.ndarray, np.ndarray], np.ndarray]


@dataclass(frozen=True)
class Similarity:
    """One IndexSearcher.setSimilarity plug point. `prepare` is the
    query's Weight (Similarity.computeWeight), run once per query:
    prepare(weights, doc_count, sum_ttf, avgdl, boosts, clauses) ->
    {term: Scorer}, where weights maps term -> {df, ttf, weight_value},
    boosts maps term -> BoostQuery boost, and clauses are the scoring
    term clauses in query order, duplicates kept."""

    norm: str  # the index-time norm encoder it reads: 'bm25' or 'sweetspot'
    coord: bool  # BooleanWeight coord(overlap, maxOverlap): the classic family
    prepare: Callable[..., dict[str, Scorer]]


def _prepare_bm25(weights, doc_count, sum_ttf, avgdl, boosts, clauses):
    """BM25Stats.normalize: weight = (float)(idf * boost), then
    BM25DocScorer: weightValue = (float)(weight * (k1+1)) -- boost
    multiplies BEFORE (k1+1), all in float32 (pinned vs the compiled
    reference in tests/test_lucene_ground_truth.py). The boosted
    weightValue is written back: the WAND block bound reads it."""
    for t, b in boosts.items():
        if t in weights:
            w = np.float32(idf_f32(weights[t]["df"], doc_count) * np.float32(b))
            weights[t]["weight_value"] = float(np.float32(w * (K1 + np.float32(1.0))))
    cache = norm_cache(np.float32(avgdl))
    return {
        t: TermWeight(t, w["df"], np.float32(w["weight_value"]), cache).score
        for t, w in weights.items()
    }


def classic_scores(freq, norm_byte, weight_value, tf=np.sqrt):
    """TFIDFSimilarity.TFIDFSimScorer.score: tf(freq) * weightValue *
    decodedLengthNorm. ClassicSimilarity's tf is sqrt(freq);
    SweetSpotSimilarity's is baselineTf."""
    return (tf(freq) * weight_value * CLASSIC_DECODE[norm_byte]).astype(np.float32)


def _prepare_classic(tf):
    def prepare(weights, doc_count, sum_ttf, avgdl, boosts, clauses):
        """weightValue = queryNorm * boost * idf^2. This reference still
        applies queryNorm (createNormalizedWeight predates its upstream
        removal): a per-query constant 1/sqrt(sum of squared clause
        weights) -- rank-neutral, score-visible."""
        qn = float(classic_query_norm(
            (classic_idf_f32(weights[t]["df"], doc_count), boosts.get(t, 1.0))
            for t in clauses if t in weights
        ))
        return {
            t: partial(classic_scores, tf=tf, weight_value=classic_weight_value(
                w["df"], doc_count, boosts.get(t, 1.0), query_norm=qn))
            for t, w in weights.items()
        }

    return prepare


def _multi_scores(bm25_score, classic_wv, freq, norm_byte):
    """MultiSimScorer.score: float sum accumulated in sims order."""
    return (bm25_score(freq, norm_byte)
            + classic_scores(freq, norm_byte, classic_wv)).astype(np.float32)


def _prepare_multi(weights, doc_count, sum_ttf, avgdl, boosts, clauses):
    """MultiSimilarity (similarities/MultiSimilarity.java -- CombSUM, Shaw
    & Fox 1993) over [BM25, Classic]: norms come from sims[0] (BM25's
    byte), queryNorm = 1 (MultiSimilarity inherits Similarity.queryNorm)
    and coord = 1 (only ClassicSimilarity AS THE SEARCHER similarity
    enables it)."""
    bm25 = _prepare_bm25(weights, doc_count, sum_ttf, avgdl, boosts, clauses)
    return {
        t: partial(_multi_scores, bm25[t], classic_weight_value(
            w["df"], doc_count, boosts.get(t, 1.0), query_norm=1.0))
        for t, w in weights.items()
    }


def _prepare_lm(fn):
    def prepare(weights, doc_count, sum_ttf, avgdl, boosts, clauses):
        """Per-term collection probability p(w|C) from the global stats."""
        return {
            t: partial(fn, p=collection_probability_f32(w["ttf"], sum_ttf),
                       boost=boosts.get(t, 1.0))
            for t, w in weights.items()
        }

    return prepare


def _prepare_dfi(measure):
    def prepare(weights, doc_count, sum_ttf, avgdl, boosts, clauses):
        return {
            t: partial(dfi_scores, ttf=w["ttf"], sum_ttf=sum_ttf,
                       boost=boosts.get(t, 1.0), measure=measure)
            for t, w in weights.items()
        }

    return prepare


def _prepare_dfr_ib(fn):
    def prepare(weights, doc_count, sum_ttf, avgdl, boosts, clauses):
        """SimilarityBase's own float32 avgFieldLength, then the cell."""
        av = simbase_avgdl_f32(sum_ttf, doc_count)
        return {
            t: partial(fn, df=w["df"], ttf=w["ttf"], sum_ttf=sum_ttf,
                       doc_count=doc_count, avgdl32=av, boost=boosts.get(t, 1.0))
            for t, w in weights.items()
        }

    return prepare


#: the names BooleanSpec.similarity accepts, 'bm25' (the default) first
SIMILARITIES: dict[str, Similarity] = {
    "bm25": Similarity("bm25", False, _prepare_bm25),
    # SweetSpotSimilarity extends ClassicSimilarity: same weights, decode
    # table and coord; only the tf function and the index-time norm differ
    "classic": Similarity("bm25", True, _prepare_classic(np.sqrt)),
    "sweetspot": Similarity("sweetspot", True, _prepare_classic(sweetspot_baseline_tf)),
    "lm_dirichlet": Similarity("bm25", False, _prepare_lm(lm_dirichlet_scores)),
    "lm_jelinek_mercer": Similarity("bm25", False, _prepare_lm(lm_jelinek_mercer_scores)),
    "multi_bm25_classic": Similarity("bm25", False, _prepare_multi),
    **{
        f"dfi_{m}": Similarity("bm25", False, _prepare_dfi(m))
        for m in ("chi_squared", "standardized", "saturated")
    },
    **{
        name: Similarity("bm25", False, _prepare_dfr_ib(fn))
        for name, fn in DFR_IB_SCORERS.items()
    },
}
