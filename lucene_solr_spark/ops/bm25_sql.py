"""ANSI-SQL rendering of the Lucene BM25 pipeline over the `documents` table.

Two uses:
  * oracle_sql() strings for the driver's DuckDB comparison, and
  * an equivalent Catalyst-only (spark.sql) execution path — evidence that
    the reference's relational layer (SQLHandler, SURVEY.md §2.8) is a strict
    subset of Spark SQL.

The norm byte quantization (SmallFloat.floatToByte315 of 1/sqrt(dl)) is not
expressible in portable SQL, but it is a monotone step function of the
integer field length, so we embed it as a <=256-row (dl_lo, dl_hi, dnorm)
lookup generated from the bit-exact Python port — identical quantization on
both sides; scores then differ only by f32-vs-f64 arithmetic on identical
rational inputs, which the rank-only output absorbs.

The `documents` testdata is pure lowercase space-separated words, so the
analysis chain reduces exactly to split-on-space + stop filter (verified by
tests against the real tokenizer).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from ..analysis.smallfloat import NORM_TABLE, encode_norm
from ..analysis.tokenizer import ENGLISH_STOP_WORDS, analyze

K1 = 1.2
B = 0.75
MAX_DL = 1 << 20


def _lut_rows(values_of_byte: np.ndarray, encoder=encode_norm) -> list[tuple[int, int, float]]:
    """(dl_lo, dl_hi, value) ranges covering dl in [0, MAX_DL] for any
    per-norm-byte value table under any norm-byte encoder (cuts at every
    byte change, so non-monotone encoders like the sweetspot plateau work
    too)."""
    dl = np.arange(0, MAX_DL + 1, dtype=np.int64)
    bytes_ = encoder(dl)
    vals = values_of_byte[bytes_].astype(np.float64)
    cuts = np.flatnonzero(np.diff(bytes_.astype(np.int32))) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts - 1, [MAX_DL]))
    return [(int(s), int(e), float(vals[s])) for s, e in zip(starts, ends)]


@lru_cache(maxsize=1)
def norm_lut_rows() -> list[tuple[int, int, float]]:
    """BM25 decode: (dl_lo, dl_hi, reconstructed dl) ranges."""
    return _lut_rows(NORM_TABLE)


def norm_lut_values_sql() -> str:
    rows = ",".join(f"({lo},{hi},{v!r})" for lo, hi, v in norm_lut_rows())
    return f"(VALUES {rows})"


@lru_cache(maxsize=1)
def classic_norm_lut_rows() -> list[tuple[int, int, float]]:
    """ClassicSimilarity decode: (dl_lo, dl_hi, byte315ToFloat(byte)) —
    the raw decoded lengthNorm, NOT BM25's reconstructed dl."""
    from ..analysis.smallfloat import byte315_to_float

    return _lut_rows(byte315_to_float(np.arange(256, dtype=np.uint8)))


def simbase_norm_lut_rows() -> list[tuple[int, int, float]]:
    """SimilarityBase decode (SimilarityBase.java:220-228): docLen =
    1/byte315ToFloat(byte)^2 — the reconstructed document length used by
    the LM similarities."""
    from ..search.bm25 import SIMBASE_DECODE

    return _lut_rows(SIMBASE_DECODE)


def simbase_norm_lut_values_sql() -> str:
    rows = ",".join(f"({lo},{hi},{v!r})" for lo, hi, v in simbase_norm_lut_rows())
    return f"(VALUES {rows})"


def classic_norm_lut_values_sql() -> str:
    rows = ",".join(f"({lo},{hi},{v!r})" for lo, hi, v in classic_norm_lut_rows())
    return f"(VALUES {rows})"


@lru_cache(maxsize=1)
def sweetspot_norm_lut_rows() -> list[tuple[int, int, float]]:
    """SweetSpot decode: norm byte written by the plateau
    computeLengthNorm encoder, decoded with byte315ToFloat (SweetSpot
    extends ClassicSimilarity). NOT monotone in dl: the plateau [3,10]
    holds norm 1.0 with falloff on both sides."""
    from ..analysis.smallfloat import byte315_to_float, sweetspot_encode_norm

    return _lut_rows(
        byte315_to_float(np.arange(256, dtype=np.uint8)),
        encoder=sweetspot_encode_norm,
    )


def sweetspot_norm_lut_values_sql() -> str:
    rows = ",".join(f"({lo},{hi},{v!r})" for lo, hi, v in sweetspot_norm_lut_rows())
    return f"(VALUES {rows})"


def stoplist_sql() -> str:
    return "(" + ",".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS)) + ")"


def bm25_boolean_sql(
    should: str = "",
    must: str = "",
    must_not: str = "",
    min_should_match: int = 0,
    k: int = 10,
) -> str:
    """BooleanQuery MUST/SHOULD/MUST_NOT/minimumNumberShouldMatch as one
    SQL string over `documents(doc_id, text)` -> (doc_id, rank).

    Semantics mirror BooleanWeight.java:375-533: all MUST terms required;
    if no MUST clauses, >= max(1, msm) distinct SHOULD terms required, else
    >= msm; MUST_NOT excludes without scoring; score = sum over matching
    MUST+SHOULD clauses."""
    should_t = analyze(should)
    must_t = analyze(must)
    not_t = sorted(set(analyze(must_not)))
    scoring = should_t + must_t
    if not scoring:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    uniq = sorted(set(scoring))
    clause = {t: scoring.count(t) for t in uniq}
    terms_in = ",".join(f"'{t}'" for t in uniq)
    clause_vals = ",".join(f"('{t}',{c})" for t, c in clause.items())
    must_u = sorted(set(must_t))
    should_u = sorted(set(should_t))
    msm_req = max(min_should_match, 0 if must_t else 1)
    having = []
    if must_u:
        must_in = ",".join(f"'{t}'" for t in must_u)
        having.append(
            f"count(DISTINCT CASE WHEN tf.term IN ({must_in}) THEN tf.term END) = {len(must_u)}"
        )
    if msm_req > 0 and should_u:
        should_in = ",".join(f"'{t}'" for t in should_u)
        having.append(
            f"count(DISTINCT CASE WHEN tf.term IN ({should_in}) THEN tf.term END) >= {msm_req}"
        )
    having_sql = ("HAVING " + " AND ".join(having)) if having else ""
    excl = ""
    if not_t:
        not_in = ",".join(f"'{t}'" for t in not_t)
        excl = f"AND tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term IN ({not_in}))"
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
clauses(term, clause_n) AS (VALUES {clause_vals}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1) * c.clause_n
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN clauses c USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  WHERE 1=1 {excl}
  GROUP BY tf.doc_id
  {having_sql}
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_simple_negation_sql(pos: str, neg: str, k: int = 10) -> str:
    """SimpleQueryParser `pos -neg` (simple/SimpleQueryParser.java:435-440):
    the negation wraps as BQ(MUST_NOT neg, SHOULD MatchAllDocsQuery), an
    OPTIONAL clause beside the scored term — so a doc matches when it
    holds `pos` OR lacks `neg`, and every doc lacking `neg` earns a
    constant +1.0 (ConstantScoreWeight under BM25's queryNorm == 1).
    Rank-only contract (the float32 sum structure is pinned in the GT
    tier); term-free docs tie at 1.0 and rank doc ASC."""
    pos_t = analyze(pos)
    neg_t = analyze(neg)
    if not (len(pos_t) == 1 and len(neg_t) == 1):
        raise ValueError("pos and neg must each analyze to one term")
    p, n_ = pos_t[0], neg_t[0]
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
tf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term = '{p}' GROUP BY doc_id
),
dfs AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf),
neg AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{n_}'),
scored AS (
  SELECT d.doc_id,
         COALESCE(
           ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * ({K1} + 1)
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)),
           0.0
         )
         + CASE WHEN neg.doc_id IS NULL THEN 1.0 ELSE 0.0 END AS score,
         (tf.doc_id IS NOT NULL OR neg.doc_id IS NULL) AS matched
  FROM dl d
  LEFT JOIN tf ON d.doc_id = tf.doc_id
  LEFT JOIN neg ON d.doc_id = neg.doc_id
  JOIN norm_lut lut ON d.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  CROSS JOIN dfs f
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored WHERE matched
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def numeric_range_root_sql(lo, hi, k: int = 10, lo_inc: bool = True,
                           hi_inc: bool = True) -> str:
    """Root-level PointRangeQuery / LegacyNumericRangeQuery over the
    engine's stored per-doc token-count field (field_len — the norm
    field length; the oracle's dl CTE reproduces it exactly: non-empty
    non-stop tokens). ConstantScoreWeight: every hit scores 1.0, so the
    top-k order is pure doc order. Open bound = None."""
    conds = []
    if lo is not None:
        conds.append(f"dl {'>=' if lo_inc else '>'} {lo}")
    if hi is not None:
        conds.append(f"dl {'<=' if hi_inc else '<'} {hi}")
    where = " AND ".join(conds) or "TRUE"
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id ASC) AS INTEGER) AS rank
FROM dl WHERE {where}
ORDER BY doc_id ASC
LIMIT {k}
"""


def bm25_numeric_filter_sql(lo, hi, should: str, k: int = 10) -> str:
    """BooleanQuery with a FILTER PointRangeQuery clause over field_len
    plus SHOULD term clauses: the numeric filter is required for
    matching and contributes nothing to the score; a doc inside the
    range that matches NO should clause still matches, at score 0
    (BooleanWeight: FILTER+optional SHOULD with msm 0), so the tail
    pads with filter-only docs in doc order — exactly the engine's
    split-and-mask plan in engine._exec_xml_tree."""
    should_t = analyze(should)
    if not (should_t and lo is not None and hi is not None):
        raise ValueError("needs a should term and both range bounds")
    uniq = sorted(set(should_t))
    clause_vals = ",".join(f"('{t}',{should_t.count(t)})" for t in uniq)
    terms_in = ",".join(f"'{t}'" for t in uniq)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
clauses(term, clause_n) AS (VALUES {clause_vals}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
flt AS (SELECT doc_id FROM dl WHERE dl >= {lo} AND dl <= {hi}),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1) * c.clause_n
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN clauses c USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  WHERE tf.doc_id IN (SELECT doc_id FROM flt)
  GROUP BY tf.doc_id
),
final AS (
  SELECT doc_id, score FROM scored
  UNION ALL
  SELECT f.doc_id, 0.0 AS score FROM flt f
  WHERE f.doc_id NOT IN (SELECT doc_id FROM scored)
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM final
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_filter_clause_sql(filter_term: str, should: str, k: int = 10) -> str:
    """BooleanQuery with a FILTER clause (BooleanClause.Occur.FILTER —
    xml/builders/BooleanQueryBuilder.java getOccursValue 'filter'):
    required for matching, contributes NOTHING to the score. Docs must
    hold `filter_term` and >= 1 should term; score = sum over matching
    SHOULD clauses only. Rank-only contract."""
    ft = analyze(filter_term)
    should_t = analyze(should)
    if not (len(ft) == 1 and should_t):
        raise ValueError("filter_term must analyze to one term, should to at least one")
    f = ft[0]
    uniq = sorted(set(should_t))
    clause_vals = ",".join(f"('{t}',{should_t.count(t)})" for t in uniq)
    terms_in = ",".join(f"'{t}'" for t in uniq)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
clauses(term, clause_n) AS (VALUES {clause_vals}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
flt AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{f}'),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1) * c.clause_n
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN clauses c USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  WHERE tf.doc_id IN (SELECT doc_id FROM flt)
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_dismax_sql(query: str, k: int = 10, tiebreak: float = 0.0) -> str:
    """DisjunctionMaxQuery: score = max clause + tiebreak * (sum - max)
    (DisjunctionMaxScorer). Rank-only output."""
    terms = sorted(set(analyze(query)))
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    terms_in = ",".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
per_clause AS (
  SELECT tf.doc_id,
         ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1)
         * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS s
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
),
scored AS (
  SELECT doc_id, max(s) + {tiebreak} * (sum(s) - max(s)) AS score
  FROM per_clause GROUP BY doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_phrase_sql(query: str, k: int = 10, slop: int = 0) -> str:
    """PhraseQuery (position gaps from stop removal preserved).

    slop=0 (ExactPhraseScorer): pf = aligned-position count via chained
    positional self-joins. slop>0 (SloppyPhraseScorer, two distinct
    clauses): Lucene-exact weighted pf via the LEAPFROG-CHAIN closed
    form of SloppyPhraseScorer.phraseFreq (search/sloppy.py
    sloppy_freq_chain2, property-tested float32-identical to the state
    machine): uppers u0 = greatest(first adjusted keys) (tie: larger
    offset), u_{k+1} = min(other clause > u_k) as a recursive CTE; each
    upper emits 1/(u - max(other <= u) + 1) when within slop.
    weight = (sum of term idfs) * (k1+1) (PhraseWeight);
    score = weight * pf / (pf + k1*((1-b)+b*dl/avgdl))."""
    from ..search.engine import phrase_pairs

    phrase = phrase_pairs(query)
    if not phrase:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    pf_sql = _phrase_pf_cte(phrase, slop)
    with_kw = "WITH RECURSIVE" if slop > 0 else "WITH"
    return _PHRASE_SQL_TAIL(with_kw, [t for t, _ in phrase], pf_sql, k)


def _phrase_pf_cte(phrase, slop: int, suffix: str = "") -> str:
    """pf{suffix}(doc_id, pf) CTE text for a PhraseQuery over the
    `tokpos` scaffold (ExactPhraseScorer chained self-joins for slop=0;
    the two-clause leapfrog-chain closed form for slop>0 — see
    bm25_phrase_sql). Callers must open with WITH RECURSIVE if slop>0;
    `suffix` namespaces the CTEs so several phrase clauses coexist in
    one query (bm25_compound_sql with multiple phrases)."""
    t0, off0 = phrase[0]
    x = suffix
    if slop == 0:
        # chained positional self-joins: p{i}.pos = p0.pos + off_i
        joins = []
        for i, (t, off) in enumerate(phrase[1:], start=1):
            joins.append(
                f"JOIN tokpos p{i} ON p{i}.doc_id = p0.doc_id "
                f"AND p{i}.pos = p0.pos + {off - off0} AND p{i}.term = '{t}'"
            )
        join_sql = "\n  ".join(joins)
        pf_sql = f"""
pf{x} AS (
  SELECT p0.doc_id, CAST(count(DISTINCT p0.pos) AS DOUBLE) AS pf
  FROM tokpos p0
  {join_sql}
  WHERE p0.term = '{t0}'
  GROUP BY p0.doc_id
)"""
    else:
        if len(phrase) != 2 or phrase[0][0] == phrase[1][0]:
            raise ValueError(
                "the SQL sloppy-phrase oracle covers exactly two distinct "
                "clauses (the engine's general path is gated by the "
                "control oracle instead)"
            )
        t1, off1 = phrase[1]
        u0_tie_side = 0 if off0 > off1 else 1
        pf_sql = f"""
occ{x} AS (
  SELECT doc_id, pos - {off0} AS k, 0 AS s FROM tokpos WHERE term = '{t0}'
  UNION ALL
  SELECT doc_id, pos - {off1} AS k, 1 AS s FROM tokpos WHERE term = '{t1}'
),
nxt{x} AS (
  SELECT a.doc_id, a.k, a.s, min(b.k) AS nk
  FROM occ{x} a JOIN occ{x} b ON b.doc_id = a.doc_id AND b.s <> a.s AND b.k > a.k
  GROUP BY 1, 2, 3
),
prv{x} AS (
  SELECT a.doc_id, a.k, a.s, max(b.k) AS pk
  FROM occ{x} a JOIN occ{x} b ON b.doc_id = a.doc_id AND b.s <> a.s AND b.k <= a.k
  GROUP BY 1, 2, 3
),
firsts{x} AS (
  SELECT * FROM (
    SELECT doc_id,
           min(CASE WHEN s = 0 THEN k END) AS a0,
           min(CASE WHEN s = 1 THEN k END) AS b0
    FROM occ{x} GROUP BY doc_id)
  WHERE a0 IS NOT NULL AND b0 IS NOT NULL
),
chain{x} AS (
  SELECT doc_id, greatest(a0, b0) AS u,
         CASE WHEN a0 > b0 THEN 0 WHEN b0 > a0 THEN 1 ELSE {u0_tie_side} END AS s
  FROM firsts{x}
  UNION ALL
  SELECT n.doc_id, n.nk AS u, 1 - c.s AS s
  FROM chain{x} c JOIN nxt{x} n ON n.doc_id = c.doc_id AND n.s = c.s AND n.k = c.u
),
pf{x} AS (
  SELECT c.doc_id,
         CAST(sum(CASE WHEN c.u - p.pk <= {slop}
                       THEN 1.0 / (c.u - p.pk + 1) END) AS DOUBLE) AS pf
  FROM chain{x} c JOIN prv{x} p ON p.doc_id = c.doc_id AND p.s = c.s AND p.k = c.u
  GROUP BY c.doc_id
)"""
    return pf_sql


def _PHRASE_SQL_TAIL(with_kw: str, qterm_occurrences: list[str], pf_sql: str, k: int) -> str:
    """qterm_occurrences: the phrase's clause terms WITH duplicates —
    PhraseWeight sums one idf per clause occurrence (one TermStatistics
    per terms[i]), so "cc cc" weighs idf(cc) twice; pinned against the
    compiled reference in tests/test_lucene_ground_truth.py."""
    counts: dict[str, int] = {}
    for t in qterm_occurrences:
        counts[t] = counts.get(t, 0) + 1
    qvals = ",".join(f"('{t}',{float(m)!r})" for t, m in sorted(counts.items()))
    return f"""
{with_kw} toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, t[pos] AS term, pos
  FROM toks, unnest(generate_series(1, len(t))) AS g(pos)
  WHERE t[pos] NOT IN {stoplist_sql()}
),
tok AS (SELECT doc_id, term FROM tokpos),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
qterms(term, mult) AS (SELECT * FROM (VALUES {qvals}) v(a, b)),
dfs AS (
  SELECT q.term, q.mult, CAST(COALESCE(c.df, 0) AS DOUBLE) AS df
  FROM qterms q LEFT JOIN (
    SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
  ) c USING (term)
),
idfsum AS (
  SELECT sum(mult * ln(1 + (s.n - df + 0.5) / (df + 0.5))) AS w
  FROM dfs CROSS JOIN stats s
),
{pf_sql.strip()},
scored AS (
  SELECT pf.doc_id,
         i.w * ({K1} + 1) * pf.pf
         / (pf.pf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS score
  FROM pf
  JOIN dl ON pf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  CROSS JOIN idfsum i
  WHERE pf.pf > 0
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


_TOKPOS_CTES = """toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, t[pos] AS term, pos
  FROM toks, unnest(generate_series(1, len(t))) AS g(pos)
  WHERE t[pos] NOT IN {stoplist}
),
tok AS (SELECT doc_id, term FROM tokpos),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut})"""


def _positional_score_sql(
    pf_cte: str, idfw_cte: str, k: int, recursive: bool = False
) -> str:
    """Assemble a positional BM25 query: a `pf(doc_id, pf)` CTE + an
    `idfw(w)` CTE (the summed-idf weight) -> ranked (doc_id, rank)."""
    scaffold = _TOKPOS_CTES.format(stoplist=stoplist_sql(), norm_lut=norm_lut_values_sql())
    with_kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
{with_kw} {scaffold},
{idfw_cte},
{pf_cte}
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM (
  SELECT pf.doc_id,
         i.w * ({K1} + 1) * pf.pf
         / (pf.pf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS score
  FROM pf
  JOIN dl ON pf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  CROSS JOIN idfw i
  WHERE pf.pf > 0
)
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _idfw_from_data(terms: list[str]) -> str:
    """idfw = sum of idfs over term OCCURRENCES in `terms` (duplicates
    count again — PhraseWeight/MultiPhraseWeight build one TermStatistics
    per clause occurrence, so a repeated term contributes its idf once
    per repeat; verified against the compiled reference in
    tests/test_lucene_ground_truth.py). Callers whose reference weight
    uses a term->context MAP (SpanWeight) must pass a deduplicated list.
    Terms absent from the corpus contribute idf(df=0)."""
    counts: dict[str, int] = {}
    for t in terms:
        counts[t] = counts.get(t, 0) + 1
    vals = ",".join(f"('{t}',{float(m)!r})" for t, m in sorted(counts.items()))
    return f"""qterms(term, mult) AS (SELECT * FROM (VALUES {vals}) v(a, b)),
dfs AS (
  SELECT q.term, q.mult, CAST(COALESCE(c.df, 0) AS DOUBLE) AS df
  FROM qterms q LEFT JOIN (
    SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
  ) c USING (term)
),
idfw AS (
  SELECT sum(mult * ln(1 + (s.n - df + 0.5) / (df + 0.5))) AS w
  FROM dfs CROSS JOIN stats s
)"""


def bm25_span_near_sql(terms: list[str], slop: int, ordered: bool, k: int = 10) -> str:
    """SpanNearQuery oracle (spans/NearSpansOrdered.java:60-120,
    NearSpansUnordered.java:150-268, SpanScorer.java:84-118).

    ordered: the persistent-cursor walk == the greedy chain
    t_i = min(pos_i > t_{i-1}); width = t_last - t_0 - (n-1);
    pf = sum 1/(width+1) over matches with width <= slop.
    unordered (two clauses): merge-walk prefix rule — config (x, y) is
    visited iff lag_a(x) < y and lag_b(y) < x; width = |x - y|; matches
    when width - 1 <= slop (width() = max_start - min_start and
    totalSpanLength = 2 for term spans).
    Weight: idf summed over DISTINCT clause terms (SpanWeight map)."""
    n = len(terms)
    idfw = _idfw_from_data(sorted(set(terms)))  # SpanWeight: DISTINCT map
    if ordered:
        occ = ",\n".join(
            f"occ{i} AS (SELECT doc_id, pos FROM tokpos WHERE term = '{t}')"
            for i, t in enumerate(terms)
        )
        chain = ["m0 AS (SELECT doc_id, pos AS p0, pos AS prev FROM occ0)"]
        for i in range(1, n):
            chain.append(
                f"m{i} AS (SELECT m.doc_id, m.p0,\n"
                f"  (SELECT min(o.pos) FROM occ{i} o WHERE o.doc_id = m.doc_id "
                f"AND o.pos > m.prev) AS prev\n"
                f"  FROM m{i-1} m WHERE m.prev IS NOT NULL)"
            )
        chain_sql = ",\n".join(chain)
        pf_cte = f"""{occ},
{chain_sql},
matches AS (
  SELECT doc_id, prev - p0 - {n - 1} AS width
  FROM m{n - 1} WHERE prev IS NOT NULL
),
pf AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN width <= {slop} THEN 1.0 / (width + 1) END) AS DOUBLE) AS pf
  FROM matches GROUP BY doc_id
)"""
    else:
        if n != 2:
            raise ValueError("the SQL unordered-span oracle covers exactly two clauses")
        ta, tb = terms
        pf_cte = f"""occa AS (
  SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prv
  FROM tokpos WHERE term = '{ta}'
),
occb AS (
  SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prv
  FROM tokpos WHERE term = '{tb}'
),
cfg AS (
  SELECT a.doc_id, greatest(a.pos, b.pos) AS hi, least(a.pos, b.pos) AS lo
  FROM occa a JOIN occb b ON a.doc_id = b.doc_id
  WHERE (a.prv IS NULL OR a.prv < b.pos) AND (b.prv IS NULL OR b.prv < a.pos)
),
pf AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN hi - lo - 1 <= {slop} THEN 1.0 / (hi - lo + 1) END) AS DOUBLE) AS pf
  FROM cfg GROUP BY doc_id
)"""
    return _positional_score_sql(pf_cte, idfw, k)


def bm25_span_unordered_cells_sql(
    clause_a: list[str], clause_b: list[str], slop: int, k: int = 10
) -> str:
    """NearSpansUnordered oracle for TWO SpanOr-of-term clauses whose
    alternative sets may OVERLAP (NearSpansUnordered.java:150-268 —
    same-position repeats; pinned vs the compiled binary in ground-truth
    round 25). When both cells hold the same occurrence the (start, end)
    queue comparison ties both ways and the advance order falls to
    util/PriorityQueue.java's sift layout; for two cells that reduces to
    a deterministic rule the CTE replays literally: clause 0 takes the
    root at an initial tie (query-order add, ties don't sift up), and
    after an advance the OTHER cell takes the root only when STRICTLY
    less (downHeap swaps on strict lessThan). One recursion step = one
    advance of the root cell; every visited config with
    maxEnd - minStart - 2 <= slop emits 1/(width+1), width =
    maxEnd-1 - minStart. The walk stops when the root cell exhausts.
    Weight: idf summed over the DISTINCT clause terms (SpanWeight map)."""
    a = sorted(set(clause_a))
    b = sorted(set(clause_b))
    in_a = ",".join(f"'{t}'" for t in a)
    in_b = ",".join(f"'{t}'" for t in b)
    idfw = _idfw_from_data(sorted(set(a) | set(b)))
    pf_cte = f"""occa AS (
  SELECT doc_id, list(pos ORDER BY pos) AS pa
  FROM tokpos WHERE term IN ({in_a}) GROUP BY doc_id
),
occb AS (
  SELECT doc_id, list(pos ORDER BY pos) AS pb
  FROM tokpos WHERE term IN ({in_b}) GROUP BY doc_id
),
lists AS (
  SELECT a.doc_id, pa, pb, len(pa) AS la, len(pb) AS lb
  FROM occa a JOIN occb b USING (doc_id)
),
walk AS (
  SELECT doc_id, pa, pb, la, lb, 1 AS ia, 1 AS ib,
         pa[1] AS va, pb[1] AS vb,
         CASE WHEN pb[1] < pa[1] THEN 1 ELSE 0 END AS root,
         greatest(pa[1], pb[1]) + 1 AS maxe
  FROM lists
  UNION ALL
  SELECT doc_id, pa, pb, la, lb,
         CASE WHEN root = 0 THEN ia + 1 ELSE ia END,
         CASE WHEN root = 1 THEN ib + 1 ELSE ib END,
         CASE WHEN root = 0 THEN pa[ia + 1] ELSE va END,
         CASE WHEN root = 1 THEN pb[ib + 1] ELSE vb END,
         CASE WHEN root = 0
              THEN (CASE WHEN vb < pa[ia + 1] THEN 1 ELSE 0 END)
              ELSE (CASE WHEN va < pb[ib + 1] THEN 0 ELSE 1 END) END,
         CASE WHEN root = 0 THEN greatest(maxe, pa[ia + 1] + 1)
              ELSE greatest(maxe, pb[ib + 1] + 1) END
  FROM walk
  WHERE (root = 0 AND ia + 1 <= la) OR (root = 1 AND ib + 1 <= lb)
),
pf AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN maxe - least(va, vb) - 2 <= {slop}
                       THEN 1.0 / (maxe - least(va, vb)) END) AS DOUBLE) AS pf
  FROM walk GROUP BY doc_id
)"""
    return _positional_score_sql(pf_cte, idfw, k, recursive=True)


def bm25_span_or_sql(terms: list[str], k: int = 10) -> str:
    """SpanOrQuery oracle (spans/SpanOrQuery.java:122-128): merged term
    sub-spans each have width 0, so freq = total occurrences across the
    clauses; weight = idf summed over the distinct clause terms (absent
    terms contribute idf(df=0))."""
    ts = sorted(set(terms))
    terms_in = ",".join(f"'{t}'" for t in ts)
    idfw = _idfw_from_data(ts)
    pf_cte = f"""pf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS pf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id
)"""
    return _positional_score_sql(pf_cte, idfw, k)


def _span_filtered_sql(include: list[str], other: str, slop: int, mode: str, k: int) -> str:
    """Shared oracle for SpanNot / SpanContaining / SpanWithin over an
    ordered SpanNear include (the greedy chain) and a term `other`:
      not        — big spans with NO other-occurrence inside, big widths
      containing — big spans WITH an other-occurrence inside, big widths
      within     — other-occurrences inside some big span, width 0 each
    Weights sum idfs of BOTH sides (getTermContexts(big, little))."""
    n = len(include)
    idfw = _idfw_from_data(sorted(set(include) | {other}))  # SpanWeight map
    occ = ",\n".join(
        f"occ{i} AS (SELECT doc_id, pos FROM tokpos WHERE term = '{t}')"
        for i, t in enumerate(include)
    )
    chain = ["m0 AS (SELECT doc_id, pos AS p0, pos AS prev FROM occ0)"]
    for i in range(1, n):
        chain.append(
            f"m{i} AS (SELECT m.doc_id, m.p0,\n"
            f"  (SELECT min(o.pos) FROM occ{i} o WHERE o.doc_id = m.doc_id "
            f"AND o.pos > m.prev) AS prev\n"
            f"  FROM m{i-1} m WHERE m.prev IS NOT NULL)"
        )
    chain_sql = ",\n".join(chain)
    overlap = (
        "SELECT 1 FROM occx x WHERE x.doc_id = m.doc_id "
        "AND x.pos BETWEEN m.p0 AND m.prev"
    )
    if mode == "within":
        pf = f"""pf AS (
  SELECT x.doc_id, CAST(count(*) AS DOUBLE) AS pf
  FROM occx x WHERE EXISTS (
    SELECT 1 FROM matches m WHERE m.doc_id = x.doc_id AND m.width <= {slop}
    AND x.pos BETWEEN m.p0 AND m.prev)
  GROUP BY x.doc_id
)"""
    else:
        cond = "NOT EXISTS" if mode == "not" else "EXISTS"
        pf = f"""pf AS (
  SELECT m.doc_id,
         CAST(sum(CASE WHEN m.width <= {slop} AND {cond} ({overlap})
              THEN 1.0 / (m.width + 1) END) AS DOUBLE) AS pf
  FROM matches m GROUP BY m.doc_id
)"""
    pf_cte = f"""{occ},
occx AS (SELECT doc_id, pos FROM tokpos WHERE term = '{other}'),
{chain_sql},
matches AS (
  SELECT doc_id, p0, prev, prev - p0 - {n - 1} AS width
  FROM m{n - 1} WHERE prev IS NOT NULL
),
{pf}"""
    return _positional_score_sql(pf_cte, idfw, k)


def bm25_span_not_sql(include: list[str], exclude: str, slop: int, k: int = 10) -> str:
    """SpanNotQuery oracle (spans/SpanNotQuery.java, pre=post=0)."""
    return _span_filtered_sql(include, exclude, slop, "not", k)


def bm25_span_containing_sql(big: list[str], little: str, slop: int, k: int = 10) -> str:
    """SpanContainingQuery oracle (spans/SpanContainingQuery.java)."""
    return _span_filtered_sql(big, little, slop, "containing", k)


def bm25_span_within_sql(big: list[str], little: str, slop: int, k: int = 10) -> str:
    """SpanWithinQuery oracle (spans/SpanWithinQuery.java)."""
    return _span_filtered_sql(big, little, slop, "within", k)


def bm25_span_position_range_sql(term: str, lo: int, hi: int, k: int = 10) -> str:
    """SpanPositionRangeQuery oracle: occurrences with lo <= start and
    end <= hi; tokpos is 1-based vs the engine's 0-based positions, so
    the bounds shift to pos >= lo+1 and pos <= hi. Width 0 each;
    weight: the single term's idf."""
    idfw = _idfw_from_data([term])
    pf_cte = f"""pf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS pf
  FROM tokpos WHERE term = '{term}' AND pos >= {lo + 1} AND pos <= {hi}
  GROUP BY doc_id
)"""
    return _positional_score_sql(pf_cte, idfw, k)


def bm25_span_first_sql(term: str, end: int, k: int = 10) -> str:
    """SpanFirstQuery oracle = SpanPositionRange with lo 0
    (SpanFirstQuery.java:34)."""
    return bm25_span_position_range_sql(term, 0, end, k=k)


def bm25_multi_phrase_sql(positions: list[list[str]], k: int = 10) -> str:
    """MultiPhraseQuery oracle (search/MultiPhraseQuery.java:49): each
    position accepts any of its alternative terms; pf = count of aligned
    lead positions over the unioned occurrence sets; weight = idf summed
    over EVERY alternative (absent terms contribute idf(df=0), as
    TermContext.build yields docFreq 0)."""
    all_terms = [t for alts in positions for t in alts]
    idfw = _idfw_from_data(all_terms)
    occ = []
    for i, alts in enumerate(positions):
        alts_in = ",".join(f"'{t}'" for t in sorted(set(alts)))
        occ.append(
            f"occ{i} AS (SELECT doc_id, pos - {i} AS k FROM tokpos "
            f"WHERE term IN ({alts_in}))"
        )
    joins = "\n  ".join(
        f"JOIN occ{i} ON occ{i}.doc_id = occ0.doc_id AND occ{i}.k = occ0.k"
        for i in range(1, len(positions))
    )
    occ_sql = ",\n".join(occ)
    pf_cte = f"""{occ_sql},
pf AS (
  SELECT occ0.doc_id, CAST(count(DISTINCT occ0.k) AS DOUBLE) AS pf
  FROM occ0
  {joins}
  GROUP BY occ0.doc_id
)"""
    return _positional_score_sql(pf_cte, idfw, k)


def bm25_multi_phrase_sloppy_sql(
    positions: list[list[str]], slop: int, k: int = 10
) -> str:
    """Sloppy MultiPhraseQuery oracle (MultiPhraseQuery.Builder.setSlop):
    each position's cursor walks the UNION of its alternatives'
    occurrences (UnionPostingsEnum) through SloppyPhraseScorer. The SQL
    covers exactly TWO positions with DISJOINT alternative sets — no
    repeated terms, so the scorer is the two-cursor leapfrog chain
    (search/sloppy.py sloppy_freq_chain2) over the union occurrence
    sets, as a recursive CTE. Overlapping alternative sets (the
    multi-term-repeats path) are gated by the control oracle +
    transliteration property tests instead (tests/test_sloppy.py)."""
    if len(positions) != 2:
        raise ValueError("the SQL oracle covers exactly two positions")
    a0 = sorted(set(positions[0]))
    a1 = sorted(set(positions[1]))
    if set(a0) & set(a1):
        raise ValueError(
            "alternative sets must be disjoint (no repeats) for the "
            "chain closed form; the repeats path is pytest-gated"
        )
    off0, off1 = 0, 1
    in0 = ",".join(f"'{t}'" for t in a0)
    in1 = ",".join(f"'{t}'" for t in a1)
    idfw = _idfw_from_data(a0 + a1)
    # the leapfrog chain of _phrase_pf_cte(slop>0) with each side's
    # occurrences unioned over its alternatives
    u0_tie_side = 0 if off0 > off1 else 1
    pf_sql = f"""
occ AS (
  SELECT doc_id, pos - {off0} AS k, 0 AS s FROM tokpos WHERE term IN ({in0})
  UNION ALL
  SELECT doc_id, pos - {off1} AS k, 1 AS s FROM tokpos WHERE term IN ({in1})
),
nxt AS (
  SELECT a.doc_id, a.k, a.s, min(b.k) AS nk
  FROM occ a JOIN occ b ON b.doc_id = a.doc_id AND b.s <> a.s AND b.k > a.k
  GROUP BY 1, 2, 3
),
prv AS (
  SELECT a.doc_id, a.k, a.s, max(b.k) AS pk
  FROM occ a JOIN occ b ON b.doc_id = a.doc_id AND b.s <> a.s AND b.k <= a.k
  GROUP BY 1, 2, 3
),
firsts AS (
  SELECT * FROM (
    SELECT doc_id,
           min(CASE WHEN s = 0 THEN k END) AS a0,
           min(CASE WHEN s = 1 THEN k END) AS b0
    FROM occ GROUP BY doc_id)
  WHERE a0 IS NOT NULL AND b0 IS NOT NULL
),
chain AS (
  SELECT doc_id, greatest(a0, b0) AS u,
         CASE WHEN a0 > b0 THEN 0 WHEN b0 > a0 THEN 1 ELSE {u0_tie_side} END AS s
  FROM firsts
  UNION ALL
  SELECT n.doc_id, n.nk AS u, 1 - c.s AS s
  FROM chain c JOIN nxt n ON n.doc_id = c.doc_id AND n.s = c.s AND n.k = c.u
),
pf AS (
  SELECT c.doc_id,
         CAST(sum(CASE WHEN c.u - p.pk <= {slop}
                       THEN 1.0 / (c.u - p.pk + 1) END) AS DOUBLE) AS pf
  FROM chain c JOIN prv p ON p.doc_id = c.doc_id AND p.s = c.s AND p.k = c.u
  GROUP BY c.doc_id
)"""
    return _positional_score_sql(pf_sql, idfw, k, recursive=True)


def bm25_regexp_sql(anchored_pattern: str, max_terms: int = 16, k: int = 10) -> str:
    """RegexpQuery oracle: whole-term regexp expansion over the (stop-
    filtered) term dictionary, TopTerms(N) cap = lexicographically
    smallest N terms (MultiTermQuery.java:44-94 ScoreTermQueue tie on
    equal boosts), scored as a SHOULD BooleanQuery."""
    scaffold = _TOKPOS_CTES.format(stoplist=stoplist_sql(), norm_lut=norm_lut_values_sql())
    return f"""
WITH {scaffold},
capped AS (
  SELECT DISTINCT term FROM tok
  WHERE regexp_matches(term, '{anchored_pattern}')
  ORDER BY term LIMIT {max_terms}
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN (SELECT term FROM capped) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1)
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_boosted_sql(boosts: dict[str, float], k: int = 10) -> str:
    """BoostQuery: per-clause multiplicative boost on the BM25 weight."""
    terms = sorted(boosts)
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    terms_in = ",".join(f"'{t}'" for t in terms)
    boost_vals = ",".join(f"('{t}',{float(b)!r})" for t, b in sorted(boosts.items()))
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
boosts(term, boost) AS (VALUES {boost_vals}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * b.boost * ({K1} + 1)
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN boosts b USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_synonym_sql(query: str, k: int = 10) -> str:
    """SynonymQuery: tf summed across synonym terms, one weight from
    df = max of the terms' docFreqs (SynonymQuery.java)."""
    terms = sorted(set(analyze(query)))
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    terms_in = ",".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfmax AS (SELECT CAST(max(df) AS DOUBLE) AS df FROM (
  SELECT term, count(*) AS df FROM tf GROUP BY term)),
agg AS (SELECT doc_id, sum(tf) AS tf FROM tf GROUP BY doc_id),
scored AS (
  SELECT agg.doc_id,
         ln(1 + (s.n - m.df + 0.5) / (m.df + 0.5)) * ({K1} + 1)
         * agg.tf / (agg.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS score
  FROM agg
  JOIN dl ON agg.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  CROSS JOIN dfmax m
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def custom_score_sql(query: str, first_n: int = 50, k: int = 20) -> str:
    """CustomScoreQuery (lucene/queries/src/java/org/apache/lucene/queries/
    CustomScoreQuery.java; CustomScoreProvider.customScore multiplies the
    subquery score by the ValueSource): top-first_n BM25 candidates,
    final = score * (1 + n_chars/1000), re-ranked top k. Rank-only
    output (doc_id, crank) like the other scoring oracles."""
    inner = bm25_topk_sql(query, k=first_n, mode="or").replace("rank", "rank1")
    terms = sorted(set(analyze(query)))
    t_in = ",".join(f"'{t}'" for t in terms)
    return f"""
WITH first_pass AS ({inner}),
tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
tf1 AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({t_in}) GROUP BY doc_id, term
),
dfs1 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf1 GROUP BY term),
s1 AS (
  SELECT tf1.doc_id,
         sum(ln(1 + (s.n - dfs1.df + 0.5) / (dfs1.df + 0.5)) * ({K1} + 1)
             * tf1.tf / (tf1.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))) AS score1
  FROM tf1 JOIN dfs1 USING (term)
  JOIN dl ON tf1.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s GROUP BY tf1.doc_id
),
combined AS (
  SELECT fp.doc_id, s1.score1 * (1 + d.n_chars / 1000.0) AS final
  FROM first_pass fp
  JOIN s1 ON s1.doc_id = fp.doc_id
  JOIN documents d ON d.doc_id = fp.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS INTEGER) AS crank
FROM combined
ORDER BY final DESC, doc_id ASC
LIMIT {k}
"""


def recency_boost_sql(query: str, now_ms: int, base_ms: int, m: float,
                      first_n: int = 50, k: int = 20) -> str:
    """Solr recency boost oracle ({{!boost b=recip(ms(NOW,date),m,1,1)}}):
    top-first_n BM25 candidates, final = score / (m*age_ms + 1) with
    age_ms = now_ms - (base_ms + doc_id*86400000) — NOW frozen and the
    per-doc date synthetic/deterministic, identical on both engines.
    Rank-only (doc_id, rrank)."""
    custom = custom_score_sql(query, first_n=first_n, k=k)
    boosted = (
        "SELECT fp.doc_id, s1.score1 * (1.0 / ("
        f"{m!r} * ({float(now_ms)!r} - ({float(base_ms)!r} + fp.doc_id * 86400000.0)) + 1.0"
        ")) AS final"
    )
    custom = custom.replace(
        "SELECT fp.doc_id, s1.score1 * (1 + d.n_chars / 1000.0) AS final",
        boosted,
    ).replace(
        "\n  JOIN documents d ON d.doc_id = fp.doc_id", ""
    ).replace("AS crank", "AS rrank")
    if not ("final" in custom and "n_chars" not in custom):
        raise RuntimeError("the boost rewrite no longer matches the custom-score SQL")
    return custom


def bm25_rescore_sql(query1: str, query2: str, first_n: int = 50, weight: float = 2.0,
                     k: int = 10) -> str:
    """QueryRescorer (search/QueryRescorer.java): take the top first_n of
    query1, combine score1 + weight * score2 for docs also matching query2
    (QueryRescorer.combine), return the re-ranked top k."""
    inner1 = bm25_topk_sql(query1, k=first_n, mode="or").replace("rank", "rank1")
    # full score table for query2 (scores of ALL matching docs)
    terms2 = sorted(set(analyze(query2)))
    t2_in = ",".join(f"'{t}'" for t in terms2) or "''"
    return f"""
WITH first_pass AS ({inner1}),
tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
tf1 AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({",".join(f"'{t}'" for t in sorted(set(analyze(query1))))})
  GROUP BY doc_id, term
),
dfs1 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf1 GROUP BY term),
s1 AS (
  SELECT tf1.doc_id,
         sum(ln(1 + (s.n - dfs1.df + 0.5) / (dfs1.df + 0.5)) * ({K1} + 1)
             * tf1.tf / (tf1.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))) AS score1
  FROM tf1 JOIN dfs1 USING (term)
  JOIN dl ON tf1.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s GROUP BY tf1.doc_id
),
tf2 AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({t2_in}) GROUP BY doc_id, term
),
dfs2 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf2 GROUP BY term),
s2 AS (
  SELECT tf2.doc_id,
         sum(ln(1 + (s.n - dfs2.df + 0.5) / (dfs2.df + 0.5)) * ({K1} + 1)
             * tf2.tf / (tf2.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))) AS score2
  FROM tf2 JOIN dfs2 USING (term)
  JOIN dl ON tf2.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s GROUP BY tf2.doc_id
),
combined AS (
  SELECT fp.doc_id, s1.score1 + {weight} * COALESCE(s2.score2, 0) AS final
  FROM first_pass fp
  JOIN s1 ON s1.doc_id = fp.doc_id
  LEFT JOIN s2 ON s2.doc_id = fp.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS INTEGER) AS rank
FROM combined
ORDER BY final DESC, doc_id ASC
LIMIT {k}
"""


def bm25_mlt_sql(seed_doc_id: int = 0, n_terms: int = 5, k: int = 10,
                 min_tf: int = 2, min_df: int = 5) -> str:
    """MoreLikeThis (lucene/queries/mlt/MoreLikeThis.java createQueue):
    the seed doc's top n_terms terms by tf x classic idf
    (ln((n+1)/(df+1)) + 1 — MoreLikeThis(ir) defaults to
    ClassicSimilarity) after the minTermFreq/minDocFreq filters (ties:
    term asc), run as a SHOULD query under BM25, seed excluded from the
    hits. Selection pinned vs the compiled MoreLikeThis in
    tests/test_lucene_ground_truth.py (ground-truth round 9)."""
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
all_tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term
),
all_df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM all_tf GROUP BY term),
qterms AS (
  SELECT t.term
  FROM all_tf t JOIN all_df USING (term) CROSS JOIN stats s
  WHERE t.doc_id = {seed_doc_id}
    AND t.tf >= {min_tf} AND all_df.df >= {min_df}
  ORDER BY t.tf * (ln((s.n + 1) / (all_df.df + 1)) + 1) DESC, t.term ASC
  LIMIT {n_terms}
),
tf AS (SELECT * FROM all_tf WHERE term IN (SELECT term FROM qterms)),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1)
             * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  WHERE tf.doc_id <> {seed_doc_id}
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_mlt_text_sql(like_text: str, max_q: int = 20, min_tf: int = 1,
                      min_df: int = 5, pct: float = 0.3,
                      k: int = 10) -> str:
    """MoreLikeThisQuery over likeText (the XML LikeThisQuery element —
    queries/mlt/MoreLikeThisQuery.java rewrite): candidate (term, tf)
    pairs come from the LITERAL text (computed here at build time, same
    analysis), df filters + top-maxQueryTerms by tf x classic idf run in
    SQL against the corpus, and the surviving SHOULD clauses score under
    BM25 with minimumNumberShouldMatch = (int)(clauses * pct) — Java
    (int) truncation = floor for non-negative values."""
    from collections import Counter

    counts = Counter(analyze(like_text)[:5000])
    if not counts:
        raise ValueError("like_text analyzes to no terms")
    # Java truncates (int)(clauses * pct) in FLOAT32 — embed the f32
    # value of pct so 10 * 0.3 lands on 3, not 2 (the engine mirrors
    # this in engine._resolve_mlt_text)
    pct = float(np.float32(pct))
    cand_vals = ",".join(
        f"('{t}',{c})" for t, c in sorted(counts.items())
    )
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
all_tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term
),
all_df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM all_tf GROUP BY term),
qcand(term, qtf) AS (VALUES {cand_vals}),
qterms AS (
  SELECT c.term
  FROM qcand c JOIN all_df USING (term) CROSS JOIN stats s
  WHERE c.qtf >= {min_tf} AND all_df.df >= {min_df}
  ORDER BY c.qtf * (ln((s.n + 1) / (all_df.df + 1)) + 1) DESC, c.term ASC
  LIMIT {max_q}
),
msm AS (SELECT CAST(floor(count(*) * {pct}) AS INTEGER) AS m FROM qterms),
tf AS (SELECT * FROM all_tf WHERE term IN (SELECT term FROM qterms)),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1)
             * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
  HAVING count(*) >= (SELECT m FROM msm)
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_term_automaton_sql(transitions, accepts, k: int = 10) -> str:
    """TermAutomatonQuery oracle (sandbox/search/TermAutomatonScorer.java:
    226-345): the per-position NFA walk as a recursive CTE. Arrivals are a
    MULTISET (UNION ALL keeps duplicates — PosState.add never dedups);
    fresh starts step state 0 at every query token (the anchor); term
    arcs consume the token at the arrival position; ANY arcs ('' label)
    consume a pseudo-move available at every position up to the doc's
    last query token and never count an accept — matches must end on a
    term arc. The walk runs over the finish()-determinized automaton
    (TermAutomatonQuery.java:120-185 — ANY arcs expand to every term
    symbol, so a query-term token under an ANY arc steps BOTH as a
    scoring term arc and as a non-scoring ANY move; the union keeps both
    copies). freq = accepting term-arc arrivals; weight = summed idf of
    the distinct labels (absent labels contribute idf(0))."""
    from ..search.automaton import expand_determinize

    labels = sorted({lab for _f, lab, _t in transitions if lab})
    transitions, accepts = expand_determinize(transitions, accepts)
    idfw = _idfw_from_data(labels)
    trans_vals = ",".join(f"({f},'{l}',{t})" for f, l, t in transitions)
    acc_vals = ",".join(f"({a})" for a in accepts)
    labels_in = ",".join(f"'{l}'" for l in labels)
    pf_cte = f"""trans(frm, lab, tto) AS (VALUES {trans_vals}),
acc_states(st) AS (VALUES {acc_vals}),
qtok AS (SELECT doc_id, pos, term FROM tokpos WHERE term IN ({labels_in})),
moves AS (
  SELECT doc_id, pos, term AS lab FROM qtok
  UNION ALL
  SELECT mq.doc_id, g.p AS pos, '' AS lab
  FROM (SELECT doc_id, max(pos) AS mp FROM qtok GROUP BY doc_id) mq,
       unnest(generate_series(1, mq.mp - 1)) AS g(p)
),
arr AS (
  WITH RECURSIVE walk(doc_id, pos, state, hit) AS (
    SELECT q.doc_id, q.pos + 1, t.tto,
           CASE WHEN t.tto IN (SELECT st FROM acc_states) THEN 1 ELSE 0 END
    FROM qtok q JOIN trans t ON t.frm = 0 AND t.lab = q.term
    UNION ALL
    SELECT w.doc_id, w.pos + 1, t.tto,
           CASE WHEN m.lab <> '' AND t.tto IN (SELECT st FROM acc_states)
                THEN 1 ELSE 0 END
    FROM walk w
    JOIN moves m ON m.doc_id = w.doc_id AND m.pos = w.pos
    JOIN trans t ON t.frm = w.state AND t.lab = m.lab
  )
  SELECT * FROM walk
),
pf AS (SELECT doc_id, CAST(sum(hit) AS DOUBLE) AS pf FROM arr GROUP BY doc_id)"""
    return _positional_score_sql(pf_cte, idfw, k)


def fuzzy_like_this_sql(
    query: str, max_edits: int = 1, max_variants: int = 3, k: int = 10
) -> str:
    """FuzzyLikeThisQuery (lucene/sandbox/.../queries/FuzzyLikeThisQuery.java):
    per input term, the top max_variants dictionary terms within max_edits
    (ranked distance ASC, docFreq DESC, term ASC), each boosted by the
    similarity factor 1 - distance/len(input); the rewrite is a boosted
    disjunction, a variant reached from two inputs summing its boosts.
    The expansion itself is computed IN SQL over the corpus term
    dictionary, so the oracle shares no driver state with the engine."""
    inputs = sorted(set(analyze(query)))
    if not inputs:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    inputs_vals = ",".join(f"('{q}')" for q in inputs)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
all_tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term
),
dict AS (SELECT term, CAST(count(*) AS DOUBLE) AS ddf FROM all_tf GROUP BY term),
inputs(q) AS (VALUES {inputs_vals}),
expanded AS (
  SELECT q, term, levenshtein(term, q) AS dist,
         row_number() OVER (
           PARTITION BY q
           ORDER BY levenshtein(term, q) ASC, ddf DESC, term ASC
         ) AS rn
  FROM dict CROSS JOIN inputs
  WHERE levenshtein(term, q) <= {max_edits}
),
boosts AS (
  SELECT term, sum(1.0 - CAST(dist AS DOUBLE) / length(q)) AS boost
  FROM expanded WHERE rn <= {max_variants} GROUP BY term
),
tf AS (SELECT * FROM all_tf WHERE term IN (SELECT term FROM boosts)),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1) * b.boost
             * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN boosts b USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_topk_sql(query: str, k: int = 10, mode: str = "or") -> str:
    """Full BM25 top-k as one SQL string over `documents(doc_id, text)`.

    Output: (doc_id BIGINT, rank INT) — rank 1..k by score DESC, doc_id ASC
    (HitQueue tie-break). Rank-only output is robust to f32/f64 rounding.
    """
    terms = analyze(query)
    if not terms:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    uniq = sorted(set(terms))
    clause = {t: terms.count(t) for t in uniq}
    terms_in = ",".join(f"'{t}'" for t in uniq)
    clause_vals = ",".join(f"('{t}',{c})" for t, c in clause.items())
    having = (
        f"HAVING count(DISTINCT tf.term) = {len(uniq)}" if mode == "and" else ""
    )
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
clauses(term, clause_n) AS (VALUES {clause_vals}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1) * c.clause_n
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN clauses c USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
  {having}
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_compound_sql(
    *,
    should: list[str] | tuple = (),
    must: list[str] | tuple = (),
    must_not: list[str] | tuple = (),
    term_boosts: dict[str, float] | None = None,
    groups: list[tuple[str, list[str]]] | tuple = (),
    phrases: list[tuple] | tuple = (),
    term_range: tuple[str, str, bool, bool] | None = None,
    range_occur: str = "",
    range_boost: float = 1.0,
    wildcards: list[tuple[str, float, str]] | tuple = (),
    fuzzies: list[tuple[str, float, str, int]] | tuple = (),
    mixed_groups: list[tuple[str, list[str], list[tuple[float, str]]]] | tuple = (),
    k: int = 10,
) -> str:
    """General BooleanQuery oracle: any mix of MUST/SHOULD/MUST_NOT term
    clauses (with BoostQuery boosts), one-level nested SHOULD-only groups
    ((occur, [analyzed terms]) — the classic parser's paren groups), any
    number of PhraseQuery clauses (`phrases` = [(text, slop, boost,
    required), ...] — each required or an optional SHOULD), and a
    TermRangeQuery dictionary expansion added as SHOULD clauses
    (term_range = (lo, hi, include_lo, include_hi, max_terms)).

    Semantics mirror BooleanWeight.java:375-533 with nested clauses:
    score = sum over matching clauses (a group's score = sum of its
    matching members; the phrase scores PhraseWeight with summed idfs x
    boost); matching = all MUST terms + every '+' group (>=1 member) +
    the phrase when required + no MUST_NOT/'-'-group member; with no
    required clause at all, >= max(1, msm) SHOULD clauses (distinct
    should terms, '' groups, the optional phrase) must match.
    Terms are pre-analyzed; rank-only output like the other builders.

    Multi-term clauses follow the classic parser's REFERENCE rewrites
    (pinned vs the compiled binary in tests/test_lucene_ground_truth):
     - term_range=(lo, hi, inc_lo, inc_hi) + range_occur/range_boost and
       wildcards=[(occur, boost, like_pattern)] are CONSTANT-SCORE
       clauses (MultiTermQueryConstantScoreWrapper): any doc holding >=1
       dictionary term matching the predicate scores `boost`, counted as
       ONE clause for msm/required purposes; '-' excludes.
     - fuzzies=[(occur, boost, base, max_edits)] reproduce FuzzyQuery's
       TopTermsBlendedFreqScoringRewrite: expansion over the term
       dictionary within max_edits (plain Levenshtein here — pick gate
       terms without transposition neighbors), similarity boosts,
       df adjusted to the blend max, summed as one nested clause.
       The expansion is recomputed IN SQL, sharing no state with Spark."""
    term_boosts = term_boosts or {}
    should = list(should)
    must = list(must)
    not_t = sorted(set(must_not))
    groups = [(occ, list(ts)) for occ, ts in groups]
    # normalize 0..N phrase clauses to [(pairs, slop, boost, required)]
    phrase_clauses = []
    if phrases:
        from ..search.engine import phrase_pairs

        for text, slop_i, boost_i, req_i in phrases:
            pairs = phrase_pairs(text)
            if pairs:
                phrase_clauses.append((pairs, int(slop_i), float(boost_i), bool(req_i)))

    # clause table rows: (term, mult, cls) — mult = dup-count x boost
    rows = []
    uniq_should = sorted(set(should))
    for t in uniq_should:
        rows.append((t, should.count(t) * float(term_boosts.get(t, 1.0)), "s"))
    uniq_must = sorted(set(must))
    for t in uniq_must:
        rows.append((t, must.count(t) * float(term_boosts.get(t, 1.0)), "m"))
    gmust_ids, gshould_ids = [], []
    for i, (occ, ts) in enumerate(groups):
        cid = f"g{i}"
        if occ == "-":
            continue  # handled as exclusion below
        (gmust_ids if occ == "+" else gshould_ids).append(cid)
        for t in sorted(set(ts)):
            rows.append((t, float(term_boosts.get(t, 1.0)), cid))
    neg_group_terms = sorted(
        {t for occ, ts in groups if occ == "-" for t in ts} | set(not_t)
    )

    # constant-score clauses: (occur, boost, SQL term predicate)
    const_list: list[tuple[str, float, str]] = []
    if term_range is not None:
        lo, hi, inc_lo, inc_hi = term_range[:4]
        bounds = []
        if lo != "*":
            bounds.append(f"term {'>=' if inc_lo else '>'} '{lo}'")
        if hi != "*":
            bounds.append(f"term {'<=' if inc_hi else '<'} '{hi}'")
        const_list.append(
            (range_occur, float(range_boost), " AND ".join(bounds) or "1=1")
        )
    for occ, b, pat in wildcards:
        const_list.append((occ, float(b), f"term LIKE '{pat}'"))
    fuzzies = [tuple(fz) for fz in fuzzies]
    # mixed paren groups: (occ, [scored term members], [(boost, LIKE
    # pattern) const members]) — nested BooleanQuery whose wildcard
    # members keep CONSTANT_SCORE_REWRITE (queryparser.to_spec
    # mixed_groups); term members ride qt with cls 'x{i}' (excluded from
    # the flat score sum) and the whole group enters as ONE extra clause
    mixed_groups = [
        (occ, sorted(set(ts)), [(float(b), p) for b, p in extras])
        for occ, ts, extras in mixed_groups
    ]
    for i, (occ, ts, _extras) in enumerate(mixed_groups):
        if occ == "-":
            continue
        for t in ts:
            rows.append((t, float(term_boosts.get(t, 1.0)), f"x{i}"))

    if (not rows and not phrase_clauses and not const_list and not fuzzies
            and not mixed_groups):
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"

    scaffold = _TOKPOS_CTES.format(stoplist=stoplist_sql(), norm_lut=norm_lut_values_sql())
    ctes = [scaffold]

    qt_vals = ",".join(f"('{t}',{m!r},'{c}')" for t, m, c in rows) or "(NULL,NULL,NULL)"
    qt = f"qt(term, mult, cls) AS (SELECT * FROM (VALUES {qt_vals}) v(a,b,c) WHERE a IS NOT NULL)"
    ctes.append(qt)
    ctes.append(
        """tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term
)"""
    )
    ctes.append(
        "dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)"
    )
    ctes.append(
        f"""base AS (
  SELECT tf.doc_id, q.cls, q.term,
         ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * q.mult * ({K1} + 1)
         * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS sc
  FROM tf
  JOIN dfs USING (term)
  JOIN qt q USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
)"""
    )
    gmust_in = ",".join(f"'{c}'" for c in gmust_ids) or "''"
    gshould_in = ",".join(f"'{c}'" for c in gshould_ids) or "''"
    ctes.append(
        f"""agg AS (
  SELECT doc_id,
         sum(CASE WHEN cls LIKE 'x%' THEN 0 ELSE sc END) AS score,
         count(DISTINCT CASE WHEN cls = 'm' THEN term END) AS mhits,
         count(DISTINCT CASE WHEN cls = 's' THEN term END) AS shits,
         count(DISTINCT CASE WHEN cls IN ({gmust_in}) THEN cls END) AS gmust,
         count(DISTINCT CASE WHEN cls IN ({gshould_in}) THEN cls END) AS gshould
  FROM base GROUP BY doc_id
)"""
    )
    recursive = False
    if phrase_clauses:
        recursive = any(slop_i > 0 for _p, slop_i, _b, _r in phrase_clauses)
        pc_sql_rows = []
        for i, (pairs, slop_i, boost_i, _req_i) in enumerate(phrase_clauses):
            x = str(i)
            # PhraseWeight: one idf per clause OCCURRENCE (repeats count
            # again; pinned vs the compiled reference)
            pcounts: dict[str, int] = {}
            for t, _off in pairs:
                pcounts[t] = pcounts.get(t, 0) + 1
            pvals = ",".join(
                f"('{t}',{float(m)!r})" for t, m in sorted(pcounts.items())
            )
            ctes.append(
                f"""pqt{x}(term, mult) AS (SELECT * FROM (VALUES {pvals}) v(a, b)),
pdfs{x} AS (
  SELECT q.term, q.mult, CAST(COALESCE(c.df, 0) AS DOUBLE) AS df
  FROM pqt{x} q LEFT JOIN (
    SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
  ) c USING (term)
),
pidfw{x} AS (
  SELECT sum(mult * ln(1 + (s.n - df + 0.5) / (df + 0.5))) AS w
  FROM pdfs{x} CROSS JOIN stats s
)"""
            )
            ctes.append(_phrase_pf_cte(list(pairs), slop_i, suffix=x).strip())
            ctes.append(
                f"""pscore{x} AS (
  SELECT pf{x}.doc_id,
         {float(boost_i)!r} * i.w * ({K1} + 1) * pf{x}.pf
         / (pf{x}.pf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS sc
  FROM pf{x}
  JOIN dl ON pf{x}.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  CROSS JOIN pidfw{x} i
  WHERE pf{x}.pf > 0
)"""
            )
            pc_sql_rows.append(f"SELECT doc_id, sc, 'p{x}' AS pcid FROM pscore{x}")
        req_ids = ",".join(
            f"'p{i}'" for i, (_p, _s, _b, r) in enumerate(phrase_clauses) if r
        ) or "''"
        opt_ids = ",".join(
            f"'p{i}'" for i, (_p, _s, _b, r) in enumerate(phrase_clauses) if not r
        ) or "''"
        pc_union = "\n  UNION ALL\n  ".join(pc_sql_rows)
        ctes.append(
            f"""pc_all AS (
  {pc_union}
),
pagg AS (
  SELECT doc_id, sum(sc) AS psc,
         count(DISTINCT CASE WHEN pcid IN ({req_ids}) THEN pcid END) AS p_req_hits,
         count(DISTINCT CASE WHEN pcid IN ({opt_ids}) THEN pcid END) AS p_opt_hits
  FROM pc_all GROUP BY doc_id
)"""
        )
        combined = """combined AS (
  SELECT COALESCE(a.doc_id, p.doc_id) AS doc_id,
         COALESCE(a.score, 0) + COALESCE(p.psc, 0) AS score,
         COALESCE(a.mhits, 0) AS mhits,
         COALESCE(a.shits, 0) + COALESCE(a.gshould, 0)
           + COALESCE(p.p_opt_hits, 0) AS shits_opt,
         COALESCE(a.shits, 0) + COALESCE(a.gshould, 0) AS shits_plain,
         COALESCE(a.gmust, 0) AS gmust,
         COALESCE(p.p_req_hits, 0) AS p_req_hits
  FROM agg a FULL OUTER JOIN pagg p USING (doc_id)
)"""
    else:
        combined = """combined AS (
  SELECT doc_id, score, mhits,
         shits + gshould AS shits_opt, shits + gshould AS shits_plain,
         gmust, 0 AS p_req_hits
  FROM agg
)"""
    ctes.append(combined)

    # extra (multi-term rewrite) clauses: constant-score wildcards/ranges
    # + blended fuzzies, each one clause for hit counting
    extra_must_ids: list[str] = []
    extra_should_ids: list[str] = []
    extra_rows: list[str] = []
    excl_conds: list[str] = []
    for i, (occ, boost, pred) in enumerate(const_list):
        if occ == "-":
            excl_conds.append(
                f"doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE {pred})"
            )
            continue
        cid = f"c{i}"
        (extra_must_ids if occ == "+" else extra_should_ids).append(cid)
        extra_rows.append(
            f"SELECT DISTINCT doc_id, CAST({float(boost)!r} AS DOUBLE) AS sc,"
            f" '{cid}' AS cid FROM tok WHERE {pred}"
        )
    for i, (occ, ts, extras) in enumerate(mixed_groups):
        parts = []
        if occ != "-" and ts:
            parts.append(f"SELECT doc_id, sc FROM base WHERE cls = 'x{i}'")
        for b, pat in extras:
            parts.append(
                f"SELECT DISTINCT doc_id, CAST({float(b)!r} AS DOUBLE) AS sc"
                f" FROM tok WHERE term LIKE '{pat}'"
            )
        if occ == "-":
            # prohibited group: any member (term or pattern) match excludes
            mconds = [f"term IN ({','.join(chr(39)+t+chr(39) for t in ts)})"] if ts else []
            mconds += [f"term LIKE '{pat}'" for _b, pat in extras]
            excl_conds.append(
                f"doc_id NOT IN (SELECT DISTINCT doc_id FROM tok "
                f"WHERE {' OR '.join(mconds)})"
            )
            continue
        cid = f"x{i}"
        (extra_must_ids if occ == "+" else extra_should_ids).append(cid)
        union_i = "\n    UNION ALL\n    ".join(parts)
        ctes.append(
            f"""x{i}score AS (
  SELECT doc_id, sum(sc) AS sc FROM (
    {union_i}
  ) GROUP BY doc_id
)"""
        )
        extra_rows.append(f"SELECT doc_id, sc, '{cid}' AS cid FROM x{i}score")
    for j, (occ, boost, base, me) in enumerate(fuzzies):
        cid = f"f{j}"
        blen = len(base)
        ctes.append(
            f"""f{j}exp AS (
  SELECT term, df,
         CASE WHEN term = '{base}' THEN 1.0
              ELSE 1.0 - levenshtein(term, '{base}') * 1.0
                   / least(length(term), {blen}) END AS fboost
  FROM (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
  WHERE levenshtein(term, '{base}') <= {int(me)}
    AND (term = '{base}'
         OR levenshtein(term, '{base}') < least(length(term), {blen}))
  ORDER BY fboost DESC, term ASC LIMIT 50
),
f{j}blend AS (SELECT max(df) AS dfb FROM f{j}exp),
f{j}tf AS (
  SELECT t.doc_id, t.term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok t JOIN f{j}exp e ON t.term = e.term GROUP BY t.doc_id, t.term
)"""
        )
        if occ == "-":
            excl_conds.append(
                f"doc_id NOT IN (SELECT DISTINCT doc_id FROM f{j}tf)"
            )
            continue
        ctes.append(
            f"""f{j}sc AS (
  SELECT tf.doc_id,
         sum({float(boost)!r} * e.fboost
             * ln(1 + (s.n - b.dfb + 0.5) / (b.dfb + 0.5)) * ({K1} + 1)
             * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
         ) AS sc
  FROM f{j}tf tf
  JOIN f{j}exp e ON tf.term = e.term
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s CROSS JOIN f{j}blend b
  GROUP BY tf.doc_id
)"""
        )
        (extra_must_ids if occ == "+" else extra_should_ids).append(cid)
        extra_rows.append(f"SELECT doc_id, sc, '{cid}' AS cid FROM f{j}sc")

    final_from = "combined"
    n_cmust = len(extra_must_ids)
    if extra_rows:
        m_in = ",".join(f"'{c}'" for c in extra_must_ids) or "''"
        s_in = ",".join(f"'{c}'" for c in extra_should_ids) or "''"
        union = "\n  UNION ALL\n  ".join(extra_rows)
        ctes.append(f"c_all AS (\n  {union}\n)")
        ctes.append(
            f"""cagg AS (
  SELECT doc_id, sum(sc) AS csc,
         count(DISTINCT CASE WHEN cid IN ({m_in}) THEN cid END) AS cmust,
         count(DISTINCT CASE WHEN cid IN ({s_in}) THEN cid END) AS cshould
  FROM c_all GROUP BY doc_id
)"""
        )
        ctes.append(
            """combined2 AS (
  SELECT COALESCE(c.doc_id, g.doc_id) AS doc_id,
         COALESCE(c.score, 0) + COALESCE(g.csc, 0) AS score,
         COALESCE(c.mhits, 0) AS mhits,
         COALESCE(c.shits_opt, 0) + COALESCE(g.cshould, 0) AS shits_opt,
         COALESCE(c.shits_plain, 0) + COALESCE(g.cshould, 0) AS shits_plain,
         COALESCE(c.gmust, 0) AS gmust,
         COALESCE(c.p_req_hits, 0) AS p_req_hits,
         COALESCE(g.cmust, 0) AS cmust
  FROM combined c FULL OUTER JOIN cagg g ON c.doc_id = g.doc_id
)"""
        )
        final_from = "combined2"

    n_must = len(uniq_must)
    n_gmust = len(gmust_ids)
    n_req_phrases = sum(1 for _p, _s, _b, r in phrase_clauses if r)
    n_opt_phrases = len(phrase_clauses) - n_req_phrases
    has_required = bool(n_must or n_gmust or n_req_phrases or n_cmust)
    msm = 0 if has_required else 1
    conds = ["1=1"]
    if n_must:
        conds.append(f"mhits = {n_must}")
    if n_gmust:
        conds.append(f"gmust = {n_gmust}")
    if n_req_phrases:
        conds.append(f"p_req_hits = {n_req_phrases}")
    if n_cmust:
        conds.append(f"cmust = {n_cmust}")
    if msm > 0:
        col = "shits_opt" if n_opt_phrases else "shits_plain"
        conds.append(f"{col} >= {msm}")
    if neg_group_terms:
        excl_in = ",".join(f"'{t}'" for t in neg_group_terms)
        conds.append(
            f"doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term IN ({excl_in}))"
        )
    conds.extend(excl_conds)
    with_kw = "WITH RECURSIVE" if recursive else "WITH"
    cte_sql = ",\n".join(ctes)
    return f"""
{with_kw} {cte_sql}
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM {final_from}
WHERE {" AND ".join(conds)}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def classic_tfidf_sql(query: str, k: int = 10) -> str:
    """ClassicSimilarity (TF-IDF) oracle: per matching term clause
    sqrt(tf) * idf^2 * decodedLengthNorm with idf = ln((N+1)/(df+1)) + 1
    (similarities/ClassicSimilarity.java tf:120 idf:138 lengthNorm:109;
    TFIDFSimilarity score = tf * weightValue * decodeNorm), times the
    coord factor overlap/maxOverlap (ClassicSimilarity.coord:61-63 via
    DisjunctionSumScorer `(float)score * coord[freq]` -- this reference
    predates coord removal). queryNorm is a per-query constant and the
    oracle is rank-only, so it is omitted. Rank-only."""
    terms = sorted(set(analyze(query)))
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    terms_in = ",".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dl),
cnorm_lut(dl_lo, dl_hi, cnorm) AS (SELECT * FROM {classic_norm_lut_values_sql()}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           sqrt(tf.tf)
           * pow(ln((s.n + 1) / (dfs.df + 1)) + 1.0, 2)
           * lut.cnorm
         ) * (CASE WHEN {len(terms)} > 1 THEN count(*) * 1.0 / {len(terms)} ELSE 1.0 END) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN cnorm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def multi_bm25_classic_sql(query: str, k: int = 10) -> str:
    """MultiSimilarity([BM25, Classic]) oracle (MultiSimilarity.java —
    CombSUM): per matching clause, BM25 score + Classic score with
    queryNorm=1 and NO coord (MultiSimilarity inherits the defaults);
    norms decode with BM25's table for the BM25 half and byte315ToFloat
    for the Classic half (sims[0] wrote the byte). Rank-only."""
    terms = analyze(query)
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    uniq = sorted(set(terms))
    clause_vals = ",".join(f"('{t}',{terms.count(t)})" for t in uniq)
    terms_in = ",".join(f"'{t}'" for t in uniq)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
cnorm_lut(dl_lo, dl_hi, cnorm) AS (SELECT * FROM {classic_norm_lut_values_sql()}),
clauses(term, clause_n) AS (VALUES {clause_vals}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum((
           ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1)
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
           + sqrt(tf.tf) * pow(ln((s.n + 1) / (dfs.df + 1)) + 1.0, 2) * clut.cnorm
         ) * c.clause_n) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN clauses c USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  JOIN cnorm_lut clut ON dl.dl BETWEEN clut.dl_lo AND clut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
-- rank on the FLOAT32 score: twin docs (same tf profile and norm byte)
-- tie exactly in the engine's float32 chain but differ at double
-- precision, flipping the HitQueue doc-ASC tie-break at the k boundary
SELECT doc_id, CAST(row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY CAST(score AS REAL) DESC, doc_id ASC
LIMIT {k}
"""


def sweetspot_tfidf_sql(query: str, k: int = 10) -> str:
    """SweetSpotSimilarity oracle (lucene/misc/SweetSpotSimilarity.java):
    ClassicSimilarity's idf^2 and coord, baselineTf in place of sqrt(tf)
    (tf<=2 -> 1.5, else sqrt(tf + 1.5^2 - 2); :176-184), and a length
    norm decoded from bytes the PLATEAU computeLengthNorm wrote at index
    time (setLengthNormFactors(3,10,0.5); :136-152). queryNorm is a
    per-query constant — rank-only, omitted."""
    terms = sorted(set(analyze(query)))
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    terms_in = ",".join(f"'{t}'" for t in terms)
    baseline_tf = "(CASE WHEN tf.tf <= 2.0 THEN 1.5 ELSE sqrt(tf.tf + 2.25 - 2.0) END)"
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dl),
ssnorm_lut(dl_lo, dl_hi, ssnorm) AS (SELECT * FROM {sweetspot_norm_lut_values_sql()}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           {baseline_tf}
           * pow(ln((s.n + 1) / (dfs.df + 1)) + 1.0, 2)
           * lut.ssnorm
         ) * (CASE WHEN {len(terms)} > 1 THEN count(*) * 1.0 / {len(terms)} ELSE 1.0 END) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN ssnorm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _lm_sql(query: str, k: int, clause_score: str) -> str:
    """Shared LM-similarity oracle scaffold: tok/dl/collection-stats CTEs
    plus a per-clause score expression over (tf, dld docLen, p collection
    probability). Rank-only output like the other similarity oracles."""
    terms = analyze(query)
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    uniq = sorted(set(terms))
    clause_vals = ",".join(f"('{t}',{terms.count(t)})" for t in uniq)
    terms_in = ",".join(f"'{t}'" for t in uniq)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
coll AS (SELECT CAST(count(*) AS DOUBLE) AS sum_ttf FROM tok),
snorm_lut(dl_lo, dl_hi, dld) AS (SELECT * FROM {simbase_norm_lut_values_sql()}),
clauses(term, clause_n) AS (VALUES {clause_vals}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
ttfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS ttf FROM tok
         WHERE term IN ({terms_in}) GROUP BY term),
probs AS (
  SELECT term, (ttf + 1.0) / (coll.sum_ttf + 1.0) AS p FROM ttfs CROSS JOIN coll
),
scored AS (
  SELECT tf.doc_id, sum(({clause_score}) * c.clause_n) AS score
  FROM tf
  JOIN probs USING (term)
  JOIN clauses c USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN snorm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def lm_dirichlet_sql(query: str, k: int = 10, mu: float = 2000.0) -> str:
    """LMDirichletSimilarity oracle (LMDirichletSimilarity.java:66-70):
    per clause greatest(ln(1 + tf/(mu*p)) + ln(mu/(docLen+mu)), 0)."""
    expr = (
        f"greatest(ln(1 + tf.tf / ({mu} * probs.p))"
        f" + ln({mu} / (lut.dld + {mu})), 0)"
    )
    return _lm_sql(query, k, expr)


def lm_jelinek_mercer_sql(query: str, k: int = 10, lam: float = 0.7) -> str:
    """LMJelinekMercerSimilarity oracle (LMJelinekMercerSimilarity.java:54-59):
    per clause ln(1 + ((1-lambda)*tf/docLen) / (lambda*p))."""
    expr = f"ln(1 + ((1 - {lam}) * tf.tf / lut.dld) / ({lam} * probs.p))"
    return _lm_sql(query, k, expr)


def _simbase_dfr_sql(query: str, k: int, clause_score: str,
                     with_ttf: bool = False) -> str:
    """DFR/IB/DFI oracle scaffold: the LM scaffold's CTEs plus per-term df,
    corpus doc count (st.n) and avgFieldLength (av.avgdl) — everything
    SimilarityBase.fillBasicStats provides; with_ttf adds per-term
    totalTermFreq (ttfs.ttf) and the collection token count (coll.sum_ttf)
    for DFI's expected-frequency model. Rank-only output; double
    arithmetic (the engine's float32 op order agrees on these ranks)."""
    terms = analyze(query)
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    uniq = sorted(set(terms))
    clause_vals = ",".join(f"('{t}',{terms.count(t)})" for t in uniq)
    terms_in = ",".join(f"'{t}'" for t in uniq)
    ttf_cte = (
        "\nttfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS ttf"
        f" FROM tok WHERE term IN ({terms_in}) GROUP BY term),"
        if with_ttf else ""
    )
    ttf_join = "\n  JOIN ttfs USING (term)\n  CROSS JOIN coll" if with_ttf else ""
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
coll AS (SELECT CAST(count(*) AS DOUBLE) AS sum_ttf FROM tok),
av AS (SELECT coll.sum_ttf / st.n AS avgdl FROM coll CROSS JOIN st),
snorm_lut(dl_lo, dl_hi, dld) AS (SELECT * FROM {simbase_norm_lut_values_sql()}),
clauses(term, clause_n) AS (VALUES {clause_vals}),{ttf_cte}
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, sum(({clause_score}) * c.clause_n) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN clauses c USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN snorm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN st CROSS JOIN av{ttf_join}
  GROUP BY tf.doc_id
)
-- rank over the FLOAT32 quantization of the double clause sum: the
-- engine scores in float32, and the double sum's addition order is
-- plan-dependent (a union wrapper reordered an exact tie once), so
-- ranking raw doubles is fragile exactly where f32 sees a tie
SELECT doc_id, CAST(row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY CAST(score AS REAL) DESC, doc_id ASC
LIMIT {k}
"""


_TFN_H2 = "(tf.tf * log2(1 + av.avgdl / lut.dld))"


def dfr_inl2_sql(query: str, k: int = 10) -> str:
    """DFR InL2 oracle (DFRSimilarity + BasicModelIn.java:36 +
    AfterEffectL.java:33 + NormalizationH2.java:50, c=1):
    tfn*log2((N+1)/(df+0.5)) / (tfn+1)."""
    expr = f"({_TFN_H2} * log2((st.n + 1) / (dfs.df + 0.5)) * (1 / ({_TFN_H2} + 1)))"
    return _simbase_dfr_sql(query, k, expr)


def ib_ll_sql(query: str, k: int = 10) -> str:
    """IB LL oracle (IBSimilarity + LambdaDF.java:32 +
    DistributionLL.java:34): -ln(lambda/(tfn+lambda)),
    lambda=(df+1)/(N+1)."""
    lam = "((dfs.df + 1) / (st.n + 1))"
    expr = f"(-ln({lam} / ({_TFN_H2} + {lam})))"
    return _simbase_dfr_sql(query, k, expr)


#: AfterEffectB (AfterEffectB.java:33-36): (F+1+1)/((df+1)*(tfn+1))
_AE_B = f"((ttfs.ttf + 2) / ((dfs.df + 1) * ({_TFN_H2} + 1)))"


_INL = "({tfn} * log2((st.n + 1) / (dfs.df + 0.5)) * (1 / ({tfn} + 1)))"
_TFN_H1 = "(tf.tf * av.avgdl / lut.dld)"
_TFN_H3 = ("((tf.tf + 800 * ((ttfs.ttf + 1) / (coll.sum_ttf + 1)))"
           " / (lut.dld + 800) * 800)")
_TFN_Z = "(tf.tf * pow(av.avgdl / lut.dld, 0.3))"


def dfr_inl1_sql(query: str, k: int = 10) -> str:
    """DFR In/L/H1 oracle (NormalizationH1.java:44-46, c=1)."""
    return _simbase_dfr_sql(query, k, _INL.format(tfn=_TFN_H1))


def dfr_inl3_sql(query: str, k: int = 10) -> str:
    """DFR In/L/H3 oracle (NormalizationH3.java:51-53, mu=800)."""
    return _simbase_dfr_sql(query, k, _INL.format(tfn=_TFN_H3),
                            with_ttf=True)


def dfr_inlz_sql(query: str, k: int = 10) -> str:
    """DFR In/L/Z oracle (NormalizationZ.java:46-48, z=0.3)."""
    return _simbase_dfr_sql(query, k, _INL.format(tfn=_TFN_Z))


def dfr_gb2_sql(query: str, k: int = 10) -> str:
    """DFR GB2 oracle (BasicModelG.java:38-43 + AfterEffectB +
    NormalizationH2): lambda=(F+1)/(N+F+1);
    (log2(lambda+1) + tfn*log2((1+lambda)/lambda)) * afterEffectB."""
    lam = "((ttfs.ttf + 1) / (st.n + ttfs.ttf + 1))"
    bm = f"(log2({lam} + 1) + {_TFN_H2} * log2((1 + {lam}) / {lam}))"
    return _simbase_dfr_sql(query, k, f"({bm} * {_AE_B})", with_ttf=True)


def dfr_ifb2_sql(query: str, k: int = 10) -> str:
    """DFR IFB2 oracle (BasicModelIF.java:35-37 + AfterEffectB +
    NormalizationH2): tfn*log2(1 + (N+1)/(F+0.5)) * afterEffectB."""
    bm = f"({_TFN_H2} * log2(1 + (st.n + 1) / (ttfs.ttf + 0.5)))"
    return _simbase_dfr_sql(query, k, f"({bm} * {_AE_B})", with_ttf=True)


def dfr_ineb2_sql(query: str, k: int = 10) -> str:
    """DFR IneB2 oracle (BasicModelIne.java:35-39 + AfterEffectB +
    NormalizationH2): ne = N*(1-((N-1)/N)^F);
    tfn*log2((N+1)/(ne+0.5)) * afterEffectB."""
    ne = "(st.n * (1 - pow((st.n - 1) / st.n, ttfs.ttf)))"
    bm = f"({_TFN_H2} * log2((st.n + 1) / ({ne} + 0.5)))"
    return _simbase_dfr_sql(query, k, f"({bm} * {_AE_B})", with_ttf=True)


def ib_spl_ttf_sql(query: str, k: int = 10) -> str:
    """IB SPL/TTF oracle (DistributionSPL.java:34-39 + LambdaTTF.java:31
    + NormalizationH2): lambda=(ttf+1)/(N+1) (corpus keeps it < 1, so
    the ==1f -> 0.99f guard never fires);
    -ln((lambda^(tfn/(tfn+1)) - lambda)/(1-lambda))."""
    lam = "((ttfs.ttf + 1) / (st.n + 1))"
    expr = (f"(-ln((pow({lam}, {_TFN_H2} / ({_TFN_H2} + 1)) - {lam})"
            f" / (1 - {lam})))")
    return _simbase_dfr_sql(query, k, expr, with_ttf=True)


_AE_L = f"(1 / ({_TFN_H2} + 1))"


def _be_bm() -> str:
    """BasicModelBE (BasicModelBE.java:37-48) in SQL: F = ttf+1+tfn,
    N = F + docCount; -log2((N-1)e) + f(N+F-1, N+F-tfn-2) - f(F, F-tfn),
    f(n,m) = (m+0.5)log2(n/m) + (n-m)log2(n). Rank-only double math (the
    engine carries the float32 promotion quirks)."""
    F = f"(ttfs.ttf + 1 + {_TFN_H2})"
    N2 = f"({F} + st.n)"

    def f(n, m):
        return f"(({m} + 0.5) * log2({n} / {m}) + ({n} - {m}) * log2({n}))"

    return (f"(-log2(({N2} - 1) * exp(1))"
            f" + {f(f'({N2} + {F} - 1)', f'({N2} + {F} - {_TFN_H2} - 2)')}"
            f" - {f(F, f'({F} - {_TFN_H2})')})")


def _p_bm() -> str:
    """BasicModelP (BasicModelP.java:38-43): lambda = (F+1)/(N+1);
    tfn log2(tfn/lambda) + (lambda + 1/(12 tfn) - tfn) log2(e) +
    0.5 log2(2 pi tfn)."""
    lam = "((ttfs.ttf + 1) / (st.n + 1))"
    return (f"({_TFN_H2} * log2({_TFN_H2} / {lam})"
            f" + ({lam} + 1 / (12 * {_TFN_H2}) - {_TFN_H2}) * log2(exp(1))"
            f" + 0.5 * log2(2 * pi() * {_TFN_H2}))")


def _d_bm() -> str:
    """BasicModelD (BasicModelD.java:39-51): F = ttf+1+tfn, phi = tfn/F,
    p = 1/(N+1); (phi log2(phi/p) + (1-phi) log2((1-phi)/(1-p))) F +
    0.5 log2(1 + 2 pi tfn (1-phi))."""
    F = f"(ttfs.ttf + 1 + {_TFN_H2})"
    phi = f"({_TFN_H2} / {F})"
    p = "(1 / (st.n + 1))"
    return (f"(({phi} * log2({phi} / {p})"
            f" + (1 - {phi}) * log2((1 - {phi}) / (1 - {p}))) * {F}"
            f" + 0.5 * log2(1 + 2 * pi() * {_TFN_H2} * (1 - {phi})))")


def dfr_beb2_sql(query: str, k: int = 10) -> str:
    """DFR BE/B/H2 oracle."""
    return _simbase_dfr_sql(query, k, f"({_be_bm()} * {_AE_B})",
                            with_ttf=True)


def dfr_bel2_sql(query: str, k: int = 10) -> str:
    """DFR BE/L/H2 oracle."""
    return _simbase_dfr_sql(query, k, f"({_be_bm()} * {_AE_L})",
                            with_ttf=True)


def dfr_pb2_sql(query: str, k: int = 10) -> str:
    """DFR P/B/H2 oracle."""
    return _simbase_dfr_sql(query, k, f"({_p_bm()} * {_AE_B})",
                            with_ttf=True)


def dfr_pl2_sql(query: str, k: int = 10) -> str:
    """DFR P/L/H2 (the classic PL2) oracle."""
    return _simbase_dfr_sql(query, k, f"({_p_bm()} * {_AE_L})",
                            with_ttf=True)


def dfr_db2_sql(query: str, k: int = 10) -> str:
    """DFR D/B/H2 oracle."""
    return _simbase_dfr_sql(query, k, f"({_d_bm()} * {_AE_B})",
                            with_ttf=True)


def dfr_dl2_sql(query: str, k: int = 10) -> str:
    """DFR D/L/H2 oracle."""
    return _simbase_dfr_sql(query, k, f"({_d_bm()} * {_AE_L})",
                            with_ttf=True)


_DFI_MEASURES = {
    "chi_squared": "(((tf.tf - {e}) * (tf.tf - {e})) / {e})",
    "standardized": "((tf.tf - {e}) / sqrt({e}))",
    "saturated": "((tf.tf - {e}) / {e})",
}


def dfi_sql(query: str, k: int = 10, measure: str = "chi_squared") -> str:
    """DFI oracle (DFISimilarity.java:54-64 +
    Independence{{ChiSquared,Standardized,Saturated}}.java): expected =
    (ttf+1)*docLen/(sumTtf+1); 0 when tf <= expected, else
    log2(measure+1)."""
    e = "((ttfs.ttf + 1) * lut.dld / (coll.sum_ttf + 1))"
    m = _DFI_MEASURES[measure].format(e=e)
    expr = f"(CASE WHEN tf.tf <= {e} THEN 0 ELSE log2({m} + 1) END)"
    return _simbase_dfr_sql(query, k, expr, with_ttf=True)


def bm25_phrase_pairs_sql(pairs, k: int = 10) -> str:
    """PhraseQuery oracle for explicit (term, position-offset) pairs —
    e.g. the output of NGramPhraseQuery.rewrite, whose kept terms sit at
    non-consecutive offsets. Exact (slop=0) only."""
    pairs = list(pairs)
    if not pairs:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    pf_sql = _phrase_pf_cte(pairs, 0)
    return _PHRASE_SQL_TAIL("WITH", [t for t, _ in pairs], pf_sql, k)


def blended_term_sql(query: str, k: int = 10, tiebreak: float = 0.01) -> str:
    """BlendedTermQuery oracle (search/BlendedTermQuery.java:276-289 +
    DisjunctionMaxRewrite): every clause scores with the MAX docFreq
    across the blended terms (adjustFrequencies), combined as
    DisjunctionMax with the rewrite tiebreaker."""
    terms = sorted(set(analyze(query)))
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    terms_in = ",".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
mdf AS (SELECT CAST(max(df) AS DOUBLE) AS df FROM (
  SELECT term, count(*) AS df FROM tf GROUP BY term
)),
per_clause AS (
  SELECT tf.doc_id,
         ln(1 + (s.n - m.df + 0.5) / (m.df + 0.5)) * ({K1} + 1)
         * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS s
  FROM tf
  CROSS JOIN mdf m
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
),
scored AS (
  SELECT doc_id, max(s) + {tiebreak} * (sum(s) - max(s)) AS score
  FROM per_clause GROUP BY doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# --------------------------------------------------------------- payloads

_PAYTOK_CTES = """ptoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
),
ptok AS (
  SELECT doc_id, t[i] AS term, i - 1 AS pos,
         CASE WHEN (i - 1) % 5 = 0 THEN NULL
              ELSE CAST((((i - 1) % 7) + 1) * 0.25 AS DOUBLE) END AS pay
  FROM ptoks, unnest(generate_series(1, len(t))) AS g(i)
),
pdl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM ptok GROUP BY doc_id) c USING (doc_id)
),
pstats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM pdl
),
pnorm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut})"""


def _payload_scaffold() -> str:
    """CTEs for the payload FIELD (wspayload chain: whitespace split, no
    stop filter, no case folding) with the deterministic annotation rule
    of ops/index_access.payload_searcher_for: position p -> no payload at
    p % 5 == 0, else ((p % 7) + 1) * 0.25. The oracle re-derives tokens,
    positions, AND payloads from the raw text — no shared driver state."""
    return _PAYTOK_CTES.format(norm_lut=norm_lut_values_sql())


def _payload_idfw(terms: list[str]) -> str:
    """idfw(w): BM25 idf summed over the DISTINCT clause terms, df from
    the payload field (SpanWeight.buildSimWeight term->context map)."""
    ts = sorted(set(terms))
    terms_in = ",".join(f"'{t}'" for t in ts)
    return f"""pdf AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM ptok WHERE term IN ({terms_in}) GROUP BY term
),
idfw AS (
  SELECT sum(ln(1 + (s.n - df + 0.5) / (df + 0.5))) AS w
  FROM pdf CROSS JOIN pstats s
)"""


def _payload_matches_cte(terms: list[str], slop: int) -> str:
    """matches(doc_id, width, p0[, p1]): ordered SpanNear greedy chain
    over the payload field (1 or 2 clauses), positions kept so each
    span's leaf payloads can be joined back."""
    if len(terms) == 1:
        return (
            f"matches AS (SELECT doc_id, 0 AS width, pos AS p0 "
            f"FROM ptok WHERE term = '{terms[0]}')"
        )
    if len(terms) != 2:
        raise ValueError("the SQL payload-span oracle covers 1 or 2 clauses")
    t0, t1 = terms
    return f"""occ0 AS (SELECT doc_id, pos FROM ptok WHERE term = '{t0}'),
occ1 AS (SELECT doc_id, pos FROM ptok WHERE term = '{t1}'),
m1 AS (
  SELECT m.doc_id, m.pos AS p0,
         (SELECT min(o.pos) FROM occ1 o
          WHERE o.doc_id = m.doc_id AND o.pos > m.pos) AS p1
  FROM occ0 m
),
matches AS (
  SELECT doc_id, p1 - p0 - 1 AS width, p0, p1
  FROM m1 WHERE p1 IS NOT NULL AND p1 - p0 - 1 <= {slop}
)"""


def payload_score_sql(
    terms: list[str], function: str = "avg", *,
    include_span_score: bool = True, slop: int = 0, k: int = 10,
) -> str:
    """PayloadScoreQuery oracle (queries/payloads/PayloadScoreQuery.java +
    Min/Max/AveragePayloadFunction): ordered-span matches collect their
    leaf payloads (per SPAN, so a position shared by two spans counts
    twice — PayloadSpans.collectLeaf runs once per span per leaf); NULL
    payloads are skipped; docScore = fold or 1.0 with none seen; final
    score multiplies the span BM25 score when includeSpanScore.
    Rank-only output (engine folds in float32; ranks agree)."""
    pay_cols = {
        "avg": "CASE WHEN pn > 0 THEN psum / pn ELSE 1.0 END",
        "min": "CASE WHEN pn > 0 THEN pmin ELSE 1.0 END",
        "max": "CASE WHEN pn > 0 THEN pmax ELSE 1.0 END",
    }[function]
    leaf_selects = ["SELECT m.doc_id, p.pay FROM matches m JOIN ptok p ON p.doc_id = m.doc_id AND p.pos = m.p0"]
    if len(terms) == 2:
        leaf_selects.append(
            "SELECT m.doc_id, p.pay FROM matches m JOIN ptok p ON p.doc_id = m.doc_id AND p.pos = m.p1"
        )
    leafs = "\n    UNION ALL\n    ".join(leaf_selects)
    span_score = (
        f"i.w * ({K1} + 1) * f.pf / (f.pf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))"
    )
    final = f"({span_score}) * y.payscore" if include_span_score else "y.payscore"
    return f"""
WITH {_payload_scaffold()},
{_payload_idfw(terms)},
{_payload_matches_cte(terms, slop)},
pf AS (
  SELECT doc_id, CAST(sum(1.0 / (width + 1)) AS DOUBLE) AS pf
  FROM matches GROUP BY doc_id
),
pays AS (
  SELECT doc_id,
         sum(pay) AS psum, count(pay) AS pn,
         min(pay) AS pmin, max(pay) AS pmax
  FROM (
    {leafs}
  ) GROUP BY doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM (
  SELECT f.doc_id, {final} AS score
  FROM pf f
  JOIN (SELECT doc_id, {pay_cols} AS payscore FROM pays) y ON f.doc_id = y.doc_id
  JOIN pdl ON f.doc_id = pdl.doc_id
  JOIN pnorm_lut lut ON pdl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN pstats s
  CROSS JOIN idfw i
)
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def span_payload_check_sql(
    terms: list[str], payloads: list[float | None], *, slop: int = 0, k: int = 10,
) -> str:
    """SpanPayloadCheckQuery oracle: ordered spans survive only when each
    clause position's payload equals the expected value (NULL expected
    matches NULL payload); survivors score as the plain span query."""
    if len(terms) != len(payloads):
        raise ValueError("payloadToMatch length must equal clause count")
    conds = []
    for i, p in enumerate(payloads):
        col = f"pay{i}"
        conds.append(f"{col} IS NULL" if p is None else f"{col} = {float(p)!r}")
    if len(terms) == 1:
        annotated = f"""annotated AS (
  SELECT m.doc_id, m.width, p.pay AS pay0
  FROM matches m JOIN ptok p ON p.doc_id = m.doc_id AND p.pos = m.p0
)"""
    else:
        annotated = f"""annotated AS (
  SELECT m.doc_id, m.width, a.pay AS pay0, b.pay AS pay1
  FROM matches m
  JOIN ptok a ON a.doc_id = m.doc_id AND a.pos = m.p0
  JOIN ptok b ON b.doc_id = m.doc_id AND b.pos = m.p1
)"""
    return f"""
WITH {_payload_scaffold()},
{_payload_idfw(terms)},
{_payload_matches_cte(terms, slop)},
{annotated},
pf AS (
  SELECT doc_id, CAST(sum(1.0 / (width + 1)) AS DOUBLE) AS pf
  FROM annotated WHERE {" AND ".join(conds)} GROUP BY doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM (
  SELECT f.doc_id,
         i.w * ({K1} + 1) * f.pf / (f.pf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS score
  FROM pf f
  JOIN pdl ON f.doc_id = pdl.doc_id
  JOIN pnorm_lut lut ON pdl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN pstats s
  CROSS JOIN idfw i
)
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_complex_phrase_sql(clauses, slop: int, k: int = 10) -> str:
    """ComplexPhraseQueryParser oracle (queryparser/complexPhrase/
    ComplexPhraseQueryParser.java rewrite:253-345): an ordered SpanNear
    whose clauses are SpanOr-of-term-span alternative sets. A clause is
    ('terms', [t1, t2, ...]) for literal/paren elements or
    ('like', 'fa%') for wildcard elements — the LIKE expansion runs IN
    SQL over the corpus dictionary (SCORING_BOOLEAN_REWRITE over index
    terms), so the oracle shares no driver state with the engine. Each
    clause's sub-span positions union (one token per position); the
    ordered chain walk and weight (idf summed over the DISTINCT union of
    every clause's terms — SpanWeight's term->context map) follow
    bm25_span_near_sql."""
    occ_parts, qterm_parts = [], []
    for i, (kind, val) in enumerate(clauses):
        if kind == "terms":
            in_list = ",".join(f"'{t}'" for t in val)
            occ_parts.append(
                f"occ{i} AS (SELECT doc_id, pos FROM tokpos WHERE term IN ({in_list}))"
            )
            qterm_parts.append(
                "SELECT * FROM (VALUES "
                + ",".join(f"('{t}')" for t in val) + ") v(term)"
            )
        else:
            occ_parts.append(
                f"occ{i} AS (SELECT doc_id, pos FROM tokpos WHERE term LIKE '{val}')"
            )
            qterm_parts.append(
                f"SELECT DISTINCT term FROM tok WHERE term LIKE '{val}'"
            )
    n = len(clauses)
    qterms_union = "\n  UNION\n  ".join(qterm_parts)  # UNION dedups (SpanWeight map)
    idfw = f"""qterms(term) AS (
  {qterms_union}
),
dfs AS (
  SELECT q.term, CAST(COALESCE(c.df, 0) AS DOUBLE) AS df
  FROM qterms q LEFT JOIN (
    SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
  ) c USING (term)
),
idfw AS (
  SELECT sum(ln(1 + (s.n - df + 0.5) / (df + 0.5))) AS w
  FROM dfs CROSS JOIN stats s
)"""
    chain = ["m0 AS (SELECT doc_id, pos AS p0, pos AS prev FROM occ0)"]
    for i in range(1, n):
        chain.append(
            f"m{i} AS (SELECT m.doc_id, m.p0,\n"
            f"  (SELECT min(o.pos) FROM occ{i} o WHERE o.doc_id = m.doc_id "
            f"AND o.pos > m.prev) AS prev\n"
            f"  FROM m{i-1} m WHERE m.prev IS NOT NULL)"
        )
    chain_sql = ",\n".join(chain)
    occ_sql = ",\n".join(occ_parts)
    pf_cte = f"""{occ_sql},
{chain_sql},
matches AS (
  SELECT doc_id, prev - p0 - {n - 1} AS width
  FROM m{n - 1} WHERE prev IS NOT NULL
),
pf AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN width <= {slop} THEN 1.0 / (width + 1) END) AS DOUBLE) AS pf
  FROM matches GROUP BY doc_id
)"""
    return _positional_score_sql(pf_cte, idfw, k)


def bm25_complex_phrase_not_sql(clauses, negatives, slop: int, k: int = 10) -> str:
    """ComplexPhraseQueryParser in-phrase negation oracle
    (ComplexPhraseQueryParser.java:318-345): include = the ordered chain
    over the POSITIVE clauses at slop + numNegatives; exclude = the
    chain over ALL clauses at slop; include spans overlapping an exclude
    span ([s,e) ranges intersect) are dropped. Weight = idf over the
    DISTINCT union of every clause's terms (both sides share the
    SpanNot weight's term map)."""
    n_neg = sum(1 for x in negatives if x)
    pos_clauses = [c for c, ng in zip(clauses, negatives) if not ng]

    def _occ(i, spec, tag):
        kind, val = spec
        if kind == "terms":
            in_list = ",".join(f"'{t}'" for t in val)
            return (f"{tag}{i} AS (SELECT doc_id, pos FROM tokpos "
                    f"WHERE term IN ({in_list}))")
        return (f"{tag}{i} AS (SELECT doc_id, pos FROM tokpos "
                f"WHERE term LIKE '{val}')")

    def _chain(src_tag, n, out_tag):
        rows = [f"{out_tag}0 AS (SELECT doc_id, pos AS p0, pos AS prev FROM {src_tag}0)"]
        for i in range(1, n):
            rows.append(
                f"{out_tag}{i} AS (SELECT m.doc_id, m.p0,\n"
                f"  (SELECT min(o.pos) FROM {src_tag}{i} o WHERE o.doc_id = m.doc_id "
                f"AND o.pos > m.prev) AS prev\n"
                f"  FROM {out_tag}{i-1} m WHERE m.prev IS NOT NULL)"
            )
        return ",\n".join(rows)

    qterm_parts = []
    for kind, val in clauses:
        if kind == "terms":
            qterm_parts.append(
                "SELECT * FROM (VALUES "
                + ",".join(f"('{t}')" for t in val) + ") v(term)"
            )
        else:
            qterm_parts.append(
                f"SELECT DISTINCT term FROM tok WHERE term LIKE '{val}'"
            )
    qterms_union = "\n  UNION\n  ".join(qterm_parts)
    idfw = f"""qterms(term) AS (
  {qterms_union}
),
dfs AS (
  SELECT q.term, CAST(COALESCE(c.df, 0) AS DOUBLE) AS df
  FROM qterms q LEFT JOIN (
    SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
  ) c USING (term)
),
idfw AS (
  SELECT sum(ln(1 + (s.n - df + 0.5) / (df + 0.5))) AS w
  FROM dfs CROSS JOIN stats s
)"""
    inc_occ = ",\n".join(_occ(i, c, "iocc") for i, c in enumerate(pos_clauses))
    exc_occ = ",\n".join(_occ(i, c, "eocc") for i, c in enumerate(clauses))
    ni, ne = len(pos_clauses), len(clauses)
    pf_cte = f"""{inc_occ},
{exc_occ},
{_chain("iocc", ni, "im")},
{_chain("eocc", ne, "em")},
inc AS (
  SELECT doc_id, p0 AS s, prev + 1 AS e, prev - p0 - {ni - 1} AS width
  FROM im{ni - 1} WHERE prev IS NOT NULL
    AND prev - p0 - {ni - 1} <= {slop + n_neg}
),
exc AS (
  SELECT doc_id, p0 AS s, prev + 1 AS e
  FROM em{ne - 1} WHERE prev IS NOT NULL
    AND prev - p0 - {ne - 1} <= {slop}
),
kept AS (
  SELECT i.doc_id, i.width FROM inc i
  WHERE NOT EXISTS (
    SELECT 1 FROM exc x
    WHERE x.doc_id = i.doc_id AND x.s < i.e AND i.s < x.e
  )
),
pf AS (
  SELECT doc_id, CAST(sum(1.0 / (width + 1)) AS DOUBLE) AS pf
  FROM kept GROUP BY doc_id
)"""
    return _positional_score_sql(pf_cte, idfw, k)


def bm25_boosting_sql(match: str, context: str, boost: float, k: int = 10) -> str:
    """BoostingQuery (queries/BoostingQuery.java): match = SHOULD terms
    scored under BM25; docs also holding ANY context term have their
    score multiplied by `boost` (they still match — unlike MUST_NOT).
    Rank-only output."""
    mterms = sorted(set(analyze(match)))
    cterms = sorted(set(analyze(context)))
    mt_in = ",".join(f"'{t}'" for t in mterms)
    ct_in = ",".join(f"'{t}'" for t in cterms)
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({mt_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
per_clause AS (
  SELECT tf.doc_id,
         ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1)
         * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS s
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
),
ctx AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({ct_in})
),
scored AS (
  SELECT p.doc_id,
         sum(p.s) * (CASE WHEN c.doc_id IS NOT NULL THEN {boost} ELSE 1.0 END) AS score
  FROM per_clause p LEFT JOIN ctx c USING (doc_id)
  GROUP BY p.doc_id, c.doc_id
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_commongrams_phrase_sql(
    phrase: list[tuple[str, int]], common: list[str], k: int = 10
) -> str:
    """PhraseQuery over a commongrams-chain index (GT round 47,
    analysis/commongrams): the oracle re-derives the INDEX-side token
    stream itself — every whitespace token at its position plus a
    '_'-joined bigram STACKED at the previous token's position whenever
    either side is a common word (CommonGramsFilter.java:100-124) — so
    dl counts unigrams AND grams exactly like the engine's POSINC build
    path, df/idf come from the gram terms' own statistics, and the
    phrase aligns by the stacked positions.  `phrase` is the QUERY-side
    CommonGramsQueryFilter rewrite, written out literally by the gate
    spec (a rewrite bug in the engine cannot cancel out)."""
    common_in = ",".join(f"'{w}'" for w in sorted(common))
    t0, off0 = phrase[0]
    joins = []
    for i, (t, off) in enumerate(phrase[1:], start=1):
        joins.append(
            f"JOIN tokpos p{i} ON p{i}.doc_id = p0.doc_id "
            f"AND p{i}.pos = p0.pos + {off - off0} AND p{i}.term = '{t}'"
        )
    join_sql = "\n  ".join(joins)
    counts: dict[str, int] = {}
    for t, _off in phrase:
        counts[t] = counts.get(t, 0) + 1
    qvals = ",".join(f"('{t}',{float(m)!r})" for t, m in sorted(counts.items()))
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT doc_id, t[i] AS term, i AS pos,
         CASE WHEN i > 1 THEN t[i-1] END AS prev
  FROM base, unnest(generate_series(1, len(t))) AS g(i)
),
tokpos AS (
  SELECT doc_id, term, pos FROM uni
  UNION ALL
  SELECT doc_id, prev || '_' || term AS term, pos - 1 AS pos
  FROM uni
  WHERE prev IS NOT NULL AND (term IN ({common_in}) OR prev IN ({common_in}))
),
tok AS (SELECT doc_id, term FROM tokpos),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
qterms(term, mult) AS (SELECT * FROM (VALUES {qvals}) v(a, b)),
dfs AS (
  SELECT q.term, q.mult, CAST(COALESCE(c.df, 0) AS DOUBLE) AS df
  FROM qterms q LEFT JOIN (
    SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
  ) c USING (term)
),
idfsum AS (
  SELECT sum(mult * ln(1 + (s.n - df + 0.5) / (df + 0.5))) AS w
  FROM dfs CROSS JOIN stats s
),
pf AS (
  SELECT p0.doc_id, CAST(count(DISTINCT p0.pos) AS DOUBLE) AS pf
  FROM tokpos p0
  {join_sql}
  WHERE p0.term = '{t0}'
  GROUP BY p0.doc_id
),
scored AS (
  SELECT pf.doc_id,
         i.w * ({K1} + 1) * pf.pf
         / (pf.pf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS score
  FROM pf
  JOIN dl ON pf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  CROSS JOIN idfsum i
  WHERE pf.pf > 0
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def constant_wildcard_sql(like_pattern: str, k: int = 10, boost: float = 1.0) -> str:
    """CONSTANT_SCORE execution of a wildcard query (GT round 6 pins
    score == float32(boost) per matching doc) — the oracle for the
    reversed-wildcard index variant: the ENGINE answers from the
    reversed term dictionary by a sargable prefix scan; the oracle
    recomputes membership directly from the raw text, so the reversal
    plumbing cannot cancel out. Equal scores tie-break doc ASC."""
    return f"""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id ASC) AS INTEGER) AS rank
FROM (
  SELECT DISTINCT doc_id
  FROM documents d, unnest(string_split(lower(d.text), ' ')) AS t(tok)
  WHERE t.tok LIKE '{like_pattern}'
)
ORDER BY doc_id ASC
LIMIT {k}
"""


def join_util_sql(query: str, mode: str, k: int = 10,
                  key_col: str = "source") -> str:
    """Query-time scored join (JoinUtil.createJoinQuery ->
    TermsWithScoreCollector + TermsIncludingScoreQuery) over
    documents(doc_id, text, source): score every doc matching the OR
    query, aggregate per `key_col` (max/min/total/avg; none = constant
    1), then every doc whose key was collected scores its key's
    aggregate. Rank-only contract (the aggregation runs in DOUBLE here
    vs the engine's collector-order float32 fold; the float32 chain is
    pinned against the compiled JoinUtil in GT round 68)."""
    terms = sorted(set(analyze(query)))
    if not terms:
        return ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
                "CAST(NULL AS INTEGER) AS rank WHERE 1=0")
    terms_in = ",".join(f"'{t}'" for t in terms)
    agg = {
        "none": "1.0",
        "max": "max(score)",
        "min": "min(score)",
        "total": "sum(score)",
        "avg": "sum(score) / count(*)",
    }[mode]
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.tok AS term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok GROUP BY doc_id) c USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1)
           * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats s
  GROUP BY tf.doc_id
),
agg AS (
  SELECT d.{key_col} AS jkey, {agg} AS jscore
  FROM scored s JOIN documents d USING (doc_id)
  GROUP BY d.{key_col}
)
SELECT d.doc_id,
       CAST(row_number() OVER (ORDER BY a.jscore DESC, d.doc_id ASC) AS INTEGER) AS rank
FROM documents d JOIN agg a ON d.{key_col} = a.jkey
ORDER BY a.jscore DESC, d.doc_id ASC
LIMIT {k}
"""


def bm25_dismax_qf_sql(query: str, k: int = 10, tiebreak: float = 0.3,
                       boosts: dict | None = None) -> str:
    """Multi-field DisMax qf oracle (r3 VERDICT #8): two fields — body
    `text` and derived `title` (its first five whitespace words,
    derived identically by the engine's multifield_searcher_for) — each
    with its OWN per-field statistics (docCount/avgdl/df/norms over the
    docs that HAVE the field, Lucene's getDocCount semantics). Per
    analyzed term, the inner DisjunctionMax over the boosted per-field
    clause scores (max + tiebreak*(sum-max)); outer SHOULD-sum across
    terms. Rank-only, ranked over the float32-cast score."""
    boosts = boosts or {}
    terms = sorted(set(analyze(query)))
    if not terms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rank WHERE 1=0"
    terms_in = ",".join(f"'{t}'" for t in terms)
    b_text = float(boosts.get("text", 1.0))
    b_title = float(boosts.get("title", 1.0))

    def field_ctes(fld: str, src_expr: str) -> str:
        return f"""
docs_{fld} AS (
  SELECT doc_id, {src_expr} AS fval FROM documents WHERE {src_expr} <> ''
),
tok_{fld} AS (
  SELECT d.doc_id, t.tok AS term
  FROM docs_{fld} d, unnest(string_split(d.fval, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok NOT IN {stoplist_sql()}
),
dl_{fld} AS (
  SELECT d.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM docs_{fld} d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM tok_{fld} GROUP BY doc_id) c USING (doc_id)
),
stats_{fld} AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl_{fld}
),
tf_{fld} AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok_{fld} WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfs_{fld} AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf_{fld} GROUP BY term),
clause_{fld} AS (
  SELECT tf.doc_id, tf.term,
         {{boost}} * ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5)) * ({K1} + 1)
         * tf.tf / (tf.tf + {K1} * ((1 - {B}) + {B} * lut.dnorm / s.avgdl)) AS s
  FROM tf_{fld} tf
  JOIN dfs_{fld} dfs USING (term)
  JOIN dl_{fld} dl ON tf.doc_id = dl.doc_id
  JOIN norm_lut lut ON dl.dl BETWEEN lut.dl_lo AND lut.dl_hi
  CROSS JOIN stats_{fld} s
)"""

    title_expr = "array_to_string((string_split(text, ' '))[1:5], ' ')"
    return f"""
WITH norm_lut(dl_lo, dl_hi, dnorm) AS (SELECT * FROM {norm_lut_values_sql()}),
{field_ctes("text", "text").format(boost=b_text).strip()},
{field_ctes("title", title_expr).format(boost=b_title).strip()},
all_clauses AS (
  SELECT doc_id, term, s FROM clause_text
  UNION ALL
  SELECT doc_id, term, s FROM clause_title
),
per_term AS (
  SELECT doc_id, term,
         max(s) + {tiebreak} * (sum(s) - max(s)) AS s
  FROM all_clauses GROUP BY doc_id, term
),
scored AS (SELECT doc_id, sum(s) AS score FROM per_term GROUP BY doc_id)
SELECT doc_id, CAST(row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY CAST(score AS REAL) DESC, doc_id ASC
LIMIT {k}
"""
