"""Validate sloppy/exact phrase scoring against the COMPILED reference.

tools/lucene_ground_truth.py builds /root/reference's own lucene-core
with javac and scores each case with the real SloppyPhraseScorer /
ExactPhraseScorer (freq extracted from IndexSearcher.explain). This is
the strongest parity evidence available: not a port, not a
transliteration — the reference binary itself.

Covers the full clause-shape matrix over seeded random docs:
  * distinct-term sloppy phrases (the simple queue path)
  * single-term repeats ("A A A"~N, initComplex/advanceRpts)
  * multi-term repeats (overlapping alternative sets, hasMultiTermRpts)
  * exact MultiPhrase alignment (slop=0 union path)

Skipped when javac or the reference tree is unavailable.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from lucene_solr_spark.search.sloppy import sloppy_freq

gt = pytest.importorskip("tools.lucene_ground_truth")

HAVE_GT = gt.build()
pytestmark = pytest.mark.skipif(
    not HAVE_GT, reason="javac / reference lucene-core unavailable"
)

ALPHABET = ["a", "b", "c", "d"]


def _python_freq(doc: str, mphrase: list[tuple[int, tuple[str, ...]]], slop: int):
    positions: dict = {}
    for i, t in enumerate(doc.split()):
        positions.setdefault(t, []).append(i)
    plists, offs, tsets = [], [], []
    for off, alts in mphrase:
        merged = sorted(p for t in alts for p in positions.get(t, []))
        plists.append(merged)
        offs.append(off)
        tsets.append(tuple(alts))
    if any(not p for p in plists):
        return np.float32(0.0)
    if slop == 0:
        # exact alignment: count of aligned lead keys over the unions
        sets = [{p - off for p in pl} for pl, off in zip(plists, offs)]
        match = sets[0]
        for s_ in sets[1:]:
            match &= s_
        return np.float32(len(match))
    return sloppy_freq(plists, offs, slop, terms=tsets)


def _random_cases(seed: int, n: int):
    rng = random.Random(seed)
    cases = []
    for _ in range(n):
        shape = rng.choice(["distinct", "rpt_single", "rpt_multi", "exact"])
        n_pos = rng.randint(2, 4)
        mphrase = []
        off = 0
        for _ in range(n_pos):
            if shape == "distinct":
                # sampled without replacement -> no repeats
                pass
            if shape == "rpt_single":
                alts = (rng.choice(ALPHABET),)
            elif shape == "rpt_multi":
                depth = rng.randint(1, 3)
                alts = tuple(sorted(rng.sample(ALPHABET, depth)))
            else:
                depth = rng.randint(1, 2)
                alts = tuple(sorted(rng.sample(ALPHABET, depth)))
            mphrase.append((off, alts))
            off += rng.randint(1, 3)
        if shape == "distinct":
            terms = rng.sample(ALPHABET, n_pos)
            mphrase = [
                (sum(rng.randint(1, 3) for _ in range(i)), (t,))
                for i, t in enumerate(terms)
            ]
        doc = " ".join(
            rng.choice(ALPHABET + ["x"]) for _ in range(rng.randint(1, 24))
        )
        slop = 0 if shape == "exact" else rng.randint(0, 6)
        cases.append((slop, mphrase, doc))
    return cases


def test_phrase_freq_matches_compiled_reference():
    cases = _random_cases(seed=20260818, n=400)
    # fixed regressions: the fork's ACTUAL behavior for the repeats init
    # (its own testMultiSloppyWithRepeats expectation predates this
    # code state; the compiled scorer returns no hit) + javadoc examples
    cases.append((6, [(0, ("a", "b")), (1, ("a",))], "a b c d e f g h i k"))
    cases.append((2, [(0, ("a",)), (1, ("b",))], "x a b a y"))
    lines = [gt.case_line(slop, mp, doc) for slop, mp, doc in cases]
    expected = gt.run_cases(lines)
    assert len(expected) == len(cases)
    n_checked = 0
    for (slop, mp, doc), exp in zip(cases, expected):
        got = _python_freq(doc, mp, slop)
        want = np.float32(float(exp))
        assert got == want, (slop, mp, doc, float(got), float(want))
        n_checked += 1
    assert n_checked == len(cases)


def test_fork_repeats_init_regression_pinned():
    """The fork's SloppyPhraseScorer exhausts a single-occurrence repeat
    clause during multi-term group init (advanceRepeatGroups advances
    the lesser = the higher-offset pp) -> no match. Pin OUR engine to
    the fork's actual behavior, verified against the compiled binary."""
    (exp,) = gt.run_cases(
        [gt.case_line(6, [(0, ("a", "b")), (1, ("a",))], "a b c d e f g h i k")]
    )
    assert float(exp) == 0.0
    got = _python_freq("a b c d e f g h i k", [(0, ("a", "b")), (1, ("a",))], 6)
    assert got == np.float32(0.0)


VOCAB = ["aa", "bb", "cc", "dd", "xx"]  # stopword-free, chain-invariant


def test_topk_matches_compiled_reference():
    """Control-oracle top-10 (docids AND float32 scores) == the compiled
    reference's IndexSearcher over random corpora and the full boolean/
    phrase query mix. The Spark engine is rank+score-identical to the
    control oracle elsewhere in the suite, so this transitively pins the
    engine to the reference binary."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import (
        build_oracle_index, oracle_topk, oracle_topk_spec,
    )

    rng = random.Random(20260818)
    for corpus_round in range(4):
        n_docs = rng.randint(5, 30)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))

        queries = []  # (spec line, python callable)
        for _ in range(30):
            kind = rng.choice(["term", "or", "and", "msm", "phrase", "mphrase"])
            if kind == "term":
                t = rng.choice(VOCAB)
                queries.append((f"TERM {t}",
                                lambda t=t: oracle_topk(idx, t, k=10, mode="or")))
            elif kind in ("or", "and"):
                ts = [rng.choice(VOCAB) for _ in range(rng.randint(2, 4))]
                queries.append((f"{kind.upper()} {' '.join(ts)}",
                                lambda ts=ts, kind=kind: oracle_topk(
                                    idx, " ".join(ts), k=10, mode=kind)))
            elif kind == "msm":
                ts = rng.sample(VOCAB, rng.randint(2, 4))
                n = rng.randint(1, len(ts))
                queries.append((f"MSM {n} {' '.join(ts)}",
                                lambda ts=ts, n=n: oracle_topk_spec(
                                    idx, BooleanSpec(should=tuple(ts),
                                                     min_should_match=n), k=10)))
            elif kind == "phrase":
                ts = [rng.choice(VOCAB) for _ in range(rng.randint(2, 3))]
                slop = rng.randint(0, 4)
                pairs = tuple((t, i) for i, t in enumerate(ts))
                queries.append((f"PHRASE {slop} {' '.join(ts)}",
                                lambda pairs=pairs, slop=slop: oracle_topk_spec(
                                    idx, BooleanSpec(phrases=((pairs, slop, "+", 1.0),)),
                                    k=10)))
            else:
                n_pos = rng.randint(2, 3)
                mp, off = [], 0
                for _ in range(n_pos):
                    alts = tuple(sorted(rng.sample(VOCAB, rng.randint(1, 2))))
                    mp.append((alts, off))
                    off += 1
                slop = rng.randint(0, 4)
                spec_str = " ".join(f"{o}:{','.join(a)}" for a, o in mp)
                queries.append((f"MPHRASE {slop} {spec_str}",
                                lambda mp=mp, slop=slop: oracle_topk_spec(
                                    idx, BooleanSpec(phrases=((tuple(mp), slop, "+", 1.0),)),
                                    k=10)))

        expected = gt.run_topk(docs, [q for q, _fn in queries])
        assert len(expected) == len(queries)
        for (qline, fn), exp in zip(queries, expected):
            got = fn()
            exp_pairs = [(d, np.float32(float(s))) for d, s in exp]
            got_pairs = [(int(d), np.float32(s)) for d, s in got]
            assert got_pairs == exp_pairs, (corpus_round, qline, got_pairs, exp_pairs)


def _assert_topk_equal(got, exp, ctx, ulp_tolerant_scores=False):
    exp_pairs = [(d, np.float32(float(s))) for d, s in exp]
    got_pairs = [(int(d), np.float32(s)) for d, s in got]
    if not ulp_tolerant_scores:
        assert got_pairs == exp_pairs, (*ctx, got_pairs, exp_pairs)
        return
    # docids/ranks exact; scores within 1 float32 ULP — DisjunctionMax
    # sums sub-scores in float32 in DisiPriorityQueue.topList's internal
    # HEAP order (DisjunctionMaxScorer.java:50-59), which is not part of
    # the query semantics; our defined clause-order accumulation can land
    # on the neighboring float
    assert [d for d, _ in got_pairs] == [d for d, _ in exp_pairs], (
        *ctx, got_pairs, exp_pairs)
    for (d, gs), (_d, es) in zip(got_pairs, exp_pairs):
        if gs != es:
            # bound: one rounding step per float32 add in the clause sum
            ulp = np.float32(np.spacing(gs))
            assert abs(float(gs) - float(es)) <= 4.0 * float(ulp), (
                *ctx, d, float(gs), float(es))


def test_topk_not_dismax_spans_match_compiled_reference():
    """Ground-truth round 2: MUST_NOT, DisjunctionMax (tiebreak sweep),
    SpanNear ordered/unordered, SpanFirst — control-oracle top-10 docids
    + float32 scores == the compiled reference."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(40206)
    for corpus_round in range(4):
        n_docs = rng.randint(5, 30)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))

        queries = []
        for _ in range(30):
            kind = rng.choice(["not", "dismax", "span", "spanfirst"])
            if kind == "not":
                ns = rng.randint(1, 3)
                s_ts = [rng.choice(VOCAB) for _ in range(ns)]
                m_ts = rng.sample([v for v in VOCAB if v not in s_ts],
                                  rng.randint(1, 2))
                queries.append((
                    f"NOT {ns} {' '.join(s_ts)} {' '.join(m_ts)}",
                    lambda s_ts=s_ts, m_ts=m_ts: oracle_topk_spec(
                        idx, BooleanSpec(should=tuple(s_ts),
                                         must_not=tuple(m_ts)), k=10),
                ))
            elif kind == "dismax":
                ts = rng.sample(VOCAB, rng.randint(2, 4))
                tie = rng.choice([0.0, 0.3, 1.0])
                queries.append((
                    f"DISMAX {tie} {' '.join(ts)}",
                    lambda ts=ts, tie=tie: oracle_topk_spec(
                        idx, BooleanSpec(should=tuple(ts), dismax=True,
                                         tiebreak=tie), k=10),
                ))
            elif kind == "span":
                ts = rng.sample(VOCAB, rng.randint(2, 3))
                slop = rng.randint(0, 4)
                ordered = rng.choice([True, False])
                if not ordered and len(ts) > 2:
                    ts = ts[:2]  # engine's unordered walk covers 2 clauses
                queries.append((
                    f"SPANNEAR {slop} {1 if ordered else 0} {' '.join(ts)}",
                    lambda ts=ts, slop=slop, ordered=ordered: oracle_topk_spec(
                        idx, BooleanSpec(spans=(("near", tuple(ts), slop,
                                                 ordered),)), k=10),
                ))
            else:
                t = rng.choice(VOCAB)
                end = rng.randint(1, 6)
                queries.append((
                    f"SPANFIRST {end} {t}",
                    lambda t=t, end=end: oracle_topk_spec(
                        idx, BooleanSpec(spans=(("range", t, 0, end),)), k=10),
                ))

        expected = gt.run_topk(docs, [q for q, _fn in queries])
        assert len(expected) == len(queries)
        for (qline, fn), exp in zip(queries, expected):
            got = fn()
            dismax_tie = qline.startswith("DISMAX") and float(qline.split()[1]) > 0
            _assert_topk_equal(got, exp, (corpus_round, qline),
                               ulp_tolerant_scores=dismax_tie)


def _classic_topk(idx, terms: list[str], k: int = 10):
    """ClassicSimilarity (TF-IDF) SHOULD-sum control: per clause
    sqrt(tf) * (boost*idf^2) * decodedLengthNorm, double clause sum
    (engine.py's classic path building blocks)."""
    from lucene_solr_spark.search.bm25 import (
        CLASSIC_DECODE, classic_idf_f32, classic_query_norm,
        classic_weight_value, combine_scores,
    )

    cand = set()
    for t in set(terms):
        cand |= set(idx.postings.get(t, {}))
    if not cand:
        return []
    docs = np.array(sorted(cand), dtype=np.int64)
    nb = np.array([idx.norm_bytes[d] for d in docs], dtype=np.uint8)
    qn = classic_query_norm(
        (classic_idf_f32(len(idx.postings.get(t, {})), idx.doc_count), 1.0)
        for t in terms
    )
    per_clause = []
    overlap = np.zeros(docs.size, dtype=np.int32)
    for t in terms:  # duplicates = duplicate clauses
        post = idx.postings.get(t, {})
        tf = np.array([post.get(int(d), 0) for d in docs], dtype=np.float32)
        wv = classic_weight_value(len(post), idx.doc_count, query_norm=float(qn))
        s = (np.sqrt(tf) * wv * CLASSIC_DECODE[nb]).astype(np.float32)
        s[tf == 0] = np.float32(0.0)
        overlap += (tf > 0).astype(np.int32)
        per_clause.append(s)
    scores = combine_scores(per_clause)
    if len(terms) > 1:
        # coord: (float)score * coord[freq] (DisjunctionSumScorer:46,
        # ClassicSimilarity.coord = overlap/maxOverlap)
        coords = (np.arange(len(terms) + 1, dtype=np.float32)
                  / np.float32(len(terms))).astype(np.float32)
        scores = (scores * coords[overlap]).astype(np.float32)
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return [(int(docs[i]), np.float32(scores[i])) for i in order]


@pytest.mark.parametrize(
    "sim", ["classic", "lm_dirichlet", "lm_jelinek_mercer", "dfr_inl2", "ib_ll",
            "dfr_gb2", "dfr_ifb2", "dfr_ineb2", "ib_spl_ttf",
            "dfr_inl1", "dfr_inl3", "dfr_inlz",
            "dfr_beb2", "dfr_bel2", "dfr_pb2", "dfr_pl2",
            "dfr_db2", "dfr_dl2",
            "dfi_chi_squared", "dfi_standardized", "dfi_saturated",
            "multi_bm25_classic"]
)
def test_similarities_match_compiled_reference(sim):
    """Every non-BM25 similarity model through the setSimilarity plug
    point == the compiled reference binary (same model at index time
    for norms and at search time for scoring), docids + float32 scores,
    TERM and OR over random corpora."""
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_lm_topk

    rng = random.Random(hash(sim) & 0xFFFF)
    for corpus_round in range(3):
        n_docs = rng.randint(5, 25)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        queries, fns = [], []
        for _ in range(15):
            if rng.random() < 0.4:
                ts = [rng.choice(VOCAB)]
                queries.append(f"TERM {ts[0]}")
            else:
                ts = [rng.choice(VOCAB) for _ in range(rng.randint(2, 4))]
                queries.append(f"OR {' '.join(ts)}")
            if sim == "classic":
                fns.append(lambda ts=ts: _classic_topk(idx, ts, k=10))
            else:
                fns.append(lambda ts=ts: oracle_lm_topk(
                    idx, " ".join(ts), sim, k=10))
        expected = gt.run_topk(docs, queries, sim=sim)
        assert len(expected) == len(queries)
        for qline, fn, exp in zip(queries, fns, expected):
            _assert_topk_equal(fn(), exp, (sim, corpus_round, qline))


def test_sweetspot_matches_compiled_reference():
    """SweetSpotSimilarity (lucene/misc) through BOTH halves of the plug
    point: index-time norms written by the plateau computeLengthNorm
    (setLengthNormFactors(3,10,0.5)) and search-time baselineTf scoring
    (setBaselineTfFactors(1.5,2)) — the compiled binary indexes and
    searches with the same SweetSpot instance; our control oracle builds
    its index with norm='sweetspot' and must match docids + float32
    scores bit-for-bit (TERM and OR, coord + queryNorm included)."""
    from lucene_solr_spark.search.oracle import (
        build_oracle_index,
        oracle_sweetspot_topk,
    )

    rng = random.Random(0x55E7)
    for corpus_round in range(3):
        n_docs = rng.randint(5, 25)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)), norm="sweetspot")
        queries, fns = [], []
        for _ in range(15):
            if rng.random() < 0.4:
                ts = [rng.choice(VOCAB)]
                queries.append(f"TERM {ts[0]}")
            else:
                ts = [rng.choice(VOCAB) for _ in range(rng.randint(2, 4))]
                queries.append(f"OR {' '.join(ts)}")
            fns.append(lambda ts=ts: oracle_sweetspot_topk(idx, " ".join(ts), k=10))
        expected = gt.run_topk(docs, queries, sim="sweetspot")
        assert len(expected) == len(queries)
        for qline, fn, exp in zip(queries, fns, expected):
            _assert_topk_equal(fn(), exp, ("sweetspot", corpus_round, qline))


def test_boosts_match_compiled_reference():
    """BoostQuery over terms (SHOULD-combined) and over a PhraseQuery:
    weight = (float)(idf*boost) BEFORE the (k1+1) multiply
    (BM25Stats.normalize + BM25DocScorer), non-dyadic boosts included so
    a wrong multiply order or a float64 shortcut shows up."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(77013)
    boost_pool = [0.3, 1.5, 2.0, 2.5, 7.3]
    for corpus_round in range(3):
        n_docs = rng.randint(5, 25)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        queries, fns = [], []
        for _ in range(15):
            if rng.random() < 0.5:
                ts = rng.sample(VOCAB, rng.randint(1, 3))
                bs = [rng.choice(boost_pool) for _ in ts]
                spec_str = " ".join(f"{t}:{b}" for t, b in zip(ts, bs))
                queries.append(f"BOOST {spec_str}")
                fns.append(lambda ts=ts, bs=bs: oracle_topk_spec(
                    idx, BooleanSpec(should=tuple(ts),
                                     boosts=tuple(zip(ts, bs))), k=10))
            else:
                ts = [rng.choice(VOCAB) for _ in range(rng.randint(2, 3))]
                boost = rng.choice(boost_pool)
                slop = rng.randint(0, 3)
                queries.append(f"BPHRASE {boost} {slop} {' '.join(ts)}")
                pairs = tuple((t, i) for i, t in enumerate(ts))
                fns.append(lambda pairs=pairs, slop=slop, boost=boost:
                           oracle_topk_spec(idx, BooleanSpec(
                               phrases=((pairs, slop, "+", boost),)), k=10))
        expected = gt.run_topk(docs, queries)
        assert len(expected) == len(queries)
        for qline, fn, exp in zip(queries, fns, expected):
            _assert_topk_equal(fn(), exp, (corpus_round, qline))


def test_queryparser_matches_compiled_reference():
    """The classic-parser port vs the REAL QueryParser.jj grammar: raw
    query strings parsed by the compiled reference's QueryParser and
    searched, vs our parse() -> BooleanSpec -> control oracle. Covers
    infix AND/OR/NOT, +/- prefixes, one-level parens, phrases with slop,
    and term/phrase boosts (expansion syntax — wildcards/ranges/fuzzy —
    needs a term dictionary and is exercised in the engine tests)."""
    from lucene_solr_spark.search import queryparser as qp
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    class _NoExpand:
        def expand_terms(self, **kw):  # pragma: no cover
            raise AssertionError("expansion syntax not used in this test")

    queries = [
        "aa bb",
        "aa AND bb",
        "aa OR bb cc",
        "aa NOT bb",
        "+aa -bb cc",
        "(aa OR cc) AND bb",
        "bb -(aa cc)",
        '"aa bb"',
        '"aa bb"~2',
        '"aa bb"~2^1.5 cc',
        "aa^2.5 bb^0.3 cc",
        '"cc dd" AND aa',
        'xx "bb cc"~1 -dd',
        "aa AND bb AND cc",
        "aa OR bb AND cc",   # running-modifier quirk: AND binds the pair
        "NOT aa bb",
        "+aa +bb cc dd",
        '"aa aa"~3',         # repeated-term phrase through the parser
    ]
    rng = random.Random(91511)
    for corpus_round in range(3):
        n_docs = rng.randint(8, 30)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        expected = gt.run_parser(docs, queries)
        assert len(expected) == len(queries)
        for qstr, exp in zip(queries, expected):
            spec = qp.to_spec(_NoExpand(), qp.parse(qstr))
            got = oracle_topk_spec(idx, spec, k=10)
            _assert_topk_equal(got, exp, (corpus_round, qstr))


class _DictSearcher:
    """Term-dictionary-only stand-in for IndexSearcher: just enough
    surface for queryparser.to_spec's rewrite step (expand_terms for
    wildcard/range, fuzzy_dictionary for FuzzyQuery's blended rewrite),
    backed by an OracleIndex."""

    def __init__(self, idx):
        self.idx = idx
        self.doc_count = idx.doc_count

    def expand_terms(self, *, like=None, lower=None, upper=None,
                     include_lower=True, include_upper=True,
                     fuzzy=None, max_edits=2, max_terms=None):
        import re as _re

        terms = sorted(self.idx.postings)
        if like is not None:
            rx = "".join(
                ".*" if c == "%" else "." if c == "_" else _re.escape(c)
                for c in like
            )
            terms = [t for t in terms if _re.fullmatch(rx, t)]
        if lower is not None:
            terms = [t for t in terms if (t >= lower if include_lower else t > lower)]
        if upper is not None:
            terms = [t for t in terms if (t <= upper if include_upper else t < upper)]
        if max_terms is not None:
            terms = terms[:max_terms]
        return terms

    def fuzzy_dictionary(self, base, max_edits=2):
        return [(t, len(self.idx.postings[t])) for t in sorted(self.idx.postings)]


def test_parser_expansions_match_compiled_reference():
    """Ground-truth round 6 — the parser's MULTI-TERM rewrites vs the
    compiled reference: wildcard/prefix/range (CONSTANT_SCORE_REWRITE,
    QueryParserBase.java:67) and fuzzy (FuzzyQuery's
    TopTermsBlendedFreqScoringRewrite(50): blended max-df, per-term
    similarity boosts, transposition-primitive edit distance). Raw query
    strings through the real QueryParser + IndexSearcher, bit-for-bit
    against our parse() -> to_spec() -> control oracle."""
    from lucene_solr_spark.search import queryparser as qp
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    # 3-4 char vocab: wildcard families, a transposition pair (abc/acb),
    # and abcx ("cax"~2 separates unrestricted Damerau-Levenshtein ed=2
    # from optimal-string-alignment ed=3 while similarity stays > 0)
    fvocab = ["abc", "abd", "acb", "bac", "abcd", "bbc", "cab", "abcx", "xyz", "xya"]
    queries = [
        "ab*",
        "a?c",
        "ab* xyz",
        "+ab* xyz",
        "xyz AND ab*",
        "-ab* xyz",
        "ab*^2.5 xyz",
        "a*c^0.3 xyz",
        "[abc TO bbc] xyz",
        "{abc TO cab} xyz",
        "[bac TO *]",
        "xyz AND [abc TO bbc]",
        "abc~1",
        "abc~2",
        "abc~1 xyz",
        "abc~2^2.5 xyz",
        "acb~1",
        "cax~2",
        "abc~1 AND xyz",
        "-abc~1 xya",
        "xyz~",
        # multi-term clauses INSIDE paren groups: the rewrite rides the
        # MultiTermQuery, so the nested BooleanQuery holds constant-score
        # wildcard/range members and blended fuzzy members next to
        # scored terms (typed BooleanSpec.groups members)
        "(ab* xyz) AND xya",
        "(ab* xya) xyz",
        "xyz AND (abc ab*)",
        "-(ab* cab) xyz",
        "+(a?c xyz) bbc",
        "([abc TO bac] xyz) AND cab",
        "(abc~1 xyz) AND bbc",
        "(ab* abc~1) xyz",
        "(ab* [bac TO *]) xyz",
    ]
    rng = random.Random(61617)
    for corpus_round in range(3):
        n_docs = rng.randint(8, 30)
        docs = [
            " ".join(rng.choice(fvocab) for _ in range(rng.randint(1, 15)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        expected = gt.run_parser(docs, queries)
        assert len(expected) == len(queries)
        s = _DictSearcher(idx)
        for qstr, exp in zip(queries, expected):
            spec = qp.to_spec(s, qp.parse(qstr))
            got = oracle_topk_spec(idx, spec, k=10)
            _assert_topk_equal(got, exp, (corpus_round, qstr))


def test_payload_queries_match_compiled_reference():
    """Ground-truth round 7 — PayloadScoreQuery / SpanPayloadCheckQuery
    (lucene/queries/payloads/) vs the compiled reference: docs indexed
    through the payload chain (whitespace + DelimitedPayloadTokenFilter
    float semantics, BM25 computePayloadFactor = decodeFloat), the full
    function x includeSpanScore x span-shape matrix, top-10 docids +
    float32 scores bit-for-bit against our payload control oracle."""
    from lucene_solr_spark.search.payloads import (
        PayloadOracleIndex,
        payload_topk,
        span_payload_check_topk,
    )

    vocab = ["a", "b", "c", "d"]
    pays = [None, 0.25, 0.5, 1.5, 2.0, 4.0, 8.0, 0.0]
    rng = random.Random(70707)
    for corpus_round in range(3):
        n_docs = rng.randint(6, 25)
        docs = []
        for _ in range(n_docs):
            toks = []
            for _ in range(rng.randint(2, 18)):
                t = rng.choice(vocab)
                p = rng.choice(pays)
                toks.append(t if p is None else f"{t}|{p}")
            docs.append(" ".join(toks))
        idx = PayloadOracleIndex(list(enumerate(docs)))

        cases = []  # (binary query line, oracle callable)
        for fn in ("avg", "min", "max"):
            for inc in (1, 0):
                cases.append((
                    f"PAYSCORE {fn} {inc} 0 1 a",
                    lambda fn=fn, inc=inc: payload_topk(
                        idx, ["a"], fn, include_span_score=bool(inc)),
                ))
                for slop in (0, 2):
                    for ord_ in (1, 0):
                        cases.append((
                            f"PAYSCORE {fn} {inc} {slop} {ord_} a b",
                            lambda fn=fn, inc=inc, slop=slop, ord_=ord_:
                            payload_topk(
                                idx, ["a", "b"], fn,
                                include_span_score=bool(inc), slop=slop,
                                ordered=bool(ord_)),
                        ))
                cases.append((
                    f"PAYSCORE {fn} {inc} 3 1 a b c",
                    lambda fn=fn, inc=inc: payload_topk(
                        idx, ["a", "b", "c"], fn,
                        include_span_score=bool(inc), slop=3),
                ))
                # REPEATED clauses unordered: same-position cell ties —
                # NearSpansUnordered's PriorityQueue advance order (GT
                # round 25's cells walk, here through the payload path)
                cases.append((
                    f"PAYSCORE {fn} {inc} 1 0 a a",
                    lambda fn=fn, inc=inc: payload_topk(
                        idx, ["a", "a"], fn,
                        include_span_score=bool(inc), slop=1, ordered=False),
                ))
                cases.append((
                    f"PAYSCORE {fn} {inc} 3 0 a b a",
                    lambda fn=fn, inc=inc: payload_topk(
                        idx, ["a", "b", "a"], fn,
                        include_span_score=bool(inc), slop=3, ordered=False),
                ))
        for spec_q, spec_p in (
            ("a:0.25", (["a"], [0.25])),
            ("a:null", (["a"], [None])),
            ("a:0.5 b:1.5", (["a", "b"], [0.5, 1.5])),
            ("a:0.25 b:null", (["a", "b"], [0.25, None])),
        ):
            cases.append((
                f"PAYCHECK 1 {spec_q}",
                lambda spec_p=spec_p: span_payload_check_topk(
                    idx, spec_p[0], spec_p[1], slop=1),
            ))

        expected = gt.run_payload(docs, [q for q, _ in cases])
        assert len(expected) == len(cases)
        for (qline, fn_call), exp in zip(cases, expected):
            _assert_topk_equal(fn_call(), exp, (corpus_round, qline))


def test_common_terms_query_matches_compiled_reference():
    """Ground-truth round 8 — CommonTermsQuery (lucene/queries/
    CommonTermsQuery.java, SHOULD/SHOULD constructor) vs the compiled
    reference: the df split (docFreq > ceil(mtf*maxDoc) -> high), the
    low-freq REQUIRED nested query, the flat optional high side (same
    float32 cast structure as the reference's single nested SHOULD
    clause), and the all-high conjunction rewrite (:213). The engine's
    topk_common_terms builds exactly these specs from cached stats."""
    import math

    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(8018)
    vocab = ["hot", "warm", "cool", "rare", "gem", "x", "y"]
    for corpus_round in range(3):
        n = rng.randint(10, 25)
        docs = []
        for _ in range(n):
            toks = ["hot"] if rng.random() < 0.9 else []
            toks += ["warm"] * (rng.random() < 0.7)
            toks += [rng.choice(vocab) for _ in range(rng.randint(1, 8))]
            rng.shuffle(toks)
            docs.append(" ".join(toks) or "x")
        idx = build_oracle_index(list(enumerate(docs)))
        cases = []
        for mtf in (0.4, 0.6, 0.95):
            for terms in (["hot", "rare", "gem"], ["hot", "warm"],
                          ["rare", "gem"], ["hot", "warm", "cool", "rare"]):
                cutoff = math.ceil(mtf * idx.doc_count)
                low = tuple(
                    t for t in terms if len(idx.postings.get(t, {})) <= cutoff
                )
                high = tuple(
                    t for t in terms if len(idx.postings.get(t, {})) > cutoff
                )
                # the spec topk_common_terms builds (engine.py:~500)
                if not low:
                    spec = BooleanSpec(must=high)
                elif not high:
                    spec = BooleanSpec(groups=(("+", low),))
                else:
                    spec = BooleanSpec(should=high, groups=(("+", low),))
                cases.append((f"CTQ {mtf} " + " ".join(terms), spec))
        expected = gt.run_topk(docs, [q for q, _ in cases])
        for (qline, spec), exp in zip(cases, expected):
            got = oracle_topk_spec(idx, spec, k=10)
            _assert_topk_equal(got, exp, (corpus_round, qline))


def test_more_like_this_matches_compiled_reference():
    """Ground-truth round 9 — MoreLikeThis (lucene/queries/mlt/
    MoreLikeThis.java) vs the compiled reference: term selection by
    tf x classic idf (log(n/(df+1))+1) with the minTermFreq/minDocFreq
    filters and the maxQueryTerms cutoff, executed as unboosted SHOULD
    TermQueries under BM25. Cases avoid selection-cutoff score ties
    (the reference's tie order is HashMap-iteration-dependent)."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.mlt import classic_idf_f32, mlt_select_terms
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(90901)
    vocab = ["aa", "bb", "cc", "dd", "ee", "xx"]
    for corpus_round in range(3):
        n = rng.randint(8, 20)
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25)))
            for _ in range(n)
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        df = {t: len(p) for t, p in idx.postings.items()}

        cases = []
        for seed in range(0, n, 3):
            doc_tf: dict = {}
            for t in docs[seed].split():
                doc_tf[t] = doc_tf.get(t, 0) + 1
            for mqt, mtf_, mdf in ((25, 2, 2), (25, 1, 3), (2, 1, 1), (3, 2, 1)):
                sel = mlt_select_terms(
                    doc_tf, df, idx.doc_count, max_query_terms=mqt,
                    min_term_freq=mtf_, min_doc_freq=mdf,
                )
                if not sel:
                    continue
                # skip cutoff ties (undefined order in the reference)
                scores = sorted(
                    (
                        float(np.float32(np.float32(tf) * classic_idf_f32(df[t], idx.doc_count)))
                        for t, tf in doc_tf.items()
                        if tf >= mtf_ and df.get(t, 0) >= mdf
                    ),
                    reverse=True,
                )
                if len(scores) > mqt and scores[mqt - 1] == scores[mqt]:
                    continue
                cases.append((f"MLT {seed} {mqt} {mtf_} {mdf}", tuple(sel)))
        expected = gt.run_mlt(docs, [q for q, _ in cases])
        assert len(expected) == len(cases)
        for (qline, sel), exp in zip(cases, expected):
            got = oracle_topk_spec(idx, BooleanSpec(should=sel), k=10)
            _assert_topk_equal(got, exp, (corpus_round, qline))


def _sum_tf_topk(idx, present, wv, k=10):
    """Control for the engine's ("syn", terms, idf) leaf: tf summed
    across the clause terms per doc as ONE pseudo-term, score =
    wv * f / (f + cache[norm])."""
    from lucene_solr_spark.search.bm25 import norm_cache

    cache = norm_cache(np.float32(float(idx.avgdl)))
    tf_map: dict = {}
    for t in present:
        for d, tf in idx.postings.get(t, {}).items():
            tf_map[d] = tf_map.get(d, 0) + tf
    hits = []
    for d, f in tf_map.items():
        f32 = np.float32(f)
        s = np.float32(wv * f32 / (f32 + cache[idx.norm_bytes[d]]))
        hits.append((d, s))
    hits.sort(key=lambda p: (-float(p[1]), p[0]))
    return hits[:k]


def _synonym_topk(idx, terms, k=10):
    """SynonymQuery control (SynonymQuery.java SynonymWeight/SynonymScorer):
    pseudo-stats df = max over the terms' docFreqs, tf summed per doc."""
    from lucene_solr_spark.search.bm25 import make_term_weight

    ts = sorted(set(terms))
    present = [t for t in ts if idx.postings.get(t)]
    if not present:
        return []
    df_max = max(len(idx.postings[t]) for t in present)
    tw = make_term_weight("__syn__", df_max, idx.doc_count, idx.avgdl)
    return _sum_tf_topk(idx, present, np.float32(tw.weight_value), k)


def _span_or_topk(idx, terms, k=10):
    """SpanOrQuery control (spans/SpanOrQuery.java): merged sub-spans of
    width 0 -> freq = total occurrences; weight sums the clause terms'
    idfs (absent terms still contribute idf(df=0) via getTermContexts)."""
    from lucene_solr_spark.search.bm25 import K1, idf_f32, idf_sum_f32

    ts = sorted(set(terms))
    present = [t for t in ts if idx.postings.get(t)]
    if not present:
        return []
    idf_sum = idf_sum_f32(
        idf_f32(len(idx.postings.get(t, {})), idx.doc_count) for t in ts
    )
    wv = np.float32(idf_sum * (K1 + np.float32(1.0)))
    return _sum_tf_topk(idx, present, wv, k)


def _blended_topk(idx, terms, tie, k=10):
    """BlendedTermQuery control (BlendedTermQuery.java:266-289 +
    DisjunctionMaxRewrite): every clause's df adjusted to the max df
    across the blend, then DisjunctionMax over the TermQuery clauses."""
    from lucene_solr_spark.search.bm25 import K1, idf_f32, norm_cache

    ts = sorted(set(terms))
    present = [t for t in ts if idx.postings.get(t)]
    if not present:
        return []
    max_df = max(len(idx.postings.get(t, {})) for t in ts)
    wv = np.float32(idf_f32(max_df, idx.doc_count) * (K1 + np.float32(1.0)))
    cache = norm_cache(np.float32(float(idx.avgdl)))
    cand = sorted({d for t in present for d in idx.postings[t]})
    hits = []
    for d in cand:
        subs = []
        for t in present:
            tf = idx.postings[t].get(d, 0)
            if tf:
                f32 = np.float32(tf)
                subs.append(np.float32(wv * f32 / (f32 + cache[idx.norm_bytes[d]])))
        # DisjunctionMaxScorer.java:50-59: float32 scoreSum accumulation,
        # then max + (sum - max) * tie in float32 ops
        ssum = np.float32(0.0)
        for s in subs:
            ssum = np.float32(ssum + s)
        smax = max(subs)
        score = np.float32(smax + np.float32(ssum - smax) * np.float32(tie))
        hits.append((d, score))
    hits.sort(key=lambda p: (-float(p[1]), p[0]))
    return hits[:k]


def _posrange_topk(idx, term, lo, hi, k=10):
    """SpanPositionRangeQuery control: freq = Σ 1/(1+width) over the
    term's occurrences with lo <= pos and pos+1 <= hi (width 0 spans),
    weight = the single term's idf."""
    from lucene_solr_spark.search.bm25 import K1, idf_f32, norm_cache
    from lucene_solr_spark.search.spans import span_position_range_freq

    post = idx.postings.get(term)
    if not post:
        return []
    wv = np.float32(idf_f32(len(post), idx.doc_count) * (K1 + np.float32(1.0)))
    cache = norm_cache(np.float32(float(idx.avgdl)))
    hits = []
    for d in sorted(post):
        f = span_position_range_freq(idx.positions[term].get(d, []), lo, hi)
        if f > 0:
            s = np.float32(wv * f / (f + cache[idx.norm_bytes[d]]))
            hits.append((d, s))
    hits.sort(key=lambda p: (-float(p[1]), p[0]))
    return hits[:k]


def test_syn_blend_const_span_family_match_compiled_reference():
    """Ground-truth round 10: SynonymQuery, BlendedTermQuery
    (DisjunctionMaxRewrite), ConstantScoreQuery clauses, SpanOr, SpanNot,
    SpanContaining, SpanWithin, SpanPositionRange — control top-10 docids
    + float32 scores == the compiled reference binary."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(100818)
    for corpus_round in range(4):
        n_docs = rng.randint(5, 30)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))

        queries = []
        for _ in range(40):
            kind = rng.choice(
                ["syn", "blend", "const", "spanor",
                 "spannot", "spancontain", "spanwithin", "posrange"]
            )
            if kind == "syn":
                ts = rng.sample(VOCAB + ["zz"], rng.randint(2, 3))
                queries.append((
                    f"SYN {' '.join(sorted(set(ts)))}",
                    lambda ts=ts: _synonym_topk(idx, ts),
                    False,
                ))
            elif kind == "blend":
                ts = rng.sample(VOCAB + ["zz"], rng.randint(2, 3))
                tie = rng.choice([0.0, 0.01, 0.5])
                queries.append((
                    f"BLEND {tie} {' '.join(sorted(set(ts)))}",
                    lambda ts=ts, tie=tie: _blended_topk(idx, ts, tie),
                    tie > 0,
                ))
            elif kind == "const":
                cts = rng.sample(VOCAB, rng.randint(1, 2))
                sts = rng.sample([v for v in VOCAB if v not in cts], rng.randint(1, 2))
                boost = rng.choice([0.25, 1.0, 1.7])
                queries.append((
                    f"CONST {boost} {len(cts)} {' '.join(cts)} {' '.join(sts)}",
                    lambda cts=cts, sts=sts, boost=boost: oracle_topk_spec(
                        idx,
                        BooleanSpec(
                            should=tuple(sts),
                            groups=(("", (("c", boost, tuple(cts)),)),),
                        ), k=10),
                    False,
                ))
            elif kind == "spanor":
                ts = rng.sample(VOCAB, rng.randint(2, 3))
                queries.append((
                    f"SPANOR {' '.join(sorted(set(ts)))}",
                    lambda ts=ts: _span_or_topk(idx, ts),
                    False,
                ))
            elif kind in ("spannot", "spancontain", "spanwithin"):
                inc = rng.sample(VOCAB, 2)
                exc = rng.sample([v for v in VOCAB if v not in inc], rng.randint(1, 2))
                slop = rng.randint(0, 4)
                op = {"spannot": "SPANNOT", "spancontain": "SPANCONTAIN",
                      "spanwithin": "SPANWITHIN"}[kind]
                node_kind = {"spannot": "not", "spancontain": "containing",
                             "spanwithin": "within"}[kind]
                queries.append((
                    f"{op} {slop} {len(inc)} {' '.join(inc)} {' '.join(exc)}",
                    lambda inc=inc, exc=exc, slop=slop, nk=node_kind: oracle_topk_spec(
                        idx,
                        BooleanSpec(spans=((
                            nk, ("near", tuple(inc), slop, True), tuple(exc),
                        ),)), k=10),
                    False,
                ))
            else:
                t = rng.choice(VOCAB)
                lo = rng.randint(0, 4)
                hi = lo + rng.randint(1, 6)
                queries.append((
                    f"SPANPOSRANGE {lo} {hi} {t}",
                    lambda t=t, lo=lo, hi=hi: _posrange_topk(idx, t, lo, hi),
                    False,
                ))

        expected = gt.run_topk(docs, [q for q, _fn, _u in queries])
        assert len(expected) == len(queries)
        for (qline, fn, ulp), exp in zip(queries, expected):
            _assert_topk_equal(fn(), exp, (corpus_round, qline),
                               ulp_tolerant_scores=ulp)


def test_query_rescorer_matches_compiled_reference():
    """Ground-truth round 11: QueryRescorer.rescore (the static sugar,
    QueryRescorer.java:167) — first pass = OR top-firstN, second pass =
    OR or PHRASE; combined score = float32(first + weight * second) with
    the double-product compound assignment, re-sorted score DESC / doc
    ASC, truncated to topN. Control == the compiled binary bit-for-bit."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(110818)
    for corpus_round in range(4):
        n_docs = rng.randint(8, 30)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))

        cases = []
        for _ in range(25):
            q1 = rng.sample(VOCAB, rng.randint(1, 3))
            weight = rng.choice([0.5, 1.0, 2.0, 2.7])
            first_n = rng.randint(3, 12)
            top_n = rng.randint(2, first_n)
            if rng.random() < 0.5:
                q2_terms = rng.sample(VOCAB, rng.randint(1, 2))
                qline = (f"RESCORE {weight} {first_n} {top_n} {len(q1)} "
                         f"{' '.join(q1)} OR {' '.join(q2_terms)}")
                spec2 = BooleanSpec(should=tuple(q2_terms))
            else:
                p_terms = [rng.choice(VOCAB) for _ in range(2)]
                slop = rng.randint(0, 3)
                qline = (f"RESCORE {weight} {first_n} {top_n} {len(q1)} "
                         f"{' '.join(q1)} PHRASE {slop} {' '.join(p_terms)}")
                spec2 = BooleanSpec(phrases=(
                    (tuple((t, i) for i, t in enumerate(p_terms)), slop, "+", 1.0),
                ))
            cases.append((qline, q1, weight, first_n, top_n, spec2))

        expected = gt.run_topk(docs, [c[0] for c in cases])
        assert len(expected) == len(cases)
        for (qline, q1, weight, first_n, top_n, spec2), exp in zip(cases, expected):
            first = oracle_topk_spec(idx, BooleanSpec(should=tuple(q1)), k=first_n)
            second = dict(oracle_topk_spec(idx, spec2, k=n_docs))
            combined = []
            for d, s1 in first:
                if d in second:
                    s = np.float32(np.float64(s1) + weight * np.float64(second[d]))
                else:
                    s = np.float32(s1)
                combined.append((d, s))
            combined.sort(key=lambda p: (-float(p[1]), p[0]))
            _assert_topk_equal(combined[:top_n], exp, (corpus_round, qline))


def _auto_line(trans, accepts):
    parts = ["AUTO", str(len(accepts))] + [str(a) for a in accepts]
    parts.append(str(len(trans)))
    for f, lab, t in trans:
        parts += [str(f), lab if lab else "_ANY_", str(t)]
    return " ".join(parts)


def test_term_automaton_matches_compiled_reference():
    """Ground-truth round 12: TermAutomatonQuery (lucene/sandbox) — the
    oracle's finish()-determinized path walk == the REAL compiled
    TermAutomatonQuery/-Scorer, docids and float32 scores bit-for-bit.
    Shapes cover exact phrase, per-position unions, ANY gaps (where
    finish()'s ANY-to-every-symbol expansion makes a query-term token
    step twice — the parity quirk this round pinned), ANY and term
    self-loops, mid-path accepts, nondeterministic inputs (subset
    construction), and a df=0 label (TermContext stats still counted)."""
    from lucene_solr_spark.search.oracle import (
        build_oracle_index, oracle_term_automaton_topk,
    )

    rng = random.Random(20260819)
    shapes = [
        # label slots filled per round from VOCAB (L0..L3 distinct)
        lambda L: ([(0, L[0], 1), (1, L[1], 2)], [2]),
        lambda L: ([(0, L[0], 1), (1, L[1], 2), (2, L[2], 3)], [3]),
        lambda L: ([(0, L[0], 1), (0, L[1], 1), (1, L[2], 2)], [2]),
        lambda L: ([(0, L[0], 1), (1, "", 2), (2, L[1], 3)], [3]),
        lambda L: ([(0, L[0], 1), (1, "", 1), (1, L[1], 2)], [2]),
        lambda L: ([(0, L[0], 1), (1, L[0], 1), (1, L[1], 2)], [2]),
        lambda L: ([(0, L[0], 1), (1, L[1], 2), (2, L[2], 3)], [2, 3]),
        # union of phrases with unequal lengths (synonym-graph shape)
        lambda L: ([(0, L[0], 2), (0, L[1], 1), (1, L[2], 2)], [2]),
        # nondeterministic: two same-label arcs from the start state
        lambda L: ([(0, L[0], 1), (0, L[0], 2), (1, L[1], 3), (2, L[2], 3)], [3]),
        # ANY gap of length 2
        lambda L: ([(0, L[0], 1), (1, "", 2), (2, "", 3), (3, L[1], 4)], [4]),
        # df=0 label alternative: zz never occurs but contributes idf(0)
        lambda L: ([(0, "zz", 1), (0, L[0], 1), (1, L[1], 2)], [2]),
    ]
    for corpus_round in range(4):
        n_docs = rng.randint(5, 25)
        docs = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 16)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        cases = []
        for shape in shapes:
            for _ in range(3):
                labels = rng.sample(VOCAB, 3)
                cases.append(shape(labels))
        expected = gt.run_topk(docs, [_auto_line(t, a) for t, a in cases])
        assert len(expected) == len(cases)
        for (trans, accepts), exp in zip(cases, expected):
            got = oracle_term_automaton_topk(idx, trans, accepts, k=10)
            # TermAutomatonWeight sums the labels' idfs iterating a
            # HashMap<BytesRef,Integer> (TermAutomatonQuery.java:191-197)
            # whose order depends on StringHelper.GOOD_FAST_HASH_SEED —
            # time-seeded (StringHelper.java:162), so with >=3 distinct
            # labels the reference's own float32 sum order is not
            # reproducible run-to-run; compare ULP-bounded there (the
            # DisjunctionMax heap-order precedent). <=2 labels: one IEEE
            # sum order — exact.
            n_labels = len({lab for _f, lab, _t in trans if lab})
            _assert_topk_equal(got, exp, (corpus_round, trans, accepts),
                               ulp_tolerant_scores=n_labels >= 3)


def test_direct_spell_checker_matches_compiled_reference():
    """Ground-truth round 13a: DirectSpellChecker — the engine's
    suggestion core (search/fuzzy.py::direct_spell_suggest) == the REAL
    compiled DirectSpellChecker.suggestSimilar: same candidates, same
    float32 scores (1 - OSA/min(len), transposition-primitive distance),
    same (score DESC, freq DESC, term ASC) order, same query gates
    (minQueryLength, SUGGEST_WHEN_NOT_IN_INDEX), the two-pass ed=1/ed<=2
    structure with per-pass prefix max(minPrefix, ed-1), and the
    numSug*5 inspections PriorityQueue truncation (iteration-order
    dependent tie handling included)."""
    from lucene_solr_spark.search.fuzzy import direct_spell_suggest

    rng = random.Random(20260820)
    alpha = "mnop"
    for corpus_round in range(4):
        vocab = sorted({
            "m" + "".join(rng.choice(alpha) for _ in range(rng.randint(3, 5)))
            for _ in range(rng.randint(8, 40))
        })
        n_docs = rng.randint(6, 20)
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
            for _ in range(n_docs)
        ]
        dfs: dict[str, int] = {}
        for d in docs:
            for t in set(d.split()):
                dfs[t] = dfs.get(t, 0) + 1
        cands = sorted(dfs.items())

        queries = []
        for _ in range(25):
            word = "m" + "".join(rng.choice(alpha) for _ in range(rng.randint(2, 5)))
            num_sug = rng.choice([1, 2, 5])          # 1 -> inspections cap = 5
            max_edits = rng.choice([1, 2])
            min_prefix = rng.choice([0, 1, 2])
            accuracy = rng.choice([0.0, 0.3, 0.5, 0.7])
            min_qlen = rng.choice([1, 4])
            queries.append((word, num_sug, max_edits, min_prefix, accuracy, min_qlen))

        lines = [
            f"DS {w} {n} {me} {mp} {acc} {mql} 0.01"
            for w, n, me, mp, acc, mql in queries
        ]
        expected = gt.run_spell(docs, lines)
        assert len(expected) == len(queries)
        for (word, n, me, mp, acc, mql), exp in zip(queries, expected):
            # query gates (DirectSpellChecker.java:318-341)
            if len(word) < mql or dfs.get(word, 0) > 0:
                got = []
            else:
                got = direct_spell_suggest(
                    cands, word, num_sug=n, max_edits=me, min_prefix=mp,
                    accuracy=acc,
                )
            exp_rows = [] if exp == "-" else [
                (p.split(":")[0], np.float32(float(p.split(":")[1])),
                 int(p.split(":")[2]))
                for p in exp.split(";")
            ]
            got_rows = [(t, np.float32(s), int(df)) for t, s, df in got]
            assert got_rows == exp_rows, (
                corpus_round, word, n, me, mp, acc, mql, got_rows, exp_rows)


def test_word_break_spell_checker_matches_compiled_reference():
    """Ground-truth round 13b: WordBreakSpellChecker, both directions
    (suggest/spell/WordBreakSpellChecker.java). Breaks (maxChanges=1):
    every split point with BOTH pieces at df >= minSuggestionFrequency,
    query dropped when indexed (SUGGEST_WHEN_NOT_IN_INDEX), ranked
    fewest-words then freqMax DESC (LengthThenMaxFreqComparator :445).
    Combinations (maxChanges=1): adjacent pairs whose concatenation is
    indexed at df >= minSuggestionFrequency with at least one component
    ABSENT (minFreq == 0 gate, :225-227), ranked freq DESC. PQ ties are
    heap-sift order (reference-unspecified) — the test compares the
    suggestion SETS exactly and the ordering via its sort keys."""
    rng = random.Random(20260821)
    alpha = "st"
    for corpus_round in range(4):
        vocab = sorted({
            "".join(rng.choice(alpha) for _ in range(rng.randint(2, 4)))
            for _ in range(rng.randint(4, 12))
        })
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 8)))
            for _ in range(rng.randint(5, 15))
        ]
        dfs: dict[str, int] = {}
        for d in docs:
            for t in set(d.split()):
                dfs[t] = dfs.get(t, 0) + 1

        # --- breaks ---
        bqueries = []
        for _ in range(12):
            q = rng.choice(vocab) + rng.choice(vocab)
            msf = rng.choice([1, 2])
            bqueries.append((q, msf))
        blines = [f"WBB {q} 1 1 1000 {msf}" for q, msf in bqueries]
        # --- combinations ---
        cqueries = []
        for _ in range(8):
            terms = [
                "".join(rng.choice(alpha) for _ in range(rng.randint(2, 4)))
                for _ in range(rng.randint(2, 4))
            ]
            cqueries.append(terms)
        clines = [f"WBC 1 1 1000 {' '.join(ts)}" for ts in cqueries]

        res = gt.run_spell(docs, blines + clines)
        bres, cres = res[:len(bqueries)], res[len(bqueries):]

        for (q, msf), exp in zip(bqueries, bres):
            if dfs.get(q, 0) > 0:
                want = []
            else:
                want = [
                    ((q[:i], dfs.get(q[:i], 0)), (q[i:], dfs.get(q[i:], 0)))
                    for i in range(1, len(q))
                    if dfs.get(q[:i], 0) >= msf and dfs.get(q[i:], 0) >= msf
                ]
            got = [] if exp == "-" else [
                tuple((p.split(":")[0], int(p.split(":")[1]))
                      for p in sug.split(","))
                for sug in exp.split(";")
            ]
            assert sorted(got) == sorted(want), (corpus_round, q, msf, got, want)
            # best-first by freqMax DESC (all suggestions are 2 words)
            fmaxes = [max(f for _t, f in sug) for sug in got]
            assert fmaxes == sorted(fmaxes, reverse=True), (q, got)

        for terms, exp in zip(cqueries, cres):
            want = []
            for i in range(len(terms) - 1):
                comb = terms[i] + terms[i + 1]
                if (
                    min(dfs.get(terms[i], 0), dfs.get(terms[i + 1], 0)) == 0
                    and dfs.get(comb, 0) >= 1
                ):
                    want.append((comb, dfs[comb], (i, i + 1)))
            got = [] if exp == "-" else [
                (p.split(":")[0], int(p.split(":")[1]),
                 tuple(int(x) for x in p.split(":")[2].split(",")))
                for p in exp.split(";")
            ]
            assert sorted(got) == sorted(want), (corpus_round, terms, got, want)
            freqs = [f for _c, f, _ix in got]
            assert freqs == sorted(freqs, reverse=True), (terms, got)


def test_naive_bayes_matches_compiled_reference():
    """Ground-truth round 14a: SimpleNaiveBayesClassifier (lucene/
    classification compiled with the grouping module) — assigned class
    EXACT and the normalized score (logsumexp over the per-class
    log-prior + add-one-smoothed log-likelihood,
    SimpleNaiveBayesClassifier.java:208-311) matching to libm tolerance
    over random corpora and inputs, including out-of-vocabulary tokens
    (hits=0 smoothing) and single-class corpora."""
    import math

    rng = random.Random(20260822)
    vocab = ["cat", "dog", "sat", "chat", "chien", "hund", "katze", "the"]
    for corpus_round in range(4):
        n_classes = rng.randint(1, 3)
        class_names = ["en", "fr", "de"][:n_classes]
        docs = []
        for _ in range(rng.randint(4, 15)):
            cls = rng.choice(class_names)
            toks = [rng.choice(vocab) for _ in range(rng.randint(1, 8))]
            docs.append((cls, toks))
        doc_lines = [f"{c} {' '.join(t)}" for c, t in docs]

        texts = [
            [rng.choice(vocab + ["zzz"]) for _ in range(rng.randint(1, 6))]
            for _ in range(10)
        ]
        expected = gt.run_classify(doc_lines, ["NB " + " ".join(t) for t in texts])
        assert len(expected) == len(texts)

        n = len(docs)  # docCount of the class field == every doc
        classes = sorted(set(c for c, _ in docs))
        sum_doc_freq = sum(len(set(t)) for _c, t in docs)
        avg_unique = sum_doc_freq / n  # body docCount == every doc here

        for text, exp in zip(texts, expected):
            scored = []
            for c in classes:  # class terms enumerate in lex order
                nc = sum(1 for cl, _t in docs if cl == c)
                prior = math.log(nc) - math.log(n)
                den = avg_unique * nc + n
                ll = 0.0
                for w in text:  # calculateLogLikelihood token order
                    hits = sum(1 for cl, t in docs if cl == c and w in t)
                    ll += math.log((hits + 1) / den)
                scored.append((c, prior + ll))
            # Collections.sort desc by score, stable (enum order on ties)
            scored.sort(key=lambda x: -x[1])
            smax = scored[0][1]
            loga = smax + math.log(sum(math.exp(s - smax) for _c, s in scored))
            best_cls, best = scored[0][0], math.exp(scored[0][1] - loga)
            exp_cls, exp_score = exp.rsplit(":", 1)
            assert best_cls == exp_cls, (corpus_round, text, scored, exp)
            assert abs(best - float(exp_score)) <= 1e-9 * max(1.0, abs(best)), (
                corpus_round, text, best, exp_score)


def test_knn_classifier_matches_compiled_reference():
    """Ground-truth round 14b: KNearestNeighborClassifier
    (lucene/classification/KNearestNeighborClassifier.java) — the full
    chain vs the compiled binary: MLT term selection (round 9's pinned
    formula) with setBoost(true) boosts normalized to the LEAST kept
    score (createQuery pops the PriorityQueue ascending, so 'bestScore'
    is the minimum — MoreLikeThis.java:616-629), the wildcard class
    filter as a required constant-score 1.0f clause under
    ReqOptSumScorer float addition, top-k by (score DESC, doc ASC), and
    classifyFromTopDocs' per-class boost sums (score/maxScore in float,
    then double accumulation, count*(sum/count)/k with the k/sumdoc
    correction — :193-228). Assigned class exact, score to libm
    tolerance; tie cases skipped (HashMap-order dependent)."""
    from lucene_solr_spark.search.bm25 import (
        CLASSIC_DECODE,
        classic_query_norm,
        classic_weight_value,
        combine_scores,
    )
    from lucene_solr_spark.search.mlt import classic_idf_f32
    from lucene_solr_spark.search.oracle import build_oracle_index

    rng = random.Random(20260823)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    class_names = ["en", "fr", "de"]
    for corpus_round in range(4):
        docs = []
        for _ in range(rng.randint(6, 18)):
            cls = rng.choice(class_names)
            toks = [rng.choice(vocab) for _ in range(rng.randint(1, 8))]
            docs.append((cls, toks))
        doc_lines = [f"{c} {' '.join(t)}" for c, t in docs]
        idx = build_oracle_index(
            [(i, " ".join(t)) for i, (_c, t) in enumerate(docs)]
        )
        dfm = {t: len(p) for t, p in idx.postings.items()}
        n = idx.doc_count

        cases = []
        for _ in range(12):
            text = [rng.choice(vocab) for _ in range(rng.randint(1, 6))]
            k = rng.choice([1, 3, 5])
            mdf = rng.choice([1, 2])
            mtf = rng.choice([1, 2])
            cases.append((text, k, mdf, mtf))
        expected = gt.run_classify(
            doc_lines,
            [f"KNN {k} {mdf} {mtf} # {' '.join(t)}" for t, k, mdf, mtf in cases],
        )
        assert len(expected) == len(cases)

        for (text, k, mdf, mtf), exp in zip(cases, expected):
            doc_tf: dict = {}
            for t in text:
                doc_tf[t] = doc_tf.get(t, 0) + 1
            sel = [
                (t, np.float32(np.float32(tf) * classic_idf_f32(dfm[t], n)))
                for t, tf in doc_tf.items()
                if tf >= mtf and dfm.get(t, 0) >= mdf
            ]
            if len({float(s) for _t, s in sel}) != len(sel):
                continue  # PQ pop tie order is reference-unspecified
            docs_arr = np.arange(n, dtype=np.int64)
            if sel:
                sel.sort(key=lambda x: float(x[1]))  # pop order: least first
                low = sel[0][1]
                boosts = {
                    t: float(np.float32(np.float32(np.float32(1.0) * s) / low))
                    for t, s in sel
                }
                # ClassicSimilarity (similarity==null -> new
                # ClassicSimilarity(), KNearestNeighborClassifier.java:
                # 106-109): queryNorm over [term clauses in pop order,
                # wildcard const clause with queryWeight = boost = 1]
                qn = classic_query_norm(
                    [(classic_idf_f32(dfm[t], n), boosts[t]) for t, _s in sel]
                    + [(np.float32(1.0), 1.0)]
                )
                norm = np.array(
                    [idx.norm_bytes[d] for d in range(n)], dtype=np.uint8
                )
                per_term = []
                matched = np.zeros(n, dtype=np.int32)
                for t, _s in sel:
                    post = idx.postings[t]
                    tf_arr = np.array(
                        [post.get(d, 0) for d in range(n)], dtype=np.float32
                    )
                    cwv = classic_weight_value(
                        dfm[t], n, boost=boosts[t], query_norm=float(qn)
                    )
                    s_arr = (
                        np.sqrt(tf_arr) * cwv * CLASSIC_DECODE[norm]
                    ).astype(np.float32)
                    s_arr[tf_arr == 0] = np.float32(0.0)
                    matched += (tf_arr > 0).astype(np.int32)
                    per_term.append(s_arr)
                inner = combine_scores(per_term)
                if len(sel) > 1:  # the mlt BooleanQuery's own coord
                    ic = (
                        np.arange(len(sel) + 1, dtype=np.float32)
                        / np.float32(len(sel))
                    ).astype(np.float32)
                    inner = (inner * ic[matched]).astype(np.float32)
                # outer BooleanQuery: MUST wildcard (score = boost *
                # queryNorm) + SHOULD mlt, coord(overlap, 2)
                req = np.float32(np.float32(1.0) * qn)
                total = np.where(
                    inner > 0,
                    (req + inner).astype(np.float32),
                    np.float32(req * np.float32(0.5)),
                )
            else:
                # no selected terms: constant score for every doc — the
                # per-doc boosts are all 1, so only class counts matter
                total = np.full(n, np.float32(1.0), dtype=np.float32)
            order = np.lexsort((docs_arr, -total.astype(np.float64)))[:k]
            max_score = float(np.float32(total[order[0]]))
            counts: dict = {}
            sums: dict = {}
            for d in order:
                c = docs[int(d)][0]
                counts[c] = counts.get(c, 0) + 1
                sums[c] = sums.get(c, 0.0) + float(
                    np.float32(np.float32(total[d]) / np.float32(max_score))
                )
            sumdoc = len(order)
            scored = {}
            for c, cnt in counts.items():
                s = (cnt * (sums[c] / cnt)) / float(k)
                if sumdoc < k:
                    s = s * k / sumdoc
                scored[c] = s
            best = max(scored.values())
            ties = [c for c, s in scored.items() if s == best]
            if len(ties) > 1:
                continue  # HashMap-order-dependent winner
            exp_cls, exp_score = exp.rsplit(":", 1)
            assert ties[0] == exp_cls, (corpus_round, text, k, scored, exp)
            # 1e-6: Math.log/sqrt vs numpy differ by ULPs that round
            # differently through the float32 queryNorm
            assert abs(best - float(exp_score)) <= 1e-6 * max(1.0, abs(best)), (
                corpus_round, text, k, best, exp_score)


def test_grouping_and_diversified_match_compiled_reference():
    """Ground-truth round 15: the grouping module + lucene/misc's
    DiversifiedTopDocsCollector vs the compiled binary. GROUP =
    GroupingSearch over sorted doc-values (TermFirstPassGroupingCollector
    relevance sort -> top nGroups by each group's best hit, ties by
    earliest doc; TermSecondPassGroupingCollector top nWithin per group
    by score DESC / doc ASC; per-group maxScore) — all docids AND float32
    scores exact. DIV = the diversified collector's greedy semantics:
    scan hits best-first, accept while the key's accepted count <
    maxHitsPerKey, stop at k — the equivalence our gate test proves is
    here pinned against the real collector."""
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk

    rng = random.Random(20260824)
    for corpus_round in range(4):
        n_docs = rng.randint(6, 24)
        docs, lines = [], []
        for i in range(n_docs):
            grp = f"g{rng.randint(1, 4)}"
            key = rng.randint(1, 5)  # diversity key, deliberately coarse
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(1, 10))]
            docs.append((grp, key, toks))
            lines.append(f"{grp} {key} {' '.join(toks)}")
        idx = build_oracle_index(
            [(i, " ".join(t)) for i, (_g, _k, t) in enumerate(docs)]
        )

        cases = []
        for _ in range(10):
            ts = rng.sample(VOCAB, rng.randint(1, 3))
            if rng.random() < 0.5:
                cases.append(("GROUP", rng.randint(1, 3), rng.randint(1, 3), ts))
            else:
                cases.append(("DIV", rng.randint(1, 6), rng.randint(1, 2), ts))
        expected = gt.run_group(
            lines, [f"{k} {a} {b} {' '.join(ts)}" for k, a, b, ts in cases]
        )
        assert len(expected) == len(cases)

        for (kind, a, b, ts), exp in zip(cases, expected):
            hits = oracle_topk(idx, " ".join(ts), k=n_docs, mode="or")
            if kind == "GROUP":
                n_groups, n_within = a, b
                by_grp: dict = {}
                for d, s in hits:  # already score DESC, doc ASC
                    by_grp.setdefault(docs[d][0], []).append((d, s))
                ranked = sorted(
                    by_grp.items(),
                    key=lambda kv: (-float(kv[1][0][1]), kv[1][0][0]),
                )[:n_groups]
                want = ";".join(
                    g + "|" + _fmt_f32(max(s for _d, s in ds)) + "|"
                    + ",".join(f"{d}:{_fmt_f32(s)}" for d, s in ds[:n_within])
                    for g, ds in ranked
                )
            else:
                k, max_per_key = a, b
                taken, per_key = [], {}
                for d, s in hits:
                    key = docs[d][1]
                    if per_key.get(key, 0) >= max_per_key:
                        continue
                    per_key[key] = per_key.get(key, 0) + 1
                    taken.append((d, s))
                    if len(taken) >= k:
                        break
                want = ";".join(f"{d}:{_fmt_f32(s)}" for d, s in taken)
            assert (want or "-") == exp, (corpus_round, kind, a, b, ts, want, exp)


def _fmt_f32(s) -> str:
    """Float.toString(float) analog: the shortest decimal that
    round-trips to the float32 (matches Java for this suite's
    non-exponent score magnitudes)."""
    return np.format_float_positional(np.float32(s), unique=True, trim="0")


def test_postings_highlighter_matches_compiled_reference():
    """Ground-truth round 16: PostingsHighlighter (lucene/highlighter/
    postingshighlight) vs search/highlight.py — the FORMATTED SNIPPET
    string exact, over random sentence-structured docs: sentence
    passages (JDK BreakIterator: '. ' + capitalized next sentence),
    PassageScorer weight/tf/norm float32 arithmetic, the bounded passage
    queue with its evict-earliest-on-tie rule, per-(passage, term) batch
    scoring, document-order re-sort, <b>/</b> + '... ' formatting, and
    the no-hit first-sentences fallback."""
    from lucene_solr_spark.search.highlight import highlight_doc

    rng = random.Random(20260825)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    for corpus_round in range(4):
        docs = []
        for _ in range(rng.randint(3, 10)):
            sents = []
            for _s in range(rng.randint(1, 6)):
                toks = [rng.choice(vocab) for _ in range(rng.randint(1, 8))]
                toks[0] = toks[0].capitalize()
                sents.append(" ".join(toks) + ".")
            docs.append(" ".join(sents))
        cases = []
        for _ in range(10):
            ts = rng.sample(vocab, rng.randint(1, 3))
            cases.append((rng.randint(1, 3), ts))
        expected = gt.run_highlight(
            docs, [f"HL {mp} {' '.join(ts)}" for mp, ts in cases]
        )
        assert len(expected) == len(cases)
        n_checked = 0
        for (mp, ts), per_doc in zip(cases, expected):
            for d, snip in per_doc.items():
                got, _score = highlight_doc(docs[d], ts, max_passages=mp)
                assert got == snip, (corpus_round, d, mp, ts, docs[d], got, snip)
                n_checked += 1
        assert n_checked > 0


def test_memory_index_matches_compiled_reference():
    """Ground-truth round 17: MemoryIndex (lucene/memory) — the
    percolation engine's single-doc RAM index scores (search/memory.py)
    == the REAL MemoryIndex.search float32, including non-matches (0.0),
    over random docs and TERM/OR/AND/exact+sloppy-PHRASE queries. Pins
    the single-document stats path (docCount=1, the doc's own norms) the
    distributed percolate() stage relies on."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.memory import MemoryIndex

    rng = random.Random(20260826)
    cases = []  # (case line, python callable)
    for _ in range(120):
        doc = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 15)))
        mi = MemoryIndex(doc)
        kind = rng.choice(["term", "or", "and", "phrase"])
        if kind == "term":
            t = rng.choice(VOCAB)
            cases.append((f"TERM {t}#{doc}", lambda mi=mi, t=t: mi.search(t)))
        elif kind in ("or", "and"):
            ts = [rng.choice(VOCAB) for _ in range(rng.randint(2, 4))]
            cases.append((
                f"{kind.upper()} {' '.join(ts)}#{doc}",
                lambda mi=mi, ts=ts, kind=kind: mi.search(" ".join(ts), mode=kind),
            ))
        else:
            ts = [rng.choice(VOCAB) for _ in range(rng.randint(2, 3))]
            slop = rng.randint(0, 3)
            spec = BooleanSpec(phrases=(
                (tuple((t, i) for i, t in enumerate(ts)), slop, "+", 1.0),
            ))
            cases.append((
                f"PHRASE {slop} {' '.join(ts)}#{doc}",
                lambda mi=mi, spec=spec: mi.score(spec),
            ))
    expected = gt.run_memory([c for c, _ in cases])
    assert len(expected) == len(cases)
    for (cline, fn), exp in zip(cases, expected):
        got = np.float32(fn())
        want = np.float32(float(exp))
        assert got == want, (cline, float(got), float(want))


def test_lat_lon_point_matches_compiled_reference():
    """Ground-truth round 17b: LatLonPoint.newDistanceQuery +
    LatLonDocValuesField.newDistanceSort (lucene/sandbox document
    package) vs the engine's spatial math (ops/relational.py
    spatial_knn: exact haversine on SloppyMath's 6371.0087714 km mean
    radius). SloppyMath's table-based cos/asin carries <=40cm error, so
    cases where any point sits within 5 m of the radius boundary or two
    kept distances sit within 5 m of each other are skipped; surviving
    cases must agree on the doc SET, the distance ORDER, and every
    distance to 1 m."""
    import math

    rng = random.Random(20260827)
    R = 6371.0087714e3  # EARTH_MEAN_RADIUS_KM * 1000 (relational.py)

    def hav(lat1, lon1, lat2, lon2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dl = math.radians(lon2 - lon1)
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        )
        return 2 * R * math.asin(min(1.0, math.sqrt(h)))

    for corpus_round in range(3):
        pts = [
            (rng.uniform(-80, 80), rng.uniform(-170, 170))
            for _ in range(rng.randint(8, 40))
        ]
        queries, want = [], []
        attempts = 0
        while len(queries) < 8 and attempts < 200:
            attempts += 1
            qlat, qlon = rng.uniform(-80, 80), rng.uniform(-170, 170)
            radius = rng.uniform(5e5, 8e6)
            k = rng.randint(1, 10)
            dists = sorted(
                (hav(qlat, qlon, la, lo), i) for i, (la, lo) in enumerate(pts)
            )
            if any(abs(d - radius) < 5.0 for d, _i in dists):
                continue
            kept = [(d, i) for d, i in dists if d < radius][:k]
            if any(
                b[0] - a[0] < 5.0 for a, b in zip(kept, kept[1:])
            ):
                continue
            queries.append(f"DIST {qlat!r} {qlon!r} {radius!r} {k}")
            want.append(kept)
        expected = gt.run_spatial(pts, queries)
        assert len(expected) == len(queries)
        for qline, kept, exp in zip(queries, want, expected):
            got = [] if exp == "-" else [
                (int(p.split(":")[0]), float(p.split(":")[1]))
                for p in exp.split(";")
            ]
            assert [i for _d, i in kept] == [d for d, _m in got], (
                corpus_round, qline, kept, got)
            for (d_mine, _i), (_doc, d_ref) in zip(kept, got):
                assert abs(d_mine - d_ref) <= 1.0, (qline, d_mine, d_ref)


def test_custom_score_query_matches_compiled_reference():
    """Ground-truth round 18: CustomScoreQuery(subQuery, FunctionQuery(
    LongFieldSource)) — the multiplicative subquery x ValueSource combine
    (CustomScoreProvider.customScore:108-110, qWeight=1 under BM25 since
    normalize() deliberately drops boosts, CustomScoreQuery.java:210-216)
    — docids and float32 scores exact. Pins the semantics behind the
    function_query gate's custom_score variant."""
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk

    rng = random.Random(20260828)
    for corpus_round in range(4):
        n = rng.randint(5, 25)
        docs, lines, keys = [], [], []
        for i in range(n):
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(1, 10))]
            key = rng.randint(1, 1000)
            docs.append(" ".join(toks))
            keys.append(key)
            lines.append(f"g{i % 3} {key} {' '.join(toks)}")
        idx = build_oracle_index(list(enumerate(docs)))
        cases = [rng.sample(VOCAB, rng.randint(1, 3)) for _ in range(8)]
        expected = gt.run_group(lines, [f"CUSTOM {' '.join(ts)}" for ts in cases])
        assert len(expected) == len(cases)
        for ts, exp in zip(cases, expected):
            hits = oracle_topk(idx, " ".join(ts), k=n, mode="or")
            scored = [
                (d, np.float32(np.float32(s) * np.float32(keys[d])))
                for d, s in hits
            ]
            scored.sort(key=lambda x: (-float(x[1]), x[0]))
            got = scored[:10]
            exp_pairs = [] if exp == "-" else [
                (int(p.split(":")[0]), np.float32(float(p.split(":")[1])))
                for p in exp.split(";")
            ]
            assert [(d, s) for d, s in got] == exp_pairs, (
                corpus_round, ts, got, exp_pairs)


def test_block_join_matches_compiled_reference():
    """Ground-truth round 19: ToParentBlockJoinQuery (all four ScoreModes)
    + ToChildBlockJoinQuery (lucene/join) vs the compiled binary over
    addDocuments blocks: child BM25 scores aggregate to the parent with a
    float32 running total (ToParentBlockJoinQuery.java:312-360 — avg =
    total/matchedChildren in float), None mode scores 0 ranked by docid,
    and ToChild hands each block child its parent's exact score. Docids
    and float32 scores exact. Pins the semantics behind the
    block_join_parent gate's score-mode union."""
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk

    rng = random.Random(20260829)
    pvocab = ["pp", "qq", "rr"]
    for corpus_round in range(4):
        blocks = []
        for _ in range(rng.randint(3, 8)):
            children = [
                " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 4))
            ]
            parent = " ".join(
                rng.choice(pvocab) for _ in range(rng.randint(1, 3))
            )
            blocks.append((children, parent))
        # docid layout: children then parent per block (addDocuments)
        seq, parent_of, parent_ids = [], {}, []
        for children, parent in blocks:
            kids = []
            for c in children:
                kids.append(len(seq))
                seq.append(c)
            pid = len(seq)
            seq.append(parent)
            parent_ids.append(pid)
            for kid in kids:
                parent_of[kid] = pid
        idx = build_oracle_index(list(enumerate(seq)))

        cases = []
        for _ in range(10):
            if rng.random() < 0.75:
                mode = rng.choice(["none", "avg", "max", "total", "min"])
                ts = rng.sample(VOCAB, rng.randint(1, 3))
                cases.append(("TOPARENT", mode, ts))
            else:
                ts = rng.sample(pvocab, rng.randint(1, 2))
                cases.append(("TOCHILD", "_", ts))
        expected = gt.run_join(
            blocks, [f"{k} {m} {' '.join(ts)}" for k, m, ts in cases]
        )
        assert len(expected) == len(cases)

        for (kind, mode, ts), exp in zip(cases, expected):
            hits = dict(oracle_topk(idx, " ".join(ts), k=len(seq), mode="or"))
            scored = []
            if kind == "TOPARENT":
                for (children, _p), pid in zip(blocks, parent_ids):
                    kids = [
                        d for d in sorted(parent_of)
                        if parent_of[d] == pid and d in hits
                    ]
                    if not kids:
                        continue
                    total = np.float32(0.0)
                    mx = np.float32(-np.inf)
                    mn = np.float32(np.inf)
                    for d in kids:  # child docid order
                        cs = np.float32(hits[d])
                        total = np.float32(total + cs)
                        mx = max(mx, cs)
                        mn = min(mn, cs)
                    if mode == "total":
                        sc = total
                    elif mode == "max":
                        sc = mx
                    elif mode == "min":
                        sc = mn
                    elif mode == "avg":
                        sc = np.float32(total / np.float32(len(kids)))
                    else:
                        sc = np.float32(0.0)
                    scored.append((pid, sc))
            else:
                for (children, _p), pid in zip(blocks, parent_ids):
                    if pid in hits:
                        ps = np.float32(hits[pid])
                        for d in sorted(d for d in parent_of if parent_of[d] == pid):
                            scored.append((d, ps))
            scored.sort(key=lambda x: (-float(x[1]), x[0]))
            got = scored[:10]
            exp_pairs = [] if exp == "-" else [
                (int(p.split(":")[0]), np.float32(float(p.split(":")[1])))
                for p in exp.split(";")
            ]
            assert got == exp_pairs, (corpus_round, kind, mode, ts, got, exp_pairs)


def test_join_util_matches_compiled_reference():
    """Ground-truth round 20: JoinUtil.createJoinQuery (lucene/join —
    the query-time join): from-side hits aggregate per join value with
    the TermsWithScoreCollector float32 rules (Total running float sum,
    Max, Avg = float sum / count at getScoresPerTerm, None = the
    constant-score TermsQuery), and every to-side doc holding the value
    scores exactly that aggregate (TermsIncludingScoreQuery). Docids and
    float32 scores exact over randomized self-join corpora."""
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk

    rng = random.Random(20260830)
    for corpus_round in range(4):
        n = rng.randint(5, 25)
        grps, lines, texts = [], [], []
        for i in range(n):
            g = f"g{rng.randint(1, 4)}"
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(1, 8))]
            grps.append(g)
            texts.append(" ".join(toks))
            lines.append(f"{g} {rng.randint(1, 9)} {' '.join(toks)}")
        idx = build_oracle_index(list(enumerate(texts)))
        cases = [
            (rng.choice(["none", "avg", "max", "total"]),
             rng.sample(VOCAB, rng.randint(1, 3)))
            for _ in range(10)
        ]
        expected = gt.run_group(
            lines, [f"JOINQ {m} {' '.join(ts)}" for m, ts in cases]
        )
        assert len(expected) == len(cases)
        for (mode, ts), exp in zip(cases, expected):
            hits = oracle_topk(idx, " ".join(ts), k=n, mode="or")
            agg: dict = {}  # group -> (sum f32, max f32, count)
            for d, s in sorted(hits):  # from-side collect in docid order
                g = grps[d]
                s32 = np.float32(s)
                if g in agg:
                    tot, mx, c = agg[g]
                    agg[g] = (np.float32(tot + s32), max(mx, s32), c + 1)
                else:
                    agg[g] = (s32, s32, 1)
            scored = []
            for d in range(n):
                g = grps[d]
                if g not in agg:
                    continue
                tot, mx, c = agg[g]
                if mode == "total":
                    sc = tot
                elif mode == "max":
                    sc = mx
                elif mode == "avg":
                    sc = np.float32(tot / np.float32(c))
                else:
                    sc = np.float32(1.0)
                scored.append((d, sc))
            scored.sort(key=lambda x: (-float(x[1]), x[0]))
            got = scored[:10]
            exp_pairs = [] if exp == "-" else [
                (int(p.split(":")[0]), np.float32(float(p.split(":")[1])))
                for p in exp.split(";")
            ]
            assert got == exp_pairs, (corpus_round, mode, ts, got, exp_pairs)


def test_porter_stemmer_matches_compiled_reference():
    """Ground-truth round 21: the Porter stemmer (analysis/common
    PorterStemFilter) vs analysis/porter.py over random letter strings —
    every fuzzed token's stem identical to the compiled filter (the
    golden vocabulary test covers real words; this sweeps the rule-edge
    space: short tokens, y/vowel boundaries, double consonants,
    -ed/-ing/-ate/-ize tails)."""
    from lucene_solr_spark.analysis.porter import porter_stem

    rng = random.Random(20260831)
    tails = ["ed", "ing", "ly", "ies", "es", "s", "ement", "ational",
             "iveness", "ization", "icate", "ize", "ate", "ous", "e", ""]
    words = []
    for _ in range(800):
        stem_len = rng.randint(1, 8)
        base = "".join(rng.choice("abcdefgilmnoprstuy") for _ in range(stem_len))
        words.append(base + rng.choice(tails))
    lines = [" ".join(words[i:i + 20]) for i in range(0, len(words), 20)]
    expected = gt.run_porter(lines)
    assert len(expected) == len(lines)
    for line, exp in zip(lines, expected):
        got = " ".join(porter_stem(w) for w in line.split())
        assert got == exp, (line, got, exp)


def test_sorted_set_facet_counts_match_compiled_reference():
    """Ground-truth round 22: SortedSetDocValuesFacetCounts (lucene/
    facet) — per-label counts under the query's FacetsCollector hits and
    the top-children order (count DESC, then ordinal = label ASC) match
    the compiled binary exactly, including the topN cutoff and the
    no-hit null result. Pins the ordering convention the `facets` gate
    union canonicalizes."""
    rng = random.Random(20260901)
    dims = ["red", "blue", "green", "amber"]
    for corpus_round in range(4):
        docs, lines = [], []
        for _ in range(rng.randint(5, 30)):
            dv = rng.choice(dims)
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(1, 8))]
            docs.append((dv, set(toks)))
            lines.append(f"{dv} {' '.join(toks)}")
        cases = [
            (rng.randint(1, 5), rng.sample(VOCAB, rng.randint(1, 3)))
            for _ in range(10)
        ]
        expected = gt.run_facet(
            lines, [f"FACET {n} {' '.join(ts)}" for n, ts in cases]
        )
        assert len(expected) == len(cases)
        for (topn, ts), exp in zip(cases, expected):
            counts: dict = {}
            for dv, toks in docs:
                if any(t in toks for t in ts):
                    counts[dv] = counts.get(dv, 0) + 1
            want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:topn]
            want_s = ";".join(f"{l}:{c}" for l, c in want) or "-"
            assert want_s == exp, (corpus_round, topn, ts, want_s, exp)


def test_complex_phrase_parser_matches_compiled_reference():
    """Ground-truth round 23: ComplexPhraseQueryParser (queryparser/
    complexPhrase) — quoted phrases whose elements are bare terms,
    '(a b)' alternative groups, wildcards, and fuzzies rewrite to
    SpanNear over SpanOr-of-term-span clauses
    (ComplexPhraseQuery.rewrite:253-345; wildcards expand under
    SCORING_BOOLEAN_REWRITE over the index terms, fuzzies keep
    FuzzyQuery's blended top-50 whose boosts the span conversion
    ignores). The control oracle's new alternative-clause span walk must
    match docids and float32 scores exactly, including empty-expansion
    elements (the match-nothing dummy clause) and idf(df=0)
    contributions from dead alternatives."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.fuzzy import fuzzy_expand_vocab
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(20260902)
    vocab = ["aa", "aab", "aac", "bb", "bba", "cc", "ccd", "dd"]
    for corpus_round in range(4):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
            for _ in range(rng.randint(5, 20))
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        corpus_terms = sorted(idx.postings)
        dfs = {t: len(p) for t, p in idx.postings.items()}

        cases = []
        for _ in range(12):
            n_el = rng.randint(2, 3)
            parts, clauses = [], []
            dead = False
            for _ in range(n_el):
                kind = rng.choice(["term", "group", "wild", "fuzzy"])
                if kind == "term":
                    t = rng.choice(vocab)
                    parts.append(t)
                    clauses.append((t,))
                elif kind == "group":
                    alts = rng.sample(vocab, rng.randint(2, 3))
                    parts.append("(" + " ".join(alts) + ")")
                    clauses.append(tuple(alts))
                elif kind == "wild":
                    pfx = rng.choice(["aa", "bb", "cc", "zz"])
                    parts.append(pfx + "*")
                    exp = tuple(t for t in corpus_terms if t.startswith(pfx))
                    if not exp:
                        dead = True
                    clauses.append(exp)
                else:
                    base = rng.choice(vocab)
                    parts.append(base + "~1")
                    cands = [(t, dfs[t]) for t in corpus_terms]
                    exp = tuple(sorted(
                        t for t, _df, _b in fuzzy_expand_vocab(base, cands, 1)
                    ))
                    if not exp:
                        dead = True
                    clauses.append(exp)
            slop = rng.randint(0, 3)
            qs = '"' + " ".join(parts) + '"' + (f"~{slop}" if slop else "")
            cases.append((qs, tuple(clauses), slop, dead))

        expected = gt.run_complex(docs, [c[0] for c in cases])
        assert len(expected) == len(cases)
        for (qs, clauses, slop, dead), exp in zip(cases, expected):
            if dead:
                got = []
            else:
                span = tuple(c[0] if len(c) == 1 else c for c in clauses)
                got = oracle_topk_spec(
                    idx,
                    BooleanSpec(spans=(("near", span, slop, True),)),
                    k=10,
                )
            _assert_topk_equal(got, exp, (corpus_round, qs))


def test_complex_phrase_negation_matches_compiled_reference():
    """Ground-truth round 23b: in-phrase negation ('"aa -bb cc"') — the
    reference builds SpanNot(include = SpanNear(positives,
    slop + numNegatives, inOrder), exclude = SpanNear(ALL clauses, slop,
    inOrder)) (ComplexPhraseQueryParser.java:318-345); include spans
    overlapping an exclude span drop. The oracle's span_not_near walk
    must match docids and float32 scores exactly."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(20260903)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    for corpus_round in range(4):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12)))
            for _ in range(rng.randint(5, 20))
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        cases = []
        for _ in range(10):
            n_el = rng.randint(2, 4)
            parts, clauses, negs = [], [], []
            neg_positions = rng.sample(range(n_el), rng.randint(1, max(1, n_el - 1)))
            for i in range(n_el):
                if rng.random() < 0.3:
                    alts = tuple(sorted(rng.sample(vocab, 2)))
                    el = "(" + " ".join(alts) + ")"
                else:
                    t = rng.choice(vocab)
                    alts, el = (t,), t
                neg = i in neg_positions and len(neg_positions) < n_el
                parts.append(("-" if neg else "") + el)
                clauses.append(alts)
                negs.append(neg)
            if all(negs):
                continue
            slop = rng.randint(0, 2)
            qs = '"' + " ".join(parts) + '"' + (f"~{slop}" if slop else "")
            cases.append((qs, clauses, negs, slop))

        expected = gt.run_complex(docs, [c[0] for c in cases])
        assert len(expected) == len(cases)
        for (qs, clauses, negs, slop), exp in zip(cases, expected):
            n_neg = sum(negs)
            span = tuple(
                c[0] if len(c) == 1 else c
                for c, ng in zip(clauses, negs) if not ng
            )
            allc = tuple(c[0] if len(c) == 1 else c for c in clauses)
            spec = BooleanSpec(spans=((
                "not", ("near", span, slop + n_neg, True),
                ("near", allc, slop, True),
            ),))
            got = oracle_topk_spec(idx, spec, k=10)
            _assert_topk_equal(got, exp, (corpus_round, qs))


def test_surround_parser_matches_compiled_reference():
    """Ground-truth round 24: the surround query language's distance
    operators (queryparser/surround) — `<n>W(...)` ordered / `<n>N(...)`
    unordered rewrite to SpanNearQuery(clauses, n-1, ordered)
    (surround/query/DistanceQuery.java:97), args as bare terms, OR(...)
    groups (SpanNearClauseFactory's SpanOr), and `pre*` prefixes
    (>= 3 chars — the parser's truncation guard) expanded over the index
    terms. Docids and float32 scores exact vs the compiled parser.
    Unordered cases use two clauses (the oracle's unordered walk shape)."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(20260904)
    vocab = ["merge", "merga", "mergz", "sort", "fast", "join"]
    for corpus_round in range(4):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
            for _ in range(rng.randint(5, 20))
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        corpus_terms = sorted(idx.postings)

        cases = []
        for _ in range(12):
            ordered = rng.random() < 0.6
            n_args = rng.randint(2, 3)
            dist = rng.randint(1, 4)
            parts, clauses = [], []
            for _ in range(n_args):
                kind = rng.choice(["term", "or", "prefix"])
                if kind == "term":
                    t = rng.choice(vocab)
                    parts.append(t)
                    clauses.append((t,))
                elif kind == "or":
                    alts = rng.sample(vocab, 2)
                    parts.append(f"or({alts[0]}, {alts[1]})")
                    clauses.append(tuple(alts))
                else:
                    parts.append("mer*")
                    clauses.append(tuple(
                        t for t in corpus_terms if t.startswith("mer")
                    ))
            if any(not c for c in clauses):
                continue  # empty prefix expansion: parser-level no-match
            # overlapping alternative sets under NearSpansUnordered are
            # kept since GT round 25: the cells walk reproduces the
            # same-position repeats machinery
            op = "W" if ordered else "N"
            # the grammar's distance prefix starts at 2; plain W/N = 1
            num = str(dist) if dist >= 2 else ""
            qs = f"{num}{op}({', '.join(parts)})"
            cases.append((qs, tuple(clauses), dist, ordered))

        expected = gt.run_surround(docs, [c[0] for c in cases])
        assert len(expected) == len(cases)
        for (qs, clauses, dist, ordered), exp in zip(cases, expected):
            span = tuple(c[0] if len(c) == 1 else c for c in clauses)
            got = oracle_topk_spec(
                idx,
                BooleanSpec(spans=(("near", span, dist - 1, ordered),)),
                k=10,
            )
            _assert_topk_equal(got, exp, (corpus_round, qs))


def test_unordered_same_position_repeats_match_compiled_reference():
    """Ground-truth round 25: NearSpansUnordered's same-position repeats
    machinery. When two unordered clauses hold the SAME occurrence
    (overlapping alternative sets, or the same clause repeated), the
    (start, end) queue comparison ties both ways and the advance order
    falls to util/PriorityQueue.java's internal sift layout —
    deterministic given query-order insertion, and score-CHANGING
    (emitted widths depend on which tied cell advances first).
    `span_unordered_matches` reproduces the exact cells walk; docids and
    float32 scores must equal the compiled binary over SpanNear
    (unordered) queries of SpanOr-of-term clauses with deliberately
    overlapping sets and repeated clauses."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(20260905)
    vocab = ["aa", "bb", "cc", "dd"]
    for corpus_round in range(4):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 14)))
            for _ in range(rng.randint(5, 20))
        ]
        idx = build_oracle_index(list(enumerate(docs)))

        cases = []
        # pinned shapes: a repeated single-term clause pair (the classic
        # "unordered near matches one occurrence against itself" quirk)
        # and a fully-overlapping alternative-set pair
        cases.append((("aa", "aa"), 0))
        cases.append((("aa", "aa", "aa"), 2))
        cases.append(((("aa", "bb"), ("aa", "cc")), 1))
        for _ in range(14):
            n_cl = rng.randint(2, 4)
            clauses = []
            for _ in range(n_cl):
                if rng.random() < 0.5:
                    clauses.append(rng.choice(vocab))
                else:
                    clauses.append(tuple(sorted(
                        rng.sample(vocab, rng.randint(2, 3))
                    )))
            cases.append((tuple(clauses), rng.randint(0, 6)))

        lines = []
        for clauses, slop in cases:
            parts = [
                c if isinstance(c, str) else ",".join(c) for c in clauses
            ]
            lines.append(f"SPANNEARALT {slop} 0 " + " ".join(parts))
        expected = gt.run_topk(docs, lines)
        assert len(expected) == len(cases)
        for (clauses, slop), exp in zip(cases, expected):
            got = oracle_topk_spec(
                idx,
                BooleanSpec(spans=(("near", tuple(clauses), slop, False),)),
                k=10,
            )
            _assert_topk_equal(got, exp, (corpus_round, clauses, slop))


def test_complex_phrase_unordered_matches_compiled_reference():
    """Ground-truth round 25b: ComplexPhraseQueryParser.setInOrder(false)
    — the parser's unordered proximity mode builds SpanNearQuery(...,
    inOrder=false) for the plain case and SpanNot over TWO unordered
    nears for in-phrase negation (ComplexPhraseQueryParser.java:313-345,
    both sides built with the parser's inOrder flag). Docids and float32
    scores exact vs the compiled parser, overlapping groups included."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(20260906)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    for corpus_round in range(4):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12)))
            for _ in range(rng.randint(5, 20))
        ]
        idx = build_oracle_index(list(enumerate(docs)))

        cases = []
        for _ in range(12):
            n_el = rng.randint(2, 4)
            with_neg = rng.random() < 0.5
            parts, clauses, negs = [], [], []
            neg_positions = (
                rng.sample(range(n_el), rng.randint(1, n_el - 1))
                if with_neg else []
            )
            for i in range(n_el):
                if rng.random() < 0.4:
                    alts = tuple(sorted(rng.sample(vocab, 2)))
                    el = "(" + " ".join(alts) + ")"
                else:
                    t = rng.choice(vocab)
                    alts, el = (t,), t
                neg = i in neg_positions
                parts.append(("-" if neg else "") + el)
                clauses.append(alts)
                negs.append(neg)
            slop = rng.randint(0, 3)
            qs = '"' + " ".join(parts) + '"' + (f"~{slop}" if slop else "")
            cases.append((qs, clauses, negs, slop))

        expected = gt.run_complex(
            docs, [c[0] for c in cases], in_order=False
        )
        assert len(expected) == len(cases)
        for (qs, clauses, negs, slop), exp in zip(cases, expected):
            n_neg = sum(negs)
            if n_neg:
                span = tuple(
                    c[0] if len(c) == 1 else c
                    for c, ng in zip(clauses, negs) if not ng
                )
                allc = tuple(c[0] if len(c) == 1 else c for c in clauses)
                spec = BooleanSpec(spans=((
                    "not", ("near", span, slop + n_neg, False),
                    ("near", allc, slop, False),
                ),))
            else:
                span = tuple(c[0] if len(c) == 1 else c for c in clauses)
                spec = BooleanSpec(spans=(("near", span, slop, False),))
            got = oracle_topk_spec(idx, spec, k=10)
            _assert_topk_equal(got, exp, (corpus_round, qs))


def test_free_text_suggester_matches_compiled_reference():
    """Ground-truth round 26: FreeTextSuggester (lucene/suggest/
    analyzing) — the n-gram stupid-backoff language model behind
    "type-ahead from the corpus itself". The compiled suggester
    (grams=2, separator 0x1e, whitespace analysis, built from an
    InputIterator over the docs) must match search/freetext.py's count-
    table model EXACTLY: result keys (with separator bytes), long scores
    ((long)(Long.MAX_VALUE * backoff * count / contextCount) per model
    level), per-model top-num with seen-last-token rejection, the
    trailing-space token upgrade, and the final value-DESC/key-ASC
    order."""
    from lucene_solr_spark.search.freetext import (
        build_freetext_model,
        freetext_lookup,
    )

    rng = random.Random(20260907)
    vocab = ["so", "sort", "sorted", "merge", "mer", "fast", "join"]
    for corpus_round in range(4):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
            for _ in range(rng.randint(4, 18))
        ]
        model = build_freetext_model([d.split() for d in docs])

        lookups = []
        for _ in range(16):
            shape = rng.random()
            if shape < 0.3:
                key = rng.choice(["s", "so", "sor", "m", "mer", "f", "j"])
            elif shape < 0.6:
                key = rng.choice(vocab) + " " + rng.choice(["s", "so", "m", "f"])
            elif shape < 0.8:
                key = rng.choice(vocab) + " "  # trailing-space upgrade
            else:
                key = (
                    rng.choice(vocab) + " " + rng.choice(vocab)
                    + " " + rng.choice(["s", "mer"])
                )
            lookups.append((key, rng.choice([1, 2, 3, 10])))

        expected = gt.run_freetext(docs, lookups)
        assert len(expected) == len(lookups)
        for (key, num), exp in zip(lookups, expected):
            got = freetext_lookup(model, key, num)
            assert got == exp, (corpus_round, key, num, got, exp)


def test_suggest_freetext_gate_equals_pinned_model(spark):
    """The Spark gate variant (ops/relational.suggest_freetext — count
    tables + per-model top-num as DataFrame jobs) must return exactly
    the binary-pinned pure model's lookup for the gate's key
    ('<context> <prefix>', num=10) over the sf0.001 documents corpus."""
    import pandas as pd

    from lucene_solr_spark.ops.relational import (
        FREETEXT_CONTEXT,
        FREETEXT_PREFIX,
        suggest_freetext,
    )
    from lucene_solr_spark.search.freetext import (
        SEP,
        build_freetext_model,
        freetext_lookup,
    )

    sf = "/root/testdata/sf0.001"
    pdf = pd.read_parquet(f"{sf}/documents.parquet")
    model = build_freetext_model([t.split() for t in pdf.text])
    want = freetext_lookup(model, f"{FREETEXT_CONTEXT} {FREETEXT_PREFIX}", 10)
    got = [
        (r["w"], r["weight"]) for r in suggest_freetext(spark, sf).collect()
    ]
    # the gate emits the completion word; the model's key carries the
    # full gram (context<0x1e>word for bigram-model results)
    assert got == [(k.split(SEP)[-1], v) for k, v in want] and got


def test_completion_lookups_match_compiled_reference():
    """Ground-truth round 27: the FST completion-lookup family —
    WFSTCompletionLookup (both exactFirst modes), FSTCompletionLookup
    (the alphabetical default path incl. its one-extra-per-lower-bucket
    collect quirk, AND the onlyMorePopular weighted path with exact
    promotion; values are BUCKETS), AnalyzingSuggester (both exactFirst
    modes, preserveSep multi-token analysis), and FuzzySuggester
    (maxEdits=1 with transpositions, nonFuzzyPrefix=1, minFuzzyLength=3)
    — each pinned against the compiled classes over randomized weighted
    entries: result keys, order, and long values all exact."""
    from lucene_solr_spark.search.suggesters import (
        analyzing_lookup,
        fst_bucket_lookup,
        wfst_lookup,
    )

    rng = random.Random(20260908)
    words = ["so", "sort", "sorted", "sorter", "soup", "merge",
             "mergesort", "fast", "fasten", "join"]
    for corpus_round in range(4):
        n = rng.randint(6, 14)
        keys: set = set()
        while len(keys) < n:
            if rng.random() < 0.3:
                keys.add(rng.choice(words) + " " + rng.choice(words))
            else:
                keys.add(rng.choice(words) + rng.choice(["", "x", "y"]))
        entries = [(k, rng.randint(0, 50)) for k in sorted(keys)]

        queries = []
        for _ in range(20):
            kind = rng.choice(
                ["WFST", "WFSTNX", "FSTB", "FSTBW", "ANALYZING",
                 "ANALYZINGNX", "FUZZY"]
            )
            # sorted: set iteration order depends on PYTHONHASHSEED and
            # would make the generated queries differ per process
            base = rng.choice(sorted(keys))
            r = rng.random()
            if r < 0.3:
                key = base[: rng.randint(1, len(base))]
            elif r < 0.6:
                key = base  # exact key — exercises exactFirst
            elif r < 0.8:
                key = rng.choice(["s", "so", "sor", "m", "f", "xq"])
            else:
                # a one-edit corruption for the fuzzy path
                i = rng.randrange(1, max(2, len(base)))
                key = base[:i] + rng.choice("az") + base[i + 1:]
            queries.append((kind, rng.choice([1, 2, 3, 5, 10]), key))

        # trailing-whitespace keys: TokenStreamToAutomaton appends ONE
        # POS_SEP for characters past the last token's endOffset
        # (TokenStreamToAutomaton.java:196-206), so "sort " only matches
        # multi-token completions — pinned after a PYTHONHASHSEED-random
        # query draw exposed the miss (GT round 27b)
        for base in sorted(keys)[:3]:
            queries.append(("ANALYZING", 3, base.split(" ")[0] + " "))
            queries.append(("ANALYZINGNX", 2, base + " "))
            queries.append(("FUZZY", 3, base.split(" ")[0] + "  "))
        expected = gt.run_suggesters(entries, queries)
        assert len(expected) == len(queries)
        for (kind, num, key), exp in zip(queries, expected):
            if kind == "WFST":
                got = wfst_lookup(entries, key, num, exact_first=True)
            elif kind == "WFSTNX":
                got = wfst_lookup(entries, key, num, exact_first=False)
            elif kind == "FSTB":
                got = fst_bucket_lookup(entries, key, num, weighted=False)
            elif kind == "FSTBW":
                got = fst_bucket_lookup(entries, key, num, weighted=True)
            elif kind == "ANALYZING":
                got = analyzing_lookup(entries, key, num, exact_first=True)
            elif kind == "ANALYZINGNX":
                got = analyzing_lookup(entries, key, num, exact_first=False)
            else:
                got = analyzing_lookup(entries, key, num, fuzzy=True)
            assert got == exp, (corpus_round, kind, num, key, got, exp)


def test_simple_query_parser_matches_compiled_reference():
    """Ground-truth round 28 — SimpleQueryParser (lucene/queryparser/
    simple/SimpleQueryParser.java) vs the compiled reference: raw query
    strings through the real parser + IndexSearcher over a whitespace
    index, top-10 docids + float32 scores bit-for-bit against
    search/simpleqp.py's parse + Boolean2ScorerSupplier tree evaluation.
    Covers the right-to-left tree alternation, the MatchAllDocs negation
    wrapper (term-free docs matching at 1.0), prefix CONSTANT_SCORE /
    fuzzy blended rewrites, escapes, slop/fuzziness junk tolerance, the
    null-branch pending-operator quirk, restricted flag masks, and the
    MUST default operator."""
    from lucene_solr_spark.search import simpleqp as sq
    from lucene_solr_spark.search.simpleqp import (
        build_ws_oracle_index,
        simple_topk,
    )

    fixed = [
        ("OR", -1, "aa bb"), ("OR", -1, "aa + bb"), ("OR", -1, "aa | bb + cc"),
        ("OR", -1, "aa -bb"), ("OR", -1, "-bb"), ("OR", -1, '"bb cc"'),
        ("OR", -1, '"aa bb"~2'), ("OR", -1, "a*"), ("OR", -1, "ab~1"),
        ("AND", -1, "aa bb"), ("OR", -1, "aa + (bb | dd) cc"),
        ("OR", -1, "--aa"), ("OR", -1, "aa~x"), ("OR", -1, "\\-bb"),
        ("OR", -1, "aa + bb | cc + dd"),     # two alternations: depth-3 tree
        ("OR", -1, "(aa bb"), ("OR", -1, "aa))"), ("OR", -1, "() aa"),
        ("OR", -1, '"" aa'),
        ("OR", -1, '"bb cc"~2+aa'),          # post-slop char swallowed
        ("OR", -1, "aa~2 -dd"), ("OR", -1, '-"bb cc" dd'),
        ("OR", -1, "-(bb | dd) aa"),
        ("OR", -1, 'aa + ""~2 bb'),          # null branch keeps '+' pending
        ("AND", -1, "aa | bb cc"), ("AND", -1, "-aa bb"),
        ("OR", -1, "aa+bb|cc"), ("OR", -1, "ab*~1"),  # fuzzy wins over prefix
        ("OR", -1, "a\\*"), ("OR", -1, "aa~-3"), ("OR", -1, "aa~9"),
        # restricted flags: no NOT -> '-' is a term char; no PRECEDENCE ->
        # parens are term chars; no FUZZY -> '~' is a term char
        ("OR", sq.AND_OPERATOR | sq.OR_OPERATOR | sq.PHRASE_OPERATOR
         | sq.WHITESPACE_OPERATOR, "-bb aa"),
        ("OR", sq.AND_OPERATOR | sq.WHITESPACE_OPERATOR, "(aa bb) cc"),
        ("OR", sq.WHITESPACE_OPERATOR | sq.NOT_OPERATOR, "aa~1 -bb"),
        ("OR", sq.ALL_FLAGS & ~sq.ESCAPE_OPERATOR, "\\-bb"),
    ]

    vocab = ["aa", "ab", "abc", "bb", "bc", "cc", "cd", "dd", "-aa", "a*b"]
    rng = random.Random(28282828)

    def gen_query(depth: int = 0) -> str:
        def unit() -> str:
            r = rng.random()
            if r < 0.42:
                t = rng.choice(vocab)
                r2 = rng.random()
                if r2 < 0.12:
                    return t[: max(1, len(t) - 1)] + "*"
                if r2 < 0.24:
                    return t + "~" + rng.choice(["1", "2", "3", "0", "x", ""])
                if r2 < 0.30:
                    return "\\" + t
                return t
            if r < 0.72:
                toks = [rng.choice(vocab) for _ in range(rng.randint(1, 3))]
                ph = '"' + " ".join(toks) + '"'
                if rng.random() < 0.45:
                    ph += "~" + rng.choice(["0", "1", "2", "5", ""])
                return ph
            if depth < 2:
                return "(" + gen_query(depth + 1) + ")"
            return rng.choice(vocab)

        parts = []
        for i in range(rng.randint(1, 5 if depth == 0 else 3)):
            glue = rng.choice(["", "", "+", "|", "-", "+ ", "| ", "- ", "-- "])
            if i == 0 and rng.random() < 0.7:
                glue = "" if "-" not in glue else glue
            parts.append(glue + unit())
        q = " ".join(parts)
        if depth == 0 and rng.random() < 0.12:
            q += rng.choice([")", " (", ' "', " -"])
        return q

    for corpus_round in range(4):
        n_docs = rng.randint(6, 25)
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
            for _ in range(n_docs)
        ]
        idx = build_ws_oracle_index(list(enumerate(docs)))
        cases = list(fixed) if corpus_round == 0 else []
        for _ in range(40):
            q = gen_query()
            assert "\t" not in q and "\n" not in q
            cases.append((rng.choice(["OR", "OR", "OR", "AND"]), -1, q))
        expected = gt.run_simpleqp(docs, cases)
        assert len(expected) == len(cases)
        for (op, flags, q), exp in zip(cases, expected):
            got = simple_topk(
                idx, q, k=10,
                default_operator="+" if op == "AND" else "",
                flags=flags,
            )
            _assert_topk_equal(got, exp, (corpus_round, op, flags, q))


def test_xml_query_parser_matches_compiled_reference():
    """Ground-truth round 29 — the XML query parser (queryparser/xml/
    CoreParser.java + builders/) vs the compiled reference: randomized
    single-line XML query documents through the real CoreParser +
    IndexSearcher over a whitespace index, top-10 docids + float32
    scores bit-for-bit against search/xmlqp.py's element mapping over
    the shared tree evaluator. Covers TermQuery/TermsQuery (msm),
    nested BooleanQuery with all four occurs (FILTER scores nothing),
    boost threading through nested wrappers, RangeQuery's empty-string
    bounds, DisjunctionMaxQuery, ConstantScoreQuery, UserQuery (classic
    parser delegation), and the span element family."""
    import numpy as np

    from lucene_solr_spark.search.simpleqp import (
        _ws_analyze,
        build_ws_oracle_index,
        oracle_topk_tree,
    )
    from lucene_solr_spark.search.xmlqp import parse_xml_query

    vocab = ["aa", "ab", "bb", "bc", "cc", "cd", "dd", "ee", "ff"]
    rng = random.Random(29292929)

    def gen(depth: int = 0) -> str:
        choices = ["term", "terms", "bool", "range", "dismax", "const",
                   "user", "matchall", "span"]
        kind = rng.choice(choices if depth < 2 else ["term", "terms", "range"])
        boost = rng.choice(["", "", ' boost="2"', ' boost="0.5"', ' boost="3.25"'])
        if kind == "term":
            return f'<TermQuery fieldName="body"{boost}>{rng.choice(vocab)}</TermQuery>'
        if kind == "terms":
            toks = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4)))
            msm = rng.choice(["", ' minimumNumberShouldMatch="2"'])
            return f'<TermsQuery fieldName="body"{msm}{boost}>{toks}</TermsQuery>'
        if kind == "bool":
            n = rng.randint(1, 4)
            occs = [rng.choice(["should", "should", "must", "mustNot", "filter"])
                    for _ in range(n)]
            if all(o == "mustNot" for o in occs):
                occs[0] = "should"
            kids = "".join(
                f'<Clause occurs="{o}">{gen(depth + 1)}</Clause>' for o in occs
            )
            msm = rng.choice(["", ' minimumNumberShouldMatch="1"',
                              ' minimumNumberShouldMatch="2"'])
            return f'<BooleanQuery fieldName="body"{msm}{boost}>{kids}</BooleanQuery>'
        if kind == "range":
            lo, hi = sorted((rng.choice(vocab), rng.choice(vocab)))
            il = rng.choice(["", ' includeLower="false"'])
            iu = rng.choice(["", ' includeUpper="false"'])
            parts = ""
            if rng.random() < 0.9:
                parts += f' lowerTerm="{lo}"'
            if rng.random() < 0.9:
                parts += f' upperTerm="{hi}"'
            return f'<RangeQuery fieldName="body"{parts}{il}{iu}/>'
        if kind == "dismax":
            tie = rng.choice(["", ' tieBreaker="0.3"', ' tieBreaker="1.0"'])
            kids = "".join(gen(depth + 1) for _ in range(rng.randint(1, 3)))
            return f'<DisjunctionMaxQuery fieldName="body"{tie}{boost}>{kids}</DisjunctionMaxQuery>'
        if kind == "const":
            return f'<ConstantScoreQuery{boost}>{gen(depth + 1)}</ConstantScoreQuery>'
        if kind == "user":
            n = rng.randint(1, 3)
            parts = []
            for _ in range(n):
                t = rng.choice(vocab)
                parts.append(rng.choice([t, t, f"+{t}", f"-{t}", f"{t}^2"]))
            qs = " ".join(parts)
            if rng.random() < 0.3:
                qs = f'"{rng.choice(vocab)} {rng.choice(vocab)}" ' + qs
            return f'<UserQuery fieldName="body"{boost}>{qs}</UserQuery>'
        if kind == "matchall":
            return "<MatchAllDocsQuery/>"
        # span family
        sk = rng.choice(["term", "orterms", "near", "first", "not"])
        if sk == "term":
            return f'<SpanTerm fieldName="body"{boost}>{rng.choice(vocab)}</SpanTerm>'
        if sk == "orterms":
            toks = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 3)))
            return f'<SpanOrTerms fieldName="body"{boost}>{toks}</SpanOrTerms>'

        def clause() -> str:
            if rng.random() < 0.6:
                return f"<SpanTerm>{rng.choice(vocab)}</SpanTerm>"
            toks = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 3)))
            return f"<SpanOrTerms>{toks}</SpanOrTerms>"

        if sk == "near":
            slop = rng.randint(0, 3)
            order = rng.choice(["", ' inOrder="true"'])
            kids = "".join(clause() for _ in range(rng.randint(2, 3)))
            return (f'<SpanNear fieldName="body" slop="{slop}"{order}{boost}>'
                    f"{kids}</SpanNear>")
        if sk == "first":
            end = rng.choice(["", f' end="{rng.randint(1, 4)}"'])
            return (f'<SpanFirst fieldName="body"{end}{boost}>{clause()}'
                    f"</SpanFirst>")
        inc = (f'<SpanNear slop="{rng.randint(0, 3)}" inOrder="true">'
               f"{clause()}{clause()}</SpanNear>"
               if rng.random() < 0.5 else clause())
        return (f'<SpanNot fieldName="body"{boost}><Include>{inc}</Include>'
                f"<Exclude>{clause()}</Exclude></SpanNot>")

    for corpus_round in range(4):
        n_docs = rng.randint(6, 25)
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
            for _ in range(n_docs)
        ]
        idx = build_ws_oracle_index(list(enumerate(docs)))
        cases = [gen() for _ in range(40)]
        for q in cases:
            assert "\n" not in q
        expected = gt.run_xml(docs, cases)
        assert len(expected) == len(cases)
        for xmlq, exp in zip(cases, expected):
            assert not isinstance(exp, str), (corpus_round, xmlq, exp)
            tree = parse_xml_query(xmlq, _ws_analyze)
            got = oracle_topk_tree(idx, tree, k=10)
            _assert_topk_equal(got, exp, (corpus_round, xmlq))


def test_standard_analyzer_chain_matches_compiled_reference():
    """Ground-truth round 30 — the StandardAnalyzer chain ITSELF
    (analysis/common standard/StandardTokenizer + StandardFilter +
    LowerCaseFilter + StopFilter(33)) vs the compiled reference: fuzzed
    raw strings through the real chain, (position, token) streams exact
    (stop-gap position increments included). Pins the UAX#29 joiner
    tables empirically: MidLetter (':' et al, letter x letter only),
    MidNum (','/';' et al, digit x digit only), MidNumLet + Single_Quote
    (both same-type sides), mixed-side splits, '_' ExtendNumLet rides,
    Han/Hiragana single-char tokens, Katakana runs, Hangul as ALetter."""
    from lucene_solr_spark.analysis.tokenizer import analyze_with_positions

    def ours(text):
        pos, _fl = analyze_with_positions(text)
        return sorted((p, t) for t, ps in pos.items() for p in ps)

    fixed = [
        "The Quick BROWN fox and the lazy dog",
        "spark.sql.shuffle.partitions = 32",
        "def foo_bar(x, y): return x+y  # comment",
        "don't can't it's O'Brien",
        "version 3.14 and 1,000 items",
        "colon:separated a:b:c 1;2 1,2,3",
        "ab.12 a1.2b 1a.b2 ab_.cd _ab.cd_",
        "a''b a.,b 1.,2 ab:12",
        "日本語 あいうえお カタカナ ラン 한국어",
        "中文 words mixed 日本 a日b 1日2",
        "MiXeD CaSe ÀÉÎÕÜ àéîõü İstanbul",
        "ΕΛΛΗΝΙΚΑ κείμενο Русский текст",
        "x" * 254 + " " + "y" * 255 + " " + "z" * 256,  # maxTokenLength 255
        "z" * 600,                          # multi-window split
        "a" * 253 + "." + "b" * 10,         # window boundary lands mid-token
        "c" * 254 + "." + "d" * 10,         # boundary lands ON the joiner
    ]
    atoms = (
        list("abc xyz 12 345 ") + ["the ", "and ", "a ", "to "]
        + list(":;,.'") + ["‧", "·", "’", "․", "，", "："]
        + ["_", "-", "(", ")", "!", "каб", "λόγος", "日", "本", "あ", "カタ",
           "한국", "é", "ü", " ", " ", "\t"]
    )
    rng = random.Random(30303030)
    cases = list(fixed)
    for _ in range(120):
        s = "".join(rng.choice(atoms) for _ in range(rng.randint(1, 14)))
        cases.append(s.replace("\n", " "))
    expected = gt.run_tokenize(cases)
    assert len(expected) == len(cases)
    for line, exp in zip(cases, expected):
        assert ours(line) == exp, (line, ours(line), exp)


def test_classic_highlighter_matches_compiled_reference():
    """Ground-truth round 31 — the CLASSIC highlighter chain
    (lucene/highlighter search/highlight: Highlighter + QueryScorer +
    WeightedSpanTermExtractor + SimpleFragmenter + SimpleHTMLFormatter)
    vs the compiled reference: raw classic-parser query strings over
    random corpora, every returned fragment STRING and float32 score
    equal, in order. Exercises term boosts, +/-/AND/OR/NOT, paren
    groups, phrases with slop and stopword gaps (position-sensitive
    spans from the doc's own postings), repeated-term phrases,
    wildcard / fuzzy / range expansion against the DOC's own
    vocabulary, fragment-queue ties, and contiguous-fragment merging."""
    from lucene_solr_spark.search.classic_highlight import best_text_fragments

    words = [
        "merge", "merges", "merged", "sort", "sorted", "vector", "spark",
        "join", "fox", "fix", "fax", "fast", "slow", "token", "tokens",
        "index", "query", "shard", "12", "345",
    ]
    stop = ["the", "and", "of", "to", "a", "is", "in"]
    rng = random.Random(31313131)

    def mk_doc():
        n = rng.randint(6, 26)
        return " ".join(
            rng.choice(stop) if rng.random() < 0.25 else rng.choice(words)
            for _ in range(n)
        )

    def mk_query():
        shape = rng.randrange(10)
        t = lambda: rng.choice(words)
        if shape == 0:
            q = " ".join(t() for _ in range(rng.randint(1, 3)))
        elif shape == 1:
            q = f"{t()}^{rng.choice(['2', '0.5', '3'])} {t()}"
        elif shape == 2:
            q = f"+{t()} -{t()} {t()}"
        elif shape == 3:
            q = f"{t()} {rng.choice(['AND', 'OR'])} {t()}"
        elif shape == 4:
            body = " ".join(
                rng.choice(stop) if rng.random() < 0.3 else t()
                for _ in range(rng.randint(2, 4))
            )
            slop = rng.choice(["", "", "~1", "~2"])
            boost = rng.choice(["", "", "^2"])
            q = f'"{body}"{slop}{boost} {t()}'
        elif shape == 5:
            w = t()
            q = f"{w[: max(1, len(w) - 2)]}* {t()}"
        elif shape == 6:
            q = f"{t()}~{rng.choice(['1', '2'])} {t()}"
        elif shape == 7:
            lo, hi = sorted((t(), t()))
            lb, rb = rng.choice([("[", "]"), ("{", "}")])
            q = f"{lb}{lo} TO {hi}{rb}"
        elif shape == 8:
            q = f"{rng.choice(['', '+', '-'])}({t()} {t()}) {t()}"
        else:
            q = f'"{t()} {t()}" "{t()} {t()}"~1'
        return q

    fixed_queries = [
        (1000, 1, '"merge merge"'),          # repeated-term ordered near
        (1000, 1, '"merge merge"~2'),        # repeated-term unordered cells
        (1000, 2, '"the merge sort"'),       # leading stopword gap
        (1000, 1, '"merge of sort"~1'),      # interior stopword gap
        (25, 3, "merge sort vector"),        # fragment queue + merging
        (15, 2, "merge^2 sort^0.5"),
        (1000, 1, "mer* merge^3"),           # expansion then boosted put
        (1000, 1, "merge^3 mer*"),           # put order: expansion last wins
        (1000, 1, '"merge sort" merge^2'),   # sensitive then insensitive put
        (1000, 1, 'merge^2 "merge sort"'),   # insensitive first: spans append
    ]
    for corpus_round in range(4):
        docs = [mk_doc() for _ in range(rng.randint(8, 14))]
        queries = list(fixed_queries) if corpus_round == 0 else []
        while len(queries) < 24:
            fs = rng.choice([15, 25, 40, 80, 1000])
            mf = rng.choice([1, 2, 3])
            queries.append((fs, mf, mk_query()))
        expected = gt.run_classic_highlight(docs, queries)
        assert len(expected) == len(queries)
        for (fs, mf, q), per_doc in zip(queries, expected):
            for di, (d, exp) in enumerate(zip(docs, per_doc)):
                got = best_text_fragments(q, d, fs, mf)
                got_cmp = [(s, np.float32(sc)) for s, sc in got]
                exp_cmp = [(s, np.float32(float(sc))) for s, sc in exp]
                assert got_cmp == exp_cmp, (
                    corpus_round, (fs, mf, q), di, d, got_cmp, exp_cmp,
                )


def test_flexible_standard_query_parser_matches_compiled_reference():
    """Ground-truth round 32 — the FLEXIBLE query parser
    (queryparser/flexible StandardQueryParser: StandardSyntaxParser +
    the StandardQueryNodeProcessorPipeline + StandardQueryTreeBuilder)
    vs the compiled reference: raw query strings over whitespace
    corpora, top-10 docids + float32 scores bit-for-bit through
    search/flexibleqp.py's mapping onto the shared tree evaluator.
    Covers the precedence-flattening BooleanQuery2ModifierNodeProcessor
    (A AND B OR C AND D == +A +B +C +D; parens block the flatten),
    +/-/NOT modifiers, pure-negation wrapping, group boosts, phrases
    with slop/boost, fractional fuzzy similarities (floatToEdits),
    boost-then-fuzzy and fuzzy-then-boost orders, wildcard / regexp /
    term-range constant-score rewrites, '*' open range bounds, and
    '*:*' MatchAllDocs."""
    from lucene_solr_spark.search.flexibleqp import parse_flexible
    from lucene_solr_spark.search.simpleqp import (
        _ws_analyze,
        build_ws_oracle_index,
        oracle_topk_tree,
    )

    vocab = ["aa", "ab", "abc", "bb", "bc", "cc", "cd", "dd", "ee", "ff",
             "12", "345"]
    rng = random.Random(32323232)

    def mk_doc():
        return " ".join(
            rng.choice(vocab) for _ in range(rng.randint(3, 12))
        )

    def mk_term():
        return rng.choice(vocab)

    def mk_clause(depth):
        shape = rng.randrange(12 if depth == 0 else 9)
        if shape == 0:
            return mk_term()
        if shape == 1:
            return f"{mk_term()}^{rng.choice(['2', '0.5', '3.25'])}"
        if shape == 2:
            sim = rng.choice(["", "1", "2", "0.5", "0.8", "0.3"])
            return f"{mk_term()}~{sim}"
        if shape == 3:
            t = mk_term()
            b = rng.choice(["2", "0.5"])
            return rng.choice([f"{t}^{b}~1", f"{t}~1^{b}"])
        if shape == 4:
            body = " ".join(mk_term() for _ in range(rng.randint(1, 3)))
            slop = rng.choice(["", "", "~1", "~2"])
            boost = rng.choice(["", "", "^2", "^0.5"])
            return f'"{body}"{slop}{boost}'
        if shape == 5:
            t = mk_term()
            return rng.choice([f"{t[0]}*", f"{t[0]}?", f"{t[0]}*{t[-1]}"])
        if shape == 6:
            return rng.choice(["/a./", "/[ab]+/", "/a.*c/", "/(a|b)b/",
                               "/d+d/", "/..?/"])
        if shape == 7:
            lo, hi = sorted((mk_term(), mk_term()))
            lo = rng.choice([lo, lo, "*"])
            hi = rng.choice([hi, hi, "*"])
            lb, rb = rng.choice([("[", "]"), ("{", "}"), ("[", "}"),
                                 ("{", "]")])
            return f"{lb}{lo} TO {hi}{rb}"
        if shape == 8:
            return "*:*"
        # depth-0 only: groups
        inner = " ".join(
            mk_mod_clause(depth + 1) for _ in range(rng.randint(1, 3))
        )
        boost = rng.choice(["", "", "^2", "^0.5"])
        return f"({inner}){boost}"

    def mk_mod_clause(depth):
        mod = rng.choice(["", "", "", "+", "-", "NOT ", "!"])
        return f"{mod}{mk_clause(depth)}"

    def mk_query():
        parts = [mk_mod_clause(0)]
        while rng.random() < 0.6 and len(parts) < 5:
            op = rng.choice(["", "", "AND", "OR", "&&", "||"])
            if op:
                parts.append(op)
            parts.append(mk_mod_clause(0))
        return " ".join(parts)

    fixed = [
        "aa AND bb OR cc AND dd",      # the no-precedence flatten
        "aa OR bb AND cc",
        "(aa AND bb) OR cc",           # parens BLOCK the flatten
        "aa AND (bb OR cc)",
        "-aa",                          # pure negation -> empty
        "-aa *:*",                      # negation beside matchall
        "+aa",                          # bare REQ at root
        "(+aa -bb)^2 cc",
        '"aa"~2',                       # 1-token phrase + slop
        "aa~0.99",                      # (1-0.99)*2 -> 0 edits
        "ab~0.5",                       # 1 edit
        "abc~0.5",                      # (0.5*3) -> 1 edit
        "abc~0.1",                      # capped at 2
        "[aa TO aa]", "{aa TO aa}",     # degenerate ranges
        "[* TO *]",
        "aa AND bb cc",                 # And beside bare clause
        "aa bb AND cc dd",
        "NOT aa AND bb",
        "aa && bb || cc && dd",
    ]
    for corpus_round in range(4):
        docs = [mk_doc() for _ in range(rng.randint(6, 14))]
        idx = build_ws_oracle_index(list(enumerate(docs)))
        queries = list(fixed) if corpus_round == 0 else []
        while len(queries) < 40:
            queries.append(mk_query())
        expected = gt.run_flexible(docs, queries)
        assert len(expected) == len(queries)
        for qstr, exp in zip(queries, expected):
            if isinstance(exp, str):
                # the reference parser rejected it — ours must too
                from lucene_solr_spark.search.flexibleqp import (
                    FlexibleParseError,
                )

                with pytest.raises(FlexibleParseError):
                    parse_flexible(qstr, _ws_analyze)
                continue
            tree = parse_flexible(qstr, _ws_analyze)
            got = oracle_topk_tree(idx, tree, 10) if tree is not None else []
            _assert_topk_equal(got, exp, (corpus_round, qstr))


def test_extend_format_chars_match_compiled_reference():
    """Ground-truth round 30b — UAX#29 WB4 Extend/Format transparency
    (the round-30 scope-out): combining marks (Mn/Mc/Me) and format
    controls (Cf: ZWJ/ZWNJ/soft hyphen/bidi marks) attach to the
    PRECEDING char, ride inside the emitted token text, never start a
    token, and the mid-token joiner side classes look THROUGH them;
    plus the 6.3-era astral planes (CJK Ext B single-char ideographs,
    Kana supplement) and Java's per-codepoint lowercase (no
    Final_Sigma context rule). Fuzzed (position, token) streams exact
    vs the compiled StandardAnalyzer chain."""
    from lucene_solr_spark.analysis.tokenizer import analyze_with_positions

    def ours(text):
        pos, _fl = analyze_with_positions(text)
        return sorted((p, t) for t, ps in pos.items() for p in ps)

    fixed = [
        "café naivë áb",
        "é̂x y‍z a­b",
        "ab́.12 1́2 a.́1 ab́:cd 1́:b",
        "1́,2 1,́2 ab.́cd a‍.b a.‍b",
        "‍ab ­cd ́́ ‍‍ x",
        "ab‍ cd́ ef­ ab‍12 ab́12",
        "\U0001D400\U0001D401 \U0001D7CE\U0001D7CF",
        "\U00020000\U00020001 ab \U0001B000 \U0001B001ab",
        "日‍本 日́ カ́タ",
        "à ́b ́ ab",
        "אִ اَ",
        "x‍‍y a‌b",
        "а́б π͂ρ",
        "ΣΑΣ Σ ΟΔΥΣΣΕΥΣ σας",          # Final_Sigma: Java gives σ, not ς
        "İ̇stanbul İ",              # dotted capital I + extra mark
        "á:b́:ć 1́,2́,3",
    ]
    fixed += [
        "カ_ab ab_カ _カ カ_ 12_カ 日_ _日",     # WB13a/b ENL bridges
        "ab‿カ カ‿12 ‿ ab‿ ‿カ ＿ab カ＿ab",  # non-'_' connectors
        "カ́_ab ab_́カ 1́2_カ",                 # bridges through marks
        "ｶﾅ ｦｱｶ ｶﾞ ﾞﾟ aﾞ 1ﾞ",                    # halfwidth kata + Extend marks
        "カ゛ ゛゜ a゛ ㋐㋑ ㋐a ㋐_a ア㋐",       # fullwidth voicing, circled
        "゠ カ゠カ ー カー ーカ",                 # double hyphen, prolonged mark
        "𛀀𛀀 𛀁𛀁 𛀀カ カ㋐𛀀ｶ",             # astral kana classes
    ]
    atoms = (
        ["ab ", "12 ", "the ", "é", "x", "1", " ", " "]
        + ["́", "̈", "‍", "‌", "­", "֑",
           "ً", "ﾞ"]
        + list(":,.'") + ["・" if False else "‧", "，"]
        + ["日", "カ", "ｶ", "㋐", "゠", "゛", "𛀀", "𠀀", "𝐀", "Σ", "ς",
           "а́", "_", "‿"]
    )
    rng = random.Random(303030302)
    cases = list(fixed)
    for _ in range(200):
        s = "".join(rng.choice(atoms) for _ in range(rng.randint(1, 12)))
        cases.append(s.replace("\n", " "))
    expected = gt.run_tokenize(cases)
    assert len(expected) == len(cases)
    for line, exp in zip(cases, expected):
        assert ours(line) == exp, (line, ours(line), exp)


def test_tst_jaspell_lookups_match_compiled_reference():
    """Ground-truth round 33 — the two remaining Lookup implementations
    (suggest/tst/TSTLookup, suggest/jaspell/JaspellLookup) vs the
    compiled reference: randomized weighted entries, both the plain and
    the onlyMorePopular paths. Pins TST's balanced middle-first build
    over UTF-16-sorted entries + prefixCompletion's explicit-stack DFS
    result order (the unpopular path returns the first `num` in WALK
    order, not sorted order), Jaspell's exact-key-first in-order
    traversal, and LookupPriorityQueue's weight-DESC order including
    heap-layout tie behavior (duplicate weights on purpose)."""
    from lucene_solr_spark.search.suggesters import jaspell_lookup, tst_lookup

    rng = random.Random(33333333)
    syll = ["me", "mer", "so", "sor", "ta", "tab", "ve", "x", "zz", "a"]
    for corpus_round in range(4):
        n = rng.randint(6, 24)
        keys = set()
        while len(keys) < n:
            keys.add("".join(rng.choice(syll)
                             for _ in range(rng.randint(1, 3))))
        # duplicate weights on purpose: the PQ tie order is part of the pin
        entries = [(k, rng.randint(1, 6)) for k in sorted(keys)]
        rng.shuffle(entries)
        queries = []
        for _ in range(30):
            kind = rng.choice(["TST", "TSTW", "JASPELL", "JASPELLW"])
            num = rng.randint(1, 6)
            base = rng.choice(entries)[0]
            key = base[: rng.randint(1, len(base))]
            if rng.random() < 0.15:
                key = key + rng.choice(["q", "zz"])  # likely no match
            queries.append((kind, num, key))
        expected = gt.run_suggesters(entries, queries)
        assert len(expected) == len(queries)
        for (kind, num, key), exp in zip(queries, expected):
            fn = tst_lookup if kind.startswith("TST") else jaspell_lookup
            got = [
                (k, int(w))
                for k, w in fn(entries, key, num,
                               only_more_popular=kind.endswith("W"))
            ]
            exp_pairs = [(k, int(v)) for k, v in exp]
            assert got == exp_pairs, (corpus_round, kind, num, key,
                                      got, exp_pairs)


def test_analyzing_query_parser_matches_compiled_reference():
    """Ground-truth round 34 — AnalyzingQueryParser
    (queryparser/analyzing): the classic grammar with wildcard / prefix
    / fuzzy / range terms passed THROUGH the analyzer — wildcard terms
    chunk-wise around the '*'/'?' runs, fuzzy and prefix terms whole,
    range bounds analyzed (setAnalyzeRangeTerms(true) in the ctor).
    Raw query strings over a STANDARD-analyzer index (mixed-case corpus
    so the chunk analysis is observable) vs parse_analyzing ->
    to_spec -> control oracle, top-10 docids + float32 scores exact;
    a chunk the analyzer drops (stop word) or splits must raise on
    both sides."""
    from lucene_solr_spark.search import queryparser as qp
    from lucene_solr_spark.search.oracle import (
        build_oracle_index,
        oracle_topk_spec,
    )

    vocab = ["Merge", "MERGED", "merges", "Mercy", "Sort", "sorted",
             "Vector", "fast", "FAST", "abc", "Abd", "acb", "xyz"]
    queries = [
        "MER*",                      # prefix, uppercase chunk
        "Mer*es",                    # two chunks around the star
        "M?r*",                      # mixed wildcards
        "MERGE~1 xyz",               # fuzzy analyzed whole
        "Abc~1",
        "[MERGE TO SORT] xyz",       # range bounds analyzed
        "{Abc TO Xyz}",
        "+SOR* xyz",
        "xyz AND MER*",
        "-MER* xyz fast",
        "(MER* xyz) AND fast",       # expansion inside a group
        "ABC*^2.5 xyz",
        "the*",                      # stopword chunk -> ParseException
        "so*ed xyz",
    ]
    rng = random.Random(34343434)
    for corpus_round in range(3):
        docs = [
            " ".join(rng.choice(vocab + ["the", "and"])
                     for _ in range(rng.randint(2, 12)))
            for _ in range(rng.randint(8, 16))
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        expected = gt.run_analyzing_qp(docs, queries)
        assert len(expected) == len(queries)
        for qstr, exp in zip(queries, expected):
            if isinstance(exp, str):
                with pytest.raises(qp.AnalyzingParseError):
                    qp.parse_analyzing(qstr)
                continue
            spec = qp.to_spec(_DictSearcher(idx), qp.parse_analyzing(qstr))
            got = oracle_topk_spec(idx, spec, k=10)
            _assert_topk_equal(got, exp, (corpus_round, qstr))


def test_boosting_query_matches_compiled_reference():
    """Ground-truth round 35 — BoostingQuery
    (lucene/queries/BoostingQuery.java): matching and scoring come from
    the MATCH query; a doc that also matches the CONTEXT query keeps
    matching but its score is multiplied by the demotion boost in
    float32 (the context weight is needsScores=false). Randomized
    match/context term sets and boosts vs the compiled binary."""
    from lucene_solr_spark.search.simpleqp import (
        build_ws_oracle_index,
        oracle_topk_tree,
    )

    rng = random.Random(35353535)
    vocab = ["aa", "ab", "bb", "bc", "cc", "dd", "ee", "ff"]
    for corpus_round in range(3):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 10)))
            for _ in range(rng.randint(8, 16))
        ]
        idx = build_ws_oracle_index(list(enumerate(docs)))
        lines = []
        trees = []
        for _ in range(25):
            nm = rng.randint(1, 3)
            nc = rng.randint(1, 2)
            mterms = [rng.choice(vocab) for _ in range(nm)]
            cterms = [rng.choice(vocab) for _ in range(nc)]
            boost = rng.choice(["0.1", "0.5", "0.25", "2.0", "1.0"])
            lines.append(
                f"BOOSTING {boost} {nm} {' '.join(mterms)} {' '.join(cterms)}"
            )
            trees.append((
                "boosting", float(boost),
                ("bool", tuple(("", ("term", t)) for t in mterms)),
                ("bool", tuple(("", ("term", t)) for t in cterms)),
            ))
        expected = gt.run_topk(docs, lines)
        assert len(expected) == len(lines)
        for line, tree, exp in zip(lines, trees, expected):
            got = oracle_topk_tree(idx, tree, 10)
            _assert_topk_equal(got, exp, (corpus_round, line))


def test_simple_span_fragmenter_matches_compiled_reference():
    """Ground-truth round 36 — SimpleSpanFragmenter
    (highlight/SimpleSpanFragmenter.java): the size-bounded fragmenter
    that refuses to cut inside a query position span (waitForPos =
    span end + 1) and never leaves a trailing fragment shorter than
    fragmentSize/2 — including its reference quirk that the internal
    position counter only advances on isNewFragment() calls (group
    flushes), lagging the scorer's positions by the first token's
    increment. Fragment strings + float32 scores exact vs the compiled
    chain over phrase/term/boost queries and small fragment sizes."""
    from lucene_solr_spark.search.classic_highlight import best_text_fragments

    words = ["merge", "sort", "vector", "spark", "join", "fast", "slow",
             "token", "index", "query", "shard", "scan"]
    stop = ["the", "and", "of", "to", "a"]
    rng = random.Random(36363636)

    def mk_doc():
        return " ".join(
            rng.choice(stop) if rng.random() < 0.25 else rng.choice(words)
            for _ in range(rng.randint(8, 30))
        )

    def mk_query():
        shape = rng.randrange(5)
        t = lambda: rng.choice(words)
        if shape == 0:
            return " ".join(t() for _ in range(rng.randint(1, 3)))
        if shape == 1:
            return f'"{t()} {t()}"~{rng.choice(["0", "1", "2"])}'
        if shape == 2:
            return f'"{t()} {rng.choice(stop)} {t()}" {t()}'
        if shape == 3:
            return f"{t()}^2 {t()}"
        return f'"{t()} {t()}" "{t()} {t()}"~1'

    for corpus_round in range(3):
        docs = [mk_doc() for _ in range(rng.randint(6, 10))]
        queries = [
            (rng.choice([15, 20, 30, 50, 80]), rng.choice([1, 2, 3]),
             "P", mk_query())
            for _ in range(18)
        ]
        expected = gt.run_classic_highlight(docs, queries)
        for (fs, mf, _p, q), per_doc in zip(queries, expected):
            for di, (d, exp) in enumerate(zip(docs, per_doc)):
                got = best_text_fragments(q, d, fs, mf, fragmenter="span")
                got_cmp = [(s, np.float32(sc)) for s, sc in got]
                exp_cmp = [(s, np.float32(float(sc))) for s, sc in exp]
                assert got_cmp == exp_cmp, (
                    corpus_round, (fs, mf, q), di, d, got_cmp, exp_cmp,
                )


def test_explain_trees_match_compiled_reference():
    """Ground-truth round 37 — IndexSearcher.explain: the score
    DECOMPOSITION tree (TermWeight.explain -> BM25Similarity
    explainScore/explainTFNorm; PhraseWeight with summed per-occurrence
    idf children; BooleanWeight.explain's float32 clause-order sum,
    required/prohibited failure wrapping, the minimumNumberShouldMatch
    noMatch, and the CONSTANT non-scoring inner node of a matched
    prohibited clause) — every node's (match flag, float32 value,
    child count) equal in pre-order vs the compiled reference."""
    from lucene_solr_spark.search.bm25 import avgdl_f32
    from lucene_solr_spark.search.explain import (
        explain_boolean,
        explain_nodes,
        explain_phrase,
        explain_term,
    )
    from lucene_solr_spark.search.simpleqp import build_ws_oracle_index

    rng = random.Random(37373737)
    vocab = ["aa", "ab", "bb", "bc", "cc", "dd", "ee"]
    for corpus_round in range(3):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
            for _ in range(rng.randint(5, 12))
        ]
        idx = build_ws_oracle_index(list(enumerate(docs)))
        avgdl = avgdl_f32(idx.sum_ttf, idx.doc_count)

        def term_tree(t, doc, boost=1.0):
            return explain_term(
                t, doc, idx.postings.get(t, {}).get(doc, 0),
                len(idx.postings.get(t, {})), idx.doc_count,
                idx.norm_bytes[doc], avgdl, boost,
            )

        def phrase_tree(terms, slop, doc):
            pf = _python_freq(
                docs[doc], [(i, (t,)) for i, t in enumerate(terms)], slop
            )
            return explain_phrase(
                terms, doc, float(pf),
                {t: len(idx.postings.get(t, {})) for t in terms},
                idx.doc_count, idx.norm_bytes[doc], avgdl,
                exact=(slop == 0),
            )

        lines, trees = [], []
        for _ in range(40):
            doc = rng.randrange(len(docs))
            shape = rng.randrange(7)
            # >= 2 DISTINCT clauses: a 1-clause BooleanQuery rewrites to
            # its bare inner query and duplicate SHOULD clauses merge
            # before explain (BooleanQuery.rewrite)
            ts = rng.sample(vocab, rng.randint(2, 4))
            if shape == 0:
                lines.append(f"{doc} TERM {ts[0]}")
                trees.append(term_tree(ts[0], doc))
            elif shape == 1:
                lines.append(f"{doc} OR {' '.join(ts)}")
                trees.append(explain_boolean(
                    [("", term_tree(t, doc)) for t in ts]))
            elif shape == 2:
                lines.append(f"{doc} AND {' '.join(ts)}")
                trees.append(explain_boolean(
                    [("+", term_tree(t, doc)) for t in ts]))
            elif shape == 3:
                msm = rng.randint(1, len(ts))
                lines.append(f"{doc} MSM {msm} {' '.join(ts)}")
                trees.append(explain_boolean(
                    [("", term_tree(t, doc)) for t in ts],
                    min_should_match=msm))
            elif shape == 4:
                bs = [rng.choice(["2.0", "0.5", "1.0", "3.25"]) for _ in ts]
                lines.append(
                    f"{doc} BOOST "
                    + " ".join(f"{t}:{b}" for t, b in zip(ts, bs))
                )
                trees.append(explain_boolean(
                    [("", term_tree(t, doc, float(b)))
                     for t, b in zip(ts, bs)]))
            elif shape == 5:
                ns = max(1, len(ts) - 1)
                lines.append(f"{doc} NOT {ns} {' '.join(ts)}")
                trees.append(explain_boolean(
                    [("", term_tree(t, doc)) for t in ts[:ns]]
                    + [("-", term_tree(t, doc)) for t in ts[ns:]]))
            else:
                slop = rng.choice([0, 0, 1, 2])
                pts = ts[: max(2, len(ts))][:3]
                while len(pts) < 2:
                    pts.append(rng.choice(vocab))
                lines.append(f"{doc} PHRASE {slop} {' '.join(pts)}")
                trees.append(phrase_tree(pts, slop, doc))
        expected = gt.run_explain(docs, lines)
        assert len(expected) == len(lines)
        for line, tree, exp in zip(lines, trees, expected):
            got = [
                (m, v, nc) for m, v, nc in explain_nodes(tree)
            ]
            exp_t = [(m, np.float32(float(v)), nc) for m, v, nc in exp]
            got_t = [(m, np.float32(v), nc) for m, v, nc in got]
            assert got_t == exp_t, (corpus_round, line, got_t, exp_t)


def test_default_operator_and_matches_compiled_reference():
    """Ground-truth round 38 — the AND default operator (Solr's
    q.op=AND) on BOTH string parsers. Classic
    (QueryParserBase.addClause :498-545): every non-prohibited clause
    is MUST unless introduced by OR, which ALSO retroactively demotes
    the previous non-prohibited clause — including an EXPLICIT '+'
    ("+aa OR bb" goes fully optional). Flexible
    (BooleanQuery2ModifierNodeProcessor usingAnd): unmodified children
    of PLAIN BooleanQueryNodes become MUST, but an explicit modifier is
    never overridden ("+aa OR bb" keeps the MUST) and paren groups
    promote their own members. Top-10 docids + float32 scores exact."""
    from lucene_solr_spark.search import queryparser as qp
    from lucene_solr_spark.search.flexibleqp import parse_flexible
    from lucene_solr_spark.search.oracle import (
        build_oracle_index,
        oracle_topk_spec,
    )
    from lucene_solr_spark.search.simpleqp import (
        _ws_analyze,
        build_ws_oracle_index,
        oracle_topk_tree,
    )

    vocab = ["aa", "ab", "bb", "bc", "cc", "dd", "ee", "ff"]
    rng = random.Random(38383838)

    def mk_query(allow_groups):
        parts = []
        n = rng.randint(2, 5)
        # DISTINCT terms per query: duplicate term clauses with distinct
        # boosts are the flat spec's documented limitation (per-
        # occurrence boosts live in term_clauses for tree consumers,
        # pinned in GT round 29)
        pool = rng.sample(vocab, min(n + 2, len(vocab)))
        for i in range(n):
            if i:
                parts.append(rng.choice(["", "", "OR", "AND", "OR", ""]))
            mod = rng.choice(["", "", "", "+", "-", "NOT "])
            if allow_groups and rng.random() < 0.15:
                parts.append(f"{mod}({pool[i]} {pool[i + 1]})")
            else:
                t = pool[i]
                suffix = rng.choice(["", "", "", "^2", "~1", "*"])
                if suffix == "*":
                    t = t[0] + "*"
                    suffix = ""
                parts.append(f"{mod}{t}{suffix}")
        return " ".join(x for x in parts if x != "")

    for corpus_round in range(3):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 10)))
            for _ in range(rng.randint(8, 14))
        ]
        cidx = build_oracle_index(list(enumerate(docs)))
        widx = build_ws_oracle_index(list(enumerate(docs)))
        classic_qs = ["+aa OR bb", "aa AND bb OR cc", "aa OR bb cc"] + [
            mk_query(allow_groups=False) for _ in range(20)
        ]
        flex_qs = ["+aa OR bb", "aa AND bb OR cc", "(aa bb) cc",
                   "-(aa bb) cc"] + [mk_query(allow_groups=True)
                                     for _ in range(20)]
        exp_c = gt.run_parser(docs, [f"ANDOP {q}" for q in classic_qs])
        for qstr, exp in zip(classic_qs, exp_c):
            spec = qp.to_spec(
                _DictSearcher(cidx), qp.parse(qstr, default_operator="and")
            )
            got = oracle_topk_spec(cidx, spec, k=10)
            _assert_topk_equal(got, exp, (corpus_round, "classic", qstr))
        exp_f = gt.run_flexible(docs, [f"ANDOP {q}" for q in flex_qs])
        for qstr, exp in zip(flex_qs, exp_f):
            assert not isinstance(exp, str), (corpus_round, qstr, exp)
            tree = parse_flexible(qstr, _ws_analyze, default_operator="and")
            got = oracle_topk_tree(widx, tree, 10) if tree is not None else []
            _assert_topk_equal(got, exp, (corpus_round, "flexible", qstr))


def test_classic_highlighter_reader_weights_match_compiled_reference():
    """Ground-truth round 31b — QueryScorer's READER mode
    (WeightedSpanTermExtractor.getWeightedSpanTermsWithScores): every
    extracted term's weight is multiplied in float32 by the classic idf
    ln(maxDoc/(df+1))+1 from the CORPUS index, so fragment scores become
    idf-weighted unique-term sums (rare terms dominate fragment
    selection). Fragment strings + float32 scores exact."""
    from lucene_solr_spark.search.classic_highlight import best_text_fragments

    words = ["merge", "sort", "vector", "spark", "join", "rareword",
             "fast", "slow", "token"]
    stop = ["the", "and", "of"]
    rng = random.Random(31531531)
    for corpus_round in range(3):
        docs = [
            " ".join(
                rng.choice(stop) if rng.random() < 0.2 else rng.choice(words)
                for _ in range(rng.randint(6, 24))
            )
            for _ in range(rng.randint(6, 10))
        ]
        # corpus dfs over the standard chain (what the reader reports)
        from lucene_solr_spark.analysis.tokenizer import analyze

        dfs: dict[str, int] = {}
        for d in docs:
            for t in set(analyze(d)):
                dfs[t] = dfs.get(t, 0) + 1
        queries = [
            (rng.choice([20, 40, 1000]), rng.choice([1, 2]),
             rng.choice(["SR", "PR"]),
             " ".join(rng.choice(words) for _ in range(rng.randint(1, 3))))
            for _ in range(14)
        ] + [(1000, 1, "SR", '"merge sort" vector'),
             (25, 2, "PR", "rareword merge^2")]
        expected = gt.run_classic_highlight(docs, queries)
        for (fs, mf, flag, q), per_doc in zip(queries, expected):
            frag = "span" if flag.startswith("P") else "simple"
            for di, (d, exp) in enumerate(zip(docs, per_doc)):
                got = best_text_fragments(
                    q, d, fs, mf, fragmenter=frag,
                    dfs=dfs, max_doc=len(docs),
                )
                got_cmp = [(s, np.float32(sc)) for s, sc in got]
                exp_cmp = [(s, np.float32(float(sc))) for s, sc in exp]
                assert got_cmp == exp_cmp, (
                    corpus_round, (fs, mf, flag, q), di, d, got_cmp, exp_cmp,
                )


def test_fuzzy_set_bloom_matches_compiled_reference():
    """Ground-truth round 39 — the bloom codec's FuzzySet
    (lucene/codecs/.../bloom/FuzzySet.java + MurmurHash2.java): serialized
    bitset bytes, Float.toString saturation, estimated unique values,
    per-probe MAYBE/NO bits, and the downsize(0.1) projection all equal
    the compiled reference over fuzzed byte values (incl. empty values,
    high/signed tail bytes, and values long enough to exercise the
    4-byte word loop) across sizing regimes from tiny (heavy collisions)
    to oversized-then-downsized (the DefaultBloomFilterFactory flow)."""
    from lucene_solr_spark.index.bloom import (
        FuzzySet,
        murmurhash2,
        murmurhash2_bulk,
    )

    rng = random.Random(3939)

    def rand_value() -> bytes:
        ln = rng.choice([0, 1, 2, 3, 4, 5, 7, 8, 11, 16, 33])
        return bytes(rng.randrange(256) for _ in range(ln))

    for max_doc, desired, target, n_add in [
        (10, 0.10, 0.1, 6),        # tiny set, heavy collisions
        (100, 0.10, 0.1, 40),
        (5000, 0.10, 0.1, 300),    # oversized -> real downsize projection
        (5000, 0.10, 0.5, 300),    # non-default target saturation
        (100, 0.50, 0.1, 90),      # near-saturated original
        (200000, 0.10, 0.1, 150),  # large set, sparse
    ]:
        added = [rand_value() for _ in range(n_add)] + [b"", b"\xff\x80\x7f"]
        # probe a mix of present values and absent ones
        queries = (
            [rng.choice(added) for _ in range(20)]
            + [rand_value() for _ in range(40)]
        )
        exp = gt.run_bloom(max_doc, desired, target, added, queries)

        fs = FuzzySet.create_set_based_on_quality(max_doc, desired)
        fs.add_many(added)
        assert fs.serialize() == exp["orig"]
        assert repr(np.float32(fs.get_saturation())) == repr(
            np.float32(float(exp["sat"]))
        )
        assert fs.get_estimated_unique_values() == exp["est"]
        got_bits = "".join("1" if fs.contains(q) else "0" for q in queries)
        assert got_bits == exp["contains"]
        down = fs.downsize(target)
        if exp["down"] is None:
            assert down is None
        else:
            assert down is not None and down.serialize() == exp["down"]
            got_dbits = "".join(
                "1" if down.contains(q) else "0" for q in queries
            )
            assert got_dbits == exp["downcontains"]

    # the vectorized bulk hash is the scalar hash
    vals = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 40)))
            for _ in range(500)]
    bulk = murmurhash2_bulk(vals)
    assert [int(x) for x in bulk] == [murmurhash2(v) for v in vals]


def test_ascii_folding_matches_compiled_reference():
    """Ground-truth round 40 — ASCIIFoldingFilter.foldToASCII
    (analysis/common miscellaneous): ascii_fold equals the compiled
    static fold over EVERY BMP codepoint as a 1-char token (the full
    switch: 1242 folding chars incl. the reference's own quirks like
    kra 'ĸ'->'q' and guillemets->'\"', everything else identity), plus
    fuzzed multi-char tokens mixing folding/non-folding/astral chars.
    EnglishPossessiveFilter semantics are asserted against the
    reference's literal condition (buffer[-2] in {', \\u2019, \\uFF07}
    and buffer[-1] in {s, S})."""
    from lucene_solr_spark.analysis.filters import ascii_fold, strip_possessive

    chars = [chr(c) for c in range(0x20, 0x10000) if not (0xD800 <= c <= 0xDFFF)]
    exp = gt.run_fold(chars)
    bad = [(c, e, ascii_fold(c)) for c, e in zip(chars, exp) if ascii_fold(c) != e]
    assert not bad, bad[:20]

    rng = random.Random(4040)
    pool = (
        [chr(rng.randrange(0x20, 0x2FF)) for _ in range(40)]
        + list("Æß«»ĸŉǄﬃ½")
        + ["\U0001F600", "\U00010400"]  # astral: untouched surrogate pairs
        + list("plain ascii")
    )
    toks = ["".join(rng.choice(pool) for _ in range(rng.randint(1, 12)))
            for _ in range(300)]
    exp2 = gt.run_fold(toks)
    for t, e in zip(toks, exp2):
        assert ascii_fold(t) == e, (repr(t), repr(e), repr(ascii_fold(t)))

    # EnglishPossessiveFilter.incrementToken (analysis/en/
    # EnglishPossessiveFilter.java:36-52)
    cases = {
        "john's": "john", "JOHN'S": "JOHN", "x’s": "x",
        "y＇S": "y", "'s": "", "s": "s", "his'": "his'",
        "a's's": "a's", "z‘s": "z‘s",  # left quote: NOT stripped
    }
    for tok, want in cases.items():
        assert strip_possessive(tok) == want, (tok, want, strip_possessive(tok))


def test_english_minimal_stemmer_matches_compiled_reference():
    """Ground-truth round 41 — EnglishMinimalStemmer (Harman's
    S-stemmer, analysis/en/EnglishMinimalStemmer.java): s_stem equals
    the compiled stem() over every rule edge — '-ies'->'-y' vs the
    a/e-guard, vowel+'es' keeps, '-us'/'-ss' keeps, bare '-s' strip,
    len<3 gate, case-SENSITIVE compares (uppercase S untouched) — plus
    fuzzed letter strings biased onto the suffix classes."""
    from lucene_solr_spark.analysis.filters import s_stem

    fixed = [
        "ponies", "ties", "dies", "aies", "eies", "oies", "uies",
        "dogs", "glass", "gas", "us", "bus", "is", "as", "ss", "s",
        "goes", "shoes", "sees", "dishes", "axes", "boxes", "issues",
        "Dogs", "dogS", "DOGS", "xs", "xys", "abcs", "que", "ques",
    ]
    rng = random.Random(4141)
    suffixes = ["s", "es", "ies", "aies", "ss", "us", "os", "is",
                "ys", "e", "", "S", "ies"]
    fuzz = [
        "".join(rng.choice("abcdeiouxyz") for _ in range(rng.randint(0, 6)))
        + rng.choice(suffixes)
        for _ in range(600)
    ]
    toks = [t for t in fixed + fuzz if t]
    exp = gt.run_minstem(toks)
    for t, e in zip(toks, exp):
        assert s_stem(t) == e, (t, e, s_stem(t))


def test_word_delimiter_filter_matches_compiled_reference():
    """Ground-truth round 42 — WordDelimiterFilter (analysis/common
    miscellaneous): the full emitted stream (term, posInc, startOffset,
    endOffset) equals the compiled WhitespaceTokenizer+WDF chain over
    fuzzed identifier corpora under a sweep of the flags matrix
    (generate/catenate words+numbers, CATENATE_ALL's dedup against the
    last flushed run, PRESERVE_ORIGINAL's forced posInc-0 follower,
    case/numeric split toggles, possessive stripping) and protected
    words — pinning the break matrix, the bounds-stripped delimiters,
    the all-delimiter-token posInc accumulation quirk, the buffered
    (startOffset asc, posInc desc) re-sort, and the position() state
    machine's uncleared-accumulator paths."""
    from lucene_solr_spark.analysis.word_delimiter import (
        CATENATE_ALL,
        CATENATE_NUMBERS,
        CATENATE_WORDS,
        DEFAULT_FLAGS,
        GENERATE_NUMBER_PARTS,
        GENERATE_WORD_PARTS,
        PRESERVE_ORIGINAL,
        SPLIT_ON_CASE_CHANGE,
        SPLIT_ON_NUMERICS,
        STEM_ENGLISH_POSSESSIVE,
        whitespace_wdf_tokens,
    )

    rng = random.Random(4242)
    frags = ["Power", "Shot", "XL", "500", "42", "wi", "fi", "j", "2", "se",
             "O", "Neil", "http", "HTTP", "Api", "iOS", "v2", "X", "abc",
             "ABC", "aB", "Ba", "9", "µ", "Ω", "ß", "ñ"]
    seps = ["-", "_", "+", "'", ".", "", "--", "'s", "&", "/", "''", "!"]

    def rand_word() -> str:
        n = rng.randint(1, 5)
        parts = []
        for i in range(n):
            parts.append(rng.choice(frags))
            if i < n - 1 or rng.random() < 0.4:
                parts.append(rng.choice(seps))
        w = "".join(parts)
        if rng.random() < 0.15:
            w = rng.choice(seps) + w
        if rng.random() < 0.1:
            w = rng.choice(["...", "--", "'", "''"])  # all-delimiter token
        return w or "-"

    lines = [" ".join(rand_word() for _ in range(rng.randint(1, 6)))
             for _ in range(120)]
    lines += [
        "PowerShot", "Super-Duper-XL500-42-AutoCoder!", "A's+B's&C's",
        "wi-fi j2se O'Neil's", "--- ... ''", "'s 's's",
        "snake_case_id __init__ XMLHttpRequest getHTTPResponse2",
        "\U0001F600ab-cd \U00010400x",  # astral: surrogate halves never split
    ]

    base = GENERATE_WORD_PARTS | GENERATE_NUMBER_PARTS
    flag_sweep = [
        DEFAULT_FLAGS,
        DEFAULT_FLAGS | CATENATE_WORDS,
        DEFAULT_FLAGS | CATENATE_NUMBERS,
        DEFAULT_FLAGS | CATENATE_WORDS | CATENATE_NUMBERS | CATENATE_ALL,
        DEFAULT_FLAGS | PRESERVE_ORIGINAL,
        DEFAULT_FLAGS | CATENATE_ALL | PRESERVE_ORIGINAL,
        base,  # no case/numeric splits, no possessive stem
        base | SPLIT_ON_CASE_CHANGE,
        base | SPLIT_ON_NUMERICS | STEM_ENGLISH_POSSESSIVE,
        GENERATE_WORD_PARTS | SPLIT_ON_CASE_CHANGE | SPLIT_ON_NUMERICS,
        # no generation at all, only catenation (exercises the
        # first-token posInc fix)
        CATENATE_ALL | SPLIT_ON_CASE_CHANGE | SPLIT_ON_NUMERICS,
        CATENATE_WORDS | CATENATE_NUMBERS,
    ]
    for flags in flag_sweep:
        exp = gt.run_wdf(lines, flags)
        for ln, e in zip(lines, exp):
            got = whitespace_wdf_tokens(ln, flags)
            assert got == e, (flags, repr(ln), got, e)

    # protected words pass through unsplit
    prot = ["wi-fi", "j2se"]
    exp = gt.run_wdf(lines, DEFAULT_FLAGS, prot)
    for ln, e in zip(lines, exp):
        got = whitespace_wdf_tokens(ln, DEFAULT_FLAGS, frozenset(prot))
        assert got == e, (repr(ln), got, e)


def test_synonym_filter_matches_compiled_reference():
    """Ground-truth round 43 — SynonymFilter + SynonymMap.Builder
    (analysis/synonym): the full emitted stream (term, posInc, posLen,
    startOffset, endOffset, type) equals the compiled
    WhitespaceTokenizer+SynonymFilter over randomized rule sets
    (multi-word inputs AND outputs, outputs longer than the match,
    keepOrig mixes, duplicate adds exercising the Builder's
    first-occurrence ord dedup + includeOrig OR-merge, overlapping
    keys exercising greedy earliest-longest parsing) x randomized
    small-vocab text, plus the ignoreCase codepoint fold."""
    from lucene_solr_spark.analysis.synonyms import (
        SynonymMapBuilder,
        synonym_stream,
    )

    def ws(text):
        parts, start = [], None
        for idx, ch in enumerate(text + " "):
            if ch == " ":
                if start is not None:
                    parts.append((text[start:idx], 1, start, idx))
                    start = None
            elif start is None:
                start = idx
        return parts

    rng = random.Random(4343)
    vocab = ["a", "b", "c", "d", "e", "wi", "fi", "dns", "usa", "Big",
             "apple", "ß"]
    out_vocab = vocab + ["x", "y", "z", "long", "output", "chain"]

    for round_i in range(12):
        ignore_case = round_i % 3 == 2
        n_rules = rng.randint(2, 10)
        rules = []
        for _ in range(n_rules):
            inp = " ".join(
                rng.choice(vocab).lower() if ignore_case else rng.choice(vocab)
                for _ in range(rng.randint(1, 3))
            )
            outp = " ".join(
                rng.choice(out_vocab) for _ in range(rng.randint(1, 4))
            )
            rules.append((inp, outp, rng.random() < 0.5))
        # duplicate adds: same input, same/other output
        if rng.random() < 0.6:
            rules.append((rules[0][0], rules[0][1], rng.random() < 0.5))
            rules.append((rules[0][0], " ".join([rng.choice(out_vocab)]),
                          rng.random() < 0.5))
        lines = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
            for _ in range(40)
        ]
        exp = gt.run_syn(rules, lines, ignore_case=ignore_case)
        b = SynonymMapBuilder()
        for i, o, keep in rules:
            b.add(i.split(), o.split(), keep)
        trie = b.build()
        for ln, e in zip(lines, exp):
            got = synonym_stream(ws(ln), trie, ignore_case=ignore_case)
            assert got == e, (round_i, rules, repr(ln), got, e)


def test_shingle_filter_matches_compiled_reference():
    """Ground-truth round 44 — ShingleFilter (analysis/shingle): the
    emitted stream (term, posInc, posLen, startOffset, endOffset, type)
    equals the compiled WhitespaceTokenizer [+ StopFilter] +
    ShingleFilter over fuzzed stopword-dense text for a knob sweep
    (min/max gram sizes, outputUnigrams both ways,
    outputUnigramsIfNoShingles, custom separator) — pinning the capped
    filler insertion (min(posInc-1, max-1) per hole, trailing end()
    holes the same), the all-filler gram-size advance, the circular
    gram sequence with its persistent builder continuation, posInc
    stacking, zero-width filler offsets, and the first-false-ends-the-
    stream contract."""
    from lucene_solr_spark.analysis.filters import shingle_stream
    from lucene_solr_spark.analysis.tokenizer import ENGLISH_STOP_WORDS

    def ws(text):
        parts, start = [], None
        for idx, ch in enumerate(text + " "):
            if ch == " ":
                if start is not None:
                    parts.append((text[start:idx], 1, start, idx))
                    start = None
            elif start is None:
                start = idx
        return parts

    def stopped(text):
        toks, gap = [], 0
        for term, _pi, s, e in ws(text):
            if term in ENGLISH_STOP_WORDS:
                gap += 1
                continue
            toks.append((term, 1 + gap, s, e))
            gap = 0
        return toks, gap

    rng = random.Random(4444)
    words = ["alpha", "bravo", "charlie", "delta", "echo", "x"]
    stops = ["the", "and", "of", "to", "a", "is"]
    lines = [
        " ".join(
            (rng.choice(stops) if rng.random() < 0.45 else rng.choice(words))
            for _ in range(rng.randint(0, 12))
        ).strip() or "the"
        for _ in range(80)
    ] + ["the the the", "w the the the z", "a an and are as at be but"]

    for (mn, mx, uni, uninosh, use_stop, sep) in [
        (2, 2, True, False, False, " "),
        (2, 2, False, False, True, " "),
        (2, 2, True, False, True, " "),
        (2, 3, True, False, True, " "),
        (3, 5, False, False, True, " "),
        (2, 4, False, True, True, "_"),
        (4, 4, False, True, False, " "),
    ]:
        exp = gt.run_shingle(lines, mn, mx, uni, uninosh, use_stop, sep)
        for ln, e in zip(lines, exp):
            if use_stop:
                toks, endinc = stopped(ln)
            else:
                toks, endinc = ws(ln), 0
            got = shingle_stream(
                toks, mn, mx, uni, uninosh, sep, "_", endinc, len(ln)
            )
            assert got == e, ((mn, mx, uni, uninosh, use_stop, sep),
                              repr(ln), got, e)


def test_solr_synonym_parser_matches_compiled_reference():
    """Ground-truth round 45 — SolrSynonymParser (analysis/synonym):
    rules parsed by our port and by the compiled parser produce
    identical FILTER OUTPUT over shared probe text, under both expand
    modes — pinning the escape-preserving split/unescape pair, explicit
    '=>' all-pairs mappings that never keep the original, the
    expand=true i!=j pair expansion (keepOrig), the expand=false
    everything->first mapping INCLUDING first->first (the legacy
    type-change behavior), comment/blank skipping, and multi-line merge
    order."""
    from lucene_solr_spark.analysis.synonyms import (
        parse_solr_synonyms,
        synonym_stream,
    )

    def ws(text):
        parts, start = [], None
        for idx, ch in enumerate(text + " "):
            if ch == " ":
                if start is not None:
                    parts.append((text[start:idx], 1, start, idx))
                    start = None
            elif start is None:
                start = idx
        return parts

    rules_text = [
        "# comment line",
        "",
        "i-pod, i pod => ipod",
        "ipod, i-pod, i pod",
        "foo => foo bar",
        "foo => baz",
        "sea biscuit, sea biscit => seabiscuit",
        "small => tiny,teeny,weeny",
        "pixima => pixma",
        "a\\,a => b\\,b",  # escaped comma inside entries
        "usa, united states, united states of america",
    ]
    lines = [
        "i-pod goes with i pod and ipod",
        "foo sea biscuit foo",
        "sea biscit small pixima",
        "united states of america and usa",
        "a,a plain",
        "nothing here",
    ]
    rng = random.Random(4545)
    vocab = ["foo", "bar", "baz", "ipod", "i-pod", "sea", "biscuit",
             "small", "usa", "united", "states", "of", "america", "a,a"]
    lines += [" ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9)))
              for _ in range(40)]

    for expand in (True, False):
        exp = gt.run_syn([], lines, solr_rules=rules_text, expand=expand)
        trie = parse_solr_synonyms("\n".join(rules_text), expand=expand).build()
        for ln, e in zip(lines, exp):
            got = synonym_stream(ws(ln), trie)
            assert got == e, (expand, repr(ln), got, e)


def test_wordnet_synonym_parser_matches_compiled_reference():
    """Ground-truth round 45b — WordnetSynonymParser: prolog synset
    lines grouped by the id at chars [2,11), '' -> ' unescape,
    single-entry synsets skipped, expand=true ALL i,j pairs INCLUDING
    i==j (unlike Solr's i!=j — pinned by the probe output), expand=false
    everything->first; includeOrig always false. Both parsers' maps
    produce identical filter output over probe text."""
    from lucene_solr_spark.analysis.synonyms import (
        parse_wordnet_synonyms,
        synonym_stream,
    )

    def ws(text):
        parts, start = [], None
        for idx, ch in enumerate(text + " "):
            if ch == " ":
                if start is not None:
                    parts.append((text[start:idx], 1, start, idx))
                    start = None
            elif start is None:
                start = idx
        return parts

    rules = [
        "s(100000001,1,'woods',n,1,0).",
        "s(100000001,2,'wood',n,1,0).",
        "s(100000001,3,'forest',n,1,0).",
        "s(100000002,1,'wolfish',a,1,0).",
        "s(100000002,2,'wolflike',a,1,0).",
        "s(100000003,1,'king''s evil',n,1,0).",
        "s(100000003,2,'struma',n,1,0).",
        "s(100000004,1,'lonely',a,1,0).",  # single-entry synset: skipped
    ]
    lines = [
        "woods near the forest",
        "wolfish and wolflike",
        "king's evil or struma",
        "lonely wood",
        "nothing relevant",
    ]
    for expand in (True, False):
        exp = gt.run_syn([], lines, wordnet_rules=rules, expand=expand)
        trie = parse_wordnet_synonyms("\n".join(rules), expand=expand).build()
        for ln, e in zip(lines, exp):
            got = synonym_stream(ws(ln), trie)
            assert got == e, (expand, repr(ln), got, e)


def test_dictionary_compound_matches_compiled_reference():
    """Ground-truth round 46 — DictionaryCompoundWordTokenFilter
    (analysis/compound): original-then-stacked-subwords emission (every
    subword at posInc 0 with the ORIGINAL token's offsets), brute-force
    start x [minSubword, maxSubword] dictionary scan, longest-per-start
    under onlyLongestMatch, the minWordSize gate — over fuzzed Germanic
    compounds and size-knob combos."""
    from lucene_solr_spark.analysis.filters import decompound_stream

    def ws(text):
        parts, start = [], None
        for idx, ch in enumerate(text + " "):
            if ch == " ":
                if start is not None:
                    parts.append((text[start:idx], 1, start, idx))
                    start = None
            elif start is None:
                start = idx
        return parts

    dictionary = ["donau", "dampf", "schiff", "fahrt", "amt", "rind",
                  "fleisch", "über", "wachung", "auf", "gabe", "ufer",
                  "damp", "au", "schi"]
    rng = random.Random(4646)
    lines = [
        "donaudampfschiff donaudampfschifffahrt",
        "rindfleischüberwachungsaufgabe",
        "schiffsdampf kurz auf",
        "amtamt dampfdampfdampf",
        "nothing matches here",
    ] + [
        " ".join(
            "".join(rng.choice(dictionary + ["xx", "s", ""]) for _ in range(rng.randint(1, 4)))
            or "x"
            for _ in range(rng.randint(1, 5))
        )
        for _ in range(60)
    ]
    for (mw, mns, mxs, longest) in [
        (5, 2, 15, False), (5, 2, 15, True), (3, 2, 6, False),
        (8, 4, 10, True), (5, 3, 15, False),
    ]:
        exp = gt.run_compound(dictionary, lines, mw, mns, mxs, longest)
        for ln, e in zip(lines, exp):
            got = decompound_stream(
                ws(ln), frozenset(dictionary), mw, mns, mxs, longest
            )
            assert got == e, ((mw, mns, mxs, longest), repr(ln), got, e)


def test_commongrams_filters_match_compiled_reference():
    """Ground-truth round 47 — CommonGramsFilter + CommonGramsQueryFilter
    (analysis/commongrams): the emitted streams (term, posInc, posLen,
    startOffset, endOffset, type) equal the compiled
    WhitespaceTokenizer [+ StopFilter] + CommonGramsFilter
    [+ CommonGramsQueryFilter] over fuzzed common-word-dense text —
    pinning the gram-before-unigram emission order at posInc 0 / posLen
    2 with prev.start..cur.end offsets, gram formation ACROSS stop-gap
    posInc holes (the filter never reads posInc), the query filter's
    held-unigram replacement, its gram posInc force-to-1, and the
    exhaustion rule that drops the final held token iff the LAST
    EMITTED token was a gram — which means the class javadoc's
    "the rain in spain falls mainly" example is WRONG about dropping
    'spain' (the code emits it; the compiled binary is the witness)."""
    from lucene_solr_spark.analysis.commongrams import (
        common_grams_query_stream,
        common_grams_stream,
    )
    from lucene_solr_spark.analysis.tokenizer import ENGLISH_STOP_WORDS

    def ws(text):
        parts, start = [], None
        for idx, ch in enumerate(text + " "):
            if ch == " ":
                if start is not None:
                    parts.append((text[start:idx], 1, 1, start, idx, "word"))
                    start = None
            elif start is None:
                start = idx
        return parts

    def stopped(text):
        toks, gap = [], 0
        for term, _pi, _pl, s, e, typ in ws(text):
            if term in ENGLISH_STOP_WORDS:
                gap += 1
                continue
            toks.append((term, 1 + gap, 1, s, e, typ))
            gap = 0
        return toks

    common = ["s", "a", "b", "c", "d", "the", "of"]
    cset = frozenset(common)
    rng = random.Random(4747)
    words = ["quick", "brown", "fox", "rain", "spain", "n", "falls"]
    lines = [
        "the rain in spain falls mainly",  # the javadoc's own example
        "How the s a brown s cow d like A B thing?",
        "n n n", "n n s", "n s n", "n s s", "s n n", "s n s", "s s n",
        "s s s", "the", "foo", "of the", "fox of", "the fox", "",
        "man of the year",
    ] + [
        " ".join(
            (rng.choice(common) if rng.random() < 0.5 else rng.choice(words))
            for _ in range(rng.randint(0, 10))
        ).strip()
        for _ in range(120)
    ]
    # non-empty lines only: readLine()-driven harness can't carry blanks
    lines = [ln if ln else "x" for ln in lines]

    for query in (False, True):
        for use_stop in (False, True):
            exp = gt.run_commongrams(common, lines, query, use_stop)
            fn = common_grams_query_stream if query else common_grams_stream
            for ln, e in zip(lines, exp):
                toks = stopped(ln) if use_stop else ws(ln)
                got = fn(toks, cset)
                assert got == e, ((query, use_stop), repr(ln), got, e)



def test_reversed_wildcard_matches_compiled_reference():
    """Ground-truth round 48 — ReversedWildcardFilter (solr/core
    analysis) + ReverseStringFilter (analysis/reverse) + the factory's
    shouldReverse: (term, posInc, offsets) streams equal the compiled
    WhitespaceTokenizer + filter — pinning the reversed-marked-token-
    FIRST order (reversed carries the ORIGINAL posInc, the original
    follows at posInc 0), the reverse that keeps UTF-16 surrogate
    pairs in order (== Python code-point reversal), marker placement
    (appended then reversed = leading), and shouldReverse's 1-based
    wildcard-position knobs over a 4-combo sweep."""
    from lucene_solr_spark.analysis.revwildcard import (
        reverse_stream,
        reversed_wildcard_stream,
        should_reverse,
    )

    def ws(text):
        # offsets in UTF-16 code units (Java's OffsetAttribute convention;
        # an astral char counts 2)
        parts, start, u16, u16start = [], None, 0, 0
        for idx, ch in enumerate(text + " "):
            if ch == " ":
                if start is not None:
                    parts.append((text[start:idx], 1, 1, u16start, u16, "word"))
                    start = None
            elif start is None:
                start, u16start = idx, u16
            u16 += 2 if ord(ch) > 0xFFFF else 1
        return parts

    rng = random.Random(4848)
    words = ["country", "a", "ab", "mërge", "\U0001F600x", "x\U0001F600",
             "\U0001F600", "sort", "b\U0001D11E\U0001D11Ec"]
    lines = ["country of sort", "a", "\U0001F600 ab x\U0001F600"] + [
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 8)))
        for _ in range(60)
    ]

    def quad(toks):
        return [(t, pi, s, e) for t, pi, _pl, s, e, _ty in toks]

    for with_orig in (True, False):
        exp = gt.run_revwild_stream(lines, with_orig)
        for ln, e in zip(lines, exp):
            got = quad(reversed_wildcard_stream(ws(ln), with_orig, "\u0001"))
            assert got == e, (with_orig, repr(ln), got, e)
    for with_marker in (True, False):
        exp = gt.run_reverse_filter(lines, with_marker)
        for ln, e in zip(lines, exp):
            got = quad(reverse_stream(ws(ln), "\u0001" if with_marker else None))
            assert got == e, (with_marker, repr(ln), got, e)

    pats = ["*ing", "?up", "??up", "a*b", "ab*", "abc*d", "*a", "*ab",
            "?", "*", "a?", "plain", "a*bcdefgh", "*x", "ab*cdef",
            "a?c*de", "ab?", "mer*", "*rge", "d?p"] + [
        "".join(rng.choice("ab*?cde") for _ in range(rng.randint(1, 9)))
        for _ in range(80)
    ]
    for knobs in [
        dict(),
        dict(max_pos_asterisk=1, max_pos_question=0),  # pure suffix only
        dict(min_trailing=3),
        dict(max_fraction_asterisk=0.5),
    ]:
        exp = gt.run_should_reverse(pats, **knobs)
        got = [should_reverse(p, **knobs) for p in pats]
        assert got == exp, (knobs, [(p, g, e) for p, g, e in zip(pats, got, exp) if g != e])



def test_cjk_filters_match_compiled_reference():
    """Ground-truth round 49 — CJKWidthFilter + CJKBigramFilter
    (analysis/cjk): the width fold (fullwidth ASCII, halfwidth kana,
    voice-mark COMPOSITION with the combining-mark fallback) and the
    bigram machine (offset-adjacent CJK runs -> sliding <DOUBLE>
    bigrams, true lone codepoints -> <SINGLE> unigrams, multi-char
    runs dropping their trailing unigram, cross-script runs, the
    unigram-interleaved outputUnigrams order with posInc-0/posLen-2
    bigrams, per-script flag gating, and non-CJK pass-through) equal
    the compiled filters over fuzzed mixed-script text.  The
    StandardTokenizer TYPE classifier that feeds the engine chain is
    pinned against the compiled TypeAttribute on the same corpus."""
    from lucene_solr_spark.analysis.cjk import (
        cjk_bigram_stream,
        cjk_width_fold,
        standard_token_type,
    )
    from lucene_solr_spark.analysis.tokenizer import iter_token_spans

    rng = random.Random(4949)
    han = "一二三漢字日本\U00020000"
    hira = "あいうかき"
    kata = "アイウカキー"
    hangul = "가나다라한"
    latin = ["abc", "x1", "the"]

    def rand_cjk_word():
        pool = rng.choice([han, hira, kata, hangul, han + hira + kata])
        return "".join(rng.choice(pool) for _ in range(rng.randint(1, 5)))

    lines = [
        "漢字の話",               # han han hira han
        "アイウ abc カ",           # katakana run, latin, lone kata
        "一",                                   # lone han
        "가나다",                       # hangul run
        "a一b",                                 # han between latin
        "漢 字",                            # space-broken han (unaligned)
        "アあ一가",                 # cross-script adjacency
        "\U00020000\U00020001x",                    # astral han pair
    ] + [
        " ".join(
            rng.choice(latin) if rng.random() < 0.3 else rand_cjk_word()
            for _ in range(rng.randint(1, 7))
        )
        for _ in range(100)
    ]

    def u16map(text):
        # python cp offset -> utf-16 offset
        offs = [0]
        for ch in text:
            offs.append(offs[-1] + (2 if ord(ch) > 0xFFFF else 1))
        return offs

    # 1) the type classifier vs the compiled TypeAttribute
    exp_types = gt.run_cjk(lines, mode="types")
    for ln, ets in zip(lines, exp_types):
        toks = iter_token_spans(ln)
        assert len(toks) == len(ets), (repr(ln), toks, ets)
        for (tok, _s, _e), (jterm, _pi, _pl, _js, _je, jtype) in zip(toks, ets):
            assert tok == jterm, (repr(ln), tok, jterm)
            if jtype in ("<IDEOGRAPHIC>", "<HIRAGANA>", "<KATAKANA>", "<HANGUL>"):
                assert standard_token_type(tok) == jtype, (repr(ln), tok, jtype)
            else:
                assert standard_token_type(tok) not in (
                    "<IDEOGRAPHIC>", "<HIRAGANA>", "<KATAKANA>", "<HANGUL>",
                ), (repr(ln), tok, jtype)

    # 2) the width fold vs the compiled CJKWidthFilter
    wlines = [
        "ＡＢｃ １２",          # fullwidth ASCII
        "ｶﾞﾋﾟｰ",           # halfwidth kana + voice marks
        "ﾞﾞX･ｦ",                # marks with nothing to combine
        "カﾞ ハﾟ ウﾞ",   # kana + halfwidth marks compose
        "plain text",
    ] + ["".join(rng.choice(
        "ｶﾞﾟｰｦカハウaＡ～･"
    ) for _ in range(rng.randint(1, 12))) for _ in range(80)]
    for with_e in (False,):
        exp = gt.run_cjk(wlines, mode="width")
        for ln, e in zip(wlines, exp):
            toks = []
            i = 0
            n = len(ln)
            u = u16map(ln)
            while i < n:
                while i < n and ln[i].isspace():
                    i += 1
                if i >= n:
                    break
                j = i
                while j < n and not ln[j].isspace():
                    j += 1
                toks.append((cjk_width_fold(ln[i:j]), 1, 1, u[i], u[j], "word"))
                i = j
            assert toks == e, (repr(ln), toks, e)

    # 3) the bigram machine vs the compiled CJKBigramFilter (input
    # types from the compiled tokenizer so pass-through tokens carry
    # the exact TypeAttribute string; the classifier itself is pinned
    # in part 1)
    for flags, outuni in [(15, False), (15, True), (1, False), (4, False),
                          (9, False), (6, True)]:
        exp = gt.run_cjk(lines, mode="bigram", flags=flags,
                         output_unigrams=outuni)
        for ln, e, ets in zip(lines, exp, exp_types):
            u = u16map(ln)
            toks = [
                (t, 1, 1, u[s], u[e_], jtype)
                for (t, s, e_), (_jt, _pi, _pl, _js, _je, jtype)
                in zip(iter_token_spans(ln), ets)
            ]
            got = cjk_bigram_stream(
                toks,
                han=bool(flags & 1), hiragana=bool(flags & 2),
                katakana=bool(flags & 4), hangul=bool(flags & 8),
                output_unigrams=outuni,
            )
            # the compiled filter reports the ORIGINAL type for
            # pass-through tokens; ours does too — compare directly
            assert got == e, ((flags, outuni), repr(ln), got, e)


def test_char_filters_match_compiled_reference():
    """Ground-truth round 50 — MappingCharFilter +
    PatternReplaceCharFilter (the pre-tokenizer char-filter stage):
    the FILTERED TEXT and the FULL correctOffset map (every output
    offset 0..len) equal the compiled filters — pinning greedy
    longest-match rule application with empty/shorter/longer
    replacements, BaseCharFilter's cumulative-diff entries (one entry
    after a shrink, one per extra char on a grow, same-offset
    overwrite), the binary-search correct() semantics, and the pattern
    filter's whole-input replace with $N group refs and its clamp-at-0
    correct()."""
    from lucene_solr_spark.analysis.charfilters import (
        mapping_char_filter,
        pattern_replace_char_filter,
        pattern_replace_correct,
    )

    rng = random.Random(5050)

    rule_sets = [
        {"&": " and ", "ph": "f", "qq": "", "xyz": "z", "xy": "YY"},
        {"a": "aa", "aa": "b", "aaa": ""},   # overlapping lengths, greedy
        {"ß": "ss", "oe": "ö", "\U0001F600": ":)"},
        {"t": "t"},                          # identity rule: no entries
    ]
    alphabet = "a&bpqhxyzt ß\U0001F600oe"
    lines = ["", "&", "a", "aaa", "aaaa", "phaseph&qqxyzxy",
             "the quick & slow phantom", "ßoe\U0001F600"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20)))
        for _ in range(120)
    ]
    for rules in rule_sets:
        exp = gt.run_charfilter(lines, "mapping", rules=rules)
        for ln, (etext, eoffs) in zip(lines, exp):
            got_text, om = mapping_char_filter(ln, rules)
            # Java offsets are UTF-16 units; feed/compare in that space
            # by re-running on a BMP-safe assumption: our inputs map
            # astral chars 1:1 in rules, so convert via encode lengths
            if any(ord(c) > 0xFFFF for c in ln + got_text):
                # compare text only (offset units differ); the BMP
                # sweep below pins the offset map exhaustively
                assert got_text == etext, (rules, repr(ln), got_text, etext)
                continue
            assert got_text == etext, (rules, repr(ln), got_text, etext)
            got_offs = [om.correct(i) for i in range(len(got_text) + 1)]
            assert got_offs == eoffs, (rules, repr(ln), got_offs, eoffs)

    pat_cases = [
        (r"(aa)\s+(bb)", "$1#$2"),
        (r"a", "aa"),
        (r"aa", "a"),
        (r"b+", ""),
        (r"(x)(y)", "$2$1$2"),
    ]
    p_alpha = "aab bxy "
    plines = ["aa  bb aa bb", "", "xyxy", "bbbb", "aa bb x"] + [
        "".join(rng.choice(p_alpha) for _ in range(rng.randint(0, 16)))
        for _ in range(100)
    ]
    for pat, rep in pat_cases:
        exp = gt.run_charfilter(plines, "patrep", pattern=pat, replacement=rep)
        for ln, (etext, eoffs) in zip(plines, exp):
            got_text, om = pattern_replace_char_filter(ln, pat, rep)
            assert got_text == etext, ((pat, rep), repr(ln), got_text, etext)
            got_offs = [
                pattern_replace_correct(om, i) for i in range(len(got_text) + 1)
            ]
            assert got_offs == eoffs, ((pat, rep), repr(ln), got_offs, eoffs)


def test_keyword_marker_cluster_matches_compiled_reference():
    """Ground-truth round 51 — KeywordRepeatFilter +
    SetKeywordMarkerFilter + RemoveDuplicatesTokenFilter around the
    (already-pinned) PorterStemFilter: the dual stem+original chain and
    the protected-word chain emit (term, posInc) streams equal to the
    compiled filters — pinning the keyword-copy-first order (original
    posInc; the stemmed copy stacks at posInc 0), the stemmer's
    KeywordAttribute skip, the same-position duplicate drop for
    unstemmable words, and protected words surviving unstemmed with
    their duplicate dropped."""
    from lucene_solr_spark.analysis.filters import (
        keyword_marker_stem_stream,
        keyword_repeat_stem_stream,
    )
    from lucene_solr_spark.analysis.porter import porter_stem
    from lucene_solr_spark.analysis.tokenizer import _java_lower

    rng = random.Random(5151)
    words = ["running", "runs", "run", "jumped", "flies", "caresses",
             "pony", "sky", "feed", "agreed", "plastered", "motoring",
             "the", "xx", "Running", "GOES"]
    lines = ["running runs run", "the sky flies", ""] + [
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 9)))
        for _ in range(100)
    ]
    lines = [ln if ln else "x" for ln in lines]

    def ws_lower(text):
        return [(_java_lower(t), 1) for t in text.split() if t]

    for protected in ([], ["running", "flies"]):
        pset = frozenset(protected)
        exp = gt.run_kwmisc(lines, "repeat", protected)
        for ln, e in zip(lines, exp):
            got = keyword_repeat_stem_stream(ws_lower(ln), porter_stem, pset)
            assert got == e, (protected, repr(ln), got, e)
    exp = gt.run_kwmisc(lines, "marker", ["running", "flies", "agreed"])
    pset = frozenset(["running", "flies", "agreed"])
    for ln, e in zip(lines, exp):
        got = keyword_marker_stem_stream(ws_lower(ln), porter_stem, pset)
        assert got == e, (repr(ln), got, e)


def test_ngram_filters_match_compiled_reference():
    """Ground-truth round 52 — NGramTokenFilter + EdgeNGramTokenFilter
    (analysis/ngram): (term, posInc, posLen, offsets) streams equal the
    compiled filters — pinning the offset-then-length gram order with
    the first-gram-only posInc, whole-token offsets on every gram,
    code-point gram sizes (astral chars count one), the
    CodepointCountFilter drop of sub-minGram tokens with their
    increments accumulating as stop-style holes, and the edge filter's
    savePosIncr accumulation across gram-less tokens."""
    from lucene_solr_spark.analysis.filters import (
        edge_ngram_filter_stream,
        ngram_filter_stream,
    )

    rng = random.Random(5252)
    words = ["a", "ab", "abc", "abcd", "merge", "x\U0001F600y",
             "\U0001F600", "sort"]
    lines = ["abc", "a abc", "abcd a a merge", "\U0001F600 x\U0001F600y"] + [
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 8)))
        for _ in range(80)
    ]

    def ws(text):
        # UTF-16 offsets (Java convention)
        parts, start, u16, u16s = [], None, 0, 0
        for idx, ch in enumerate(text + " "):
            if ch == " ":
                if start is not None:
                    parts.append((text[start:idx], 1, 1, u16s, u16))
                    start = None
            elif start is None:
                start, u16s = idx, u16
            u16 += 2 if ord(ch) > 0xFFFF else 1
        return parts

    for mode, fn in (("ngram", ngram_filter_stream),
                     ("edge", edge_ngram_filter_stream)):
        for mn, mx in [(1, 2), (2, 3), (1, 4), (3, 3), (2, 5)]:
            exp = gt.run_ngram(lines, mode, mn, mx)
            for ln, e in zip(lines, exp):
                got = fn(ws(ln), mn, mx)
                assert got == e, ((mode, mn, mx), repr(ln), got, e)


def test_pattern_package_matches_compiled_reference():
    """Ground-truth round 53 — PatternTokenizer +
    PatternCaptureGroupTokenFilter (analysis/pattern): tokenizer output
    in both modes (group >= 0 emits each match's group, zero-length
    skipped; group = -1 is String.split with a trailing remainder) and
    the capture filter's stream — min-start-offset interleaving across
    matchers, group-index order within a match, zero-length and (under
    preserveOriginal) whole-token capture skips, first-capture-replaces
    vs original-first emission, no-capture pass-through — all equal the
    compiled classes. Patterns stay in the Java∩Python regex subset."""
    from lucene_solr_spark.analysis.pattern import (
        pattern_capture_stream,
        pattern_tokenize,
    )

    rng = random.Random(5353)

    # tokenizer: both modes over fuzzed CSV-ish and quoted text
    tok_cases = [
        (r"[,;\s]+", -1),
        (r"'([^']+)'", 1),
        (r"'([^']+)'", 0),
        (r"([a-z]+)([0-9]*)", 2),
    ]
    alphabet = "ab1 2,;'x'"
    lines = ["aaa 'bbb' 'ccc'", "a,b;;c  d", "", "','", "abc123 x9"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 18)))
        for _ in range(100)
    ]
    for pat, group in tok_cases:
        exp = gt.run_pattern_tok(lines, pat, group)
        for ln, e in zip(lines, exp):
            got = [(t, 1, s, e_) for t, s, e_ in pattern_tokenize(ln, pat, group)]
            # first token's posInc from the harness is 1; zip shapes
            assert got == e, ((pat, group), repr(ln), got, e)

    # capture filter: the javadoc's camelCase pattern set + fuzz
    camel = [
        r"([A-Z]{2,})",
        r"(?<![A-Z])([A-Z][a-z]+)",
        r"(?:^|\b|(?<=[0-9_])|(?<=[A-Z]{2}))([a-z]+)",
        r"([0-9]+)",
    ]
    pattern_sets = [
        camel,
        [r"(https?://([a-zA-Z\-_0-9.]+))"],
        [r"(..)"],                       # every 2 chars, repeated find
        [r"(a+)(b+)?", r"(b+)"],         # optional group + overlap
    ]
    words = ["camelCaseFilter", "http://www.foo.com/index", "abcdefghi",
             "aabbb", "HTTPResponse", "x", "getHTTP2go", "aaa_bbb"]
    clines = [" ".join(rng.choice(words) for _ in range(rng.randint(1, 6)))
              for _ in range(80)] + ["camelCaseFilter abcdefghi", "aabbb b"]
    for pats in pattern_sets:
        for preserve in (False, True):
            exp = gt.run_pattern_capture(clines, pats, preserve)
            for ln, e in zip(clines, exp):
                toks = []
                i = 0
                while i < len(ln):
                    if ln[i] == " ":
                        i += 1
                        continue
                    j = ln.index(" ", i) if " " in ln[i:] else len(ln)
                    toks.append((ln[i:j], 1, i, j))
                    i = j
                got = pattern_capture_stream(toks, pats, preserve)
                assert got == e, ((pats, preserve), repr(ln), got, e)


def test_path_hierarchy_matches_compiled_reference():
    """Ground-truth round 54 — PathHierarchyTokenizer +
    ReversePathHierarchyTokenizer (analysis/path): (term, posInc,
    offsets) streams equal the compiled tokenizers over fuzzed paths —
    pinning the ancestor-prefix emission at one position (first token
    posInc 1, rest 0), delimiter->replacement mapping incl. a leading
    delimiter, trailing-delimiter carry (endDelimiter), the skip
    semantics on both ends (with the reference's first-char-counts-
    toward-skipped quirk), and the reverse tokenizer's suffix list with
    its delimiter-position bookkeeping."""
    from lucene_solr_spark.analysis.path_hierarchy import (
        path_hierarchy_tokenize,
        reverse_path_hierarchy_tokenize,
    )

    rng = random.Random(5454)
    segs = ["a", "bb", "src", "main", "x.py", "", "README"]
    lines = ["/a/b/c", "a/b/c", "/a/b/c/", "a", "/", "//", "c:\\x\\y",
             "src/main/app.py"] + [
        ("/" if rng.random() < 0.5 else "")
        + "/".join(rng.choice(segs) for _ in range(rng.randint(1, 6)))
        + ("/" if rng.random() < 0.3 else "")
        for _ in range(120)
    ]
    lines = [ln if ln else "/" for ln in lines]

    for reverse, fn in ((False, path_hierarchy_tokenize),
                        (True, reverse_path_hierarchy_tokenize)):
        for delim, repl, skip in [("/", "/", 0), ("/", "/", 1), ("/", "/", 2),
                                  ("/", "|", 0), ("\\", "/", 0)]:
            exp = gt.run_path(lines, reverse, delim, repl, skip)
            for ln, e in zip(lines, exp):
                got = fn(ln, delim, repl, skip)
                assert got == e, ((reverse, delim, repl, skip), repr(ln), got, e)


def test_surround_full_grammar_matches_compiled_reference():
    """Ground-truth round 66: the surround query language's FULL grammar
    (surround/parser/QueryParser.jj) — infix AND/OR/NOT chains with the
    grammar's precedence, infix left-NESTED W/N distance operators
    (NQuery/WQuery pair left-associatively, so `a W b W c` is
    SpanNear(SpanNear(a,b), c) over generalized interval spans), prefix
    n-ary forms, parenthesized or-chains as distance operands, `^w`
    weights (left-associative products; score-INERT inside span context
    since sub-SpanWeights are built with needsScores=false —
    SpanNearQuery.java:182), prefix/truncated/quoted terms expanded
    VERBATIM over the term dictionary, `field:` prefixes (absent fields
    match nothing), MatchNoDocs propagation through empty expansions
    (an empty nested near is SKIPPED by SpanNearClauseFactory.addSpanQuery
    while an empty direct clause voids the whole distance op), the
    ParseException surface (too-unrestrictive truncations, bare
    operators, missing parens, boost <= 0, adjacent terms), and the
    BasicQueryFactory 1024-cap (TooManyBasicQueries) including its
    keep-counting-after-MatchNoDocs quirk. Top-10 docids + float32
    scores and error outcomes exact vs the compiled parser +
    IndexSearcher."""
    from lucene_solr_spark.search.simpleqp import _OracleDict, oracle_topk_tree
    from lucene_solr_spark.search.oracle import build_oracle_index
    from lucene_solr_spark.search.surroundqp import (
        SurroundParseError,
        SurroundTooManyBasicQueries,
        surround_to_tree,
    )

    rng = random.Random(20260820)
    vocab = ["merge", "merga", "mergz", "sort", "sorta", "fast", "join",
             "aa", "bb", "cc"]

    def atom(depth: int) -> str:
        r = rng.random()
        if r < 0.45:
            t = rng.choice(vocab)
            if rng.random() < 0.1:
                t = t.upper()  # no analysis: case mismatch matches nothing
            return t
        if r < 0.6:
            return rng.choice(["mer*", "sor*", "merg*", "zzz*"])
        if r < 0.7:
            return rng.choice(["m?rge", "s?rt*", "me*a", "f?st", "jo?n*"])
        if r < 0.8:
            return '"%s"' % rng.choice(vocab)
        return "%s^%s" % (rng.choice(vocab),
                          rng.choice(["2", "0.5", "3.25", "2^2"]))

    def dist_operand(depth: int) -> str:
        r = rng.random()
        if depth <= 0 or r < 0.55:
            return atom(depth)
        if r < 0.7:
            return "(%s)" % " OR ".join(
                dist_operand(depth - 1) for _ in range(rng.randint(2, 3)))
        if r < 0.85:
            num = rng.choice(["", "2", "3", "10"])
            op = rng.choice(["W", "w", "N", "n"])
            return "%s%s(%s)" % (num, op, ", ".join(
                dist_operand(depth - 1) for _ in range(rng.randint(2, 3))))
        lhs, rhs = dist_operand(0), dist_operand(0)
        return "%s %s%s %s" % (
            lhs, rng.choice(["", "2", "4"]), rng.choice(["W", "N"]), rhs)

    def expr(depth: int) -> str:
        r = rng.random()
        if depth <= 0 or r < 0.3:
            return atom(depth)
        if r < 0.55:
            op = rng.choice(["AND", "OR", "NOT", "and", "or", "not"])
            return (" %s " % op).join(
                expr(depth - 1) for _ in range(rng.randint(2, 3)))
        if r < 0.7:
            w = "^%s" % rng.choice(["2", "0.5"]) if rng.random() < 0.4 else ""
            return "(%s)%s" % (expr(depth - 1), w)
        if r < 0.8:
            op = rng.choice(["AND", "OR"])
            return "%s(%s)" % (op, ", ".join(
                expr(depth - 1) for _ in range(rng.randint(2, 3))))
        if r < 0.9:
            return dist_operand(depth - 1)
        f = rng.choice(["body", "other"])
        return "%s:%s" % (f, atom(0))

    fixed = [
        "merge W sort", "merge w sort AND fast", "aa W bb W cc",
        "aa N bb N cc", "3W(aa, or(bb, cc), merge)", "W(2N(aa, bb), cc)",
        "w(n(aa, bb), n(cc, merge))", "aa NOT bb NOT cc",
        "AND(aa, bb, cc)^2", "zzz W merge", "W(zzzq, aa) OR bb",
        "(aa W bb)^2 AND cc", "body:merge AND other:sort",
        "mer* N fast", "m?rge W aa", '"merge" W sort', "merge N mer*",
        "(merge OR sort) W fast", "aa W (bb OR cc)",
        "merge OR sort AND fast NOT join", "sort^2^3 OR merge^0.5",
        "10W(aa, bb)", "2N(merge, sort, fast)",
        "W(or(merge, sort), or(fast, join), aa)",
        "(aa N bb) W (cc OR merge)",
        # error surface
        "ab*", "a?b", "aa AND AND bb", "aa ^", "w", "aa bb", "merge^0",
        "1w(aa, bb)", "aa W (bb AND cc)", "W(f:aa, bb)", "merge AND",
        "W(aa)", "OR(merge)", "*ab", "?aa", "aa NOT (bb OR)",
    ]

    for corpus_round in range(4):
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 14)))
            for _ in range(rng.randint(5, 20))
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        d = _OracleDict(idx)

        queries = list(fixed) if corpus_round == 0 else []
        while len(queries) < 40:
            queries.append(expr(3))

        expected = gt.run_surround(docs, queries)
        assert len(expected) == len(queries)
        for qs, exp in zip(queries, expected):
            try:
                tree = surround_to_tree(qs, d, "body")
                got = oracle_topk_tree(idx, tree, k=10)
            except SurroundParseError:
                got = "!PARSE"
            except SurroundTooManyBasicQueries:
                got = "!TOOMANY"
            if isinstance(exp, str):
                assert got == exp, (corpus_round, qs, got, exp)
            else:
                assert not isinstance(got, str), (corpus_round, qs, got, exp)
                _assert_topk_equal(got, exp, (corpus_round, qs))


def test_surround_too_many_basic_queries_parity():
    """BasicQueryFactory cap parity at the exact boundary: every
    TermQuery/SpanTermQuery creation ticks checkMax; a MatchNoDocs
    distance op still ticks its remaining subqueries
    (DistanceQuery.getSpanNearQuery's error-message loop)."""
    from lucene_solr_spark.search.simpleqp import _OracleDict, oracle_topk_tree
    from lucene_solr_spark.search.oracle import build_oracle_index
    from lucene_solr_spark.search.surroundqp import (
        SurroundTooManyBasicQueries,
        surround_to_tree,
    )

    docs = ["merge merga mergz sort"] * 3
    idx = build_oracle_index(list(enumerate(docs)))
    d = _OracleDict(idx)
    # mer* expands to 3 terms; an AND chain of L copies ticks 3L
    at_cap = " AND ".join(["mer*"] * 341)      # 1023 ticks: fine
    over_cap = " AND ".join(["mer*"] * 342)    # 1026 ticks: error
    exp = gt.run_surround(docs, [at_cap, over_cap])
    assert not isinstance(exp[0], str) and exp[1] == "!TOOMANY"
    tree = surround_to_tree(at_cap, d, "body")
    _assert_topk_equal(oracle_topk_tree(idx, tree, k=10), exp[0], ("cap",))
    try:
        surround_to_tree(over_cap, d, "body")
        raise AssertionError("expected TooManyBasicQueries")
    except SurroundTooManyBasicQueries:
        pass


def test_datemath_matches_compiled_reference():
    """Ground-truth round 67: Solr's DateMathParser
    (solr/core/src/java/org/apache/solr/util/DateMathParser.java) — the
    `\\b|(?<=\\d)(?=\\D)` splitter, +/-/round command loop, java.time
    clamping month arithmetic, millisecond flooring, timezone-local
    rounding with DST gap/overlap resolution (fold=0 == ZonedDateTime.of),
    the static NOW.../first-'Z' full-string form, and the error surface —
    epoch-millis exact vs the patch-compiled reference class."""
    from lucene_solr_spark.ops.datemath import (
        DateMathParseError,
        date_math,
        parse_math,
    )

    rng = random.Random(20260867)
    units = ["YEAR", "YEARS", "MONTH", "MONTHS", "DAY", "DAYS", "DATE",
             "HOUR", "HOURS", "MINUTE", "MINUTES", "SECOND", "SECONDS",
             "MILLI", "MILLIS", "MILLISECOND", "MILLISECONDS"]
    bad_units = ["WEEK", "days", "Day", "XYZ", "MONTHZ"]
    tzs = ["UTC", "America/Los_Angeles", "Europe/Berlin", "Asia/Kolkata",
           "GMT+05:30", "GMT-08:00", "Bad/Zone"]

    def rand_math(allow_bad: bool) -> str:
        n_ops = rng.randint(1, 5)
        parts = []
        for _ in range(n_ops):
            r = rng.random()
            if r < 0.35:
                parts.append("/" + rng.choice(
                    units + (bad_units if allow_bad and rng.random() < 0.2
                             else [])))
            else:
                sign = rng.choice("+-")
                val = rng.choice([0, 1, 2, 3, 7, 11, 25, 100, 999])
                u = rng.choice(units)
                if allow_bad and rng.random() < 0.1:
                    u = rng.choice(bad_units)
                parts.append(f"{sign}{val}{u}")
        return "".join(parts)

    cases: list[tuple[str, str, int, str]] = []
    # instance mode: tz-aware rounding/adding over random nows
    for _ in range(120):
        tz = rng.choice(tzs)
        now = rng.randint(-500_000_000_000, 2_000_000_000_000)
        cases.append(("I", tz, now, rand_math(allow_bad=True)))
    # DST edges (America/Los_Angeles 2020: spring fwd Mar 8 02:00,
    # fall back Nov 1 02:00): round/add across both transitions,
    # including arithmetic landing IN the gap and the overlap
    la_points = [
        1583657000000,   # 2020-03-08 ~01:23 PST
        1583661600000,   # 2020-03-08 03:00 PDT (just after gap)
        1604219400000,   # 2020-11-01 00:50 PDT
        1604225700000,   # 2020-11-01 01:35 PDT (first pass of overlap)
        1604229300000,   # 2020-11-01 01:35 PST (second pass)
    ]
    for now in la_points:
        for math in ["/DAY", "/HOUR", "/DAY+2HOURS+30MINUTES", "/MONTH",
                     "+1DAY/DAY", "-1DAY/HOUR", "/DAY+26HOURS"]:
            cases.append(("I", "America/Los_Angeles", now, math))
    # static full-string mode (default UTC zone)
    dates = ["2020-01-31T10:20:30Z", "2020-02-29T23:59:59.999Z",
             "1969-12-31T23:59:59.1234567Z", "2033-06-15T00:00:00.000000001Z",
             "1993-11-01T05:00:00Z"]
    for _ in range(60):
        if rng.random() < 0.5:
            val = "NOW" + (rand_math(allow_bad=True) if rng.random() < 0.9
                           else "")
        else:
            val = rng.choice(dates) + (rand_math(allow_bad=True)
                                       if rng.random() < 0.8 else "")
        now = rng.randint(0, 2_000_000_000_000)
        cases.append(("S", "UTC", now, val))
    # fixed error surface
    for val in ["NOW//DAY", "NOW+DAY", "NOW+1", "NOW/", "NOW+1.5DAYS",
                "NOW 1DAY", "now/DAY", "2020-01-31T10:20:30z/DAY",
                "2020-01-31", "2021-02-29T00:00:00Z", "NOW+99999999999DAYS",
                "NOW*2DAYS", "+1DAY"]:
        cases.append(("S", "UTC", 1600000000000, val))

    expected = gt.run_datemath(cases)
    assert len(expected) == len(cases)
    n_err = n_ok = 0
    for (mode, tz, now, val), exp in zip(cases, expected):
        try:
            if mode == "S":
                got = str(parse_math(now, val))
            else:
                got = str(date_math(now, val, tz=tz))
            n_ok += 1
        except DateMathParseError:
            got = "!ERR"
            n_err += 1
        except OverflowError:
            got = "!ERR"  # out-of-range arithmetic errors both sides
            n_err += 1
        if exp in ("!PARSE", "!ERR"):
            assert got == "!ERR", (mode, tz, now, val, got, exp)
        else:
            assert got == exp, (mode, tz, now, val, got, exp)
    assert n_ok >= 100 and n_err >= 20  # both surfaces actually exercised


def _joinutil_control(idx, queries, from_keys, to_keys):
    """TermsWithScoreCollector.SV + TermsIncludingScoreQuery.SVInOrderScorer
    control: per-key float32 folds in docID collection order
    (TermsWithScoreCollector.java:76-99 — first assignment when the
    existing slot Float.compare's equal to 0.0f, else the mode's
    running op; SV.Avg divides its f32 sum by the int count at
    getScoresPerTerm), then every to doc with a collected key scores its
    key's aggregate (None = TermsQuery, constant 1.0f), ranked score
    DESC / docid ASC. `idx` holds ONLY the from docs — to docs carry no
    body field, so they are invisible to the body field's
    CollectionStatistics."""
    from lucene_solr_spark.search.simpleqp import _OracleCtx, eval_tree

    out = []
    docs = np.array(sorted(idx.norm_bytes), dtype=np.int64)
    for mode, terms in queries:
        tree = ("bool", tuple(("", ("term", t)) for t in terms))
        m, s = eval_tree(tree, _OracleCtx(idx, docs))
        state: dict[str, np.float32] = {}
        counts: dict[str, int] = {}
        for i in np.nonzero(m)[0]:
            key = from_keys[int(docs[i])]
            cur = np.float32(s[i])
            if mode == "none":
                state[key] = np.float32(1.0)
                continue
            init = {"min": np.float32(np.inf), "max": np.float32(-np.inf),
                    "total": np.float32(0.0), "avg": np.float32(0.0)}[mode]
            existing = state.get(key, init)
            if existing == np.float32(0.0):
                state[key] = cur
                counts[key] = 1
            elif mode == "total":
                state[key] = np.float32(existing + cur)
            elif mode == "avg":
                state[key] = np.float32(existing + cur)
                counts[key] = counts.get(key, 0) + 1
            elif mode == "min":
                if cur < existing:
                    state[key] = cur
            elif mode == "max":
                if cur > existing:
                    state[key] = cur
        if mode == "avg":
            state = {k: np.float32(v / np.float32(counts[k]))
                     for k, v in state.items()}
        hits = [
            (len(from_keys) + ti, state[k])
            for ti, k in enumerate(to_keys) if k in state
        ]
        hits.sort(key=lambda h: (-float(h[1]), h[0]))
        out.append([(d, np.float32(v)) for d, v in hits[:10]])
    return out


def test_joinutil_matches_compiled_reference():
    """Ground-truth round 68: query-time scored joins —
    JoinUtil.createJoinQuery (lucene/join/.../JoinUtil.java:95) across
    all five ScoreModes (None/Min/Max/Total/Avg), docids + float32
    scores exact vs the compiled collector + TermsIncludingScoreQuery."""
    from lucene_solr_spark.search.oracle import build_oracle_index

    rng = random.Random(20260868)
    vocab = ["merge", "sort", "fast", "join", "spark", "aa", "bb"]
    for corpus_round in range(4):
        n_from = rng.randint(6, 24)
        n_to = rng.randint(4, 12)
        keys = [f"k{j}" for j in range(rng.randint(2, 6))]
        from_docs = [
            (rng.choice(keys),
             " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))))
            for _ in range(n_from)
        ]
        to_keys = [rng.choice(keys + ["orphan"]) for _ in range(n_to)]
        queries = []
        for mode in ["none", "min", "max", "total", "avg"]:
            for _ in range(3):
                terms = rng.sample(vocab, rng.randint(1, 3))
                if rng.random() < 0.15:
                    terms.append("zzz_absent")
                queries.append((mode, terms))
        exp = gt.run_joinutil(from_docs, to_keys, queries)
        assert len(exp) == len(queries)
        idx = build_oracle_index(
            [(i, body) for i, (_k, body) in enumerate(from_docs)])
        got = _joinutil_control(
            idx, queries, [k for k, _b in from_docs], to_keys)
        for (mode, terms), g, x in zip(queries, got, exp):
            _assert_topk_equal(g, x, (corpus_round, mode, terms))


def test_facet_associations_match_compiled_reference():
    """Ground-truth round 69: taxonomy association facets
    (facet/taxonomy/TaxonomyFacetSum{Int,Float}Associations.java) — the
    packed (ord, value) byte walk summed per category (float32 in DOC
    order for floats), then getTopChildren's exact machinery: children
    iterated NEWEST-FIRST (the taxonomy children/siblings linked list),
    the values[ord] > 0 drop, the bottomValue guard that lets the
    first-iterated (largest-ord) child keep a boundary TIE, and
    TopOrdAndIntQueue's larger-ord-is-less ordering for pops. Labels,
    values (Integer/Float.toString) and childCount exact vs the
    compiled classes."""
    import heapq

    rng = random.Random(20260869)
    labels = ["a", "b", "c", "d", "e"]

    def control(docs, kind, topn):
        # replay ord assignment: root=0; categories (dim first, then
        # (dim,label)) in first-appearance order across the doc stream
        ords: dict = {}
        nxt = [1]

        def ord_of(path):
            if path not in ords:
                ords[path] = nxt[0]
                nxt[0] += 1
            return ords[path]

        dim = "idim" if kind == "INT" else "fdim"
        vals: dict[int, object] = {}
        for flag, fields in docs:
            for d, lb, v in fields:
                ord_of((d,))
                o = ord_of((d, lb))
                if flag != "m" or d != dim:
                    continue
                if kind == "INT":
                    vals[o] = vals.get(o, 0) + int(v)
                else:
                    vals[o] = np.float32(
                        vals.get(o, np.float32(0.0)) + np.float32(float(v)))
        if (dim,) not in ords:
            return None
        label_of = {o: p[1] for p, o in ords.items() if len(p) == 2
                    and p[0] == dim}
        q: list = []  # heap of (value, -ord): top = lessThan-smallest
        bottom = 0
        tot = 0.0
        child_count = 0
        for o in sorted(label_of, reverse=True):  # newest-first
            v = vals.get(o, 0)
            if v > 0:
                tot += v
                child_count += 1
                if v > bottom:
                    if len(q) < topn:
                        heapq.heappush(q, (v, -o))
                    elif (v, -o) > q[0]:
                        heapq.heapreplace(q, (v, -o))
                    if len(q) == topn:
                        bottom = q[0][0]
        if tot == 0:
            return None
        out = []
        while q:
            v, no = heapq.heappop(q)
            out.append((label_of[-no], v))
        out.reverse()
        return out, child_count

    for corpus_round in range(4):
        n_docs = rng.randint(4, 20)
        docs = []
        for _ in range(n_docs):
            flag = "m" if rng.random() < 0.75 else "x"
            fields = []
            for _ in range(rng.randint(0, 5)):
                if rng.random() < 0.5:
                    fields.append(("idim", rng.choice(labels),
                                   str(rng.randint(-3, 9))))
                else:
                    v = rng.choice([0.25, 0.5, 1.25, 0.1, 2.3, 3.75])
                    fields.append(("fdim", rng.choice(labels), repr(v)))
            docs.append((flag, fields))
        queries = [(k, n) for k in ("INT", "FLOAT") for n in (1, 2, 3, 10)]
        exp = gt.run_facet_assoc(docs, queries)
        assert len(exp) == len(queries)
        for (kind, topn), x in zip(queries, exp):
            got = control(docs, kind, topn)
            if x is None:
                assert got is None or got[0] == [], (corpus_round, kind, topn, got)
                continue
            exp_pairs, exp_cc = x
            assert got is not None, (corpus_round, kind, topn, x)
            got_pairs, got_cc = got
            assert got_cc == exp_cc, (corpus_round, kind, topn, got, x)
            assert [lb for lb, _ in got_pairs] == [lb for lb, _ in exp_pairs], (
                corpus_round, kind, topn, got_pairs, exp_pairs)
            for (glb, gv), (xlb, xv) in zip(got_pairs, exp_pairs):
                if kind == "INT":
                    assert int(gv) == int(xv), (
                        corpus_round, topn, got_pairs, exp_pairs)
                else:
                    assert np.float32(gv) == np.float32(float(xv)), (
                        corpus_round, topn, got_pairs, exp_pairs)


def _ws_tokens(text: str):
    """Whitespace tokens with (term, start_offset, end_offset, position)."""
    out = []
    i, pos = 0, 0
    while i < len(text):
        while i < len(text) and text[i] == " ":
            i += 1
        if i >= len(text):
            break
        s = i
        while i < len(text) and text[i] != " ":
            i += 1
        out.append((text[s:i], s, i, pos))
        pos += 1
    return out


def test_fvh_matches_compiled_reference():
    """Ground-truth round 70: the FastVectorHighlighter chain
    (search/vectorhighlight/ — FieldQuery flatten/expand +
    QueryPhraseMap, FieldTermStack's term-sorted stable position sort
    with same-position rings, FieldPhraseList's greedy walk with
    longest-match backtrack and addIfNoOverlap merging,
    Simple/WeightedFieldFragList scoring, BaseFragListBuilder's window
    walk, ScoreOrderFragmentsBuilder + SimpleBoundaryScanner splicing).
    Fragment STRINGS and float32 totalBoost scores exact vs the
    compiled classes."""
    from lucene_solr_spark.search.fvh import fvh_fragments

    rng = random.Random(20260870)
    vocab = ["merge", "sort", "fast", "join", "index", "scan", "ab.cd",
             "x,", "deep"]
    for corpus_round in range(4):
        n_docs = rng.randint(4, 10)
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))
            for _ in range(n_docs)
        ]
        df = {t: sum(1 for d in docs if t in d.split(" ")) for t in vocab}
        queries = []
        for _ in range(25):
            clauses = []
            for _ in range(rng.randint(1, 3)):
                boost = rng.choice([1.0, 2.0, 0.5, 1.0])
                if rng.random() < 0.5:
                    clauses.append(("t", boost, rng.choice(vocab)))
                else:
                    terms = [rng.choice(vocab)
                             for _ in range(rng.randint(2, 3))]
                    clauses.append(("p", boost, rng.choice([0, 0, 1, 2]),
                                    terms))
            queries.append((
                rng.randrange(n_docs),
                rng.random() < 0.8,
                rng.choice([18, 25, 40, 1000]),
                rng.choice([1, 2, 3]),
                rng.choice(["S", "W"]),
                clauses,
            ))
        queries.append((0, True, 10, 1, "S", [("t", 1.0, "merge")]))  # !ERR
        exp = gt.run_fvh(docs, queries)
        assert len(exp) == len(queries)
        for (doc_id, phl, size, num, mode, clauses), x in zip(queries, exp):
            flat = []
            for c in clauses:
                if c[0] == "t":
                    flat.append(((c[2],), 0, c[1]))
                else:
                    flat.append((tuple(c[3]), c[2], c[1]))
            try:
                got = fvh_fragments(
                    docs[doc_id], _ws_tokens(docs[doc_id]), flat,
                    doc_count=n_docs, df_of=lambda t: df.get(t, 0),
                    frag_char_size=size, max_num=num,
                    weighted=(mode == "W"), phrase_highlight=phl,
                )
            except ValueError:
                got = "!ERR"
            if x == "!ERR":
                assert got == "!ERR", (corpus_round, doc_id, clauses, got)
                continue
            assert got != "!ERR", (corpus_round, doc_id, clauses, x)
            assert len(got) == len(x), (
                corpus_round, doc_id, size, num, mode, clauses, got, x)
            for (gf, gs), (xs, xf) in zip(got, x):
                assert gf == xf, (corpus_round, doc_id, size, num, mode,
                                  clauses, gf, xf)
                assert np.float32(gs) == np.float32(float(xs)), (
                    corpus_round, doc_id, size, num, mode, clauses, gs, xs)


def test_polygon_query_matches_compiled_reference():
    """Ground-truth round 71: LatLonPoint.newPolygonQuery
    (sandbox/document/LatLonPointInPolygonQuery.java + core
    geo/Polygon2D.java) — matched docids exact vs the compiled query:
    containment runs on the QUANTIZED (encode->decode) point
    coordinates with pnpoly crossings parity, the component
    bounding-box gate on the ORIGINAL double vertex bounds, and hole
    subtraction. Random star-shaped shells (some with holes) over
    random points, plus points planted exactly on quantized grid
    values near edges."""
    import math as m

    from lucene_solr_spark.ops.geo import point_in_polygon_query

    rng = random.Random(20260871)
    for corpus_round in range(4):
        pts = [
            (rng.uniform(-60, 60), rng.uniform(-120, 120))
            for _ in range(rng.randint(20, 60))
        ]
        queries = []
        specs = []
        for _ in range(8):
            clat, clon = rng.uniform(-40, 40), rng.uniform(-90, 90)
            n_v = rng.randint(3, 8)
            angles = sorted(rng.uniform(0, 2 * m.pi) for _ in range(n_v))
            radius = rng.uniform(5, 40)
            lats = [clat + radius * m.sin(a) for a in angles]
            lons = [clon + radius * 1.3 * m.cos(a) for a in angles]
            lats.append(lats[0])
            lons.append(lons[0])
            rings = [(lats, lons)]
            if rng.random() < 0.4:
                hr = radius * 0.35
                h_lats = [clat + hr * m.sin(a) for a in angles]
                h_lons = [clon + hr * 1.3 * m.cos(a) for a in angles]
                h_lats.append(h_lats[0])
                h_lons.append(h_lons[0])
                rings.append((h_lats, h_lons))
            spec = "|".join(
                ";".join(f"{la!r},{lo!r}" for la, lo in zip(rl, rn))
                for rl, rn in rings
            )
            queries.append(f"POLY {len(pts)} {spec}")
            specs.append(rings)
        exp = gt.run_spatial(pts, queries)
        assert len(exp) == len(queries)
        for rings, x in zip(specs, exp):
            shell = rings[0]
            holes = [tuple(r) for r in rings[1:]]
            polys = [(shell[0], shell[1], holes)]
            want = ([] if x == "-" else [int(d) for d in x.split(";")])
            got = [
                i for i, (la, lo) in enumerate(pts)
                if point_in_polygon_query(la, lo, polys)
            ]
            assert got == want, (corpus_round, len(shell[0]), got, want)


def test_blended_infix_suggester_matches_compiled_reference():
    """Ground-truth round 72: BlendedInfixSuggester — the
    AnalyzingInfixSuggester query machinery (whole-token MUST clauses,
    trailing-space-sensitive last-token prefix, weight-DESC first pass
    capped at num*numFactor) re-scored by first-matched-token-position
    blenders (linear 1-0.1p / reciprocal / exponential-reciprocal),
    (long)(weight*coefficient) truncation, the raw-startsWith
    coefficient-1 shortcut, and the TreeSet (value, text) dedup with
    DESCENDING output. (score, text) lists exact vs the compiled
    suggester."""
    from lucene_solr_spark.search.suggesters import blended_infix_lookup

    rng = random.Random(20260872)
    vocab = ["merge", "sort", "sorted", "soup", "fast", "join", "index",
             "scan", "source"]
    for corpus_round in range(4):
        entries = []
        for _ in range(rng.randint(8, 25)):
            text = " ".join(rng.choice(vocab)
                            for _ in range(rng.randint(1, 5)))
            entries.append((text, rng.randint(1, 500)))
        queries = []
        for _ in range(15):
            b = rng.choice(["L", "R", "E"])
            num = rng.choice([2, 3, 5, 10])
            req = rng.random() < 0.75
            kt = [rng.choice(vocab + ["so", "me", "zzz"])
                  for _ in range(rng.randint(1, 2))]
            key = " ".join(kt) + (" " if rng.random() < 0.3 else "")
            queries.append((b, num, req, key))
        exp = gt.run_blended_infix(entries, queries)
        assert len(exp) == len(queries)
        blender_of = {"L": "linear", "R": "reciprocal", "E": "exp"}
        for (b, num, req, key), x in zip(queries, exp):
            got = blended_infix_lookup(
                entries, key, num, blender=blender_of[b],
                all_terms_required=req,
            )
            want = [(int(s), t) for s, t in x]
            assert got == want, (corpus_round, b, num, req, key, got, want)


def test_grouping_extras_match_compiled_reference():
    """Ground-truth round 74: the REST of lucene/grouping plus the join
    module's global-ordinals JoinUtil path, vs the compiled collectors
    (GroundTruthGroup2 harness; corpus '<grp|_> <key> <facetCSV|_> <body>'):

    - TermAllGroupsCollector: group values in first-encounter doc order,
      null group included (AbstractAllGroupsCollector.getGroups()).
    - TermAllGroupHeadsCollector: one head doc per group under
      Sort.RELEVANCE / Sort(key ASC) / Sort(key DESC); a later doc
      replaces the head only when STRICTLY better, so ties keep the
      earliest doc (AbstractAllGroupHeadsCollector.collect's c<0 return).
    - TermFirstPassGroupingCollector + TermDistinctValuesCollector:
      top-N groups by (best-hit score DESC, doc ASC), then the SET of
      distinct countField values per group over the SINGLE-VALUED 'fs'
      doc-values, null included when a matching group doc has no value.
    - TermGroupFacetCollector SV and MV: facet counts deduped PER GROUP
      ((group, facetValue) pairs counted once), missing = #distinct
      groups having a matching doc with no facet value — but only
      counted when facetPrefix is null (the reserved/-1 ord fails the
      [startFacetOrd, endFacetOrd) check otherwise); total EXCLUDES the
      missing bucket (SegmentResult's total - counts[missing]); topN by
      (count DESC, value ASC) or value ASC with the minCount floor
      (GroupedFacetResult.addFacetCount's TreeSet walk).
    - BlockGroupingCollector over a block-partitioned twin index (same
      bodies, docs contiguous per group, last-in-block marker): top-N
      groups by best hit (score DESC, block-doc ASC), nWithin hits per
      group, per-group maxScore over ALL matching group docs.
    - JoinUtil.createJoinQuery(joinField, ..., ScoreMode, ordinalMap,
      min, max): global-ordinals self-join, toQuery=MatchAllDocs —
      per join value the from-side scores fold in DOC order in float32
      (Sum/Min/Max; Avg = f32 sum / occurrence count), occurrence
      min/max filtering (GlobalOrdinalsWithScoreCollector.match), and
      the None fast path scoring a constant 1.0.

    All docids, group values, counts, and float32 scores exact."""
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk

    rng = random.Random(20260874)
    facet_vocab = ["blue", "green", "red", "yellow"]
    for corpus_round in range(4):
        n_docs = rng.randint(8, 28)
        docs, lines = [], []
        for i in range(n_docs):
            grp = rng.choice(["g1", "g2", "g3", "g4", None])
            key = rng.randint(1, 9)
            nf = rng.randint(0, 2)
            facets = rng.sample(facet_vocab, nf)
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(1, 10))]
            docs.append((grp, key, facets, toks))
            lines.append(
                f"{grp or '_'} {key} {','.join(facets) or '_'} {' '.join(toks)}"
            )
        idx = build_oracle_index(
            [(i, " ".join(t)) for i, (_g, _k, _f, t) in enumerate(docs)]
        )

        # block-index doc numbering: groups in first-appearance order
        block_of = {}
        order = []
        by_group: dict = {}
        for i, (g, _k, _f, _t) in enumerate(docs):
            gk = g or "_"
            if gk not in by_group:
                by_group[gk] = []
                order.append(gk)
            by_group[gk].append(i)
        nxt = 0
        for gk in order:
            for i in by_group[gk]:
                block_of[i] = nxt
                nxt += 1

        cases = []
        for _ in range(4):
            ts = rng.sample(VOCAB, rng.randint(1, 3))
            cases.append(("ALLGROUPS", f"ALLGROUPS {' '.join(ts)}", ts))
            srt = rng.choice(["score", "key", "keyrev"])
            cases.append(("HEADS", f"HEADS {srt} {' '.join(ts)}", (srt, ts)))
            ng = rng.randint(1, 4)
            cases.append(("DISTINCT", f"DISTINCT {ng} {' '.join(ts)}", (ng, ts)))
            mv = rng.choice(["sv", "mv"])
            size = rng.randint(1, 5)
            mc = rng.randint(0, 2)
            byc = rng.choice(["count", "index"])
            pref = rng.choice(["-", "-", "b", "g", "bl", "z"])
            cases.append((
                "GFACET",
                f"GFACET {mv} {size} {mc} {byc} {pref} {' '.join(ts)}",
                (mv, size, mc, byc, pref, ts),
            ))
            ngb, nwb = rng.randint(1, 4), rng.randint(1, 3)
            cases.append(("BLOCK", f"BLOCK {ngb} {nwb} {' '.join(ts)}", (ngb, nwb, ts)))
            mode = rng.choice(["none", "min", "max", "total", "avg"])
            if rng.random() < 0.5:
                mn, mx = 0, "inf"
            else:
                mn, mx = rng.randint(1, 2), rng.choice(["inf", "2", "3"])
            cases.append((
                "GJOIN", f"GJOIN {mode} {mn} {mx} {' '.join(ts)}", (mode, mn, mx, ts),
            ))
        expected = gt.run_group2(lines, [c[1] for c in cases])
        assert len(expected) == len(cases)

        for (kind, _line, arg), exp in zip(cases, expected):
            if kind in ("ALLGROUPS", "HEADS", "DISTINCT", "GFACET", "GJOIN"):
                ts = arg if kind == "ALLGROUPS" else arg[-1]
                hits = oracle_topk(idx, " ".join(ts), k=n_docs, mode="or")
                by_doc = dict(hits)
                matching = sorted(by_doc)  # doc order = collect order

            if kind == "ALLGROUPS":
                seen, got = set(), []
                for d in matching:
                    gk = docs[d][0] or "_"
                    if gk not in seen:
                        seen.add(gk)
                        got.append(gk)
                want = ";".join(got)
            elif kind == "HEADS":
                srt, ts = arg
                heads: dict = {}
                for d in matching:
                    gk = docs[d][0] or "_"
                    if gk not in heads:
                        heads[gk] = d
                        continue
                    h = heads[gk]
                    if srt == "score":
                        better = by_doc[d] > by_doc[h]
                    elif srt == "key":
                        better = docs[d][1] < docs[h][1]
                    else:
                        better = docs[d][1] > docs[h][1]
                    if better:
                        heads[gk] = d
                want = ",".join(str(d) for d in sorted(heads.values()))
            elif kind == "DISTINCT":
                ng, ts = arg
                best: dict = {}
                for d, s in hits:  # score DESC, doc ASC
                    gk = docs[d][0] or "_"
                    best.setdefault(gk, (float(s), d))
                ranked = sorted(best.items(), key=lambda kv: (-kv[1][0], kv[1][1]))
                parts = []
                for gk, _sd in ranked[:ng]:
                    vals = set()
                    for d in matching:
                        if (docs[d][0] or "_") != gk:
                            continue
                        f = docs[d][2]
                        vals.add(f[0] if f else "_")
                    parts.append(gk + "|" + ",".join(sorted(vals)))
                want = ";".join(parts)
            elif kind == "GFACET":
                mv, size, mc, byc, pref, ts = arg
                prefix = None if pref == "-" else pref
                # the merge walks the segment's WHOLE facet dictionary in
                # the prefix range, so zero-count values emit at minCount 0
                counts: dict = {}
                for _g2, _k2, fvals, _t2 in docs:
                    for v in (fvals if mv == "mv" else fvals[:1]):
                        if prefix is None or v.startswith(prefix):
                            counts[v] = 0
                pairs = set()
                missing_groups = set()
                for d in matching:
                    gk = docs[d][0] or "_"
                    fv = docs[d][2] if mv == "mv" else docs[d][2][:1]
                    if not fv:
                        missing_groups.add(gk)
                        continue
                    for v in fv:
                        if prefix is None or v.startswith(prefix):
                            pairs.add((gk, v))
                for _g, v in pairs:
                    counts[v] = counts.get(v, 0) + 1
                missing = len(missing_groups) if prefix is None else 0
                total = len(pairs)
                if byc == "count":
                    entries = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                else:
                    entries = sorted(counts.items())
                entries = [(v, c) for v, c in entries if c >= mc][:size]
                want = (
                    f"{total}|{missing}|"
                    + ",".join(f"{v}:{c}" for v, c in entries)
                )
            elif kind == "BLOCK":
                ngb, nwb, ts = arg
                by_grp: dict = {}
                for d, s in hits:
                    gk = docs[d][0] or "_"
                    by_grp.setdefault(gk, []).append((block_of[d], float(s), d))
                groups = []
                for gk, ds in by_grp.items():
                    ds.sort(key=lambda x: (-x[1], x[0]))  # score DESC, bdoc ASC
                    best_s, best_b = ds[0][1], ds[0][0]
                    groups.append((-best_s, best_b, ds))
                groups.sort()
                parts = []
                for _ns, _bb, ds in groups[:ngb]:
                    mx = _fmt_f32(max(s for _b, s, _d in ds))
                    parts.append(
                        mx + "|" + ",".join(
                            f"{d}:{_fmt_f32(s)}" for _b, s, d in ds[:nwb]
                        )
                    )
                want = ";".join(parts)
            else:  # GJOIN
                mode, mn, mx, ts = arg
                mxv = 2**31 - 1 if mx == "inf" else int(mx)
                agg: dict = {}
                occ: dict = {}
                for d in matching:
                    g = docs[d][0]
                    if g is None:
                        continue
                    s = np.float32(by_doc[d])
                    occ[g] = occ.get(g, 0) + 1
                    if mode == "total" or mode == "avg":
                        agg[g] = np.float32(agg.get(g, np.float32(0.0)) + s)
                    elif mode == "min":
                        agg[g] = min(agg.get(g, np.float32(np.inf)), s)
                    elif mode == "max":
                        agg[g] = max(agg.get(g, np.float32(-np.inf)), s)
                if mn > 0 or mxv != 2**31 - 1:
                    surviving = {g for g, c in occ.items() if mn <= c <= mxv}
                else:
                    surviving = set(occ)
                out = []
                for d in range(n_docs):
                    g = docs[d][0]
                    if g is None or g not in occ or g not in surviving:
                        continue
                    if mode == "none":
                        sc = np.float32(1.0)
                    elif mode == "avg":
                        sc = np.float32(agg[g] / np.float32(occ[g]))
                    else:
                        sc = agg[g]
                    out.append((d, sc))
                out.sort(key=lambda x: (-float(x[1]), x[0]))
                want = ";".join(f"{d}:{_fmt_f32(s)}" for d, s in out[:10])
            assert (want or "-") == exp, (corpus_round, kind, arg, want, exp)


def test_field_masking_span_query_matches_compiled_reference():
    """Ground-truth round 75: FieldMaskingSpanQuery (core spans/
    FieldMaskingSpanQuery.java) vs the compiled binary — cross-field
    proximity: SpanNear/SpanFirst over clauses where an 'alt'-field
    SpanTermQuery is masked as 'body'. The pinned semantics:

    - positions iterate from each clause's REAL field (createWeight
      proxies straight to the masked query's weight),
    - term statistics come from each term's own field (SpanWeight's
      TreeMap term contexts — idf folds in float32 in Term order, field
      then text, so 'alt' terms fold before 'body' terms),
    - norms and collection stats (avgdl AND the idf's docCount) come
      from the MASKED-TO field: buildSimWeight calls
      collectionStatistics(query.getField()) ONCE, so an alt-field term
      scores idf(df_alt, docCount_body) — corpora include docs with an
      EMPTY alt field so the two docCounts genuinely differ.

    Docids + float32 scores exact over 4 two-field corpora; the fold is
    `oracle_topk_span_masked`, which the engine e2e test reuses."""
    from lucene_solr_spark.search.multifield import oracle_topk_span_masked
    from lucene_solr_spark.search.oracle import build_oracle_index

    rng = random.Random(20260875)
    alt_vocab = ["nn", "vb", "jj", "rb"]  # pos-tag-style parallel field
    for corpus_round in range(4):
        n_docs = rng.randint(6, 24)
        bodies, alts, lines = [], [], []
        for _ in range(n_docs):
            n = rng.randint(1, 12)
            b = [rng.choice(VOCAB) for _ in range(n)]
            # alt usually position-aligned (the masking use case), but
            # lengths drift to exercise independent norms, and some docs
            # have NO alt field at all (distinct per-field docCounts)
            m = (
                n if rng.random() < 0.6
                else rng.choice([0, rng.randint(1, 12)])
            )
            a = [rng.choice(alt_vocab) for _ in range(m)]
            bodies.append(b)
            alts.append(a)
            lines.append(" ".join(b) + "|" + " ".join(a))
        bidx = build_oracle_index([(i, " ".join(b)) for i, b in enumerate(bodies)])
        aidx = build_oracle_index([(i, " ".join(a)) for i, a in enumerate(alts)])
        of = {"body": bidx, "alt": aidx}

        cases = []
        for _ in range(24):
            if rng.random() < 0.8:
                nc = rng.randint(2, 3)
                clauses = []
                for ci in range(nc):
                    if rng.random() < 0.5:
                        clauses.append(("alt", rng.choice(alt_vocab)))
                    else:
                        clauses.append(("body", rng.choice(VOCAB)))
                if all(f == "body" for f, _t in clauses):
                    clauses[rng.randrange(nc)] = ("alt", rng.choice(alt_vocab))
                slop = rng.randint(0, 3)
                o = rng.choice(["o", "u"])
                spec = " ".join(
                    ("a:" if f == "alt" else "b:") + t for f, t in clauses
                )
                cases.append((
                    "MNEAR", f"MNEAR {slop} {o} {spec}", (slop, o, clauses),
                ))
            else:
                t = rng.choice(alt_vocab)
                end = rng.randint(1, 6)
                cases.append((
                    "MFIRST", f"MFIRST {end} a:{t}", (end, [("alt", t)]),
                ))
        expected = gt.run_fieldmask(lines, [c[1] for c in cases])
        assert len(expected) == len(cases)

        for (kind, _line, arg), exp in zip(cases, expected):
            clauses = arg[-1]
            if kind == "MFIRST":
                out = oracle_topk_span_masked(
                    of, clauses, k=10, mask_to="body",
                    span_first_end=arg[0])
            else:
                slop, o, _cl = arg
                out = oracle_topk_span_masked(
                    of, clauses, slop=slop, in_order=(o == "o"), k=10,
                    mask_to="body")
            want = ";".join(f"{d}:{_fmt_f32(s)}" for d, s in out)
            assert (want or "-") == exp, (corpus_round, kind, arg, want, exp)


def test_slow_fuzzy_query_matches_compiled_reference():
    """Ground-truth round 76: sandbox SlowFuzzyQuery (edit distances > 2
    and deprecated fractional similarities, linear dictionary
    enumeration) vs the compiled binary. Pins the REWRITTEN clause list
    (term:boost, Float.toString exact) and the top-10 docid + float32
    scores, including:

    - raw vs fractional modes (internal minSimilarity 0 vs the strict
      similarity > minSim accept), the double-arithmetic
      initialMaxDistance vs the float32 calculateMaxDistance,
    - the termLongEnough collapse to an exact SingleTermsEnum match,
    - the TWO similarity formulas (linear enum: prefix-adjusted
      min-suffix-length denominator; automaton enum at maxEdits <= 2:
      min FULL-length denominator, exact match pinned to 1.0) and the
    - TopTermsRewrite PQ bottom feedback that shrinks maxEdits and can
      switch linear -> automaton MID-ENUMERATION with a one-accepted-term
      lag (FuzzyTermsEnum.next()'s queuedBottom),
    - negative/zero raw-mode boosts flowing into BoostQuery clauses,
    - the (boost DESC, term ASC) queue tie rule and term-sorted output.

    Scoring of the rewritten BooleanQuery reuses the boosted-SHOULD
    oracle (boost folds into the weight BEFORE (k1+1), parity fix #6)."""
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.fuzzy_slow import slow_fuzzy_expand
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    rng = random.Random(20260876)
    for corpus_round in range(4):
        # short dense vocabulary over {a,b,c} => rich fuzzy
        # neighborhoods; 'a' excluded (stopword in the analyzed oracle
        # chain but a live term in the harness's WS index)
        vocab = sorted({
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(8, 20))
        } - {"a"})
        n_docs = rng.randint(5, 22)
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 8)))
            for _ in range(n_docs)
        ]
        idx = build_oracle_index(list(enumerate(docs)))
        dictionary = sorted(idx.postings)

        cases = []
        for _ in range(30):
            if rng.random() < 0.5:
                q = "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            else:  # mutate a vocab word
                w = list(rng.choice(vocab))
                for _m in range(rng.randint(0, 2)):
                    op = rng.choice(["sub", "ins", "del"])
                    pos = rng.randrange(len(w) + (op == "ins"))
                    if op == "sub" and w:
                        w[min(pos, len(w) - 1)] = rng.choice("abc")
                    elif op == "ins":
                        w.insert(pos, rng.choice("abc"))
                    elif w and len(w) > 1:
                        w.pop(min(pos, len(w) - 1))
                q = "".join(w)
            min_sim = rng.choice(
                [0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 1.0, 2.0, 3.0, 4.0, 5.0])
            prefix_len = rng.choice([0, 0, 1, 2])
            max_exp = rng.choice([1, 2, 3, 5, 50])
            cases.append((q, min_sim, prefix_len, max_exp))
        expected = gt.run_slow_fuzzy(
            docs,
            [f"SF {ms} {pl} {me} {q}" for q, ms, pl, me in cases],
        )
        assert len(expected) == len(cases)

        for (q, ms, pl, me), exp in zip(cases, expected):
            exp_clauses, exp_hits = exp.split("|")
            got = slow_fuzzy_expand(dictionary, q, ms, pl, me)
            want_clauses = ",".join(
                f"{t}:{_fmt_f32(b)}" for t, b in got) or "-"
            assert want_clauses == exp_clauses, (
                corpus_round, q, ms, pl, me, want_clauses, exp_clauses)
            if got:
                hits = oracle_topk_spec(
                    idx,
                    BooleanSpec(
                        should=tuple(t for t, _b in got),
                        boosts=tuple((t, float(b)) for t, b in got),
                    ),
                    k=10,
                )
                want_hits = ";".join(
                    f"{d}:{_fmt_f32(s)}" for d, s in hits) or "-"
            else:
                want_hits = "-"
            assert want_hits == exp_hits, (
                corpus_round, q, ms, pl, me, got, want_hits, exp_hits)


def test_geopoint_morton_matches_compiled_reference():
    """Ground-truth round 77: the lucene/spatial geopoint family —
    GeoPointField's 62-bit morton/z-order encoding (MortonEncoder's
    32-bit quantization with the sign-bit flip, lon-even/lat-odd
    interleave, the >>> 2 to 31 bits per dimension, and the all-ones
    special case), its decode (31-bit unscale to the cell corner), and
    GeoPointInBBoxQuery's accept set (decoded point inside the raw
    double bounds INCLUSIVE, dateline split, whole-world rewrite) — all
    pinned vs the compiled module. Also asserts the engine's
    `morton_ranges` z-cover is CONSISTENT: every matching doc's code
    falls in a range, and every non-boundary range holds only matches."""
    import struct

    from lucene_solr_spark.ops.geo import (
        geopoint_bbox_matches,
        geopoint_decode_lat,
        geopoint_decode_lon,
        geopoint_encode,
        morton_ranges,
    )

    rng = random.Random(20260877)
    for corpus_round in range(4):
        n_docs = rng.randint(10, 40)
        pts = []
        for _ in range(n_docs):
            if rng.random() < 0.15:  # edge coordinates
                lat = rng.choice([-90.0, 90.0, 0.0, 89.999999, -89.999999])
                lon = rng.choice([-180.0, 180.0, 0.0, 179.999999])
            else:
                lat = rng.uniform(-90, 90)
                lon = rng.uniform(-180, 180)
            pts.append((lat, lon))
        lines = [f"{lat!r} {lon!r}" for lat, lon in pts]
        codes = [geopoint_encode(lat, lon) for lat, lon in pts]

        cases = []
        for lat, lon in pts[:8]:
            cases.append(("ENC", f"ENC {lat!r} {lon!r}", (lat, lon)))
        for h in codes[:6]:
            cases.append(("DEC", f"DEC {h}", h))
        for _ in range(10):
            if rng.random() < 0.2:
                b = (-90.0, 90.0, -180.0, 180.0)  # whole world
            else:
                la = sorted([rng.uniform(-90, 90), rng.uniform(-90, 90)])
                lo = [rng.uniform(-180, 180), rng.uniform(-180, 180)]
                if rng.random() < 0.25:
                    lo = [max(lo), min(lo)]  # dateline crossing
                else:
                    lo = sorted(lo)
                b = (la[0], la[1], lo[0], lo[1])
            cases.append((
                "BBOX",
                f"BBOX {b[0]!r} {b[1]!r} {b[2]!r} {b[3]!r}", b,
            ))
        expected = gt.run_geopoint(lines, [c[1] for c in cases])
        assert len(expected) == len(cases)

        for (kind, _line, arg), exp in zip(cases, expected):
            if kind == "ENC":
                lat, lon = arg
                assert str(geopoint_encode(lat, lon)) == exp, (
                    corpus_round, arg, geopoint_encode(lat, lon), exp)
            elif kind == "DEC":
                jl, jo = exp.split(" ")
                dlat, dlon = geopoint_decode_lat(arg), geopoint_decode_lon(arg)
                # Double.toString round-trips; compare the parsed bits
                assert struct.pack(">d", float(jl)) == struct.pack(
                    ">d", dlat), (corpus_round, arg, jl, dlat)
                assert struct.pack(">d", float(jo)) == struct.pack(
                    ">d", dlon), (corpus_round, arg, jo, dlon)
            else:
                mn_la, mx_la, mn_lo, mx_lo = arg
                want = geopoint_bbox_matches(codes, mn_la, mx_la, mn_lo, mx_lo)
                want_s = ",".join(str(i) for i in want) or "-"
                assert want_s == exp, (corpus_round, arg, want_s, exp)
                # engine z-cover consistency (skip dateline: engine
                # callers split the box first)
                if mx_lo >= mn_lo:
                    rngs = morton_ranges(mn_la, mx_la, mn_lo, mx_lo)
                    match_set = set(want)
                    for i, c in enumerate(codes):
                        in_rng = next(
                            ((lo, hi, b) for lo, hi, b in rngs
                             if lo <= c <= hi), None)
                        if i in match_set:
                            assert in_rng is not None, (corpus_round, arg, i)
                        elif in_rng is not None:
                            assert in_rng[2], (  # only boundary ranges
                                corpus_round, arg, i, in_rng)


def test_zcode_sql_matches_pinned_encode():
    """The portable SQL z-code expression (spatial_zorder's single
    codegen projection, same string in Catalyst and DuckDB) equals the
    GT-77-pinned `geopoint_encode` on random and edge points."""
    import duckdb

    from lucene_solr_spark.ops.geo import geopoint_encode
    from lucene_solr_spark.ops.relational import _zcode_sql

    rng = random.Random(20260878)
    pts = [(rng.uniform(-90, 89.99), rng.uniform(-180, 179.99))
           for _ in range(300)]
    pts += [(-90.0, -180.0), (0.0, 0.0), (89.99, 179.99), (-89.99, 0.0)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pts)
    got = [r[0] for r in con.execute(
        "SELECT " + _zcode_sql("lat", "lon") + " FROM t").fetchall()]
    exp = [geopoint_encode(la, lo) for la, lo in pts]
    assert got == exp


def test_docvalues_queries_match_compiled_reference():
    """Ground-truth round 78: the sandbox doc-values queries
    (DocValuesTermsQuery / DocValuesNumbersQuery / DocValuesRangeQuery
    long + BytesRef forms) vs the compiled classes over the Group2
    corpus — constant-score accept sets: a doc matches when ANY of its
    values hits (set membership / range with per-bound inclusivity;
    a * bound is open; both bounds * rewrites to FieldValueQuery =
    every doc holding the field)."""
    rng = random.Random(20260879)
    for corpus_round in range(4):
        n_docs = rng.randint(8, 26)
        docs, lines = [], []
        facet_vocab = ["blue", "green", "red", "yellow"]
        for _i in range(n_docs):
            grp = rng.choice(["g1", "g2", "g3", "g4", None])
            key = rng.randint(1, 9)
            facets = rng.sample(facet_vocab, rng.randint(0, 2))
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(1, 6))]
            docs.append((grp, key, facets))
            lines.append(
                f"{grp or '_'} {key} {','.join(facets) or '_'} {' '.join(toks)}"
            )

        cases = []
        for _ in range(6):
            gs = rng.sample(["g1", "g2", "g3", "g4", "g9"], rng.randint(1, 3))
            cases.append(("DVTERMS", f"DVTERMS {' '.join(gs)}", gs))
            ks = rng.sample(range(1, 12), rng.randint(1, 4))
            cases.append((
                "DVNUM", f"DVNUM {' '.join(map(str, ks))}", ks))
            lo = rng.choice(["*", rng.randint(0, 8)])
            hi = rng.choice(["*", rng.randint(3, 11)])
            il, iu = rng.randint(0, 1), rng.randint(0, 1)
            cases.append((
                "DVRANGE", f"DVRANGE {lo} {hi} {il} {iu}", (lo, hi, il, iu)))
            blo = rng.choice(["*", "blue", "green", "c"])
            bhi = rng.choice(["*", "red", "yellow", "m"])
            cases.append((
                "DVRANGEB", f"DVRANGEB {blo} {bhi} {il} {iu}",
                (blo, bhi, il, iu)))
        expected = gt.run_group2(lines, [c[1] for c in cases])
        assert len(expected) == len(cases)

        def in_range(v, lo, hi, il, iu):
            if lo != "*":
                if il and not v >= lo:
                    return False
                if not il and not v > lo:
                    return False
            if hi != "*":
                if iu and not v <= hi:
                    return False
                if not iu and not v < hi:
                    return False
            return True

        for (kind, _line, arg), exp in zip(cases, expected):
            want = []
            for i, (grp, key, facets) in enumerate(docs):
                if kind == "DVTERMS":
                    ok = grp is not None and grp in arg
                elif kind == "DVNUM":
                    ok = key in arg
                elif kind == "DVRANGE":
                    lo, hi, il, iu = arg
                    if lo == "*" and hi == "*":
                        ok = True  # FieldValueQuery: key always present
                    else:
                        ok = in_range(key, lo, hi, bool(il), bool(iu))
                else:
                    blo, bhi, il, iu = arg
                    if blo == "*" and bhi == "*":
                        ok = bool(facets)
                    else:
                        ok = any(
                            in_range(v, blo, bhi, bool(il), bool(iu))
                            for v in facets
                        )
                if ok:
                    want.append(i)
            want_s = ",".join(map(str, want)) or "-"
            assert want_s == exp, (corpus_round, kind, arg, want_s, exp)


def test_completion_suggest_matches_compiled_reference():
    """Ground-truth round 79: the suggest/document completion family —
    SuggestField / ContextSuggestField indexed under the completion
    postings format, queried through SuggestIndexSearcher — vs the
    compiled module. Pins `search/completion.py`'s lookup fold:

    - the MINIMAL-accepted-prefix intersection (FSTUtil
      intersectPrefixPaths stops at the first accept state; every
      suggestion below inherits that path),
    - CompletionScorer.score's 0-rules (boost 0 -> weight, weight 0 ->
      boost -> a zero-weight entry scores the boost),
    - Prefix/Regex boost 0; Fuzzy boost = common-prefix length of the
      minimal accepted prefix with the query (exact nonFuzzyPrefix,
      OSA when transpositions, minFuzzyLength exact-only collapse),
    - ContextQuery: per-(entry, context) candidates, boost =
      contextBoost + 0 with the unknown/zero-boost-context -> plain
      weight quirk, prefix contexts resolving through the defined-
      context length walk, context echoed in the result,
    - the collector: bounded PQ (score DESC, doc ASC), traversal order
      (score DESC, FST input ASC), first-rejection termination.

    Full result STRING equality (doc:surface:ctx:Float.toString score)."""
    from lucene_solr_spark.search.completion import completion_lookup

    rng = random.Random(20260880)
    for corpus_round in range(4):
        surf_vocab = sorted({
            "".join(rng.choice("abc") for _ in range(rng.randint(2, 6)))
            for _ in range(rng.randint(6, 14))
        })
        ctx_vocab = ["red", "redx", "blue", "b"]
        entries, lines = [], []
        n_docs = rng.randint(6, 18)
        for i in range(n_docs):
            # 30% multi-token surfaces: exercises the preserveSep
            # SEP_LABEL key machinery (corpus line encodes spaces as _)
            n_tok = 1 if rng.random() < 0.7 else rng.randint(2, 3)
            s = " ".join(rng.choice(surf_vocab) for _ in range(n_tok))
            w = rng.choice([0, rng.randint(1, 40), rng.randint(1, 40)])
            ctxs = sorted(rng.sample(ctx_vocab, rng.randint(0, 2)))
            entries.append((i, s, w, ctxs))
            lines.append(
                f"{s.replace(' ', '_')} {w} {','.join(ctxs) or '_'}")

        cases = []
        for _ in range(20):
            num = rng.choice([1, 2, 3, 10])
            kind = rng.choice(["prefix", "regex", "fuzzy", "ctx"])
            if kind == "prefix":
                p = "".join(rng.choice("abc") for _ in range(rng.randint(1, 3)))
                if rng.random() < 0.3:  # multi-token prefix
                    p = rng.choice(surf_vocab) + " " + p
                cases.append((f"CPREFIX {num} {p}", dict(
                    kind="prefix", num=num, prefix=p)))
            elif kind == "regex":
                rx = rng.choice([
                    "a.*", "[ab]b.*", "a.c.*", "b.*c", ".*a", "ab|ba",
                ])
                cases.append((f"CREGEX {num} {rx}", dict(
                    kind="regex", num=num, regex=rx)))
            elif kind == "fuzzy":
                t = "".join(rng.choice("abc") for _ in range(rng.randint(2, 6)))
                me = rng.choice([1, 2])
                nfp = rng.choice([0, 1, 2])
                mfl = rng.choice([2, 3, 4])
                tr = rng.choice([0, 1])
                cases.append((
                    f"CFUZZY {num} {me} {nfp} {mfl} {tr} {t}",
                    dict(kind="fuzzy", num=num, term=t, max_edits=me,
                         non_fuzzy_prefix=nfp, min_fuzzy_length=mfl,
                         transpositions=bool(tr)),
                ))
            else:
                p = "".join(rng.choice("abc") for _ in range(rng.randint(1, 2)))
                if rng.random() < 0.25:
                    cases.append((f"CCTX {num} {p} all", dict(
                        kind="context", num=num, prefix=p,
                        all_contexts=True)))
                else:
                    n_ctx = rng.randint(1, 3)
                    spec = []
                    for c in rng.sample(ctx_vocab, n_ctx):
                        b = rng.choice([0.0, 1.0, 2.0, 1.5])
                        ex = rng.choice([0, 1])
                        spec.append((c, b, bool(ex)))
                    spec_s = ",".join(
                        f"{c}:{b}:{int(e)}" for c, b, e in spec)
                    cases.append((
                        f"CCTX {num} {p} {spec_s}",
                        dict(kind="context", num=num, prefix=p,
                             contexts=spec),
                    ))
        expected = gt.run_completion(lines, [c[0] for c in cases])
        assert len(expected) == len(cases)

        for (qline, kw), exp in zip(cases, expected):
            num = kw.pop("num")
            kind = kw.pop("kind")
            got = completion_lookup(entries, kind, num, **kw)
            want = ";".join(
                f"{d}:{s}:{c or '_'}:{_fmt_f32(sc)}" for d, s, c, sc in got
            ) or "-"
            assert want == exp, (corpus_round, qline, want, exp)


def test_index_splitters_match_compiled_reference():
    """Ground-truth round 80: lucene/misc's PKIndexSplitter and
    MultiPassIndexSplitter vs the compiled classes. Pins the assignment
    rules — PK: docs with pk IN [null, mid) to part 1 (mid itself goes
    to part 2: TermRangeQuery(field, null, mid, true, FALSE)); MultiPass
    seq: equal docid ranges with the LAST part absorbing the integer-
    division remainder; round-robin: doc j -> part (j % numParts) — and
    that each part IS a fresh index over its subset (addIndexes applies
    the fake deletes, so df/docCount shrink): per-part top-10 docids +
    float32 scores equal the control oracle over the renumbered subset."""
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk

    rng = random.Random(20260881)
    for corpus_round in range(4):
        n_docs = rng.randint(6, 24)
        docs = []
        for i in range(n_docs):
            pk = f"k{rng.randint(0, 99):02d}x{i}"  # unique, sortable
            body = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 8)))
            docs.append((pk, body))
        lines = [f"{pk} {body}" for pk, body in docs]

        cases = []
        for _ in range(8):
            t = rng.choice(VOCAB)
            if rng.random() < 0.4:
                mid = f"k{rng.randint(10, 90):02d}"
                cases.append(("PK", f"PK {mid} {t}", (mid, t)))
            else:
                n = rng.randint(2, 4)
                seq = rng.randint(0, 1)
                cases.append(("MP", f"MP {n} {seq} {t}", (n, seq, t)))
        expected = gt.run_idx_split(lines, [c[1] for c in cases])
        assert len(expected) == len(cases)

        for (kind, _line, arg), exp in zip(cases, expected):
            if kind == "PK":
                mid, t = arg
                parts = [
                    [i for i, (pk, _b) in enumerate(docs) if pk < mid],
                    [i for i, (pk, _b) in enumerate(docs) if pk >= mid],
                ]
            else:
                n, seq, t = arg
                if seq:
                    plen = n_docs // n
                    parts = []
                    for i in range(n):
                        lo = plen * i
                        hi = lo + plen if i < n - 1 else n_docs
                        parts.append(list(range(lo, hi)))
                else:
                    parts = [
                        [j for j in range(n_docs) if j % n == i]
                        for i in range(n)
                    ]
            out_parts = []
            for members in parts:
                sub = [(j, docs[orig][1]) for j, orig in enumerate(members)]
                idx = build_oracle_index(sub)
                hits = oracle_topk(idx, t, k=10, mode="or")
                ids = ",".join(str(orig) for orig in members) or "-"
                hs = ";".join(
                    f"{members[d]}:{_fmt_f32(s)}" for d, s in hits) or "-"
                out_parts.append(f"{ids}|{hs}")
            want = "#".join(out_parts)
            assert want == exp, (corpus_round, kind, arg, want, exp)


def test_string_distances_match_compiled_reference():
    """Ground-truth round 81: the spell StringDistance family
    (JaroWinkler / NGram(2,3) / Levenstein / LuceneLevenshtein — the
    functions behind Solr's strdist() and the spellchecker comparators)
    vs the compiled classes: Float.toString EXACT over 400 randomized +
    edge pairs, including JaroWinkler's argument-order prefix quirk, the
    NGram NUL-prefix discounting with fractional f32 DP costs, and
    LuceneLevenshtein's min-length normalization (negative values) and
    integer-valued empty-side returns."""
    from lucene_solr_spark.search.strdist import (
        jaro_winkler,
        levenstein_sim,
        lucene_levenshtein_sim,
        ngram_distance,
    )

    rng = random.Random(20260882)
    pairs = [
        ("", ""), ("", "abc"), ("abc", ""), ("a", "a"), ("a", "b"),
        ("martha", "marhta"), ("dwayne", "duane"), ("dixon", "dicksonx"),
        ("green", "grean"), ("aaaa", "aa"), ("ab", "ba"),
    ]
    for _ in range(400):
        a = "".join(rng.choice("abcde") for _ in range(rng.randint(0, 9)))
        b = "".join(rng.choice("abcde") for _ in range(rng.randint(0, 9)))
        pairs.append((a, b))
    expected = gt.run_strdist(pairs)
    assert len(expected) == len(pairs)
    for (a, b), exp in zip(pairs, expected):
        want = ":".join(
            _fmt_f32(v)
            for v in (
                jaro_winkler(a, b),
                ngram_distance(a, b, 2),
                ngram_distance(a, b, 3),
                levenstein_sim(a, b),
                lucene_levenshtein_sim(a, b),
            )
        )
        assert want == exp, (a, b, want, exp)


def test_geo3d_distance_query_matches_compiled_reference():
    """Ground-truth rounds 82-83: lucene/spatial3d's ellipsoidal
    membership vs the compiled module, docid-exact — circles
    (Geo3DPoint.newDistanceQuery -> GeoStandardCircle), rectangles
    (newBoxQuery -> GeoRectangle's four planes), and PATHS
    (newPathQuery -> GeoStandardPath: per-segment four-plane corridors,
    endpoint circle caps with flipped cutoff copies, the middle
    endpoints' four-candidate three-point-plane selection, and the
    plane-plane-ellipsoid corner intersections). Also pinned:
    the WGS84 ab/c scalings, the desired-ellipsoid-magnitude
    projection, the 32-bit floor-encode / center-decode x/y/z
    quantization, the antipodal-safe cutoff-point construction, and the
    single SidedPlane membership evaluation with MINIMUM_RESOLUTION
    slop (ops/geo3d.py). Points whose plane evaluation sits within
    1e-10 of a flip threshold are excluded from the assertion (Java
    Math vs C libm may round sin/cos one ULP apart there); every corpus
    asserts that at least 95% of points are comparable."""
    from lucene_solr_spark.ops.geo3d import circle_margin, distance_query_matches

    rng = random.Random(20260883)
    for corpus_round in range(4):
        n_docs = rng.randint(15, 50)
        pts = []
        base_lat = rng.uniform(-80, 80)
        base_lon = rng.uniform(-170, 170)
        for _ in range(n_docs):
            if rng.random() < 0.6:  # cluster near the base for near-hits
                pts.append((
                    base_lat + rng.uniform(-2, 2),
                    base_lon + rng.uniform(-2, 2),
                ))
            else:
                pts.append((rng.uniform(-89, 89), rng.uniform(-179, 179)))
        lines = [f"{la!r} {lo!r}" for la, lo in pts]

        cases = []
        for _ in range(10):
            cla = base_lat + rng.uniform(-1, 1)
            clo = base_lon + rng.uniform(-1, 1)
            roll = rng.random()
            if roll < 0.3:
                dla = rng.uniform(0.2, 4.0)
                dlo = rng.uniform(0.2, 4.0)
                box = (max(cla - dla, -89.9), min(cla + dla, 89.9),
                       max(clo - dlo, -179.9), min(clo + dlo, 179.9))
                cases.append(("BOX", f"BOX {box[0]!r} {box[1]!r} "
                              f"{box[2]!r} {box[3]!r}", box))
            elif roll < 0.6:
                n_wp = rng.randint(1, 4)
                path = [(cla, clo)]
                for _w in range(n_wp - 1):
                    pl, po = path[-1]
                    path.append((
                        max(min(pl + rng.uniform(-2, 2), 85.0), -85.0),
                        max(min(po + rng.uniform(0.5, 3), 175.0), -175.0),
                    ))
                width = rng.choice([2e4, 8e4, 3e5])
                spec = " ".join(f"{la!r} {lo!r}" for la, lo in path)
                cases.append(("PATH", f"PATH {width!r} {spec}",
                              (path, width)))
            else:
                radius = rng.choice([5e3, 5e4, 2e5, 1e6, 5e6])
                cases.append(("CIRCLE",
                              f"CIRCLE {cla!r} {clo!r} {radius!r}",
                              (cla, clo, radius)))
        expected = gt.run_geo3d(lines, [c[1] for c in cases])
        assert len(expected) == len(cases)

        from lucene_solr_spark.ops.geo3d import (
            box_margin,
            box_query_matches,
            path_margin,
            path_query_matches,
        )

        skipped = 0
        for (kind, _line, arg), exp in zip(cases, expected):
            if kind == "CIRCLE":
                want = set(distance_query_matches(pts, *arg))
                margins = [circle_margin(p, *arg) for p in pts]
            elif kind == "PATH":
                path, width = arg
                want = set(path_query_matches(pts, path, width))
                margins = [path_margin(p, path, width) for p in pts]
            else:
                want = set(box_query_matches(pts, *arg))
                margins = [box_margin(p, *arg) for p in pts]
            got = set() if exp == "-" else {int(x) for x in exp.split(",")}
            comparable = set()
            for i, m in enumerate(margins):
                if m > 1e-10:
                    comparable.add(i)
                else:
                    skipped += 1
            assert want & comparable == got & comparable, (
                corpus_round, kind, arg, sorted(want), sorted(got))
        assert skipped <= n_docs * 10 * 0.05, skipped


def test_geo3d_sharp_bend_path_candidate_branches():
    """Ground-truth round 84 (ADVICE r3 high fix): GeoStandardPath's
    four-candidate SegmentEndpoint selection at SHARP bends, docid-exact
    vs the compiled reference. The reference call site
    (GeoStandardPath.java:182-186) tests candidate1 against
    prevSegment.LRHC and candidate4 against currentSegment.LLHC — the
    one corner NOT on each plane; testing a corner ON the plane is
    trivially true within the 1e-12 slop and silently forces candidate1
    everywhere. These 10 cases were mined so the swapped-check-point
    variant picks a different branch AND flips membership of at least
    one listed point, so the pin actually discriminates (the r83 pin's
    gentle bends did not). Also asserts the c3 branch is exercised."""
    from tests.geo3d_sharp_cases import GEO3D_SHARP_BEND_CASES
    from lucene_solr_spark.ops.geo3d import (
        GeoStandardPath,
        RADIANS_PER_DEGREE,
        RADIANS_PER_METER,
        path_margin,
        path_query_matches,
    )

    branches = set()
    for case in GEO3D_SHARP_BEND_CASES:
        path, width, pts = case["path"], case["width"], case["pts"]
        shape = GeoStandardPath(
            [(la * RADIANS_PER_DEGREE, lo * RADIANS_PER_DEGREE)
             for la, lo in path],
            width * RADIANS_PER_METER,
        )
        branches.update(shape.endpoint_branches)
        lines = [f"{la!r} {lo!r}" for la, lo in pts]
        spec = " ".join(f"{la!r} {lo!r}" for la, lo in path)
        exp = gt.run_geo3d(lines, [f"PATH {width!r} {spec}"])[0]
        got = set() if exp == "-" else {int(x) for x in exp.split(",")}
        want = set(path_query_matches(pts, path, width))
        comparable = {
            i for i, p in enumerate(pts)
            if path_margin(p, path, width) > 1e-10
        }
        assert want & comparable == got & comparable, (
            path, width, sorted(want), sorted(got))
    assert "c3" in branches, branches


def test_geo3d_polygon_matches_compiled_reference():
    """Ground-truth round 86 (r3 VERDICT #5): Geo3D polygons —
    Geo3DPoint.newPolygonQuery membership docid-exact vs the compiled
    reference for convex rings in BOTH orientations plus composite
    (multi-ring) queries. Pins: fromPolygon's ring REVERSAL
    (Geo3DPoint.java:272-275), GeoPolygonFactory's winding-based
    in-set decision (isInsidePolygon — clockwise-on-map ring = the
    small cap, counter-clockwise = its complement), GeoConvexPolygon's
    SidedPlane(check, start, end) edges with the next-vertex-off-plane
    check selection, and GeoConcavePolygon's any-flipped-edge
    membership for the complement case (ops/geo3d.py
    GeoConvexPolygonMembership)."""
    from lucene_solr_spark.ops.geo3d import (
        polygon_margin,
        polygon_query_matches,
    )

    rng = random.Random(8686)
    n_cases = n_skipped = 0
    saw_complement = False
    for _t in range(16):
        cla, clo = rng.uniform(-60, 60), rng.uniform(-150, 150)
        rings = []
        n_rings = rng.choice([1, 1, 2])
        for r in range(n_rings):
            ccla = cla + r * 12
            nv = rng.randint(3, 7)
            rad = rng.uniform(1.0, 5.0)
            angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(nv))
            ring = [(ccla + rad * math.cos(a), clo + rad * math.sin(a) * 1.3)
                    for a in angles]
            if rng.random() < 0.5:
                ring = ring[::-1]
                saw_complement = True
            rings.append(ring)
        pts = []
        for _ in range(50):
            which = rng.randrange(n_rings)
            base = cla + which * 12
            pts.append((base + rng.uniform(-7, 7), clo + rng.uniform(-9, 9)))
        lines = [f"{la!r} {lo!r}" for la, lo in pts]
        spec = " | ".join(
            " ".join(f"{la!r} {lo!r}" for la, lo in ring) for ring in rings)
        try:
            exp = gt.run_geo3d(lines, [f"POLY {spec}"])[0]
        except RuntimeError:
            continue  # factory rejected the random ring (e.g. too thin)
        got = set() if exp == "-" else {int(x) for x in exp.split(",")}
        want = set(polygon_query_matches(pts, rings))
        comparable = set()
        for i, p in enumerate(pts):
            if polygon_margin(p, rings) > 1e-10:
                comparable.add(i)
            else:
                n_skipped += 1
        n_cases += 1
        assert want & comparable == got & comparable, (
            rings, sorted(want), sorted(got))
    assert n_cases >= 12, n_cases
    assert n_skipped <= n_cases * 50 * 0.05, n_skipped


def test_xml_coreplus_elements_match_compiled_reference():
    """Ground-truth round 29b — the CorePlusQueries elements
    (xml/CorePlusQueriesParser.java): BoostingQuery (match scores scaled
    by the context boost for docs matching both) and LikeThisQuery
    (MoreLikeThisQuery: likeText -> MoreLikeThis term selection ->
    SHOULD clauses with (int)(clauses * pct) msm in float32), fuzzed
    against the compiled CorePlusQueriesParser + IndexSearcher; plus
    the fixed pins: missing fieldNames targets the builder's literal
    default field "contents" and silently matches nothing; numeric
    elements on a field with no points match nothing; and
    FuzzyLikeThisQuery (registered only by CorePlusExtensionsParser)
    raises the reference's ParserException."""
    from collections import Counter

    from lucene_solr_spark.search.mlt import mlt_select_terms
    from lucene_solr_spark.search.simpleqp import (
        _ws_analyze,
        build_ws_oracle_index,
        oracle_topk_tree,
    )
    from lucene_solr_spark.search.xmlqp import XmlParserError, parse_xml_query

    from lucene_solr_spark.search.mlt import classic_idf_f32

    SKIP = object()

    def resolve_mlt(idx, node):
        # engine._resolve_mlt_text over the ws oracle index's stats
        _tag, field_ok, text, maxq, mintf, pct, stops, mindf = node
        if not field_ok:
            return None
        counts = Counter(text.split()[:5000])
        if stops:
            for t in stops:
                counts.pop(t, None)
        if not counts:
            return None
        df = {t: len(idx.postings.get(t, {})) for t in counts}
        terms = mlt_select_terms(
            dict(counts), df, idx.doc_count, max_query_terms=maxq,
            min_term_freq=mintf, min_doc_freq=(mindf if mindf >= 0 else 5),
        )
        if not terms:
            return None
        # a score TIE at the selection cutoff is HashMap-iteration-order
        # territory in the reference (see search/mlt.py docstring) — not
        # a defined behavior, so the fuzz skips those cases like GT
        # round 9 does
        mdf = mindf if mindf >= 0 else 5
        scores = sorted(
            (float(np.float32(np.float32(tf) * classic_idf_f32(
                df[t], idx.doc_count)))
             for t, tf in counts.items()
             if tf >= mintf and df[t] >= mdf and df[t] > 0),
            reverse=True,
        )
        if len(scores) > maxq and scores[maxq - 1] == scores[maxq]:
            return SKIP
        msm = int(np.float32(len(terms)) * np.float32(pct))
        return ("bool", tuple(("", ("term", t)) for t in terms), msm)

    vocab = ["aa", "ab", "bb", "bc", "cc", "cd", "dd", "ee", "ff"]
    rng = random.Random(2929)

    def gen():
        if rng.random() < 0.5:
            # BoostingQuery: 1-2 should terms vs a term context
            n = rng.randint(1, 2)
            clauses = "".join(
                f'<Clause occurs="should"><TermQuery>{rng.choice(vocab)}'
                "</TermQuery></Clause>" for _ in range(n))
            bst = rng.choice(["", ' boost="0.25"', ' boost="2"'])
            outer = rng.choice(["", ' boost="1.5"'])
            return (
                f'<BoostingQuery fieldName="body"{outer}><Query>'
                f"<BooleanQuery>{clauses}</BooleanQuery></Query>"
                f'<BoostQuery{bst}><TermQuery>{rng.choice(vocab)}'
                "</TermQuery></BoostQuery></BoostingQuery>"
            )
        words = " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(1, 6)))
        maxq = rng.randint(1, 5)
        mindf = rng.choice(["", ' minDocFreq="1"', ' minDocFreq="2"'])
        pct = rng.choice(["", ' percentTermsToMatch="10"',
                          ' percentTermsToMatch="50"',
                          ' percentTermsToMatch="60"',
                          ' percentTermsToMatch="100"'])
        stop = rng.choice(["", f' stopWords="{rng.choice(vocab)}"'])
        return (
            f'<LikeThisQuery fieldNames="body" maxQueryTerms="{maxq}"'
            f"{mindf}{pct}{stop}>{words}</LikeThisQuery>"
        )

    for corpus_round in range(3):
        n_docs = rng.randint(8, 25)
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
            for _ in range(n_docs)
        ]
        idx = build_ws_oracle_index(list(enumerate(docs)))
        cases = [gen() for _ in range(30)] + [
            # builder default field list {"contents"}: matches nothing
            '<LikeThisQuery maxQueryTerms="4" minDocFreq="1">aa bb'
            "</LikeThisQuery>",
            # numeric elements over a field with no indexed points
            '<PointRangeQuery fieldName="num" lowerTerm="1" upperTerm="9"/>',
            '<LegacyNumericRangeQuery fieldName="num" lowerTerm="1"'
            ' upperTerm="9"/>',
        ]
        expected = gt.run_xml(docs, cases)
        for xmlq, exp in zip(cases, expected):
            assert not isinstance(exp, str), (corpus_round, xmlq, exp)
            tree = parse_xml_query(xmlq, _ws_analyze)
            if tree[0] == "mlt_text":
                tree = resolve_mlt(idx, tree)
                if tree is SKIP:
                    continue
            if tree is None or tree[0] == "numeric_range":
                got = []  # no clauses / no points field -> no hits
            else:
                got = oracle_topk_tree(idx, tree, k=10)
            _assert_topk_equal(got, exp, (corpus_round, xmlq))
        # FuzzyLikeThisQuery: CorePlusQueriesParser does NOT register it
        flt = ('<FuzzyLikeThisQuery fieldName="body"><Field>aa</Field>'
               "</FuzzyLikeThisQuery>")
        assert gt.run_xml(docs, [flt]) == ["!ParserException"]
        with pytest.raises(XmlParserError):
            parse_xml_query(flt, _ws_analyze)


def test_fuzzy_like_this_matches_compiled_reference():
    """Ground-truth round 29c — FuzzyLikeThisQuery (sandbox/queries/
    FuzzyLikeThisQuery.java) vs the compiled binary: the SELECTION
    (SlowFuzzyTermsEnum + 50-cap variant queue + boost feedback +
    float32 boost^2 x ClassicSimilarity.idf with avgDf substitution +
    maxNumTerms global queue) compared group-for-group boost-for-boost,
    and the SCORING (artificial df=1 TermContext per variant, inner
    group f32-casts its double sum, outer SHOULD sums group floats)
    compared docid + Float.toString score bit-for-bit."""
    from lucene_solr_spark.search.bm25 import K1, idf_f32, norm_cache
    from lucene_solr_spark.search.fuzzy_like_this import flt_select
    from lucene_solr_spark.search.simpleqp import build_ws_oracle_index

    def control(idx, cases10):
        dict_df = sorted(
            (t, len(d)) for t, d in idx.postings.items())
        out = []
        for mnt, itf, ms, pl, text in cases10:
            # '|' segments = separate addTerms calls: processedTerms is
            # PER CALL, so a term repeated across segments enumerates
            # (and queues) twice; 'ms~pl~text' overrides per segment
            sources = []
            for seg in text.split("|"):
                sms, spl = float(ms), int(pl)
                if "~" in seg:
                    a, b, seg = seg.split("~", 2)
                    sms, spl = float(a), int(b)
                seen: set = set()
                for t in seg.split():
                    if t not in seen:
                        seen.add(t)
                        sources.append((t, sms, spl))
            cand_map = {(s, m, p): dict_df for s, m, p in sources}
            src_dfs = {s: len(idx.postings.get(s, {}))
                       for s, _m, _p in sources}
            groups = flt_select(sources, cand_map, src_dfs,
                                idx.doc_count, mnt)
            idf1 = idf_f32(1, idx.doc_count)
            cache = norm_cache(idx.avgdl)
            totals: dict[int, float] = {}
            for _src, members in groups.items():
                gacc: dict[int, float] = {}
                for term, score in members:
                    w = (np.float32(score) if itf else np.float32(
                        np.float32(idf1 * score) * (K1 + np.float32(1.0))))
                    for doc, tf in idx.postings.get(term, {}).items():
                        if itf:
                            s = np.float32(w)
                        else:
                            tff = np.float32(tf)
                            nb = cache[idx.norm_bytes[doc]]
                            s = np.float32(
                                np.float32(w * tff) / (tff + nb))
                        gacc[doc] = gacc.get(doc, 0.0) + float(s)
                for doc, acc in gacc.items():
                    totals[doc] = totals.get(doc, 0.0) + float(
                        np.float32(acc))
            hits = sorted(
                ((d, np.float32(s)) for d, s in totals.items()),
                key=lambda h: (-float(h[1]), h[0]))[:10]
            out.append((groups, hits))
        return out

    vocab = ["aaab", "aabb", "abcd", "abcc", "bbbb", "bbcc", "ccdd",
             "cdcd", "dddd", "abab"]
    rng = random.Random(2929301)
    for corpus_round in range(3):
        n_docs = rng.randint(6, 20)
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
            for _ in range(n_docs)
        ]
        idx = build_ws_oracle_index(list(enumerate(docs)))
        cases = []
        for _ in range(25):
            n_terms = rng.randint(1, 3)
            text = " ".join(
                rng.choice(vocab + ["aax", "bbz", "zzzz", "ab"])
                for _ in range(n_terms))
            if rng.random() < 0.3:
                # a second addTerms call (possibly repeating a term —
                # processedTerms is per call); half the time with its
                # OWN looser/tighter (minSim, prefixLen), which must get
                # a fresh enum + candidate superset
                seg = rng.choice(vocab + ["aax"])
                if rng.random() < 0.5:
                    seg = (f"{rng.choice([2.0, 0.5, 0.7])}~"
                           f"{rng.choice([0, 1, 2])}~{seg}")
                text += "|" + seg
            cases.append((
                rng.choice([2, 3, 10, 50]),
                rng.random() < 0.3,
                rng.choice([2.0, 1.0, 0.5, 0.4, 0.7]),
                rng.choice([0, 1, 2]),
                text,
            ))
        exp = gt.run_flt(docs, cases)
        got = control(idx, cases)
        for case, (eg, eh), (gg, gh) in zip(cases, exp, got):
            # groups: order is HashMap iteration — compare as sets;
            # boosts Float.toString-exact
            eset = {frozenset((t, np.float32(float(b))) for t, b in grp)
                    for grp in eg}
            gset = {frozenset((t, np.float32(float(b))) for t, b in grp)
                    for grp in gg.values()}
            assert gset == eset, (corpus_round, case, gg, eg)
            _assert_topk_equal(gh, eh, (corpus_round, case))


def test_fuzzy_like_this_engine_matches_compiled_reference(spark, tmp_root):
    """GT round 29c, Spark leg: topk_fuzzy_like_this_ref end-to-end —
    distributed candidate superset (term-stats metadata scan) + exact
    selection replay + the df=1 grouped scorer — docids and
    Float.toString float32 scores bit-for-bit vs the compiled
    FuzzyLikeThisQuery over the same whitespace index."""
    import os as _os

    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.engine import IndexSearcher

    rng = random.Random(2929302)
    vocab = ["aaab", "aabb", "abcd", "abcc", "bbbb", "bbcc", "ccdd",
             "cdcd", "dddd", "abab"]
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
        for _ in range(30)
    ]
    d = _os.path.join(tmp_root, "idx_flt_gt")
    src = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, content string")
    build_index(spark, src, out_dir=d, content_col="content",
                doc_id_col="doc_id", meta_cols=[], range_size=8,
                fingerprint="flt-gt", analyzer="whitespace")
    s = IndexSearcher(spark, d)
    cases = [
        (50, False, 2.0, 1, "aaab"),
        (50, False, 0.5, 1, "aaab bbzb"),
        (10, True, 1.0, 0, "abcd"),
        (3, False, 0.4, 2, "abcc dddd"),
        (2, False, 2.0, 1, "aab"),
        # the SAME source term via two addTerms calls with DIFFERENT
        # (minSim, prefixLen): each call needs its own enum + candidate
        # superset (prefix-0 sees variants prefix-3 cannot)
        (50, False, 0.5, 3, "aaab|0.5~0~aaab"),
        (50, False, 2.0, 2, "abcc|0.4~0~abcc"),
    ]
    exp = gt.run_flt(docs, cases)
    for (mnt, itf, ms, pl, text), (_eg, eh) in zip(cases, exp):
        fields = []
        for seg in text.split("|"):
            sms, spl = ms, pl
            if "~" in seg:
                a, b, seg = seg.split("~", 2)
                sms, spl = float(a), int(b)
            fields.append((seg, sms, spl))
        got = [
            (int(r["doc_id"]), np.float32(r["score"]))
            for r in s.topk_fuzzy_like_this_ref(
                fields, max_num_terms=mnt, ignore_tf=itf, k=10
            ).collect()
        ]
        _assert_topk_equal(got, eh, ("flt-engine", mnt, itf, ms, pl, text))


def test_fuzzy_like_this_xml_extensions(spark, tmp_root):
    """The XML FuzzyLikeThisQuery element under extensions=True
    (CorePlusExtensionsParser's registration) end-to-end, including the
    builder's boost attr (BoostQuery.rewrite merges it into each
    variant boost in f32) and the absent-field no-op."""
    import os as _os

    from lucene_solr_spark.search.engine import IndexSearcher

    d = _os.path.join(tmp_root, "idx_flt_gt")  # built by the test above
    if not _os.path.isdir(d):
        pytest.skip("engine GT index not built in this session order")
    s = IndexSearcher(spark, d)
    xml = ('<FuzzyLikeThisQuery fieldName="content" maxNumTerms="10">'
           '<Field minSimilarity="0.5" prefixLength="1">aaab bbzb</Field>'
           "</FuzzyLikeThisQuery>")
    got = [
        (int(r["doc_id"]), np.float32(r["score"]))
        for r in s.topk_xml(xml, k=10, content_field="content",
                            extensions=True).collect()
    ]
    direct = [
        (int(r["doc_id"]), np.float32(r["score"]))
        for r in s.topk_fuzzy_like_this_ref(
            [("aaab bbzb", 0.5, 1)], max_num_terms=10, k=10).collect()
    ]
    assert got == direct and got
    # boost attr: every score scales by f32-merged per-variant boosts
    xmlb = xml.replace("maxNumTerms=\"10\">", "maxNumTerms=\"10\" "
                       "boost=\"2.0\">")
    got_b = [
        (int(r["doc_id"]), np.float32(r["score"]))
        for r in s.topk_xml(xmlb, k=10, content_field="content",
                            extensions=True).collect()
    ]
    assert [d_ for d_, _s2 in got_b] == [d_ for d_, _s2 in got]
    for (_d1, s1), (_d2, s2) in zip(got, got_b):
        assert abs(float(s2) / float(s1) - 2.0) < 1e-5
    # absent field -> no Terms -> matches nothing
    none = s.topk_xml(
        '<FuzzyLikeThisQuery maxNumTerms="10"><Field fieldName="nope">'
        "aaab</Field></FuzzyLikeThisQuery>",
        k=10, content_field="content", extensions=True)
    assert none.count() == 0
    # without extensions the reference surface still throws
    from lucene_solr_spark.search.xmlqp import XmlParserError

    with pytest.raises(XmlParserError):
        s.topk_xml(xml, k=10, content_field="content")
