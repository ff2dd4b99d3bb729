"""Lucene-exact sloppy phrase scoring (SloppyPhraseScorer.java:95-133,
PhraseQueue.java:28-40, BM25Similarity.sloppyFreq:77-79).

Three layers:
 1. state-machine unit cases with hand-derived expectations (the
    documented examples from SloppyPhraseScorer's own javadoc);
 2. hypothesis property: the two-term vectorized closed form
    (merged-order adjacent cross-clause pairs) is float32-IDENTICAL to
    the state machine on random position lists;
 3. end-to-end: the Spark engine's sloppy top-k is rank- and
    score-identical to the control oracle on a positions-rich corpus.

No JVM needed for 1-2.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.search.sloppy import sloppy_freq, sloppy_freq_chain2


def f(x):
    return np.float32(x)


class TestStateMachine:
    def test_exact_adjacent(self):
        # "a b" over doc "a b": distance 0 -> 1/(0+1)
        assert sloppy_freq([[0], [1]], [0, 1], 0) == f(1.0)

    def test_reversed_needs_slop_2(self):
        # SloppyPhraseScorer javadoc: "for query 'a b'~2, a document
        # 'x a b a y' can be scored twice: once for 'a b' (distance=0),
        # and once for 'b a' (distance=2)"
        a_pos, b_pos = [1, 3], [2]
        assert sloppy_freq([a_pos, b_pos], [0, 1], 2) == f(1.0 + 1.0 / 3.0)
        # with slop 0 only the exact match counts
        assert sloppy_freq([a_pos, b_pos], [0, 1], 0) == f(1.0)

    def test_reversed_pair_alone(self):
        # doc "b a", query "a b": adjusted a@1, b@-1 -> distance 2
        assert sloppy_freq([[1], [0]], [0, 1], 1) == f(0.0)
        assert sloppy_freq([[1], [0]], [0, 1], 2) == f(1.0 / 3.0)

    def test_gap(self):
        # doc "foo x x baz", query "foo baz": adjusted foo@0, baz@2 -> d=2
        assert sloppy_freq([[0], [3]], [0, 1], 1) == f(0.0)
        assert sloppy_freq([[0], [3]], [0, 1], 2) == f(1.0 / 3.0)

    def test_three_clause(self):
        # doc "a b c": exact order, all adjacent -> one zero-length match
        assert sloppy_freq([[0], [1], [2]], [0, 1, 2], 0) == f(1.0)
        # doc "a c b" (b and c swapped): needs slop 2
        assert sloppy_freq([[0], [2], [1]], [0, 1, 2], 0) == f(0.0)
        assert sloppy_freq([[0], [2], [1]], [0, 1, 2], 2) == f(1.0 / 3.0)

    def test_single_clause(self):
        assert sloppy_freq([[3, 9]], [0], 2) == f(2.0)

    def test_empty(self):
        assert sloppy_freq([[1], []], [0, 1], 3) == f(0.0)


@st.composite
def two_term_case(draw):
    a = draw(st.lists(st.integers(0, 40), min_size=1, max_size=12, unique=True))
    b = draw(st.lists(st.integers(0, 40), min_size=1, max_size=12, unique=True))
    off_a = draw(st.integers(0, 3))
    off_b = draw(st.integers(0, 3).filter(lambda x: x != off_a))
    slop = draw(st.integers(0, 8))
    return sorted(a), sorted(b), off_a, off_b, slop


@settings(max_examples=600, deadline=None)
@given(two_term_case())
def test_two_term_chain_equals_state_machine(case):
    """The leapfrog-chain closed form (= the SQL oracle's recursive CTE
    algorithm) must be float32-identical to the state machine, including
    tie cases where adjusted keys collide."""
    a, b, off_a, off_b, slop = case
    expect = sloppy_freq([a, b], [off_a, off_b], slop)
    got = sloppy_freq_chain2(a, b, off_a, off_b, slop)
    assert isinstance(got, np.float32)
    assert got == expect


def _doc_freq(doc_text: str, query_text: str, slop: int) -> np.float32:
    """checkPhraseQuery harness over sloppy_freq: whitespace tokens
    (MockTokenizer.WHITESPACE), consecutive query positions."""
    positions: dict = {}
    for i, t in enumerate(doc_text.split()):
        positions.setdefault(t, []).append(i)
    qterms = query_text.split()
    plists = [positions.get(t, []) for t in qterms]
    return sloppy_freq(plists, list(range(len(qterms))), slop, terms=qterms)


# the reference's own sloppy corpus (TestSloppyPhraseQuery.java:38-55)
S_1 = "A A A"
S_2 = "A 1 2 3 A 4 5 6 A"
DOC_1 = "X " + S_1 + " Y"
DOC_2 = "X " + S_2 + " Y"
DOC_3 = "X " + S_1 + " A Y"
DOC_1_B = "X " + S_1 + " Y N N N N " + S_1 + " Z"
DOC_2_B = "X " + S_2 + " Y N N N N " + S_2 + " Z"
DOC_3_B = "X " + S_1 + " A Y N N N N " + S_1 + " A Y"
DOC_4 = "A A X A X B A X B B A A X B A A"
DOC_5_3 = "H H H X X X H H H X X X H H H"
DOC_5_4 = "H H H H"


class TestReferenceSloppyCases:
    """Direct ports of TestSloppyPhraseQuery's repeat-heavy expectations
    (hit / no-hit per slop, and the doubled docs must score higher)."""

    def test_doc4_query4_all_slops(self):
        # "QUERY_4 has a fuzzy (len=1) match to DOC_4, so all slop
        # values > 0 should succeed" (testDoc4_Query4, line 61)
        for slop in range(30):
            freq = _doc_freq(DOC_4, "X A A", slop)
            assert (freq > 0) == (slop >= 1), (slop, freq)

    def test_doc1_query1_all_slops(self):
        for slop in range(30):
            f1 = _doc_freq(DOC_1, S_1, slop)
            f2 = _doc_freq(DOC_1_B, S_1, slop)
            assert f1 > 0 and f2 > f1, (slop, f1, f2)

    def test_doc2_query1_slop6_or_more(self):
        # "6 should be the minimum slop to make QUERY_1 match DOC_2"
        for slop in range(30):
            f1 = _doc_freq(DOC_2, S_1, slop)
            assert (f1 > 0) == (slop >= 6), (slop, f1)
            if slop >= 6:
                assert _doc_freq(DOC_2_B, S_1, slop) > f1

    def test_doc2_query2_all_slops(self):
        for slop in range(30):
            f1 = _doc_freq(DOC_2, S_2, slop)
            f2 = _doc_freq(DOC_2_B, S_2, slop)
            assert f1 > 0 and f2 > f1, (slop, f1, f2)

    def test_doc3_query1_all_slops(self):
        for slop in range(30):
            f1 = _doc_freq(DOC_3, S_1, slop)
            f2 = _doc_freq(DOC_3_B, S_1, slop)
            assert f1 > 0 and f2 > f1, (slop, f1, f2)

    def test_doc5_lucene3412_consistency(self):
        # LUCENE-3412: "H H H H" steadily matches DOC_5_4 and steadily
        # does NOT match DOC_5_3 at slops 0..2
        for slop in range(3):
            assert _doc_freq(DOC_5_4, "H H H H", slop) > 0
            assert _doc_freq(DOC_5_3, "H H H H", slop) == 0


def test_engine_repeated_sloppy_end_to_end(spark, tmp_root):
    """Engine vs control oracle on a corpus with repeated-term sloppy
    phrases ("parse parse"~N style)."""
    import os

    import pandas as pd

    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.engine import BooleanSpec, IndexSearcher
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    docs = [
        "alpha beta alpha gamma alpha",
        "alpha alpha beta",
        "beta gamma delta",
        "alpha beta beta alpha",
        "gamma alpha beta alpha beta alpha",
        "alpha",
    ] * 8
    pdf = pd.DataFrame(
        {"doc_id": range(len(docs)), "content": docs, "repo": "r", "path": [str(i) for i in range(len(docs))]}
    )
    out = os.path.join(tmp_root, "idx_rpt_sloppy")
    build_index(
        spark, spark.createDataFrame(pdf), out_dir=out, content_col="content",
        doc_id_col="doc_id", meta_cols=["repo"], range_size=16, fingerprint="rpt48",
    )
    s = IndexSearcher(spark, out)
    oidx = build_oracle_index(list(zip(pdf.doc_id, pdf.content)))
    for phrase, slop in [
        ((("alpha", 0), ("alpha", 1)), 2),
        ((("alpha", 0), ("beta", 1), ("alpha", 2)), 3),
        ((("alpha", 0), ("alpha", 1), ("alpha", 2)), 4),
    ]:
        spec = BooleanSpec(phrases=((phrase, slop, "+", 1.0),))
        expected = oracle_topk_spec(oidx, spec, k=10)
        got = [(r["doc_id"], r["score"]) for r in s.topk_spec(spec, k=10).collect()]
        assert len(got) == len(expected), (phrase, slop, got, expected)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gd == ed and np.float32(gs) == es, (phrase, slop, got, expected)


# ---------------------------------------------------------------------------
# Multi-term repeats (hasMultiTermRpts): MultiPhrase-within-sloppy.
# Independent oracle = a literal transliteration of SloppyPhraseScorer.java
# (phraseFreq + initFirstTime + gatherRptGroups bitset union +
# advanceRepeatGroups multi-term branch + advanceRpts WITH the requeue
# dance), structurally different from the production min-scan machine.
# ---------------------------------------------------------------------------


class _JPP:
    """PhrasePositions.java: cursor over one clause's (union) positions."""

    def __init__(self, plist, off, ord_, terms):
        self.plist = list(plist)
        self.offset = off
        self.ord = ord_
        self.terms = tuple(terms)
        self.cursor = -1
        self.position = 0
        self.rptGroup = -1
        self.rptInd = 0

    def next_position(self):
        self.cursor += 1
        if self.cursor < len(self.plist):
            self.position = self.plist[self.cursor] - self.offset
            return True
        return False

    def first_position(self):
        self.cursor = -1
        self.next_position()


class _JavaSloppyScorer:
    """SloppyPhraseScorer.java transliterated for ONE document. The PQ is
    a correct priority queue ordered by PhraseQueue.lessThan
    (position, offset, ord); the requeue dance is kept verbatim."""

    def __init__(self, plists, offsets, slop, term_sets):
        self.slop = slop
        self.pps = [
            _JPP(plists[i], offsets[i], i, term_sets[i])
            for i in range(len(offsets))
        ]
        self.pq: list = []
        self.end = -(10**9)
        self.hasMultiTermRpts = False
        self.rptGroups: list = []

    # --- PhraseQueue (a correct PQ; list + min-scan pop) ---
    def _less(self, a, b):
        if a.position == b.position:
            if a.offset == b.offset:
                return a.ord < b.ord
            return a.offset < b.offset
        return a.position < b.position

    def pq_pop(self):
        m = self.pq[0]
        for x in self.pq[1:]:
            if self._less(x, m):
                m = x
        self.pq.remove(m)
        return m

    def pq_top(self):
        m = self.pq[0]
        for x in self.pq[1:]:
            if self._less(x, m):
                m = x
        return m

    # --- scorer ---
    def tp_pos(self, pp):
        return pp.position + pp.offset

    def advance_pp(self, pp):
        if not pp.next_position():
            return False
        if pp.position > self.end:
            self.end = pp.position
        return True

    def lesser(self, pp, pp2):
        if pp.position < pp2.position or (
            pp.position == pp2.position and pp.offset < pp2.offset
        ):
            return pp
        return pp2

    def collide(self, pp):
        tp = self.tp_pos(pp)
        rg = self.rptGroups[pp.rptGroup]
        for i, pp2 in enumerate(rg):
            if pp2 is not pp and self.tp_pos(pp2) == tp:
                return i
        return -1

    def advance_rpts(self, pp):
        if pp.rptGroup < 0:
            return True
        rg = self.rptGroups[pp.rptGroup]
        bits = set()
        k0 = pp.rptInd
        while (k := self.collide(pp)) >= 0:
            pp = self.lesser(pp, rg[k])
            if not self.advance_pp(pp):
                return False
            if k != k0:
                bits.add(k)
        # requeue dance (group-blind rptInd check, as in the Java)
        stack = []
        while bits:
            pp2 = self.pq_pop()
            stack.append(pp2)
            if pp2.rptGroup >= 0 and pp2.rptInd in bits:
                bits.discard(pp2.rptInd)
        for pp2 in reversed(stack):
            self.pq.append(pp2)
        return True

    def repeating_terms(self):
        tord: dict = {}
        tcnt: dict = {}
        for pp in self.pps:
            for t in pp.terms:
                tcnt[t] = tcnt.get(t, 0) + 1
                if tcnt[t] == 2:
                    tord[t] = len(tord)
        return tord

    def repeating_pps(self, rpt_terms):
        rp = []
        for pp in self.pps:
            for t in pp.terms:
                if t in rpt_terms:
                    rp.append(pp)
                    self.hasMultiTermRpts |= len(pp.terms) > 1
                    break
        return rp

    def gather_rpt_groups(self, rpt_terms):
        rpp = self.repeating_pps(rpt_terms)
        res = []
        if not self.hasMultiTermRpts:
            for i, pp in enumerate(rpp):
                if pp.rptGroup >= 0:
                    continue
                tp = self.tp_pos(pp)
                for pp2 in rpp[i + 1:]:
                    if (
                        pp2.rptGroup >= 0
                        or pp2.offset == pp.offset
                        or self.tp_pos(pp2) != tp
                    ):
                        continue
                    g = pp.rptGroup
                    if g < 0:
                        g = len(res)
                        pp.rptGroup = g
                        res.append([pp])
                    pp2.rptGroup = g
                    res[g].append(pp2)
        else:
            bb = [
                {rpt_terms[t] for t in pp.terms if t in rpt_terms}
                for pp in rpp
            ]
            i = 0
            while i < len(bb) - 1:
                incr = 1
                j = i + 1
                while j < len(bb):
                    if bb[i] & bb[j]:
                        bb[i] |= bb[j]
                        del bb[j]
                        incr = 0
                    else:
                        j += 1
                i += incr
            tg = {}
            for gi, bits in enumerate(bb):
                for o in bits:
                    tg[o] = gi
            tmp = [[] for _ in bb]
            for pp in rpp:
                for t in pp.terms:
                    if t in rpt_terms:
                        g = tg[rpt_terms[t]]
                        if pp not in tmp[g]:
                            tmp[g].append(pp)
                        assert pp.rptGroup in (-1, g)
                        pp.rptGroup = g
            res = tmp
        return res

    def sort_rpt_groups(self, rgs):
        self.rptGroups = []
        for rg in rgs:
            rg = sorted(rg, key=lambda pp: (pp.offset, pp.ord))
            for j, pp in enumerate(rg):
                pp.rptInd = j
            self.rptGroups.append(rg)

    def advance_repeat_groups(self):
        for rg in self.rptGroups:
            if self.hasMultiTermRpts:
                i = 0
                while i < len(rg):
                    incr = 1
                    pp = rg[i]
                    while (k := self.collide(pp)) >= 0:
                        pp2 = self.lesser(pp, rg[k])
                        if not self.advance_pp(pp2):
                            return False
                        if pp2.rptInd < i:
                            incr = 0
                            break
                    i += incr
            else:
                for j in range(1, len(rg)):
                    for _ in range(j):
                        if not rg[j].next_position():
                            return False
        return True

    def init_phrase_positions(self):
        self.end = -(10**9)
        for pp in self.pps:
            pp.first_position()
        rpt_terms = self.repeating_terms()
        if rpt_terms:
            rgs = self.gather_rpt_groups(rpt_terms)
            self.sort_rpt_groups(rgs)
            if not self.advance_repeat_groups():
                return False
        self.pq = []
        for pp in self.pps:
            if pp.position > self.end:
                self.end = pp.position
            self.pq.append(pp)
        return True, bool(rpt_terms)

    def phrase_freq(self):
        init = self.init_phrase_positions()
        if not init:
            return np.float32(0.0)
        _ok, has_rpts = init
        freq = np.float32(0.0)
        pp = self.pq_pop()
        match_length = self.end - pp.position
        nxt = self.pq_top().position
        while self.advance_pp(pp):
            if has_rpts and not self.advance_rpts(pp):
                break
            if pp.position > nxt:
                if match_length <= self.slop:
                    freq = np.float32(
                        freq + np.float32(1.0) / np.float32(match_length + 1)
                    )
                self.pq.append(pp)
                pp = self.pq_pop()
                nxt = self.pq_top().position
                match_length = self.end - pp.position
            else:
                ml2 = self.end - pp.position
                if ml2 < match_length:
                    match_length = ml2
        if match_length <= self.slop:
            freq = np.float32(freq + np.float32(1.0) / np.float32(match_length + 1))
        return freq


def java_sloppy_freq(plists, offsets, slop, term_sets):
    if any(not p for p in plists):
        return np.float32(0.0)
    if len(offsets) == 1:
        return np.float32(len(plists[0]))
    return _JavaSloppyScorer(plists, offsets, slop, term_sets).phrase_freq()


def _union_doc_freq(doc_tokens, mphrase, slop):
    """Production-path helper: union plists per clause from a token list,
    then sloppy_freq with tuple terms entries."""
    positions: dict = {}
    for i, t in enumerate(doc_tokens):
        positions.setdefault(t, []).append(i)
    plists, offs, tsets = [], [], []
    for off, alts in mphrase:
        merged = sorted(p for t in alts for p in positions.get(t, []))
        plists.append(merged)
        offs.append(off)
        tsets.append(tuple(alts))
    return sloppy_freq(plists, offs, slop, terms=tsets), plists, offs, tsets


class TestMultiTermRepeats:
    def test_javadoc_hidden_collision(self):
        # SloppyPhraseScorer.initFirstTime javadoc: P1={A,B}, P2={B,C},
        # doc "A C B" — hidden collision: P1@A(0), P2@C(1); both can
        # reach B(2); the bitset grouping must treat P1,P2 as one group.
        got, plists, offs, tsets = _union_doc_freq(
            ["A", "C", "B"], [(0, ("A", "B")), (1, ("B", "C"))], 2
        )
        expect = java_sloppy_freq(plists, offs, 2, tsets)
        assert got == expect
        # exact adjacency A(0) C(1): distance 0 -> freq >= 1.0
        assert got >= np.float32(1.0)

    def test_shared_term_both_positions(self):
        # "{A,B} {A,C}" over "A A": both unions see both positions; the
        # collision at init must separate them.
        got, plists, offs, tsets = _union_doc_freq(
            ["A", "A"], [(0, ("A", "B")), (1, ("A", "C"))], 3
        )
        expect = java_sloppy_freq(plists, offs, 3, tsets)
        assert got == expect
        assert got > np.float32(0.0)

    def test_depth1_reduces_to_plain_repeats(self):
        # every clause single-term: tuple entries must equal string entries
        docs = [
            "A B A C A",
            "A A B",
            "B C A A B A",
        ]
        for d in docs:
            toks = d.split()
            for slop in range(0, 5):
                via_tuples, plists, offs, _ = _union_doc_freq(
                    toks, [(0, ("A",)), (1, ("A",)), (2, ("B",))], slop
                )
                via_strings = sloppy_freq(plists, offs, slop, terms=["A", "A", "B"])
                assert via_tuples == via_strings, (d, slop)


@st.composite
def multiterm_case(draw):
    """Random MultiPhraseQuery-with-slop over a tiny alphabet (repeats are
    common), mirroring TestSloppyPhraseQuery2.randomPhraseQuery."""
    alphabet = ["a", "b", "c", "d"]
    n_pos = draw(st.integers(2, 4))
    mphrase = []
    off = 0
    for _ in range(n_pos):
        depth = draw(st.integers(1, 3))
        alts = tuple(sorted(draw(
            st.sets(st.sampled_from(alphabet), min_size=depth, max_size=depth)
        )))
        mphrase.append((off, alts))
        off += draw(st.integers(1, 3))
    doc = draw(st.lists(st.sampled_from(alphabet + ["x"]), min_size=1, max_size=24))
    slop = draw(st.integers(0, 6))
    return mphrase, doc, slop


@settings(max_examples=500, deadline=None)
@given(multiterm_case())
def test_multiterm_matches_java_transliteration(case):
    """Production multi-term-repeats machine == the literal Java
    transliteration (float32-identical), over random alt-sets where
    repeats and hidden collisions are the common case."""
    mphrase, doc, slop = case
    got, plists, offs, tsets = _union_doc_freq(doc, mphrase, slop)
    if any(not p for p in plists):
        assert got == np.float32(0.0)
        return
    expect = java_sloppy_freq(plists, offs, slop, tsets)
    assert got == expect, (mphrase, doc, slop)


@settings(max_examples=200, deadline=None)
@given(multiterm_case())
def test_multiterm_slop_monotone(case):
    """MultiPhraseQuery~N matches ⊆ ~N+1 matches
    (TestSloppyPhraseQuery2.testRandomIncreasingSloppiness)."""
    mphrase, doc, slop = case
    f_n, plists, _, _ = _union_doc_freq(doc, mphrase, slop)
    if any(not p for p in plists):
        return
    f_n1, _, _, _ = _union_doc_freq(doc, mphrase, slop + 1)
    if f_n > 0:
        assert f_n1 > 0


def test_engine_multiterm_sloppy_end_to_end(spark, tmp_root):
    """Engine vs control oracle for sloppy MultiPhraseQuery, including
    overlapping alternative sets (the hasMultiTermRpts path)."""
    import os

    import pandas as pd

    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.engine import BooleanSpec, IndexSearcher
    from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec

    docs = [
        "alpha gamma beta",            # javadoc "A C B" shape
        "alpha alpha beta gamma",
        "beta gamma alpha delta",
        "gamma beta alpha beta",
        "alpha beta gamma alpha beta",
        "delta delta",
        "beta alpha",
    ] * 7
    pdf = pd.DataFrame(
        {"doc_id": range(len(docs)), "content": docs, "repo": "r",
         "path": [str(i) for i in range(len(docs))]}
    )
    out = os.path.join(tmp_root, "idx_mtp_sloppy")
    build_index(
        spark, spark.createDataFrame(pdf), out_dir=out, content_col="content",
        doc_id_col="doc_id", meta_cols=["repo"], range_size=16, fingerprint="mtp49",
    )
    s = IndexSearcher(spark, out)
    oidx = build_oracle_index(list(zip(pdf.doc_id, pdf.content)))
    cases = [
        # hidden collision: P0={alpha,beta}, P1={beta,gamma}
        (((("alpha", "beta"), 0), (("beta", "gamma"), 1)), 2),
        # shared term both positions: P0={alpha,beta}, P1={alpha,gamma}
        (((("alpha", "beta"), 0), (("alpha", "gamma"), 1)), 3),
        # no repeats (simple union path)
        (((("alpha", "delta"), 0), ("beta", 1)), 1),
        # 3 positions, chained overlap
        (((("alpha", "beta"), 0), (("beta", "gamma"), 1), (("gamma", "delta"), 2)), 4),
    ]
    for mp, slop in cases:
        spec = BooleanSpec(phrases=((mp, slop, "+", 1.0),))
        expected = oracle_topk_spec(oidx, spec, k=10)
        got = [(r["doc_id"], r["score"]) for r in s.topk_spec(spec, k=10).collect()]
        assert len(got) == len(expected), (mp, slop, got, expected)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gd == ed and np.float32(gs) == es, (mp, slop, got, expected)
