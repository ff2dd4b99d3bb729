"""Span queries (SpanNearQuery ordered/unordered, SpanFirstQuery) and
MultiPhraseQuery: walk-level unit/property tests plus engine-vs-control
rank identity on the synthetic corpus.

References: spans/NearSpansOrdered.java:60-120,
spans/NearSpansUnordered.java:150-268, spans/SpanFirstQuery.java:30-44,
spans/SpanScorer.java:84-118, search/MultiPhraseQuery.java:49.
"""

import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.search.spans import (
    span_first_freq,
    span_ordered_freq,
    span_unordered_freq,
    span_unordered_freq_2,
)


def f(x):
    return np.float32(x)


class TestOrderedWalk:
    def test_javadoc_double_match(self):
        # NearSpansOrdered javadoc: "t1 t2 t1 t3 t2 t3" vs (t1 t2 t3):
        # matches twice with slop >= 1 (t1 t2 .. t3 / t1 .. t2 t3)
        t1, t2, t3 = [0, 2], [1, 4], [3, 5]
        assert span_ordered_freq([t1, t2, t3], 0) == f(0.0)
        assert span_ordered_freq([t1, t2, t3], 1) == f(0.5 + 0.5)

    def test_adjacent(self):
        assert span_ordered_freq([[0], [1]], 0) == f(1.0)
        # reversed order never matches the ordered variant
        assert span_ordered_freq([[1], [0]], 10) == f(0.0)

    def test_gap_width(self):
        # "a x x b": gap 2 -> width 2 -> 1/3 at slop >= 2
        assert span_ordered_freq([[0], [3]], 1) == f(0.0)
        assert span_ordered_freq([[0], [3]], 2) == f(1.0 / 3.0)


def scratch_greedy_freq(plists, slop):
    """From-scratch greedy chain: t_i = min(pos_i > t_{i-1}) — what the
    SQL oracle computes; must equal the persistent-cursor walk."""
    import bisect

    freq = np.float32(0.0)
    for p0 in plists[0]:
        prev = p0
        ok = True
        for pl in plists[1:]:
            j = bisect.bisect_right(pl, prev)
            if j >= len(pl):
                ok = False
                break
            prev = pl[j]
        if not ok:
            continue
        width = prev - p0 - (len(plists) - 1)
        if width <= slop:
            freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
    return freq


@st.composite
def clause_lists(draw, n_min=2, n_max=3):
    n = draw(st.integers(n_min, n_max))
    return [
        sorted(draw(st.lists(st.integers(0, 30), min_size=1, max_size=8, unique=True)))
        for _ in range(n)
    ], draw(st.integers(0, 8))


@settings(max_examples=300, deadline=None)
@given(clause_lists())
def test_ordered_scratch_equals_cursor_walk(case):
    plists, slop = case
    assert span_ordered_freq(plists, slop) == scratch_greedy_freq(plists, slop)


@settings(max_examples=400, deadline=None)
@given(clause_lists(n_min=2, n_max=2))
def test_unordered_closed_form_equals_queue_walk(case):
    (a, b), slop = case
    # distinct positions across clauses (one token per position)
    b = [x for x in b if x not in set(a)]
    if not b:
        b = [max(a) + 1]
    assert span_unordered_freq_2(a, b, slop) == span_unordered_freq([a, b], slop)


class TestUnorderedWalk:
    def test_order_free(self):
        # NearSpansUnordered.width() = max_start - min_start, so an
        # ADJACENT pair has width 1 (unlike the ordered gap-sum width 0)
        assert span_unordered_freq([[1], [0]], 0) == f(0.5)
        assert span_unordered_freq([[0], [1]], 0) == f(0.5)

    def test_three_clause(self):
        # "a b c" any order within window: width = max-min, slop test is
        # maxend - minstart - n <= slop
        assert span_unordered_freq([[2], [0], [1]], 0) == f(1.0 / 3.0)
        assert span_unordered_freq([[4], [0], [2]], 1) == f(0.0)
        assert span_unordered_freq([[4], [0], [2]], 2) == f(1.0 / 5.0)

    def test_same_position_repeats_walk(self):
        # GT round 25 semantics: two clauses holding the SAME occurrence
        # tie on (start, end); the advance order follows the reference
        # PriorityQueue layout (query-order insertion, shift-chain sift).
        from lucene_solr_spark.search.spans import span_unordered_matches

        # A=[5,15], B=[5]: init both at 5 (clause 0 at the root — added
        # first, the tied add does not sift up). Match w0; root advances
        # to 15, B@5 takes the root (strictly less), match w10; B
        # exhausts.
        assert list(span_unordered_matches([[5, 15], [5]], 100)) == [
            (5, 6, 0), (5, 16, 10)
        ]
        # the classic repeats quirk: N(aa, aa) matches each occurrence
        # against ITSELF (width 0), once per occurrence
        assert span_unordered_freq([[0, 3], [0, 3]], 0) == f(2.0)
        # tie at the root after an advance keeps the advanced cell at
        # the root (downHeap swaps only on STRICTLY less)
        assert list(span_unordered_matches([[0, 1], [0, 4]], 100)) == [
            (0, 1, 0),   # both at 0
            (0, 2, 1),   # clause 0 advanced to 1, min is clause 1 at 0
            (1, 5, 3),   # clause 1 advanced to 4, min is clause 0 at 1
        ]


@settings(max_examples=300, deadline=None)
@given(clause_lists(n_min=2, n_max=4))
def test_cells_walk_equals_tiefree_walk_on_disjoint(case):
    """On pairwise-disjoint clause lists no (start, end) tie can occur,
    so the reference-PQ cells walk must equal the plain-heapq walk the
    pre-round-25 GT rounds pinned."""
    from lucene_solr_spark.search.spans import _span_unordered_freq_tiefree

    plists, slop = case
    seen: set = set()
    disjoint = []
    for pl in plists:
        pl = [p for p in pl if p not in seen]
        if not pl:
            pl = [max(seen, default=0) + 31 + len(disjoint)]
        seen.update(pl)
        disjoint.append(sorted(pl))
    assert span_unordered_freq(disjoint, slop) == _span_unordered_freq_tiefree(
        disjoint, slop
    )


def test_span_first():
    assert span_first_freq([0, 3, 9], 4) == f(2.0)
    assert span_first_freq([5], 4) == f(0.0)
    assert span_first_freq([], 4) == f(0.0)


def test_span_not():
    from lucene_solr_spark.search.spans import span_not_freq

    # include "a b"~1: doc "a b ... a x b": second span [3,6) blocked by x@4
    a, b = [0, 3], [1, 5]
    assert span_not_freq([a, b], 1, []) == f(1.0 + 1.0 / 2.0)
    assert span_not_freq([a, b], 1, [4]) == f(1.0)
    # exclude outside every span changes nothing
    assert span_not_freq([a, b], 1, [9]) == f(1.0 + 1.0 / 2.0)
    # exclude ON the span start blocks it
    assert span_not_freq([a, b], 1, [0]) == f(1.0 / 2.0)


def test_span_containing_and_within():
    from lucene_solr_spark.search.spans import span_containing_freq, span_within_freq

    # big spans of (a ... b)~2: [0,2) width 0 and [3,7) width 2
    a, b = [0, 3], [1, 6]
    # little at 4: inside the second span only -> containing keeps span 2
    assert span_containing_freq([a, b], 2, [4]) == f(1.0 / 3.0)
    # little at 1: inside the first span -> width 0 contribution
    assert span_containing_freq([a, b], 2, [1]) == f(1.0)
    assert span_containing_freq([a, b], 2, [9]) == f(0.0)
    # within: each contained little occurrence scores 1.0 (width 0)
    assert span_within_freq([a, b], 2, [4, 5]) == f(2.0)
    assert span_within_freq([a, b], 2, [9]) == f(0.0)
    # an occurrence inside two overlapping bigs still counts once
    assert span_within_freq([a, b], 2, [1]) == f(1.0)


# ---------------------------------------------------------------- end-to-end

from lucene_solr_spark.corpus import make_corpus  # noqa: E402
from lucene_solr_spark.index.builder import build_index  # noqa: E402
from lucene_solr_spark.search.engine import BooleanSpec, IndexSearcher  # noqa: E402
from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec  # noqa: E402


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    pdf = make_corpus(220, seed=11)
    pdf = pdf.reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    src = spark.createDataFrame(pdf)
    out = os.path.join(tmp_root, "idx_spans")
    build_index(
        spark, src, out_dir=out, content_col="content", doc_id_col="doc_id",
        meta_cols=["repo", "path"], range_size=64, fingerprint="spans220",
    )
    oidx = build_oracle_index(list(zip(pdf.doc_id, pdf.content)))
    return IndexSearcher(spark, out), oidx


def near(clauses, slop, ordered=True):
    return ("near", tuple(clauses), slop, ordered)


SPAN_SPECS = [
    BooleanSpec(spans=(near(("parse", "index"), 0),)),
    BooleanSpec(spans=(near(("parse", "index"), 3),)),
    BooleanSpec(spans=(near(("index", "parse"), 3, False),)),
    BooleanSpec(spans=(near(("parse", "merge", "token"), 6),)),
    BooleanSpec(spans=(near(("merge", "token", "parse"), 6, False),)),
    BooleanSpec(spans=(("range", "parse", 0, 8),)),  # SpanFirst
    BooleanSpec(spans=(("not", near(("parse", "index"), 4), ("merge",)),)),
    BooleanSpec(spans=(("not", near(("parse", "index"), 4), ("zzz_missing",)),)),
    BooleanSpec(spans=(("containing", near(("parse", "index"), 5), ("merge",)),)),
    BooleanSpec(spans=(("within", near(("parse", "index"), 5), ("merge",)),)),
    BooleanSpec(phrases=(((
        (("parse", "merge"), 0), (("index", "token"), 1)), 0, "+", 1.0),)),
    BooleanSpec(phrases=(((
        ("parse", 0), (("index", "zzz_missing"), 1)), 0, "+", 1.0),)),
    # SpanOr-of-terms clauses inside SpanNear (ComplexPhraseQueryParser
    # elements; pinned vs the compiled binary in ground-truth round 23)
    BooleanSpec(spans=(near((("parse", "merge"), "index"), 1),)),
    BooleanSpec(spans=(near((("parse", "merge"), ("index", "token")), 3, False),)),
    BooleanSpec(spans=(near((("parse", "zzz_missing"), "index"), 2),)),
    # unordered with OVERLAPPING alternative sets / repeated clauses —
    # NearSpansUnordered's same-position repeats machinery (pinned vs
    # the compiled binary in ground-truth round 25)
    BooleanSpec(spans=(near((("index", "parse"), ("merge", "parse")), 3, False),)),
    BooleanSpec(spans=(near(("parse", "parse"), 2, False),)),
    # unordered in-phrase negation (CPQP setInOrder(false), GT round 25b)
    BooleanSpec(spans=((
        "not", near(("parse", "index"), 4, False),
        near(("parse", "merge", "index"), 3, False),
    ),)),
    # SpanPositionRange with lo > 0
    BooleanSpec(spans=(("range", "parse", 2, 9),)),
    # two span clauses in one spec: both required
    BooleanSpec(spans=(near(("parse", "index"), 3), ("range", "merge", 0, 12))),
    # a span clause with a required, then an optional phrase
    BooleanSpec(spans=(near(("parse", "index"), 4, False),),
                phrases=(((("merge", 0), ("token", 1)), 1, "+", 1.0),)),
    BooleanSpec(spans=(near(("parse", "index"), 4, False),),
                phrases=(((("merge", 0), ("token", 1)), 2, "", 2.0),)),
    # a span clause with should terms and minShouldMatch
    BooleanSpec(spans=(("within", near(("parse", "index"), 6), ("merge",)),),
                should=("token", "merge", "score"), min_should_match=1),
    BooleanSpec(spans=(near((("parse", "merge"), "index"), 5, False),),
                should=("token", "score", "zzz_missing"), min_should_match=2),
]


@pytest.mark.parametrize("spec", SPAN_SPECS, ids=[str(i) for i in range(len(SPAN_SPECS))])
def test_span_rank_identity(built, monkeypatch, spec):
    """Engine == oracle on every plan: the driver plan under the default
    DRIVER_SCORE_MAX_BLOCKS and the distributed plan with the cap at 0."""
    from lucene_solr_spark.search import engine as E

    searcher, oidx = built
    expected = oracle_topk_spec(oidx, spec, k=10)
    for cap in (E.DRIVER_SCORE_MAX_BLOCKS, 0):
        monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
        got = [(r["doc_id"], r["score"]) for r in searcher.topk_spec(spec, k=10).collect()]
        assert len(got) == len(expected), (spec, cap, got, expected)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gd == ed and np.float32(gs) == es, (spec, cap, got, expected)


def _poison_term_weights(monkeypatch, searcher):
    def no_read(_terms):
        raise AssertionError("term stats read for a rejected spec")

    monkeypatch.setattr(searcher, "term_weights", no_read)


@pytest.mark.parametrize("mix", [
    {"term_automaton": (((0, "parse", 1),), (1,))},
], ids=["term_automaton"])
def test_phrase_mixed_with_positional_clause_rejected_before_read(built, monkeypatch, mix):
    """A term automaton does not mix with phrase or span clauses (its
    own control scores it alone); topk_spec refuses such a spec before
    it reads term stats."""
    from lucene_solr_spark.search.engine import phrase_spec

    searcher, _oidx = built
    _poison_term_weights(monkeypatch, searcher)
    spec = BooleanSpec(phrases=phrase_spec("parse index").phrases, **mix)
    with pytest.raises(ValueError, match="term automaton does not mix"):
        searcher.topk_spec(spec, k=5)


@pytest.mark.parametrize("node", [
    ("not", near(("parse", "index"), 4, False), ("merge",)),
    ("containing", near(("parse", "index"), 5, False), ("merge",)),
    ("within", near(("parse", "index"), 5, False), ("merge",)),
    ("not", near(("parse", "index"), 4, False), near(("parse", "merge"), 3)),
    ("within", near(("parse", "index"), 5), near(("merge",), 0)),
], ids=["not", "containing", "within", "not_near_mixed_order", "within_near_side"])
def test_unscorable_span_shape_rejected_before_read(built, monkeypatch, node):
    """The not/containing/within walks against terms are ordered, only
    'not' takes a near side, and that near shares the include's in-order
    flag: any other shape is refused when the spec is built, so neither
    the engine (before any term stats are read) nor the oracle's
    MemoryIndex path ever scores it as a shape it is not."""
    from lucene_solr_spark.search.memory import MemoryIndex

    searcher, _oidx = built
    _poison_term_weights(monkeypatch, searcher)
    with pytest.raises(ValueError, match="is not supported"):
        searcher.topk_spec(BooleanSpec(spans=(node,)), k=5)
    with pytest.raises(ValueError, match="is not supported"):
        MemoryIndex("parse merge index").score(BooleanSpec(spans=(node,)))


def test_complex_phrase_api(built):
    """topk_complex_phrase parses the ComplexPhraseQueryParser
    mini-language — '(a b)' groups, wildcards, fuzzies — into the
    alternative-clause span spec; results must equal the oracle run with
    the same expansions, and an empty-expansion element (the reference's
    match-nothing dummy clause) must return no hits."""
    searcher, oidx = built
    corpus_terms = sorted(oidx.postings)

    got = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.topk_complex_phrase(
            "(parse merge) index", slop=1, k=10
        ).collect()
    ]
    want = oracle_topk_spec(
        oidx,
        BooleanSpec(spans=(near((("merge", "parse"), "index"), 1),)),
        k=10,
    )
    assert got == [(d, s) for d, s in want] and got

    # wildcard element expands over the index terms
    exp = tuple(t for t in corpus_terms if t.startswith("pars"))
    assert exp
    got_w = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.topk_complex_phrase("pars* index", slop=2, k=10).collect()
    ]
    want_w = oracle_topk_spec(
        oidx,
        BooleanSpec(spans=(near((exp if len(exp) > 1 else exp[0], "index"), 2),)),
        k=10,
    )
    assert got_w == [(d, s) for d, s in want_w]

    # zero-expansion element = the dummy must-match-nothing clause
    assert searcher.topk_complex_phrase("zzzqqq* index", k=10).count() == 0

    # setInOrder(false): unordered near, including in-phrase negation
    # over TWO unordered nears (GT round 25b)
    got_u = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.topk_complex_phrase(
            "index (parse merge)", slop=2, in_order=False, k=10
        ).collect()
    ]
    want_u = oracle_topk_spec(
        oidx,
        BooleanSpec(spans=(near(("index", ("merge", "parse")), 2, False),)),
        k=10,
    )
    assert got_u == [(d, s) for d, s in want_u] and got_u

    got_un = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.topk_complex_phrase(
            "parse -merge index", slop=3, in_order=False, k=10
        ).collect()
    ]
    want_un = oracle_topk_spec(
        oidx,
        BooleanSpec(spans=((
            "not", near(("parse", "index"), 4, False),
            near(("parse", "merge", "index"), 3, False),
        ),)),
        k=10,
    )
    assert got_un == [(d, s) for d, s in want_un]


def test_surround_api(built):
    """topk_surround parses `<n>W/N(...)` distance operators into the
    span spec (SpanNearQuery(clauses, n-1, ordered) —
    surround/query/DistanceQuery.java:97; pinned vs the compiled parser
    in ground-truth round 24)."""
    searcher, oidx = built
    got = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.topk_surround("2W(or(parse, merge), index)", k=10).collect()
    ]
    want = oracle_topk_spec(
        oidx,
        BooleanSpec(spans=(near((("merge", "parse"), "index"), 1),)),
        k=10,
    )
    assert got == [(d, s) for d, s in want] and got

    got_n = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.topk_surround("3N(index, parse)", k=10).collect()
    ]
    want_n = oracle_topk_spec(
        oidx,
        BooleanSpec(spans=(near(("index", "parse"), 2, False),)),
        k=10,
    )
    assert got_n == [(d, s) for d, s in want_n]

    # unordered with OVERLAPPING alternative sets — the pre-GT-round-25
    # NotImplementedError boundary is gone: same-position repeats walk
    got_o = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.topk_surround(
            "4N(or(parse, index), or(parse, merge))", k=10
        ).collect()
    ]
    want_o = oracle_topk_spec(
        oidx,
        BooleanSpec(spans=(near((("index", "parse"), ("merge", "parse")), 3, False),)),
        k=10,
    )
    assert got_o == [(d, s) for d, s in want_o] and got_o


def test_gspan_flat_equivalence_with_pinned_walks():
    """The generalized interval walks (surround's nested span trees)
    degenerate to the pinned flat walks when every clause is a term or
    a term-union: same emitted (start, end, width) sequences, hence the
    same float32 freq folds."""
    import random

    from lucene_solr_spark.search.spans import (
        _gspan_list,
        gspan_freq,
        span_ordered_freq,
        span_ordered_matches,
        span_unordered_freq,
        span_unordered_matches,
    )

    rng = random.Random(7)
    for case in range(300):
        n_terms = rng.randint(2, 4)
        doc_len = rng.randint(2, 18)
        doc = [rng.randrange(n_terms) for _ in range(doc_len)]
        pos = {t: [i for i, x in enumerate(doc) if x == t]
               for t in range(n_terms)}
        n_clauses = rng.randint(2, 3)
        clauses = []
        for _ in range(n_clauses):
            alts = tuple(sorted(rng.sample(range(n_terms),
                                           rng.randint(1, 2))))
            clauses.append(alts)
        plists = [sorted(p for t in c for p in pos[t]) for c in clauses]
        if any(not pl for pl in plists):
            continue
        slop = rng.randint(0, 4)
        ordered = rng.random() < 0.5

        def snode_of(c):
            if len(c) == 1:
                return ("t", c[0])
            return ("or", tuple(("t", t) for t in c))

        tree = ("near", tuple(snode_of(c) for c in clauses), slop, ordered)
        plist_fn = lambda t: pos[t]  # noqa: E731
        got = _gspan_list(tree, plist_fn)
        walk = span_ordered_matches if ordered else span_unordered_matches
        want = list(walk(plists, slop))
        assert got == want, (case, clauses, slop, ordered, doc)
        fold = span_ordered_freq if ordered else span_unordered_freq
        assert gspan_freq(tree, plist_fn) == fold(plists, slop)


def test_gspan_nested_interval_semantics():
    """Hand checks of the interval generalization: nested near widths
    count only the gaps BETWEEN sub-spans (the inner span's own width is
    the inner scorer's business), matchEnd is the LAST clause's end, and
    the unordered walk's maxEndPositionCell is a pointer whose tracked
    end can shrink when intervals (not term positions) advance."""
    from lucene_solr_spark.search.spans import (
        gspan_ordered_matches,
        gspan_unordered_matches,
    )

    # inner near (a,b) over doc "a x b a b": a@[0,3], b@[2,4]
    inner = [(0, 3, 1), (3, 5, 0)]  # (a@0,b@2) width 1; (a@3,b@4) width 0
    c = [(5, 6, 0)]
    # outer ordered W(inner, c): first inner match ends at 3, c@5 ->
    # width 2; second ends at 5, c@5 -> width 0 — matchEnd = c's end
    got = list(gspan_ordered_matches([inner, c], 2))
    assert got == [(0, 6, 2), (3, 6, 0)]
    # slop 1: the first inner match's stretch exceeds slop, second fits
    assert list(gspan_ordered_matches([inner, c], 1)) == [(3, 6, 0)]

    # unordered: a long interval then a shorter one — the max-end
    # pointer shrinks with its cell (reference adjustMax quirk)
    left = [(0, 9, 0), (1, 2, 0)]
    right = [(3, 4, 0)]
    # seed: cells (0,9) and (3,4); max = left cell (end 9); total = 10
    # atMatch: 9 - 0 - 10 = -1 <= slop -> emit (0, 9, width 0-0=0)
    # advance min (left -> (1,2)): total = 2, max POINTER still left,
    # now end 2 (shrunk); atMatch: 2 - 1 - 2 = -1 -> emit (1, 2, 0)
    # NOTE width = max_cell.start - min.start = 1 - 1 = 0
    got_u = list(gspan_unordered_matches([left, right], 0))
    assert got_u == [(0, 9, 0), (1, 2, 0)]


def test_surround_full_grammar_engine_matches_oracle(built):
    """GT round 66 engine leg: the full surround grammar through the
    Spark engine (parse -> generalized span tree -> spark_topk_tree) is
    rank+float32-score identical to the control oracle, which
    test_lucene_ground_truth pins to the compiled parser + searcher."""
    from lucene_solr_spark.search.simpleqp import _OracleDict, oracle_topk_tree
    from lucene_solr_spark.search.surroundqp import surround_to_tree

    searcher, oidx = built
    queries = [
        "parse W index", "parse w index AND merge", "parse W index W merge",
        "parse N index N token", "w(n(parse, index), merge)",
        "3W(parse, or(index, merge))", "(parse OR index) N token",
        "par* W ind*", "p?rse N merge", "parse NOT index",
        "(parse W index)^2 OR merge^0.5", "content:parse AND token",
        "2N(parse, index, merge)", "other:parse OR index",
    ]
    nonempty = 0
    for q in queries:
        tree_o = surround_to_tree(q, _OracleDict(oidx), "content")
        want = [(d, s) for d, s in oracle_topk_tree(oidx, tree_o, k=10)]
        got = [
            (r["doc_id"], np.float32(r["score"]))
            for r in searcher.topk_surround(q, k=10).collect()
        ]
        assert got == want, (q, got, want)
        nonempty += bool(got)
    assert nonempty >= 10  # the sweep actually matched things
