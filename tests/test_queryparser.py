"""Classic query parser: grammar unit tests (no JVM) + spec mapping +
end-to-end expansion through the engine."""

from lucene_solr_spark.search.queryparser import parse


def test_bare_terms_are_should():
    p = parse("fast merge sort")
    assert p.should == ["fast", "merge", "sort"]
    assert not p.must and not p.must_not


def test_must_and_not():
    p = parse("+merge fast -dup")
    assert p.must == ["merge"]
    assert p.should == ["fast"]
    assert p.must_not == ["dup"]


def test_phrase_with_slop():
    p = parse('"fast sort"~3 spark')
    [(pairs, slop, _occ, _boost)] = p.phrases
    assert slop == 3
    assert [t for t, _ in pairs] == ["fast", "sort"]
    assert p.should == ["spark"]


def test_phrase_keeps_stop_gap():
    p = parse('"merge the sort"')
    # stop word leaves a gap
    assert p.phrases[0][0] == (("merge", 0), ("sort", 2))


def test_boost():
    p = parse("spark^2 merge^0.5 vector")
    assert p.boosts == {"spark": 2.0, "merge": 0.5}
    assert p.should == ["spark", "merge", "vector"]


def test_wildcard_and_fuzzy_deferred():
    p = parse("mer* grean~1 exact")
    assert ("wildcard", "mer*", "", 1.0) in p.expansions
    assert ("fuzzy", "grean:1", "", 1.0) in p.expansions
    assert p.should == ["exact"]


def test_fuzzy_default_edits():
    p = parse("grean~")
    assert p.expansions == [("fuzzy", "grean:2", "", 1.0)]


def test_field_prefix_stripped():
    p = parse("text:spark +body:merge")
    assert p.should == ["spark"]
    assert p.must == ["merge"]


def test_analysis_applied():
    p = parse("The SPARK")  # stopword dropped, lowercased
    assert p.should == ["spark"]


def test_parser_expansions_end_to_end(spark):
    """Wildcards through the parser are CONSTANT-SCORE by default (the
    reference's multiTermRewriteMethod; exact float parity is pinned vs
    the compiled binary in test_lucene_ground_truth and engine==oracle in
    test_boolean_queries); rewrite='top_terms' keeps the scored-expansion
    mode (setMultiTermRewriteMethod analog)."""
    import numpy as np

    from lucene_solr_spark.ops.index_access import searcher_for
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.queryparser import parse, parse_and_search, to_spec

    s = searcher_for(spark, "/root/testdata/sf0.001")

    rows = parse_and_search(s, "mer*", k=10).collect()
    assert rows and all(np.float32(r["score"]) == np.float32(1.0) for r in rows)
    # the clause boost IS the constant score
    rows2 = parse_and_search(s, "mer*^2.5", k=10).collect()
    assert rows2 and all(np.float32(r["score"]) == np.float32(2.5) for r in rows2)
    # same matching docs, tie-broken by doc_id, in both
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in rows2]

    # legacy scored-expansion mode
    spec = to_spec(s, parse("mer*"), rewrite="top_terms")
    manual_terms = tuple(sorted(set(s.expand_terms(like="mer%", max_terms=16))))
    assert manual_terms  # the corpus has mer* terms
    want = [
        (r["doc_id"], r["score"])
        for r in s.topk_spec(BooleanSpec(should=manual_terms), k=10).collect()
    ]
    got = [(r["doc_id"], r["score"]) for r in s.topk_spec(spec, k=10).collect()]
    assert got == want


# ---------------------------------------------------------------- infix ops

def test_infix_and_promotes_both_sides():
    p = parse("merge AND fast")
    assert p.must == ["merge", "fast"]
    assert not p.should


def test_infix_mixed_and_or_not():
    # QueryParserBase.addClause, default operator OR:
    # merge AND fast -> both MUST; sort -> SHOULD; NOT dup -> MUST_NOT
    p = parse("merge AND fast sort NOT dup")
    assert p.must == ["merge", "fast"]
    assert p.should == ["sort"]
    assert p.must_not == ["dup"]


def test_infix_or_is_should():
    p = parse("merge OR fast")
    assert p.should == ["merge", "fast"]
    assert not p.must


def test_and_symbols():
    p = parse("merge && fast")
    assert p.must == ["merge", "fast"]
    p = parse("merge || fast")
    assert p.should == ["merge", "fast"]
    p = parse("merge !dup")
    assert p.should == ["merge"] and p.must_not == ["dup"]


def test_lowercase_and_is_a_term_not_an_operator():
    # 'and' is analyzed (and stop-filtered) — the r2 trap where
    # uppercase AND ALSO fell through to the stop filter is gone
    p = parse("spark and merge")
    assert p.should == ["spark", "merge"]
    assert not p.must


def test_and_not_combination():
    p = parse("merge AND NOT dup")
    assert p.must == ["merge"]
    assert p.must_not == ["dup"]


# ---------------------------------------------------------------- groups

def test_paren_group_with_and():
    p = parse("(spark OR vector) AND merge")
    assert p.groups == [("+", ["spark", "vector"], [])]
    assert p.must == ["merge"]


def test_paren_group_should():
    p = parse("(spark vector) merge")
    assert p.groups == [("", ["spark", "vector"], [])]
    assert p.should == ["merge"]


def test_paren_group_negated():
    p = parse("merge -(spark vector)")
    assert p.groups == [("-", ["spark", "vector"], [])]
    assert p.should == ["merge"]


def test_group_with_wildcard_member():
    p = parse("(mer* fast) AND sort")
    assert p.groups == [("+", ["fast"], [("wildcard", "mer*", "", 1.0)])]
    assert p.must == ["sort"]


def test_nested_groups_raise():
    import pytest
    with pytest.raises(ValueError):
        parse("((a b) c) d")


def test_unbalanced_parens_raise():
    import pytest
    with pytest.raises(ValueError):
        parse("(a b")
    with pytest.raises(ValueError):
        parse("a b)")


# ---------------------------------------------------------------- ranges

def test_term_range_inclusive():
    p = parse("[mer TO met]")
    assert p.expansions == [("range", ("mer", "met", True, True), "", 1.0)]


def test_term_range_exclusive_and_field():
    p = parse("text:{mer TO met}")
    assert p.expansions == [("range", ("mer", "met", False, False), "", 1.0)]


def test_term_range_open_ended():
    p = parse("[merge TO *]")
    assert p.expansions == [("range", ("merge", "*", True, True), "", 1.0)]


# ---------------------------------------------------------------- phrases

def test_phrase_boost_and_occur():
    p = parse('"fast sort"^2 AND spark')
    [(_pairs, _slop, occ, boost)] = p.phrases
    assert boost == 2.0
    assert occ == "+"  # AND-promoted
    assert p.must == ["spark"]


def test_optional_phrase_occur():
    p = parse('"fast sort" spark')
    assert p.phrases[0][2] == ""
    assert p.should == ["spark"]


def test_prohibited_phrase_raises():
    import pytest
    with pytest.raises(ValueError):
        parse('-"fast sort" spark')


# ------------------------------------------------------- the Reuters set

REUTERS_QUERIES = [
    # ReutersQueryMaker.java:42-55 STANDARD_QUERIES, verbatim
    "Salomon", "Comex", "night trading", "Japan Sony",
    '"Sony Japan"', '"food needs"~3',
    '"World Bank"^2 AND Nigeria', '"World Bank" -Nigeria',
    '"Ford Credit"~5',
    "airline Europe Canada destination",
    "Long term pressure by trade ministers is necessary if the current "
    "Uruguay round of talks on the General Agreement on Trade and Tariffs "
    "(GATT) is to succeed",
]


def test_reuters_query_set_parses():
    for q in REUTERS_QUERIES:
        parse(q)  # must not raise


def test_reuters_world_bank_and():
    p = parse('"World Bank"^2 AND Nigeria')
    [(pairs, _slop, occ, boost)] = p.phrases
    assert [t for t, _ in pairs] == ["world", "bank"]
    assert boost == 2.0
    assert occ == "+"
    assert p.must == ["nigeria"]


def test_reuters_world_bank_minus():
    p = parse('"World Bank" -Nigeria')
    [(pairs, _slop, occ, _boost)] = p.phrases
    assert [t for t, _ in pairs] == ["world", "bank"]
    assert occ == ""
    assert p.must_not == ["nigeria"]


def test_reuters_gatt_long_query():
    p = parse(REUTERS_QUERIES[-1])
    # stopwords dropped; 'trade' appears twice = duplicate SHOULD clauses
    assert p.should.count("trade") == 2
    # '(GATT)' parses as a one-term group
    assert ("", ["gatt"], []) in p.groups
    assert not p.must and not p.must_not


def test_multiple_phrase_clauses():
    p = parse('"fast sort" AND "merge sort"~2^3 spark')
    assert len(p.phrases) == 2
    pairs, slop, occ, boost = p.phrases[0]
    assert [t for t, _ in pairs] == ["fast", "sort"]
    assert (slop, occ, boost) == (0, "+", 1.0)  # AND-promoted
    pairs, slop, occ, boost = p.phrases[1]
    assert [t for t, _ in pairs] == ["merge", "sort"]
    assert (slop, occ, boost) == (2, "+", 3.0)
    assert p.should == ["spark"]
