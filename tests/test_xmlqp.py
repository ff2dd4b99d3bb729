"""XML query parser (queryparser/xml/CoreParser.java) on the Spark
engine: rank+float32-score identity between topk_xml and the
GT-round-29-pinned control oracle (tests/test_lucene_ground_truth.py
pins the control to the compiled CoreParser; this file pins the engine
to the control)."""

import os
import random

import numpy as np
import pytest

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.search.engine import IndexSearcher
from lucene_solr_spark.search.simpleqp import (
    _ws_analyze,
    build_ws_oracle_index,
    oracle_topk_tree,
)
from lucene_solr_spark.search.xmlqp import XmlParserError, parse_xml_query

VOCAB = ["aa", "ab", "abc", "bb", "bc", "cc", "cd", "dd", "ee"]


@pytest.fixture(scope="module")
def ws_corpus():
    rng = random.Random(77707)
    return [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 12))))
        for i in range(40)
    ]


@pytest.fixture(scope="module")
def ws_searcher(spark, tmp_root, ws_corpus):
    d = os.path.join(tmp_root, "idx_xmlqp")
    src = spark.createDataFrame(ws_corpus, "doc_id long, content string")
    build_index(
        spark, src, out_dir=d, content_col="content", doc_id_col="doc_id",
        meta_cols=[], range_size=16, fingerprint="xmlqp",
        analyzer="whitespace",
    )
    return IndexSearcher(spark, d)


QUERIES = [
    '<TermQuery fieldName="body">aa</TermQuery>',
    '<TermQuery fieldName="body" boost="2.5">aa</TermQuery>',
    '<TermsQuery fieldName="body" minimumNumberShouldMatch="2">aa bb dd</TermsQuery>',
    '<BooleanQuery fieldName="body">'
    '<Clause occurs="must"><TermQuery>aa</TermQuery></Clause>'
    '<Clause occurs="should"><TermQuery>bb</TermQuery></Clause>'
    '<Clause occurs="mustNot"><TermQuery>ee</TermQuery></Clause>'
    "</BooleanQuery>",
    # FILTER: required, unscored
    '<BooleanQuery fieldName="body">'
    '<Clause occurs="filter"><TermQuery>dd</TermQuery></Clause>'
    '<Clause occurs="should"><TermQuery>aa</TermQuery></Clause>'
    "</BooleanQuery>",
    # negation + MatchAllDocs: term-free docs match (complement pass)
    '<BooleanQuery fieldName="body">'
    '<Clause occurs="mustNot"><TermQuery>aa</TermQuery></Clause>'
    '<Clause occurs="should"><MatchAllDocsQuery/></Clause>'
    "</BooleanQuery>",
    # nested bool with boost threading
    '<BooleanQuery fieldName="body" boost="0.5">'
    '<Clause occurs="must"><BooleanQuery>'
    '<Clause occurs="should"><TermQuery>aa</TermQuery></Clause>'
    '<Clause occurs="should"><TermQuery boost="3">cc</TermQuery></Clause>'
    "</BooleanQuery></Clause>"
    '<Clause occurs="must"><TermQuery>dd</TermQuery></Clause>'
    "</BooleanQuery>",
    '<RangeQuery fieldName="body" lowerTerm="ab" upperTerm="cc"/>',
    '<DisjunctionMaxQuery fieldName="body" tieBreaker="0.3">'
    "<TermQuery>aa</TermQuery><TermQuery>cc</TermQuery>"
    "</DisjunctionMaxQuery>",
    '<ConstantScoreQuery boost="3"><BooleanQuery fieldName="body">'
    '<Clause occurs="must"><TermQuery>aa</TermQuery></Clause>'
    "</BooleanQuery></ConstantScoreQuery>",
    '<UserQuery fieldName="body">aa AND dd</UserQuery>',
    '<UserQuery fieldName="body" boost="2">aa dd^3 -ee</UserQuery>',
    '<UserQuery fieldName="body">bb bb^2 cc</UserQuery>',
    '<SpanNear fieldName="body" slop="1" inOrder="true">'
    "<SpanTerm>aa</SpanTerm><SpanTerm>bb</SpanTerm></SpanNear>",
    '<SpanNear fieldName="body" slop="2">'
    "<SpanOrTerms>aa cc</SpanOrTerms><SpanTerm>dd</SpanTerm></SpanNear>",
    '<SpanFirst fieldName="body" end="2"><SpanTerm>aa</SpanTerm></SpanFirst>',
    '<SpanNot fieldName="body"><Include>'
    '<SpanNear slop="3" inOrder="true"><SpanTerm>aa</SpanTerm>'
    "<SpanTerm>dd</SpanTerm></SpanNear></Include>"
    "<Exclude><SpanTerm>cc</SpanTerm></Exclude></SpanNot>",
    '<SpanOrTerms fieldName="body" boost="2">aa ee</SpanOrTerms>',
]


def test_engine_matches_control_oracle(spark, ws_searcher, ws_corpus):
    idx = build_ws_oracle_index(ws_corpus)
    for xmlq in QUERIES:
        tree = parse_xml_query(xmlq, _ws_analyze)
        exp = [(d, np.float32(s)) for d, s in oracle_topk_tree(idx, tree, k=10)]
        got_df = ws_searcher.topk_xml(xmlq, k=10, content_field="body")
        got = [(int(r["doc_id"]), np.float32(r["score"]))
               for r in got_df.collect()]
        assert got == exp, (xmlq, got, exp)


def test_parser_errors():
    with pytest.raises(XmlParserError):  # missing occurs throws
        parse_xml_query(
            '<BooleanQuery fieldName="body"><Clause>'
            "<TermQuery>aa</TermQuery></Clause></BooleanQuery>", _ws_analyze)
    with pytest.raises(XmlParserError):  # SpanNear slop is required
        parse_xml_query(
            '<SpanNear fieldName="body"><SpanTerm>aa</SpanTerm>'
            "<SpanTerm>bb</SpanTerm></SpanNear>", _ws_analyze)
    with pytest.raises(XmlParserError):  # unmapped element
        parse_xml_query(
            '<FuzzyLikeThisQuery fieldName="body">aa</FuzzyLikeThisQuery>',
            _ws_analyze)
    with pytest.raises(NotImplementedError):  # nested SpanNear clause
        parse_xml_query(
            '<SpanNear fieldName="body" slop="1">'
            '<SpanNear slop="0"><SpanTerm>aa</SpanTerm>'
            "<SpanTerm>bb</SpanTerm></SpanNear>"
            "<SpanTerm>cc</SpanTerm></SpanNear>", _ws_analyze)


def test_numeric_elements_parse():
    # PointRangeQueryBuilder.java: type defaults int, missing/empty
    # bound attr = open bound, bounds always inclusive
    t = parse_xml_query('<PointRangeQuery fieldName="f" lowerTerm="3"/>',
                        _ws_analyze)
    assert t == ("numeric_range", "f", 3, None, True, True)
    t = parse_xml_query(
        '<PointRangeQuery fieldName="f" upperTerm="4.5" type="Double"/>',
        _ws_analyze)
    assert t == ("numeric_range", "f", None, 4.5, True, True)
    # LegacyNumericRangeQueryBuilder.java: include flags honored
    t = parse_xml_query(
        '<LegacyNumericRangeQuery fieldName="f" lowerTerm="1" upperTerm="9"'
        ' includeUpper="false" type="LONG"/>', _ws_analyze)
    assert t == ("numeric_range", "f", 1, 9, True, False)
    # fieldName inherits from an ancestor (DOMUtils inheritance)
    t = parse_xml_query(
        '<BooleanQuery fieldName="f"><Clause occurs="filter">'
        '<PointRangeQuery lowerTerm="2" upperTerm="7"/></Clause>'
        '<Clause occurs="should"><TermQuery fieldName="body">aa'
        "</TermQuery></Clause></BooleanQuery>", _ws_analyze)
    assert t[1][0] == ("f", ("numeric_range", "f", 2, 7, True, True))
    with pytest.raises(XmlParserError, match="type attribute"):
        parse_xml_query(
            '<PointRangeQuery fieldName="f" type="short" lowerTerm="1"/>',
            _ws_analyze)
    with pytest.raises(XmlParserError, match="Could not parse"):
        parse_xml_query('<PointRangeQuery fieldName="f" lowerTerm="xx"/>',
                        _ws_analyze)
    with pytest.raises(XmlParserError):  # fieldName OrFail, no inheritance
        parse_xml_query('<PointRangeQuery lowerTerm="1"/>', _ws_analyze)
    # BoostingTermBuilder.java: raw term text, boost defaults 1.0
    t = parse_xml_query(
        '<BoostingTermQuery fieldName="body">aa</BoostingTermQuery>',
        _ws_analyze)
    assert t == ("payload_term", "aa", 1.0)
    t = parse_xml_query(
        '<BoostingTermQuery fieldName="body" boost="1.5">aa'
        "</BoostingTermQuery>", _ws_analyze)
    assert t == ("payload_term", "aa", 1.5)
    with pytest.raises(XmlParserError):  # getNonBlankTextOrFail
        parse_xml_query(
            '<BoostingTermQuery fieldName="body"> </BoostingTermQuery>',
            _ws_analyze)


def test_numeric_root_constant_score(spark, ws_searcher, ws_corpus):
    lens = {i: len(c.split()) for i, c in ws_corpus}
    got = ws_searcher.topk_xml(
        '<PointRangeQuery fieldName="field_len" lowerTerm="4" upperTerm="8"'
        ' type="int"/>', k=10, content_field="body").collect()
    exp = [i for i in sorted(lens) if 4 <= lens[i] <= 8][:10]
    assert [int(r.doc_id) for r in got] == exp
    assert all(r.score == 1.0 for r in got)
    # a field with no stored column matches nothing (no points indexed)
    assert ws_searcher.topk_xml(
        '<PointRangeQuery fieldName="nope" lowerTerm="1"/>', k=5,
        content_field="body").count() == 0
    # exclusive legacy upper bound
    got = ws_searcher.topk_xml(
        '<LegacyNumericRangeQuery fieldName="field_len" lowerTerm="4"'
        ' upperTerm="8" includeUpper="false" type="int"/>', k=40,
        content_field="body").collect()
    assert [int(r.doc_id) for r in got] == [
        i for i in sorted(lens) if 4 <= lens[i] < 8][:40]


def test_numeric_filter_clause_split(spark, ws_searcher, ws_corpus):
    """FILTER PointRangeQuery + SHOULD terms: score from the should
    clauses only, restricted to in-range docs, score-0 pad for docs
    matching only the filter (BooleanWeight with msm 0)."""
    lens = {i: len(c.split()) for i, c in ws_corpus}
    idx = build_ws_oracle_index(ws_corpus)
    tree = parse_xml_query('<TermQuery fieldName="body">aa</TermQuery>',
                           _ws_analyze)
    all_scores = dict(oracle_topk_tree(idx, tree, k=10_000))
    inr = [i for i in lens if 4 <= lens[i] <= 8]
    scored = sorted(
        ((i, np.float32(all_scores[i])) for i in inr if i in all_scores),
        key=lambda t: (-float(t[1]), t[0]))
    pad = [(i, np.float32(0.0)) for i in sorted(inr) if i not in all_scores]
    exp = (scored + pad)[:10]
    xml = ('<BooleanQuery fieldName="body">'
           '<Clause occurs="filter"><PointRangeQuery fieldName="field_len"'
           ' lowerTerm="4" upperTerm="8" type="int"/></Clause>'
           '<Clause occurs="should"><TermQuery>aa</TermQuery></Clause>'
           "</BooleanQuery>")
    got = [(int(r.doc_id), np.float32(r.score))
           for r in ws_searcher.topk_xml(xml, k=10, content_field="body")
           .collect()]
    assert got == exp
    # filter-only BooleanQuery: matches at score 0, doc order
    xmlf = ('<BooleanQuery fieldName="body">'
            '<Clause occurs="filter"><PointRangeQuery fieldName="field_len"'
            ' lowerTerm="4" upperTerm="8" type="int"/></Clause>'
            "</BooleanQuery>")
    gotf = [(int(r.doc_id), np.float32(r.score))
            for r in ws_searcher.topk_xml(xmlf, k=10, content_field="body")
            .collect()]
    assert gotf == [(i, np.float32(0.0)) for i in sorted(inr)][:10]


def test_numeric_unsupported_position_raises(spark, ws_searcher):
    with pytest.raises(NotImplementedError):
        ws_searcher.topk_xml(
            '<DisjunctionMaxQuery fieldName="body">'
            '<PointRangeQuery fieldName="field_len" lowerTerm="1"/>'
            "<TermQuery>aa</TermQuery></DisjunctionMaxQuery>",
            k=5, content_field="body")


def test_coreplus_engine_matches_control_oracle(spark, ws_searcher,
                                                ws_corpus):
    """BoostingQuery end-to-end on the Spark engine (the tree node is
    GT-round-35-pinned; this pins the XML mapping + engine execution),
    and LikeThisQuery resolved against the index's own stats."""
    idx = build_ws_oracle_index(ws_corpus)
    xmlq = ('<BoostingQuery fieldName="body"><Query><BooleanQuery>'
            '<Clause occurs="should"><TermQuery>aa</TermQuery></Clause>'
            '<Clause occurs="should"><TermQuery>bb</TermQuery></Clause>'
            "</BooleanQuery></Query>"
            '<BoostQuery boost="0.25"><TermQuery>dd</TermQuery></BoostQuery>'
            "</BoostingQuery>")
    tree = parse_xml_query(xmlq, _ws_analyze)
    exp = [(d, np.float32(s)) for d, s in oracle_topk_tree(idx, tree, k=10)]
    got = [(int(r["doc_id"]), np.float32(r["score"]))
           for r in ws_searcher.topk_xml(xmlq, k=10, content_field="body")
           .collect()]
    assert got == exp, (got, exp)

    # LikeThisQuery: engine selects terms from its own stats; the
    # control resolves the same selection against the ws oracle index
    from collections import Counter

    from lucene_solr_spark.search.mlt import mlt_select_terms

    likeq = ('<LikeThisQuery fieldNames="body" maxQueryTerms="3"'
             ' minDocFreq="1">aa aa bb cc</LikeThisQuery>')
    counts = Counter("aa aa bb cc".split())
    df = {t: len(idx.postings.get(t, {})) for t in counts}
    terms = mlt_select_terms(dict(counts), df, idx.doc_count,
                             max_query_terms=3, min_term_freq=1,
                             min_doc_freq=1)
    msm = int(np.float32(len(terms)) * np.float32(np.float32(30.0)
                                                  / np.float32(100.0)))
    sub = ("bool", tuple(("", ("term", t)) for t in terms), msm)
    exp = [(d, np.float32(s)) for d, s in oracle_topk_tree(idx, sub, k=10)]
    got = [(int(r["doc_id"]), np.float32(r["score"]))
           for r in ws_searcher.topk_xml(likeq, k=10, content_field="body")
           .collect()]
    assert got == exp, (terms, msm, got, exp)
    # default field list {"contents"} misses the content field: no hits
    assert ws_searcher.topk_xml(
        '<LikeThisQuery minDocFreq="1">aa bb</LikeThisQuery>',
        k=10, content_field="body").count() == 0


def test_numeric_filter_with_boost_and_mustnot(spark, ws_searcher,
                                               ws_corpus):
    """Review fixes: (a) a boost attr on the FILTER-carrying
    BooleanQuery scales the scoring clauses (the split path must unwrap
    the boosted node, not raise); (b) MUST_NOT + numeric FILTER: docs
    in range and not prohibited match at score 0 (BooleanWeight with no
    scoring clause), and the score-0 pad excludes prohibited docs."""
    lens = {i: len(c.split()) for i, c in ws_corpus}
    has = {i: set(c.split()) for i, c in ws_corpus}
    flt = ('<Clause occurs="filter"><PointRangeQuery fieldName="field_len"'
           ' lowerTerm="4" upperTerm="8" type="int"/></Clause>')
    # (a) boosted bool: same ranks, scores x2 (f32)
    base = ('<BooleanQuery fieldName="body">' + flt +
            '<Clause occurs="should"><TermQuery>aa</TermQuery></Clause>'
            "</BooleanQuery>")
    boosted = base.replace('fieldName="body"', 'fieldName="body" boost="2"')
    g1 = [(int(r.doc_id), np.float32(r.score))
          for r in ws_searcher.topk_xml(base, k=10, content_field="body")
          .collect()]
    g2 = [(int(r.doc_id), np.float32(r.score))
          for r in ws_searcher.topk_xml(boosted, k=10, content_field="body")
          .collect()]
    assert [d for d, _ in g1] == [d for d, _ in g2] and g1
    for (_d, s1), (_d2, s2) in zip(g1, g2):
        if float(s1) > 0:
            assert abs(float(s2) / float(s1) - 2.0) < 1e-6
        else:
            assert float(s2) == 0.0
    # (b) filter + mustNot only: in-range and not holding 'aa', score 0
    xmln = ('<BooleanQuery fieldName="body">' + flt +
            '<Clause occurs="mustNot"><TermQuery>aa</TermQuery></Clause>'
            "</BooleanQuery>")
    got = [(int(r.doc_id), np.float32(r.score))
           for r in ws_searcher.topk_xml(xmln, k=40, content_field="body")
           .collect()]
    exp = [(i, np.float32(0.0)) for i in sorted(lens)
           if 4 <= lens[i] <= 8 and "aa" not in has[i]][:40]
    assert got == exp
    # filter + should + mustNot: scored hits first, prohibited docs
    # excluded from the score-0 pad
    xmlm = ('<BooleanQuery fieldName="body">' + flt +
            '<Clause occurs="should"><TermQuery>bb</TermQuery></Clause>'
            '<Clause occurs="mustNot"><TermQuery>aa</TermQuery></Clause>'
            "</BooleanQuery>")
    got = [(int(r.doc_id), np.float32(r.score))
           for r in ws_searcher.topk_xml(xmlm, k=40, content_field="body")
           .collect()]
    inr = [i for i in sorted(lens)
           if 4 <= lens[i] <= 8 and "aa" not in has[i]]
    assert {d for d, _s in got} == set(inr[:40]) if len(inr) <= 40 else True
    for d, s in got:
        assert "aa" not in has[d]
        if "bb" not in has[d]:
            assert float(s) == 0.0
    # a non-term mustNot alongside a numeric filter raises loudly
    # instead of silently dropping the pad
    xmlp = ('<BooleanQuery fieldName="body">' + flt +
            '<Clause occurs="mustNot"><SpanNear slop="0" inOrder="true">'
            "<SpanTerm>aa</SpanTerm><SpanTerm>bb</SpanTerm></SpanNear>"
            "</Clause></BooleanQuery>")
    with pytest.raises(NotImplementedError):
        ws_searcher.topk_xml(xmlp, k=10, content_field="body")


def test_numeric_parse_java_parity():
    """Java Integer/Long/Float.valueOf grammar: python's lax int()/
    float() must not silently parse what the reference rejects, and a
    valid Java 'f' suffix must parse; float-typed bounds round to f32."""
    for bad in (" 40", "40 ", "1_0", "inf", "nan", "infinity"):
        with pytest.raises(XmlParserError):
            parse_xml_query(
                f'<PointRangeQuery fieldName="f" lowerTerm="{bad}"'
                ' type="long"/>', _ws_analyze)
    for bad in ("1_0", "inf", "nan", "infinity"):
        with pytest.raises(XmlParserError):
            parse_xml_query(
                f'<PointRangeQuery fieldName="f" lowerTerm="{bad}"'
                ' type="double"/>', _ws_analyze)
    t = parse_xml_query(
        '<PointRangeQuery fieldName="f" lowerTerm="1.5f" type="double"/>',
        _ws_analyze)
    assert t[2] == 1.5
    t = parse_xml_query(
        '<PointRangeQuery fieldName="f" upperTerm="0.1" type="float"/>',
        _ws_analyze)
    assert t[3] == float(np.float32(0.1))  # Float.valueOf rounds to f32
    t = parse_xml_query(
        '<PointRangeQuery fieldName="f" lowerTerm="-Infinity"'
        ' type="double"/>', _ws_analyze)
    assert t[2] == float("-inf")


@pytest.mark.parametrize("typ,lit,want", [
    # Float/Double.valueOf trim chars <= ' ' first; Integer/Long do not
    ("double", " 1.5", 1.5),
    ("double", "2.5\t", 2.5),
    ("float", " 4e2f ", 400.0),
    ("double", " -Infinity ", float("-inf")),
    # the f/d suffix is legal on numeric literals only
    ("double", "NaNd", None),
    ("float", "Infinityf", None),
    ("double", "-Infinityd", None),
    ("float", "NaNF", None),
    ("long", " 40", None),
    # Integer/Long.valueOf range-check per type
    ("int", "2147483647", 2147483647),
    ("int", "-2147483648", -2147483648),
    ("int", "2147483648", None),
    ("int", "-2147483649", None),
    ("int", "99999999999", None),
    ("long", "99999999999", 99999999999),
    ("long", "9223372036854775807", 9223372036854775807),
    ("long", "-9223372036854775808", -9223372036854775808),
    ("long", "9223372036854775808", None),
])
def test_numeric_bound_parse_trim_suffix_and_range(typ, lit, want):
    xml = f'<PointRangeQuery fieldName="f" lowerTerm="{lit}" type="{typ}"/>'
    if want is None:
        with pytest.raises(XmlParserError):
            parse_xml_query(xml, _ws_analyze)
    else:
        assert parse_xml_query(xml, _ws_analyze)[2] == want
