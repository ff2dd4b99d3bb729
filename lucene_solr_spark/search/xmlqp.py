"""The XML query parser — CoreParser's element set
(lucene/queryparser/src/java/org/apache/lucene/queryparser/xml/
CoreParser.java) mapped onto the shared query-tree evaluator
(search/simpleqp.py's eval_tree / resolve_tree / spark_topk_tree), so a
parsed query is scored by the engine's one top-k runner
(IndexSearcher._run_tree) and its plan choice.

Element -> node mapping (builders/ cited per element):

- TermQuery        (TermQueryBuilder.java): RAW term text (never
  analyzed), boost attr wraps BoostQuery.
- TermsQuery       (TermsQueryBuilder.java): analyzed text -> BooleanQuery
  of SHOULD TermQuery clauses; minimumNumberShouldMatch attr; always
  BoostQuery-wrapped (no-op at 1.0).
- MatchAllDocsQuery (MatchAllDocsQueryBuilder.java).
- BooleanQuery     (BooleanQueryBuilder.java): <Clause occurs=...> children
  — should/must/mustNot case-INSENSITIVE, filter case-SENSITIVE, and a
  missing/unknown occurs THROWS (getOccursValue: DOM getAttribute returns
  "" which matches no branch); minimumNumberShouldMatch; boost.
- RangeQuery       (RangeQueryBuilder.java): TermRangeQuery.newStringRange
  — a MISSING lowerTerm/upperTerm attr is the EMPTY STRING bound, not an
  open bound; includeLower/includeUpper default true; boost attr IGNORED
  (the builder never reads it); CONSTANT_SCORE_REWRITE.
- DisjunctionMaxQuery (DisjunctionMaxQueryBuilder.java): every child
  element is a disjunct; tieBreaker attr; boost wraps.
- ConstantScoreQuery (ConstantScoreQueryBuilder.java): first child
  element; score == threaded boost, wrapped query's scores discarded.
- UserQuery        (UserInputQueryBuilder.java): text through the CLASSIC
  QueryParser (search/queryparser.py — GT rounds 5/6-pinned) mapped to
  tree nodes; always BoostQuery-wrapped.
- SpanTerm / SpanOr / SpanOrTerms / SpanNear / SpanFirst / SpanNot
  (builders/Span*.java): span leaves over term / or-of-term clauses.
  SpanNear's slop attr is REQUIRED, inOrder defaults FALSE; SpanFirst's
  end defaults 1; SpanNot takes <Include>/<Exclude> children. Supported
  clause shapes match the engine's span machinery (SpanTerm /
  SpanOrTerms / SpanOr-of-SpanTerms inside a SpanNear; SpanNot include =
  ordered SpanNear or term/or, exclude = term/or); deeper nesting raises
  NotImplementedError. Inner-span boosts != 1 raise (only the OUTER
  span element's SpanBoostQuery is supported).

- PointRangeQuery / LegacyNumericRangeQuery (PointRangeQueryBuilder /
  LegacyNumericRangeQueryBuilder): numeric range over a stored numeric
  doc field (the engine's Points/BKD substitution is the parquet doc
  store + stats pruning); Point bounds always inclusive, Legacy honors
  includeLower/includeUpper; missing/empty bound attr = open; bad type
  or number -> ParserException analog. Supported as the root query
  (constant score) or as a BooleanQuery FILTER clause (engine.topk_xml
  splits the filter out and semi-joins the doc store).
- BoostingTermQuery (BoostingTermBuilder): PayloadScoreQuery(SpanTerm,
  AveragePayloadFunction, includeSpanScore) + SpanBoostQuery — root
  level only; runs on the payload index.

- BoostingQuery (CorePlusQueries BoostingQueryBuilder): <Query> match +
  <BoostQuery boost=0.01> context -> the engine's "boosting" node
  (context-matching docs get the match score scaled, GT round 35).
- LikeThisQuery (CorePlusQueries LikeThisQueryBuilder over
  MoreLikeThisQuery): likeText -> MoreLikeThis term selection against
  the index stats at execute time (engine._resolve_mlt_text), SHOULD
  clauses with msm = (int)(clauses * percentTermsToMatch/100).

- FuzzyLikeThisQuery (CorePlusEXTENSIONS FuzzyLikeThisQueryBuilder —
  only under parse_xml_query(extensions=True), mirroring which parser
  registers the builder; the CorePlusQueriesParser surface keeps the
  reference's ParserException): maxNumTerms/ignoreTF attrs + <Field>
  descendants (minSimilarity default 2.0 = SlowFuzzyQuery.
  defaultMinSimilarity, prefixLength default 1, fieldName inheritance;
  a field list missing the content field contributes nothing — absent
  Terms, addTerms returns). Executes through
  engine.topk_fuzzy_like_this_ref (GT round 29c).

fieldName resolves with ancestor inheritance
(DOMUtils.getAttributeWithInheritance) and must name the index's single
content field (numeric elements name a stored numeric column instead).
"""

from __future__ import annotations

import functools
import re
import xml.etree.ElementTree as ET


class XmlParserError(ValueError):
    """ParserException analog."""


def _attr_float(e, name: str, dflt: float) -> float:
    v = e.get(name, "")
    return dflt if v == "" else float(v)


def _attr_int(e, name: str, dflt: int) -> int:
    v = e.get(name, "")
    return dflt if v == "" else int(v)


def _attr_bool(e, name: str, dflt: bool) -> bool:
    # DOMUtils.getAttribute -> Boolean.valueOf: "true" (any case) is
    # true, anything else false
    v = e.get(name, "")
    return dflt if v == "" else v.lower() == "true"


def _text(e) -> str:
    return "".join(e.itertext())


def _nonblank_text(e) -> str:
    v = _text(e).strip()
    if not v:
        raise XmlParserError(f"{e.tag} has no text")
    return v


def _field(e, inherited: str | None) -> str:
    v = e.get("fieldName", "")
    if v:
        return v
    if inherited is None:
        raise XmlParserError(f'{e.tag} missing "fieldName" attribute')
    return inherited


def _children(e):
    return list(e)


def _maybe_boost(node, boost: float):
    return node if boost == 1.0 else ("boosted", float(boost), node)


#: Integer/Long MIN..MAX per PointRangeQuery type attribute
_JAVA_INT_BITS = {"int": 32, "long": 64}

#: Float/Double.valueOf's decimal grammar after trim(): optional sign, then
#: NaN or Infinity spelled exactly and unsuffixed, or ASCII digits with an
#: optional fraction and exponent and one optional f/F/d/D suffix
_JAVA_FP = re.compile(
    r"[+-]?(?:NaN|Infinity|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?[fFdD]?)",
    re.ASCII,
)

#: String.trim() strips every char <= ' ' from both ends
_JAVA_TRIM = "".join(map(chr, range(0x21)))


def _java_parse_int(s: str, typ: str) -> int:
    """Integer/Long.valueOf: [+-]?digits only — python's int() is laxer
    (strips whitespace, allows '1_0') and would silently parse input the
    reference turns into NumberFormatException -> ParserException. The
    value must fit the type: int is 32-bit, long 64-bit."""
    if not re.fullmatch(r"[+-]?\d+", s):
        raise ValueError(s)
    v = int(s)
    bits = _JAVA_INT_BITS[typ]
    if not -(1 << (bits - 1)) <= v < 1 << (bits - 1):
        raise ValueError(f"{s} out of {typ} range")
    return v


def _java_parse_fp(s: str) -> float:
    """Float/Double.valueOf: trims chars <= ' ' from both ends first, then
    takes no underscores, an optional f/F/d/D suffix on numeric literals
    only, and 'Infinity'/'NaN' spelled exactly (python's lax 'inf'/'nan'
    shortforms and suffixed 'NaNd'/'Infinityf' rejected). Residual
    documented divergence: Java hex-float literals ('0x1.8p1') are not
    parsed here."""
    t = s.strip(_JAVA_TRIM)
    if not _JAVA_FP.fullmatch(t):
        raise ValueError(s)
    return float(t[:-1] if t[-1] in "fFdD" else t)


def parse_xml_query(xml_string: str, analyze_fn, content_field: str = "body",
                    default_field: str | None = None,
                    extensions: bool = False):
    """CoreParser.parse over one XML document -> query tree (simpleqp
    node shapes). analyze_fn(text) -> [(token, position)] — the index's
    chain; default_field feeds UserQuery's classic parser (single-field
    engine: it must equal content_field). extensions=True models
    CorePlusEXTENSIONSParser's additional builder registrations
    (currently FuzzyLikeThisQuery); False (the CorePlusQueriesParser
    surface) keeps the reference's ParserException for them."""
    root = ET.fromstring(xml_string)
    return _q(root, analyze_fn, content_field, None, extensions)


def _check_field(e, inherited, content_field):
    f = _field(e, inherited)
    if f != content_field:
        raise XmlParserError(
            f"single-field engine: fieldName {f!r} != {content_field!r}"
        )
    return f


def _q(e, analyze_fn, content_field: str, inherited_field: str | None,
       extensions: bool = False):
    tag = e.tag
    own_field = e.get("fieldName", "") or inherited_field
    if tag == "TermQuery":
        _check_field(e, inherited_field, content_field)
        node = ("term", _nonblank_text(e))
        return _maybe_boost(node, _attr_float(e, "boost", 1.0))
    if tag == "TermsQuery":
        _check_field(e, inherited_field, content_field)
        toks = analyze_fn(_nonblank_text(e))
        msm = _attr_int(e, "minimumNumberShouldMatch", 0)
        node = ("bool", tuple(("", ("term", t)) for t, _p in toks), msm)
        return _maybe_boost(node, _attr_float(e, "boost", 1.0))
    if tag == "MatchAllDocsQuery":
        return ("matchall",)
    if tag == "BooleanQuery":
        clauses = []
        for kid in _children(e):
            if kid.tag != "Clause":
                continue
            occs = kid.get("occurs", "")
            low = occs.lower()
            if low == "should":
                occ = ""
            elif low == "must":
                occ = "+"
            elif low == "mustnot":
                occ = "-"
            elif occs == "filter":
                occ = "f"
            else:
                # BooleanQueryBuilder.getOccursValue: DOM getAttribute
                # returns "" for a missing attr, which matches NO branch
                # — absent occurs throws, exactly like an invalid one
                raise XmlParserError(
                    f'Invalid value for "occurs" attribute of clause:{occs}'
                )
            sub_elems = _children(kid)
            if not sub_elems:
                raise XmlParserError("Clause with no child query")
            clauses.append((occ, _q(sub_elems[0], analyze_fn, content_field,
                                    own_field, extensions)))
        msm = _attr_int(e, "minimumNumberShouldMatch", 0)
        node = ("bool", tuple(clauses), msm)
        return _maybe_boost(node, _attr_float(e, "boost", 1.0))
    if tag in ("PointRangeQuery", "LegacyNumericRangeQuery"):
        # PointRangeQueryBuilder.java:73-102 / LegacyNumericRangeQuery-
        # Builder.java:92-130: fieldName with inheritance (OrFail),
        # lowerTerm/upperTerm default null (missing OR empty attr = open
        # bound, DOMUtils.getAttribute String overload), type defaults
        # "int" (case-insensitive int/long/double/float, else
        # ParserException); NumberFormatException -> ParserException.
        # PointRange bounds are always inclusive; Legacy reads
        # includeLower/includeUpper (default true). precisionStep only
        # shapes the legacy trie encoding, not match semantics. Neither
        # builder reads a boost attribute.
        f = _field(e, inherited_field)
        lo_s = e.get("lowerTerm", "") or None
        hi_s = e.get("upperTerm", "") or None
        typ = (e.get("type", "") or "int").lower()
        if typ not in ("int", "long", "double", "float"):
            raise XmlParserError(
                "type attribute must be one of: [long, int, double, float]")
        conv = (functools.partial(_java_parse_int, typ=typ)
                if typ in ("int", "long") else _java_parse_fp)
        try:
            lo = None if lo_s is None else conv(lo_s)
            hi = None if hi_s is None else conv(hi_s)
        except ValueError as ex:
            raise XmlParserError(
                "Could not parse lowerTerm or upperTerm into a number"
            ) from ex
        if typ == "float":
            # Float.valueOf rounds the literal to float32 before the
            # range compares (FloatPoint.newRangeQuery bounds are f32)
            import numpy as _np

            lo = None if lo is None else float(_np.float32(lo))
            hi = None if hi is None else float(_np.float32(hi))
        if tag == "PointRangeQuery":
            lo_inc = hi_inc = True
        else:
            lo_inc = _attr_bool(e, "includeLower", True)
            hi_inc = _attr_bool(e, "includeUpper", True)
        return ("numeric_range", f, lo, hi, lo_inc, hi_inc)
    if tag == "BoostingTermQuery":
        # BoostingTermBuilder.java:35-44: PayloadScoreQuery(SpanTermQuery,
        # AveragePayloadFunction) — the 2-arg ctor, includeSpanScore
        # true — wrapped in SpanBoostQuery(boost).
        _check_field(e, inherited_field, content_field)
        return ("payload_term", _nonblank_text(e),
                _attr_float(e, "boost", 1.0))
    if tag == "RangeQuery":
        _check_field(e, inherited_field, content_field)
        # getAttribute: missing attr == "" — a real (lowest) bound here
        node = ("term_range", (
            e.get("lowerTerm", ""), e.get("upperTerm", ""),
            _attr_bool(e, "includeLower", True),
            _attr_bool(e, "includeUpper", True),
        ))
        return node  # RangeQueryBuilder never reads a boost attr
    if tag == "DisjunctionMaxQuery":
        tie = _attr_float(e, "tieBreaker", 0.0)
        subs = tuple(
            _q(kid, analyze_fn, content_field, own_field, extensions)
            for kid in _children(e)
        )
        return _maybe_boost(("dismax", float(tie), subs),
                            _attr_float(e, "boost", 1.0))
    if tag == "ConstantScoreQuery":
        kids = _children(e)
        if not kids:
            raise XmlParserError("ConstantScoreQuery with no child query")
        node = ("const_q", _q(kids[0], analyze_fn, content_field,
                              own_field, extensions))
        return _maybe_boost(node, _attr_float(e, "boost", 1.0))
    if tag == "UserQuery":
        from .queryparser import parse as classic_parse

        field = e.get("fieldName", "") or default_or(own_field, content_field)
        if field != content_field:
            raise XmlParserError(
                f"single-field engine: fieldName {field!r} != {content_field!r}"
            )
        text = _text(e)
        if not text.strip():
            # QueryParser.parse("") throws ParseException -> ParserException
            raise XmlParserError("UserQuery has no text")
        tree = classic_parsed_to_tree(classic_parse(text))
        boost = _attr_float(e, "boost", 1.0)
        return _maybe_boost(tree, boost) if tree is not None else None
    if tag == "BoostingQuery":
        # CorePlusQueries BoostingQueryBuilder.java:43-58: <Query> child's
        # first element is the match query, <BoostQuery boost=0.01>'s
        # first element is the context query; docs matching BOTH have the
        # match score multiplied by the context boost (queries/
        # BoostingQuery.java — the engine's existing "boosting" node,
        # GT round 35); an outer boost attr wraps BoostQuery.
        q_holder = next((kid for kid in _children(e) if kid.tag == "Query"),
                        None)
        b_holder = next(
            (kid for kid in _children(e) if kid.tag == "BoostQuery"), None)
        if q_holder is None or b_holder is None:
            raise XmlParserError(
                "BoostingQuery requires Query and BoostQuery elements")
        q_kids, b_kids = _children(q_holder), _children(b_holder)
        if not q_kids or not b_kids:
            raise XmlParserError("BoostingQuery child with no query element")
        ctx_boost = _attr_float(b_holder, "boost", 0.01)
        node = ("boosting", float(ctx_boost),
                _q(q_kids[0], analyze_fn, content_field, own_field,
                   extensions),
                _q(b_kids[0], analyze_fn, content_field, own_field,
                   extensions))
        return _maybe_boost(node, _attr_float(e, "boost", 1.0))
    if tag == "LikeThisQuery":
        # CorePlusQueries LikeThisQueryBuilder.java:55-96 over
        # MoreLikeThisQuery.rewrite (queries/mlt/MoreLikeThisQuery.java:
        # 58-78): likeText -> MoreLikeThis.like term selection
        # (tf >= minTermFrequency=1, df >= minDocFreq or the MLT default
        # 5, top maxQueryTerms=20 by tf x classic idf), unboosted SHOULD
        # clauses with minimumNumberShouldMatch =
        # (int)(clauses * percentTermsToMatch/100). stopWords analyze
        # through the chain into MoreLikeThis.isNoiseWord. The builder's
        # hardcoded default field list {"contents"} maps to the engine's
        # single content field; an explicit fieldNames attr must name it.
        fl = (e.get("fieldNames", "") or "").strip()
        # builder default field list is the LITERAL {"contents"}
        # (CorePlusQueriesParser.java:52); a field the index doesn't
        # have contributes no terms — MultiFields.getTerms null — so the
        # query silently matches nothing, it does NOT throw
        fields = (
            tuple(x.strip() for x in fl.split(",")) if fl else ("contents",)
        )
        stop_attr = e.get("stopWords")
        stops = (
            frozenset(t for t, _p in analyze_fn(stop_attr))
            if stop_attr is not None else None
        )
        import numpy as _np

        # the builder divides the FLOAT attr by 100 in float32
        # (LikeThisQueryBuilder.java:88) and MoreLikeThisQuery truncates
        # (int)(clauses * percentTermsToMatch) in float32 — 10 * 0.3f is
        # 3.0000001 -> 3, while python's double 10 * 0.3 is 2.999... -> 2
        pct = float(
            _np.float32(_attr_float(e, "percentTermsToMatch", 30.0))
            / _np.float32(100.0)
        )
        node = (
            "mlt_text", content_field in fields, _text(e),
            _attr_int(e, "maxQueryTerms", 20),
            _attr_int(e, "minTermFrequency", 1),
            pct,
            stops,
            _attr_int(e, "minDocFreq", -1),
        )
        return _maybe_boost(node, _attr_float(e, "boost", 1.0))
    if tag == "FuzzyLikeThisQuery" and extensions:
        # FuzzyLikeThisQueryBuilder.java:47-70 (CorePlusExtensions
        # registration only): getElementsByTagName finds ALL Field
        # descendants; per field minSimilarity default 2.0
        # (SlowFuzzyQuery.defaultMinSimilarity), prefixLength default 1,
        # fieldName with inheritance (nullable — a null/mismatched field
        # has no Terms and addTerms contributes nothing); boost wraps.
        specs = []
        for fe in e.iter("Field"):
            if fe is e:
                continue
            fname = fe.get("fieldName", "") or own_field
            specs.append((
                _text(fe),
                _attr_float(fe, "minSimilarity", 2.0),
                _attr_int(fe, "prefixLength", 1),
                fname == content_field,
            ))
        node = ("fuzzy_like_this", _attr_int(e, "maxNumTerms", 50),
                _attr_bool(e, "ignoreTF", False), tuple(specs))
        return _maybe_boost(node, _attr_float(e, "boost", 1.0))
    if tag in ("SpanTerm", "SpanOr", "SpanOrTerms", "SpanNear", "SpanFirst",
               "SpanNot"):
        return _span_query(e, analyze_fn, content_field, inherited_field)
    raise XmlParserError(f"unsupported query element <{tag}>")


def default_or(v, d):
    return v if v else d


def tree_contains(node, kinds: frozenset | set) -> bool:
    """True if any node tagged with one of `kinds` appears anywhere in
    the (nested-tuple) query tree — used by engine.topk_xml to reject
    numeric/payload elements outside their supported positions."""
    if not isinstance(node, tuple):
        return False
    if node and isinstance(node[0], str) and node[0] in kinds:
        return True
    return any(tree_contains(c, kinds) for c in node)


def _span_clause(e, analyze_fn, content_field, inherited_field) -> tuple:
    """One span CLAUSE -> alternative term tuple. SpanTerm -> (t,);
    SpanOrTerms -> analyzed alts; SpanOr of SpanTerms -> alts. Anything
    deeper is outside the engine's span machinery."""
    if _attr_float(e, "boost", 1.0) != 1.0:
        raise NotImplementedError("inner-span boosts are not supported")
    own_field = e.get("fieldName", "") or inherited_field
    if e.tag == "SpanTerm":
        _check_field(e, inherited_field, content_field)
        return (_nonblank_text(e),)
    if e.tag == "SpanOrTerms":
        _check_field(e, inherited_field, content_field)
        return tuple(t for t, _p in analyze_fn(_nonblank_text(e)))
    if e.tag == "SpanOr":
        alts: list[str] = []
        for kid in _children(e):
            sub = _span_clause(kid, analyze_fn, content_field, own_field)
            alts.extend(sub)
        return tuple(alts)
    raise NotImplementedError(
        f"span clause <{e.tag}> nesting is not supported"
    )


def _span_query(e, analyze_fn, content_field, inherited_field):
    """Top-level span element -> ("span", kind, clauses, slop, extra)."""
    boost = _attr_float(e, "boost", 1.0)
    own_field = e.get("fieldName", "") or inherited_field
    if e.tag in ("SpanTerm", "SpanOrTerms", "SpanOr"):
        # standalone: SpanOrQuery semantics — width-0 spans, freq = total
        # occurrences; build WITHOUT the boost (consumed here)
        saved = dict(e.attrib)
        e.attrib.pop("boost", None)
        if e.tag == "SpanOr":
            clauses = tuple(
                (_span_clause(k, analyze_fn, content_field, own_field))
                for k in _children(e)
            )
        else:
            clauses = (_span_clause(e, analyze_fn, content_field,
                                    inherited_field),)
        e.attrib.update(saved)
        return _maybe_boost(("span", "or", clauses, 0, None), boost)
    if e.tag == "SpanNear":
        slop_s = e.get("slop", "")
        if slop_s == "":
            raise XmlParserError("SpanNear missing \"slop\" attribute")
        slop = int(slop_s)
        in_order = _attr_bool(e, "inOrder", False)
        clauses = tuple(
            _span_clause(k, analyze_fn, content_field, own_field)
            for k in _children(e)
        )
        kind = "near_ord" if in_order else "near_unord"
        return _maybe_boost(("span", kind, clauses, slop, None), boost)
    if e.tag == "SpanFirst":
        end = _attr_int(e, "end", 1)
        kids = _children(e)
        if not kids:
            raise XmlParserError("SpanFirst with no child span")
        clause = _span_clause(kids[0], analyze_fn, content_field, own_field)
        return _maybe_boost(("span", "first", (clause,), 0, end), boost)
    if e.tag == "SpanNot":
        inc_holder = next((k for k in _children(e) if k.tag == "Include"), None)
        exc_holder = next((k for k in _children(e) if k.tag == "Exclude"), None)
        if inc_holder is None or exc_holder is None:
            raise XmlParserError("SpanNot needs Include and Exclude")
        inc = _children(inc_holder)[0]
        exc = _children(exc_holder)[0]
        if inc.tag == "SpanNear":
            if not _attr_bool(inc, "inOrder", False):
                raise NotImplementedError(
                    "SpanNot over an unordered include is not supported"
                )
            if inc.get("slop", "") == "":
                raise XmlParserError("SpanNear missing \"slop\" attribute")
            slop = int(inc.get("slop"))
            inc_field = inc.get("fieldName", "") or own_field
            clauses = tuple(
                _span_clause(k, analyze_fn, content_field, inc_field)
                for k in _children(inc)
            )
        else:
            slop = 0
            clauses = (_span_clause(inc, analyze_fn, content_field, own_field),)
        exc_clause = _span_clause(exc, analyze_fn, content_field, own_field)
        return _maybe_boost(
            ("span", "not", clauses, slop, (exc_clause,)), boost
        )
    raise XmlParserError(f"unsupported span element <{e.tag}>")


def classic_parsed_to_tree(parsed):
    """ParsedQuery (the classic parser's flat clause collection —
    search/queryparser.py) -> query tree. Same clause semantics the
    GT-round-5/6-pinned spec path executes: duplicate SHOULD terms are
    duplicate clauses, term boosts wrap, one-level SHOULD-only groups,
    wildcard/range via CONSTANT_SCORE_REWRITE, fuzzies via the blended
    top-terms rewrite (resolve_tree's fuzzy node)."""
    clauses: list[tuple] = []

    def term_node(t: str):
        b = parsed.boosts.get(t, 1.0)
        return _maybe_boost(("term", t), float(b))

    if parsed.term_clauses:
        # per-occurrence boosts: 'bb bb^2' is TWO clauses at boosts 1, 2
        for occ, t, b in parsed.term_clauses:
            if occ == "-":
                clauses.append(("-", ("term", t)))
            else:
                clauses.append((occ, _maybe_boost(("term", t), float(b))))
    else:
        for t in parsed.should:
            clauses.append(("", term_node(t)))
        for t in parsed.must:
            clauses.append(("+", term_node(t)))
        for t in parsed.must_not:
            clauses.append(("-", ("term", t)))
    for pairs, slop, occ, b in parsed.phrases:
        clauses.append((occ, _maybe_boost(("phrase", tuple(pairs), slop),
                                          float(b))))
    for kind, payload, occ, b in parsed.expansions:
        if kind == "wildcard":
            node = ("wildcard", payload)
        elif kind == "range":
            node = ("term_range", payload)
        else:
            base, _sep, edits = payload.partition(":")
            node = _maybe_boost(("fuzzy", base, int(edits)), float(b))
            clauses.append((occ, node))
            continue
        clauses.append((occ, _maybe_boost(node, float(b))))
    for occ, g_terms, g_exp in parsed.groups:
        sub: list[tuple] = [("", term_node(t)) for t in g_terms]
        for kind, payload, _occ2, b in g_exp:
            if kind == "wildcard":
                sub.append(("", _maybe_boost(("wildcard", payload), float(b))))
            elif kind == "range":
                sub.append(("", _maybe_boost(("term_range", payload), float(b))))
            else:
                base, _sep, edits = payload.partition(":")
                sub.append(("", _maybe_boost(("fuzzy", base, int(edits)),
                                             float(b))))
        clauses.append((occ, ("bool", tuple(sub), 0)))
    if not clauses:
        return None
    if len(clauses) == 1 and clauses[0][0] == "":
        # BooleanQuery.Builder with one SHOULD clause rewrites to it
        return clauses[0][1]
    return ("bool", tuple(clauses), 0)
