"""Classic query parser: string -> BooleanSpec -> IndexSearcher.

Covers the reference grammar's core
(lucene/queryparser/src/java/org/apache/lucene/queryparser/classic/
QueryParser.jj; QueryParserBase.java:113 parse(); primary entry point in
demo/SearchFiles.java and the benchmark query set
ReutersQueryMaker.java:42-55):

  term                    -> SHOULD TermQuery (analyzed)
  +term / -term           -> MUST / MUST_NOT (Modifiers production)
  X AND Y / X && Y        -> infix conjunction: promotes BOTH sides to
                             MUST (QueryParserBase.addClause: CONJ_AND
                             retroactively upgrades the previous clause
                             unless it is prohibited)
  X OR Y / X || Y         -> explicit SHOULD (default operator is OR)
  NOT Y / !Y              -> MUST_NOT
  (a b) / (a OR b)        -> grouped clause: a nested SHOULD-only
                             BooleanQuery; +(...)/AND (...) makes the
                             group required, -(...)/NOT (...) prohibited
  "a phrase"              -> PhraseQuery (analysis positions kept)
  "a phrase"~N            -> sloppy phrase, slop N
  "a phrase"^F            -> BoostQuery around the phrase
  term^2.5                -> BoostQuery on the term clause
  wild* / wi?d            -> WildcardQuery -> CONSTANT_SCORE_REWRITE
                             (the reference parser default: score =
                             boost for any doc matching >=1 dict term)
  fuzzy~ / fuzzy~1        -> FuzzyQuery -> TopTermsBlendedFreqScoring
                             Rewrite(50) (FuzzyQuery's own default:
                             blended df, per-term similarity boosts)
  [a TO b] / {a TO b}     -> TermRangeQuery over the term dictionary,
                             CONSTANT_SCORE_REWRITE
                             ([ ] inclusive, { } exclusive; mixed ok)
  field:term              -> single-field engine: field name stripped

Operator keywords are case-sensitive uppercase, as in the reference
grammar — lowercase "and"/"or"/"not" are ordinary terms (and fall to the
stop filter). r2's parser treated ALL of AND/OR/NOT as terms, so
`X AND Y` silently executed as `X OR Y`; that trap is gone.

Engine-model restrictions (documented, raise ValueError):
 - any number of phrase clauses per query (each +required or optional
   SHOULD per its occur — an unmarked phrase keeps Lucene's default-OR
   semantics: docs matching other clauses but not the phrase still
   match). A prohibited (-) phrase is rejected.
 - groups are one level deep and SHOULD-only inside (covers the classic
   `(a OR b) AND c` shape); nested parens / +/- inside a group raise.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ..analysis.tokenizer import analyze
from .engine import BooleanSpec, IndexSearcher, phrase_pairs

_LEXER = re.compile(
    r"""
    (?P<lparen>\() | (?P<rparen>\))
  | (?P<and>AND\b|&&) | (?P<or>OR\b|\|\|) | (?P<not>NOT\b|!)
  | (?P<plus>\+) | (?P<minus>-)
  | (?:(?P<pfield>[A-Za-z_]\w*):)?
    "(?P<phrase>[^"]*)"(?:~(?P<slop>\d+))?(?:\^(?P<pboost>\d+(?:\.\d+)?))?
  | (?:(?P<rfield>[A-Za-z_]\w*):)?
    (?P<lb>[\[{])\s*(?P<lo>\S+)\s+TO\s+(?P<hi>\S+)\s*(?P<rb>[\]}])
  | (?:(?P<field>[A-Za-z_]\w*):)?
    (?P<word>[^\s^()]+?)(?:\^(?P<boost>\d+(?:\.\d+)?))?(?=[\s()]|$)
    """,
    re.VERBOSE,
)

#: wildcard/range bound sentinels
_OPEN = "*"


@dataclass
class ParsedQuery:
    should: list[str] = field(default_factory=list)
    must: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    # phrase clauses in query order: [(pairs, slop, occur, boost)] with
    # pairs = ((term, offset), ...) and occur '+' (required) or ''
    # (optional SHOULD) (BooleanSpec.phrases)
    phrases: list = field(default_factory=list)
    boosts: dict[str, float] = field(default_factory=dict)
    # unexpanded multi-term clauses: [(kind, payload, occur, boost)];
    # kind 'wildcard'/'fuzzy' carry a string payload, 'range' carries
    # (lo, hi, include_lo, include_hi)
    expansions: list[tuple] = field(default_factory=list)
    # paren groups: [(occur, [terms], [expansions])] — one nesting level,
    # SHOULD-only inside
    groups: list[tuple[str, list[str], list[tuple]]] = field(default_factory=list)
    # every top-level bare-word clause IN ORDER as (occur, term, boost) —
    # unlike `boosts` (a term-keyed dict) this keeps PER-OCCURRENCE
    # boosts for duplicate terms ('bb bb^2' is two clauses with boosts
    # 1 and 2 in the reference; the dict can only hold one). The flat
    # spec path can't express per-occurrence weights (its scorer weighs
    # each term once), so it keeps the dict semantics; tree-based
    # consumers (search/xmlqp.py) use this for reference-exact scoring.
    term_clauses: list[tuple[str, str, float]] = field(default_factory=list)


def _lex(query: str):
    """Token stream: ('(', ')', 'AND', 'OR', 'NOT', '+', '-') markers or
    ('clause', nodedict)."""
    for m in _LEXER.finditer(query or ""):
        if m.group("lparen"):
            yield ("(", None)
        elif m.group("rparen"):
            yield (")", None)
        elif m.group("and"):
            yield ("AND", None)
        elif m.group("or"):
            yield ("OR", None)
        elif m.group("not"):
            yield ("NOT", None)
        elif m.group("plus"):
            yield ("+", None)
        elif m.group("minus"):
            yield ("-", None)
        elif m.group("phrase") is not None:
            yield (
                "clause",
                {
                    "kind": "phrase",
                    "text": m.group("phrase"),
                    "slop": int(m.group("slop") or 0),
                    "boost": float(m.group("pboost")) if m.group("pboost") else None,
                },
            )
        elif m.group("lo") is not None:
            yield (
                "clause",
                {
                    "kind": "range",
                    "lo": m.group("lo"),
                    "hi": m.group("hi"),
                    "inc_lo": m.group("lb") == "[",
                    "inc_hi": m.group("rb") == "]",
                },
            )
        else:
            word = m.group("word")
            if not word:
                continue
            boost = float(m.group("boost")) if m.group("boost") else None
            yield ("clause", {"kind": "word", "text": word, "boost": boost})


def _collect_clauses(tokens, depth: int = 0):
    """The Query/Clause productions: returns [(conj, mods, node)] where
    node is a clause dict or ('group', inner_list). Classic addClause
    occur resolution happens in the caller."""
    out = []
    conj = None
    mods = ""
    for kind, val in tokens:
        if kind == "(":
            inner = _collect_clauses(tokens, depth + 1)
            out.append((conj, mods, ("group", inner)))
            conj, mods = None, ""
        elif kind == ")":
            if depth == 0:
                raise ValueError("unbalanced ')' in query")
            return out
        elif kind in ("AND", "OR"):
            conj = kind
        elif kind == "NOT":
            mods = "-"
        elif kind in ("+", "-"):
            mods = kind
        else:
            out.append((conj, mods, ("clause", val)))
            conj, mods = None, ""
    if depth > 0:
        raise ValueError("unbalanced '(' in query")
    return out


def _resolve_occurs(clauses, default_and: bool = False):
    """QueryParserBase.addClause semantics: occur = MUST_NOT for -/NOT,
    MUST for + or a preceding AND, else SHOULD; AND retroactively
    promotes the PREVIOUS clause to MUST unless prohibited. With the
    AND default operator (Solr's q.op=AND; QueryParserBase.java
    addClause :498-545): every non-prohibited clause is MUST unless
    introduced by OR (which ALSO retroactively demotes the previous
    non-prohibited clause to SHOULD), and a '+' after OR is IGNORED
    (required = !prohibited && conj != OR — the reference's own
    quirk)."""
    resolved = []  # [(occur, node)]
    for conj, mods, node in clauses:
        if conj == "AND" and resolved and resolved[-1][0] != "-":
            resolved[-1] = ("+", resolved[-1][1])
        if default_and and conj == "OR" and resolved and resolved[-1][0] != "-":
            resolved[-1] = ("", resolved[-1][1])
        if mods == "-":
            occur = "-"
        elif default_and:
            occur = "" if conj == "OR" else "+"
        elif mods == "+" or conj == "AND":
            occur = "+"
        else:
            occur = ""
        resolved.append((occur, node))
    return resolved


def _word_node(word: str, occur: str, out_terms, out_expansions, boosts=None, boost=None):
    """Classify a bare word: wildcard / fuzzy / analyzed term. Expansion
    entries are (kind, payload, occur, boost) — the clause boost rides
    along so BoostQuery(WildcardQuery)/BoostQuery(FuzzyQuery) keep it."""
    if "*" in word or "?" in word:
        out_expansions.append(("wildcard", word, occur, boost or 1.0))
        return
    fz = re.fullmatch(r"(.+?)~(\d?)", word)
    if fz:
        out_expansions.append(
            ("fuzzy", f"{fz.group(1)}:{fz.group(2) or 2}", occur, boost or 1.0)
        )
        return
    terms = analyze(word)
    if not terms:
        return
    t = terms[0]
    if boost is not None and boosts is not None:
        boosts[t] = boost
    out_terms.append(t)


def parse(query: str, default_operator: str = "or") -> ParsedQuery:
    default_and = default_operator.lower() == "and"
    out = ParsedQuery()
    resolved = _resolve_occurs(
        _collect_clauses(iter(_lex(query))), default_and
    )
    for occur, node in resolved:
        tag, val = node
        if tag == "group":
            if default_and:
                raise ValueError(
                    "paren groups under the AND default operator produce"
                    " required group members (a nested all-MUST"
                    " BooleanQuery) — unsupported by the flat spec"
                )
            g_terms: list[str] = []
            g_exp: list[tuple] = []
            for g_occ, g_node in _resolve_occurs(val):
                g_tag, g_val = g_node
                if g_tag == "group":
                    raise ValueError("parser supports one level of grouping")
                if g_occ != "":
                    raise ValueError(
                        "groups are SHOULD-only inside (use +(...)/-(...)"
                        " or AND/NOT before the group to set its occur)"
                    )
                if g_val["kind"] == "phrase":
                    raise ValueError("phrase inside a group is not supported")
                if g_val["kind"] == "range":
                    g_exp.append(
                        ("range",
                         (g_val["lo"], g_val["hi"], g_val["inc_lo"], g_val["inc_hi"]),
                         "", 1.0)
                    )
                else:
                    _word_node(g_val["text"], "", g_terms, g_exp)
            if g_terms or g_exp:
                out.groups.append((occur, g_terms, g_exp))
            continue
        kind = val["kind"]
        if kind == "phrase":
            pairs = phrase_pairs(val["text"])
            if not pairs:
                continue
            if occur == "-":
                raise ValueError("prohibited (-) phrase clause is not supported")
            boost = val["boost"] if val["boost"] is not None else 1.0
            out.phrases.append((pairs, val["slop"], occur, float(boost)))
            continue
        if kind == "range":
            out.expansions.append(
                ("range", (val["lo"], val["hi"], val["inc_lo"], val["inc_hi"]),
                 occur, 1.0)
            )
            continue
        tgt = out.must_not if occur == "-" else out.must if occur == "+" else out.should
        n_before = len(tgt)
        _word_node(val["text"], occur, tgt, out.expansions, out.boosts, val["boost"])
        if len(tgt) > n_before:
            out.term_clauses.append(
                (occur, tgt[-1], float(val["boost"] or 1.0))
            )
    return out


def to_spec(
    searcher: IndexSearcher,
    parsed: ParsedQuery,
    max_terms: int = 16,
    rewrite: str = "constant_score",
) -> BooleanSpec:
    """Resolve multi-term clauses against the term dictionary and build
    the final BooleanSpec — the QueryParser's rewrite step.

    rewrite='constant_score' (the reference DEFAULT —
    QueryParserBase.java:67 sets multiTermRewriteMethod =
    MultiTermQuery.CONSTANT_SCORE_REWRITE on every wildcard / prefix /
    range clause): those clauses become CONSTANT-SCORE clauses — any doc
    matching >=1 dictionary term scores float32(boost), with NO term cap
    (MultiTermQueryConstantScoreWrapper walks all matching terms into a
    doc bitset). Fuzzy clauses keep FuzzyQuery's OWN default rewrite,
    TopTermsBlendedFreqScoringRewrite(50) (FuzzyQuery.java:100): the
    top-50 accepted terms by (fuzzy boost DESC, term ASC), every
    member's df adjusted to the blend MAX, each a BoostQuery(TermQuery)
    under one nested SHOULD group (BlendedTermQuery.BOOLEAN_REWRITE) —
    all pinned vs the compiled reference parser in
    tests/test_lucene_ground_truth.py.

    rewrite='top_terms' (setMultiTermRewriteMethod with the
    SCORING_BOOLEAN rewrite): the r2 behavior — every expansion becomes
    scored SHOULD term clauses capped at max_terms; a '+' expansion
    becomes a required group."""
    from .bm25 import K1, idf_f32
    from .fuzzy import fuzzy_expand_vocab

    import numpy as np

    const_cap = None if rewrite == "constant_score" else max_terms

    def _expand(kind: str, payload) -> list[str]:
        if kind == "wildcard":
            like = payload.replace("*", "%").replace("?", "_")
            return searcher.expand_terms(like=like, max_terms=const_cap)
        if kind == "range":
            lo, hi, inc_lo, inc_hi = payload
            return searcher.expand_terms(
                lower=None if lo == _OPEN else analyze(lo)[0] if analyze(lo) else lo,
                upper=None if hi == _OPEN else analyze(hi)[0] if analyze(hi) else hi,
                include_lower=inc_lo,
                include_upper=inc_hi,
                max_terms=const_cap,
            )
        base, _sep, edits = payload.partition(":")
        return searcher.expand_terms(
            fuzzy=base, max_edits=int(edits), max_terms=max_terms
        )

    def _blended_members(payload, boost: float):
        """FuzzyQuery -> blended (term, weightValue) members."""
        base, _sep, edits = payload.partition(":")
        cands = searcher.fuzzy_dictionary(base, max_edits=int(edits))
        picked = fuzzy_expand_vocab(base, cands, int(edits))
        if not picked:
            return ()
        df_blend = max(df for _t, df, _b in picked)
        idf = idf_f32(df_blend, searcher.doc_count)
        members = []
        for t, _df, b in picked:
            # boosts multiply float32-stepwise down the Weight tree:
            # BoostQuery(outer) -> BoostQuery(fuzzy b_i) -> BM25Stats.
            # normalize weight = (float)(idf * boost), then
            # weightValue = (float)(weight * (k1+1))
            total_b = np.float32(np.float32(boost) * np.float32(b))
            w = np.float32(idf * total_b)
            members.append((t, float(np.float32(w * (K1 + np.float32(1.0))))))
        return tuple(members)

    should = list(parsed.should)
    must = list(parsed.must)
    must_not = list(parsed.must_not)
    # nested clauses (BooleanSpec.groups): (occur, members) with members
    # bare scored terms, ("c", boost, terms) constant-score wrappers and
    # ("w", ((term, wv), ...)) blended fuzzy expansions. A REQUIRED clause
    # whose members all expanded to zero index terms rewrites to
    # MatchNoDocsQuery: a '+' group with no members.
    groups: list[tuple[str, tuple]] = []
    for occ, g_terms, g_exp in parsed.groups:
        if rewrite == "constant_score" and g_exp:
            # a paren group with multi-term members is a nested
            # BooleanQuery whose wildcard/range clauses STILL rewrite
            # CONSTANT_SCORE and whose fuzzy clauses still blend — the
            # parser sets the rewrite on the MultiTermQuery itself,
            # regardless of nesting (QueryParserBase.newRangeQuery /
            # newWildcardQuery); pinned vs the compiled binary in
            # tests/test_lucene_ground_truth.py
            members = list(g_terms)
            for kind, payload, _occ, b in g_exp:
                if kind == "fuzzy":
                    ws = _blended_members(payload, b)
                    if ws:
                        members.append(("w", ws))
                    continue
                ts = tuple(sorted(set(_expand(kind, payload))))
                if ts:
                    members.append(("c", float(b), ts))
        else:
            terms = list(g_terms)
            for kind, payload, _occ, _b in g_exp:
                # top_terms mode: every expansion becomes scoring SHOULD
                # members of the nested BooleanQuery
                terms.extend(sorted(set(_expand(kind, payload))))
            # scored members are distinct: a term named twice scores once
            members = sorted(set(terms))
        if members or occ == "+":
            groups.append((occ, tuple(members)))
    for kind, payload, occur, boost in parsed.expansions:
        if rewrite == "constant_score":
            # one clause: a one-member group (constant-score wrapper or
            # the blended fuzzy expansion)
            if kind == "fuzzy":
                ws = _blended_members(payload, boost)
                members = (("w", ws),) if ws else ()
            else:
                ts = tuple(sorted(set(_expand(kind, payload))))
                members = (("c", float(boost), ts),) if ts else ()
            if members or occur == "+":
                groups.append((occur, members))
            continue
        terms = sorted(set(_expand(kind, payload)))
        if occur == "-":
            must_not.extend(terms)
        elif occur == "+":
            # required multi-term clause: >=1 expanded term must match
            groups.append(("+", tuple(terms)))
        else:
            should.extend(terms)
    return BooleanSpec(
        should=tuple(should),
        must=tuple(must),
        must_not=tuple(must_not),
        phrases=tuple(parsed.phrases),
        boosts=tuple(sorted(parsed.boosts.items())),
        groups=tuple(groups),
    )


#: AnalyzingQueryParser's wildcardPattern (queryparser/analyzing/
#: AnalyzingQueryParser.java:42): gobble escaped chars or find a
#: wildcard-character RUN
_AQP_WILDCARD = re.compile(r"(\\.)|([?*]+)")


class AnalyzingParseError(ValueError):
    """AnalyzingQueryParser.analyzeSingleChunk's ParseException: the
    analyzer returned zero tokens (stop word) or more than one."""


def _analyze_single_chunk(chunk: str) -> str:
    toks = analyze(chunk)
    if not toks:
        raise AnalyzingParseError(f"Analyzer returned nothing for {chunk!r}")
    if len(toks) > 1:
        raise AnalyzingParseError(
            f"Analyzer created multiple terms for {chunk!r}: {toks}"
        )
    return toks[0]


def parse_analyzing(query: str) -> ParsedQuery:
    """AnalyzingQueryParser (queryparser/analyzing/AnalyzingQueryParser
    .java): the classic grammar, but wildcard / prefix / fuzzy / range
    terms are passed THROUGH the analyzer — wildcard terms chunk-wise
    around the '*'/'?' runs (:67-103), fuzzy and prefix terms whole
    (:117-147), range bounds via setAnalyzeRangeTerms(true) (:46, the
    path our classic `to_spec` already applies). A chunk the analyzer
    drops (stop word) or splits raises, as analyzeSingleChunk does.
    Pinned vs the compiled parser in ground-truth round 34."""
    out = parse(query)

    def _wild(payload: str) -> str:
        sb = []
        last = 0
        for m in _AQP_WILDCARD.finditer(payload):
            if m.group(1) is not None:
                continue  # escaped char: chunk boundary not cut here
            if m.start() > last:
                sb.append(_analyze_single_chunk(payload[last:m.start()]))
            sb.append(m.group(2))
            last = m.end()
        if last < len(payload):
            sb.append(_analyze_single_chunk(payload[last:]))
        return "".join(sb)

    def _xform(exp: list[tuple]) -> list[tuple]:
        new = []
        for kind, payload, occur, boost in exp:
            if kind == "wildcard":
                payload = _wild(payload)
            elif kind == "fuzzy":
                base, _sep, ed = payload.partition(":")
                payload = f"{_analyze_single_chunk(base)}:{ed}"
            # range bounds are analyzed by to_spec's _expand already
            new.append((kind, payload, occur, boost))
        return new

    out.expansions = _xform(out.expansions)
    out.groups = [
        (occ, terms, _xform(list(g_exp))) for occ, terms, g_exp in out.groups
    ]
    return out


def parse_and_search(searcher: IndexSearcher, query: str, k: int = 10,
                     analyzing: bool = False, default_operator: str = "or"):
    """QueryParserBase.parse + IndexSearcher.search in one call — the
    reference's demo/SearchFiles.java loop. analyzing=True routes the
    string through AnalyzingQueryParser semantics (multi-term clauses
    analyzed; GT round 34); default_operator='and' is Solr's q.op=AND
    (GT round 38)."""
    parsed = (parse_analyzing(query) if analyzing
              else parse(query, default_operator=default_operator))
    return searcher.topk_spec(to_spec(searcher, parsed), k=k)
