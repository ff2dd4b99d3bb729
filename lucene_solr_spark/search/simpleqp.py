"""SimpleQueryParser — the human-tolerant query syntax
(lucene/queryparser/src/java/org/apache/lucene/queryparser/simple/
SimpleQueryParser.java).

Unlike the classic parser, SimpleQueryParser never errors: operators are
single characters (`+` AND, `|` OR, `-` NOT, `"` phrase, trailing `*`
prefix, `~N` fuzzy / phrase-near, parens), anything malformed degrades
(unclosed quote/paren ignored, junk fuzziness -> 0), and the query tree
grows RIGHT-TO-LEFT: every operation ALTERNATION wraps the current tree
in a new BooleanQuery (buildQueryTree, SimpleQueryParser.java:431-472),
so `a | b + c` is BQ(MUST BQ(SHOULD a, SHOULD b), MUST c).

Faithful fork semantics reproduced here (pinned bit-for-bit vs the
compiled reference in tests/test_lucene_ground_truth.py):

- `-tok` wraps as BQ(MUST_NOT tok, SHOULD MatchAllDocsQuery)
  (:435-440) — so a negation clause MATCHES every doc without the token
  at constant score 1.0 (ConstantScoreWeight; BM25 queryNorm == 1).
- a null branch (e.g. an analyzer that eats the whole token) does NOT
  reset currentOperation — the reset at :470 sits inside the
  `branch != null` guard, so the pending operator silently transfers to
  the NEXT token.
- `"..."~N` slop / `tok~N` fuzziness parse via Integer.parseInt with
  exception-swallow -> 0 (:495-505); fuzziness clamps to
  LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE == 2 and fuzziness 0
  falls back to a plain term (:391-400).
- after a phrase slop, parseFuzziness leaves the index ON the
  terminating char and consumePhrase's `++state.index` SKIPS it — so
  `"a b"~2+c` eats the `+`.
- trailing `*` only (the LAST unescaped char) makes a prefix; FuzzyQuery
  keeps its own TopTermsBlendedFreqScoringRewrite(50) and PrefixQuery
  keeps MultiTermQuery's CONSTANT_SCORE_REWRITE default (score ==
  float32(1.0) for any doc holding >= 1 matching dictionary term).
- scoring follows the Boolean2ScorerSupplier float tree (ground-truth
  round 5): required clauses double-sum in ConjunctionScorer -> f32,
  optional clauses double-sum in DisjunctionSumScorer -> f32,
  ReqOptSumScorer adds the two float32 sides in FLOAT; prohibited
  clauses only mask (ReqExclScorer). BM25 coord == 1 (BooleanWeight
  :71-80 sees no actual coord and disables it).

Node shapes (plain tuples, analyzer applied at PARSE time because null
branches affect operator state):
  ("term", tok) | ("phrase", ((tok, off), ...), slop) |
  ("prefix", raw) | ("fuzzy", raw, edits) | ("matchall",) |
  ("bool", ((occur, node), ...)) with occur "+" MUST / "" SHOULD /
  "-" MUST_NOT.  resolve_tree() rewrites prefix -> ("const", terms) and
  fuzzy -> ("blend", ((term, weight_value), ...)). A phrase position may
  be a tuple of MultiPhraseQuery alternatives. The engine's BooleanSpec
  (engine.spec_tree) adds ("span_node", node) leaves (BooleanSpec.spans'
  node grammar), an ("automaton", (transitions, accepts)) leaf and the
  bool node's optional (msm, coord) tail; SynonymQuery and SpanOrQuery
  over terms are a ("syn", (term, ...), idf) leaf: the terms' tf summed
  per doc, scored as one BM25 term of that idf.
"""

from __future__ import annotations

import numpy as np

from .bm25 import K1, TermWeight, idf_f32, idf_sum_f32
from .sloppy import sloppy_freq
from .spans import (
    gspan_freq,
    gspan_term_set,
    span_alts,
    span_first_freq,
    span_freq,
    span_not_freq,
    span_ordered_freq,
    span_sets,
    span_terms,
    span_unordered_freq,
)

AND_OPERATOR = 1 << 0
NOT_OPERATOR = 1 << 1
OR_OPERATOR = 1 << 2
PREFIX_OPERATOR = 1 << 3
PHRASE_OPERATOR = 1 << 4
PRECEDENCE_OPERATORS = 1 << 5
ESCAPE_OPERATOR = 1 << 6
WHITESPACE_OPERATOR = 1 << 7
FUZZY_OPERATOR = 1 << 8
NEAR_OPERATOR = 1 << 9
ALL_FLAGS = -1

_WS_CHARS = (" ", "\t", "\n", "\r")


def _ws_analyze(text: str) -> list[tuple[str, int]]:
    """Whitespace analysis with sequential positions (the GT harness
    analyzer; the engine passes its own chain)."""
    return [(t, i) for i, t in enumerate(text.split())]


class _State:
    """SimpleQueryParser.State (:632-650): index/length are ABSOLUTE
    bounds into the shared char sequence (length = end index)."""

    __slots__ = ("data", "index", "length", "current_op", "previous_op",
                 "not_count", "top")

    def __init__(self, data: str, index: int, length: int):
        self.data = data
        self.index = index
        self.length = length
        self.current_op: str | None = None   # "+" MUST / "" SHOULD
        self.previous_op: str | None = None
        self.not_count = 0
        self.top = None


def parse_simple(query: str, analyze_fn=None, flags: int = ALL_FLAGS,
                 default_operator: str = ""):
    """parse() (:146-157). Returns the tree or None (MatchNoDocsQuery).
    default_operator: "" SHOULD (the default-OR mode) or "+" MUST."""
    if default_operator not in ("", "+"):
        raise ValueError("default operator must be '' (SHOULD) or '+' (MUST)")
    if analyze_fn is None:
        analyze_fn = _ws_analyze
    state = _State(query, 0, len(query))
    _parse_sub_query(state, flags, default_operator, analyze_fn)
    return state.top


def _parse_sub_query(state: _State, flags: int, default_op: str, analyze_fn):
    """parseSubQuery (:159-218)."""
    while state.index < state.length:
        c = state.data[state.index]
        if c == "(" and flags & PRECEDENCE_OPERATORS:
            _consume_sub_query(state, flags, default_op, analyze_fn)
        elif c == ")" and flags & PRECEDENCE_OPERATORS:
            state.index += 1          # extraneous ')' ignored
        elif c == '"' and flags & PHRASE_OPERATOR:
            _consume_phrase(state, flags, default_op, analyze_fn)
        elif c == "+" and flags & AND_OPERATOR:
            # ignored if an op is already pending or nothing precedes it
            if state.current_op is None and state.top is not None:
                state.current_op = "+"
            state.index += 1
        elif c == "|" and flags & OR_OPERATOR:
            if state.current_op is None and state.top is not None:
                state.current_op = ""
            state.index += 1
        elif c == "-" and flags & NOT_OPERATOR:
            # consecutive '-' negate each other; ANY other char (even
            # whitespace) resets the count below
            state.not_count += 1
            state.index += 1
            continue
        elif c in _WS_CHARS and flags & WHITESPACE_OPERATOR:
            state.index += 1
        else:
            _consume_token(state, flags, default_op, analyze_fn)
        state.not_count = 0


def _consume_sub_query(state: _State, flags: int, default_op: str, analyze_fn):
    """consumeSubQuery (:220-277)."""
    state.index += 1
    start = state.index
    precedence = 1
    escaped = False
    while state.index < state.length:
        if not escaped:
            c = state.data[state.index]
            if c == "\\" and flags & ESCAPE_OPERATOR:
                escaped = True
                state.index += 1
                continue
            elif c == "(":
                precedence += 1
            elif c == ")":
                precedence -= 1
                if precedence == 0:
                    break
        escaped = False
        state.index += 1
    if state.index == state.length:
        # no closing ')' — the '(' is extraneous; reparse from inside
        state.index = start
    elif state.index == start:
        # '()' — the pending op would have applied to it; reset
        state.current_op = None
        state.index += 1
    else:
        sub = _State(state.data, start, state.index)
        _parse_sub_query(sub, flags, default_op, analyze_fn)
        _build_query_tree(state, sub.top, default_op)
        state.index += 1


def _consume_phrase(state: _State, flags: int, default_op: str, analyze_fn):
    """consumePhrase (:279-347)."""
    state.index += 1
    start = state.index
    copied: list[str] = []
    escaped = False
    has_slop = False
    while state.index < state.length:
        if not escaped:
            c = state.data[state.index]
            if c == "\\" and flags & ESCAPE_OPERATOR:
                escaped = True
                state.index += 1
                continue
            elif c == '"':
                if (state.length > state.index + 1
                        and state.data[state.index + 1] == "~"
                        and flags & NEAR_OPERATOR):
                    state.index += 1
                    if state.length > state.index + 1:
                        has_slop = True
                    break
                else:
                    break
        escaped = False
        copied.append(state.data[state.index])
        state.index += 1
    if state.index == state.length:
        state.index = start           # unclosed '"' ignored
    elif state.index == start:
        state.current_op = None       # '""'
        state.index += 1
    else:
        phrase = "".join(copied)
        # argument order matters: parseFuzziness consumes the slop digits
        # even when the phrase analyzes to null
        slop = _parse_fuzziness(state, flags) if has_slop else 0
        branch = _new_phrase_query(phrase, slop, analyze_fn)
        _build_query_tree(state, branch, default_op)
        state.index += 1


def _consume_token(state: _State, flags: int, default_op: str, analyze_fn):
    """consumeToken (:349-415)."""
    copied: list[str] = []
    escaped = False
    prefix = False
    fuzzy = False
    while state.index < state.length:
        if not escaped:
            c = state.data[state.index]
            if c == "\\" and flags & ESCAPE_OPERATOR:
                escaped = True
                prefix = False
                state.index += 1
                continue
            if _token_finished(state, flags):
                break
            if copied and c == "~" and flags & FUZZY_OPERATOR:
                fuzzy = True
                break
            # prefix tracks whether the LAST copied char is an unescaped '*'
            prefix = bool(copied) and c == "*" and bool(flags & PREFIX_OPERATOR)
        escaped = False
        copied.append(state.data[state.index])
        state.index += 1
    if copied:
        token = "".join(copied)
        if fuzzy and flags & FUZZY_OPERATOR:
            fuzziness = min(_parse_fuzziness(state, flags), 2)
            if fuzziness == 0:
                branch = _new_default_query(token, analyze_fn, default_op)
            else:
                # FuzzyQuery keeps the RAW token (newFuzzyQuery :550)
                branch = ("fuzzy", token, fuzziness)
        elif prefix:
            # PrefixQuery keeps the RAW token minus the '*' (:404)
            branch = ("prefix", token[:-1])
        else:
            branch = _new_default_query(token, analyze_fn, default_op)
        _build_query_tree(state, branch, default_op)


def _build_query_tree(state: _State, branch, default_op: str):
    """buildQueryTree (:431-472). NOTE the reference quirk: a null branch
    skips EVERYTHING including the currentOperation reset (:432/:470),
    so a pending operator transfers to the next token."""
    if branch is None:
        return
    if state.not_count % 2 == 1:
        branch = ("bool", (("-", branch), ("", ("matchall",))))
    if state.top is None:
        state.top = branch
    else:
        if state.current_op is None:
            state.current_op = default_op
        if state.previous_op != state.current_op:
            # operation change: the whole current tree becomes one clause
            state.top = ("bool", ((state.current_op, state.top),))
        clauses = state.top[1]
        state.top = ("bool", clauses + ((state.current_op, branch),))
        state.previous_op = state.current_op
    state.current_op = None


def _parse_fuzziness(state: _State, flags: int) -> int:
    """parseFuzziness (:478-508): digits after '~' until tokenFinished;
    Integer.parseInt exceptions swallow to 0; negative -> 0. The index is
    left ON the terminating char (the caller's ++ skips it)."""
    if state.index < state.length and state.data[state.index] == "~":
        chars: list[str] = []
        while state.index < state.length:
            state.index += 1
            if state.index < state.length:
                if _token_finished(state, flags):
                    break
                chars.append(state.data[state.index])
        s = "".join(chars)
        # Python's int() accepts '_' separators; Java's parseInt throws
        if "_" in s:
            return 0
        try:
            f = int(s)
        except ValueError:
            return 0
        return max(f, 0)
    return 0


def _token_finished(state: _State, flags: int) -> bool:
    """tokenFinished (:513-526). '-' never ends a token."""
    c = state.data[state.index]
    return bool(
        (c == '"' and flags & PHRASE_OPERATOR)
        or (c == "|" and flags & OR_OPERATOR)
        or (c == "+" and flags & AND_OPERATOR)
        or (c == "(" and flags & PRECEDENCE_OPERATORS)
        or (c == ")" and flags & PRECEDENCE_OPERATORS)
        or (c in _WS_CHARS and flags & WHITESPACE_OPERATOR)
    )


def _new_default_query(text: str, analyze_fn, default_op: str):
    """newDefaultQuery (:531-545) over a single weight-1.0 field:
    QueryBuilder.createBooleanQuery — 0 tokens -> null, 1 -> TermQuery,
    N -> BooleanQuery with each token at the DEFAULT operator."""
    toks = analyze_fn(text)
    if not toks:
        return None
    if len(toks) == 1:
        return ("term", toks[0][0])
    return ("bool", tuple((default_op, ("term", t)) for t, _p in toks))


def _new_phrase_query(text: str, slop: int, analyze_fn):
    """newPhraseQuery (:567-581): QueryBuilder.createPhraseQuery — 0
    tokens -> null, 1 -> TermQuery, N -> PhraseQuery(slop) with analyzer
    positions (stopword gaps preserved as offsets)."""
    toks = analyze_fn(text)
    if not toks:
        return None
    if len(toks) == 1:
        return ("term", toks[0][0])
    p0 = toks[0][1]
    return ("phrase", tuple((t, p - p0) for t, p in toks), slop)


# ---------------------------------------------------------------------------
# rewrite: resolve multi-term leaves against a term dictionary


def resolve_tree(tree, searcher_like):
    """Rewrite step: ("prefix", p) -> ("const", terms) per
    CONSTANT_SCORE_REWRITE (all matching dictionary terms, no cap);
    ("fuzzy", t, ed) -> ("blend", ((term, weightValue), ...)) per
    TopTermsBlendedFreqScoringRewrite(50) — df blended to the expansion
    max, boost = FuzzyQuery similarity, weightValue float32 stepwise
    (the classic parser's pinned fuzzy path). `searcher_like` needs
    expand_terms(like=...), fuzzy_dictionary(base, max_edits) and
    doc_count."""
    from .fuzzy import fuzzy_expand_vocab

    kind = tree[0]
    if kind == "prefix":
        return ("const", tuple(searcher_like.expand_terms(prefix=tree[1],
                                                          max_terms=None)))
    if kind == "fuzzy":
        base, edits = tree[1], tree[2]
        cands = searcher_like.fuzzy_dictionary(base, max_edits=edits)
        picked = fuzzy_expand_vocab(base, cands, edits)
        if not picked:
            return ("const", ())      # zero-expansion: matches nothing
        df_blend = max(df for _t, df, _b in picked)
        idf = idf_f32(df_blend, searcher_like.doc_count)
        members = []
        for t, _df, b in picked:
            w = np.float32(idf * np.float32(b))
            # (term, weightValue-at-boost-1, fuzzy boost): the third
            # field lets an OUTER BoostQuery recompute the member weight
            # with the reference's f32(B * b) total (GT round 6)
            members.append((
                t, float(np.float32(w * (K1 + np.float32(1.0)))), float(b)
            ))
        return ("blend", tuple(members), float(idf))
    if kind == "bool":
        return ("bool", tuple((occ, resolve_tree(sub, searcher_like))
                              for occ, sub in tree[1])) + tuple(tree[2:])
    if kind == "boosted":
        return ("boosted", tree[1], resolve_tree(tree[2], searcher_like))
    if kind == "boosting":
        return ("boosting", tree[1],
                resolve_tree(tree[2], searcher_like),
                resolve_tree(tree[3], searcher_like))
    if kind == "const_q":
        return ("const_q", resolve_tree(tree[1], searcher_like))
    if kind == "dismax":
        return ("dismax", tree[1],
                tuple(resolve_tree(s, searcher_like) for s in tree[2]))
    if kind == "term_range":
        lo, hi, inc_lo, inc_hi = tree[1]
        return ("const", tuple(searcher_like.expand_terms(
            lower=lo, upper=hi, include_lower=inc_lo, include_upper=inc_hi,
            max_terms=None,
        )))
    if kind == "wildcard":
        like = tree[1].replace("*", "%").replace("?", "_")
        return ("const", tuple(searcher_like.expand_terms(like=like,
                                                          max_terms=None)))
    if kind == "regexp":
        # RegexpQuery under CONSTANT_SCORE_REWRITE: the automaton is
        # ANCHORED (matches the whole term) — expand_terms' rlike/search
        # backends are substring matchers, so anchor here. Callers
        # restrict patterns to the RegExp-core ∩ re syntax subset
        # (literals, . * + ? | () []), where the semantics coincide.
        anchored = f"^(?:{tree[1]})$"
        return ("const", tuple(searcher_like.expand_terms(regexp=anchored,
                                                          max_terms=None)))
    return tree


#: leaves whose matches need a position walk: the bool node verifies
#: them last, on the docs its other clauses left (two-phase iteration)
_POSITIONAL = frozenset(("phrase", "span", "gspan", "span_node", "automaton"))


def _subtrees(tree) -> list:
    """An inner node's child nodes; a leaf has none."""
    kind = tree[0]
    if kind == "bool":
        return [sub for _occ, sub in tree[1]]
    if kind in ("boosted", "boosting"):
        return list(tree[2:])
    if kind == "const_q":
        return [tree[1]]
    if kind == "dismax":
        return list(tree[2])
    return []


def _weight_terms(leaf) -> tuple[str, ...]:
    """A positional leaf's idf terms, in the order its weight sums them.
    PhraseWeight: one TermStatistics per clause OCCURRENCE (a repeated
    term counts again; pinned vs the compiled reference in tests/
    test_lucene_ground_truth.py) and every MultiPhraseQuery alternative,
    df=0 ones included (TermContext.build). SpanWeight and the term
    automaton: the DISTINCT terms of their term->context map, sorted
    (SpanNot/Containing/Within include both sides)."""
    kind = leaf[0]
    if kind == "phrase":
        return tuple(t for c, _off in leaf[1] for t in span_alts(c))
    if kind == "span":
        terms = {t for c in leaf[2] for t in c}
        if leaf[1] == "not":
            terms |= {t for c in leaf[4] for t in c}
    elif kind == "gspan":
        terms = gspan_term_set(leaf[1])
    elif kind == "span_node":
        terms = set(span_terms(leaf[1]))
    else:  # automaton
        terms = {lab for _f, lab, _t in leaf[1][0] if lab}
    return tuple(sorted(terms))


def _leaf_sets(leaf) -> list[tuple[str, ...]]:
    """A positional leaf's approximation: a doc can match only if it
    holds one term of every set (ConjunctionDISI over the clauses'
    union postings)."""
    kind = leaf[0]
    if kind == "phrase":
        return [span_alts(c) for c, _off in leaf[1]]
    if kind == "span" and leaf[1] != "or":
        return [tuple(c) for c in leaf[2]]
    if kind == "span_node":
        return list(span_sets(leaf[1]))
    # SpanOr, a surround span tree, the term automaton: any of its terms
    return [_weight_terms(leaf)]


def tree_terms(tree) -> set[str]:
    """Every index term the resolved tree touches (for the block scan)."""
    kind = tree[0]
    if kind == "term":
        return {tree[1]}
    if kind in ("const", "syn"):
        return set(tree[1])
    if kind == "blend":
        return {m[0] for m in tree[1]}
    if kind in _POSITIONAL:
        return set(_weight_terms(tree))
    out: set[str] = set()
    for sub in _subtrees(tree):
        out |= tree_terms(sub)
    return out


def tree_pos_terms(tree) -> set[str]:
    """Terms whose POSITIONS the evaluator reads (positional leaves)."""
    if tree[0] in _POSITIONAL:
        return set(_weight_terms(tree))
    out: set[str] = set()
    for sub in _subtrees(tree):
        out |= tree_pos_terms(sub)
    return out


# ---------------------------------------------------------------------------
# evaluation: the Boolean2ScorerSupplier float tree

_NONE = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32))
_NO_POSTINGS = _NONE + (np.empty(0, dtype=np.uint8),)


def eval_tree(tree, ctx, boost=np.float32(1.0), cand=None):
    """-> (match bool[n], score float32[n] zeroed where unmatched), over
    the ctx's n docs. The one Boolean evaluator: every tree the engine's
    top-k runner (IndexSearcher._run_tree) scores goes through it — the
    BooleanSpec's (engine.spec_tree); the simpleqp / xmlqp / surround /
    flexible / BoostingQuery trees; and the trees topk_synonym,
    topk_span_or, topk_blended and topk_fuzzy_like_this_ref build.

    ctx protocol:
      n, nb (uint8[n] norm bytes), doc_count, cache (f32[256] BM25 norm
      cache), df(term) -> int;
      postings(term) -> (at int64[], freq[], norm_byte uint8[]): the
      term's docs as ascending positions on the doc axis, O(its
      postings);
      freqs(leaf, at) -> the positional leaf's freq on the docs at `at`
      (only for the positional leaves present);
      scorers: {term: score(freq, norm_byte)}, the similarity's prepared
      scorers with boosts folded in (bm25.SIMILARITIES), used by
      unboosted term leaves; None scores every term leaf as BM25 at its
      threaded boost.

    `boost` is the BoostQuery product threaded down exactly as
    createNormalizedWeight distributes it: each BoostQuery boundary
    multiplies in float32 and leaves fold it into their weight at the
    reference's cast points (BM25Stats.normalize weight = (float)(idf *
    boost), then weightValue = (float)(weight * (k1+1)) — GT round 4;
    ConstantScoreWeight.normalize queryWeight = queryNorm * boost).

    `cand` (bool[n] or None) narrows the docs the caller still needs:
    positional leaves verify positions only there, and a result outside
    it may be incomplete, so the caller masks it."""
    at, s = _eval(tree, ctx, np.float32(boost), cand)
    m = np.zeros(ctx.n, dtype=bool)
    m[at] = True
    score = np.zeros(ctx.n, dtype=np.float32)
    score[at] = s
    return m, score


def _bm25_scorer(ctx, idf, boost):
    """BM25 score(freq, norm_byte) at `idf` and the threaded boost."""
    wv = np.float32(np.float32(idf * boost) * (K1 + np.float32(1.0)))
    return TermWeight("", 0, wv, ctx.cache).score


def _term_scorer(ctx, t: str, boost):
    """The term leaf's score(freq, norm_byte): the prepared similarity
    scorer, or BM25 at the threaded boost."""
    if ctx.scorers is not None and boost == np.float32(1.0):
        return ctx.scorers[t]
    return _bm25_scorer(ctx, idf_f32(ctx.df(t), ctx.doc_count), boost)


def _eval(tree, ctx, boost, cand):
    """eval_tree on sparse results: -> (at int64[] ascending, score
    float32[]) of the matching docs."""
    kind = tree[0]
    if kind == "term":
        at, freq, nb = ctx.postings(tree[1])
        return at, _term_scorer(ctx, tree[1], boost)(freq.astype(np.float32), nb)
    if kind in _POSITIONAL:
        return _eval_positional(tree, ctx, boost, cand)
    if kind == "const":
        m = np.zeros(ctx.n, dtype=bool)
        for t in tree[1]:
            m[ctx.postings(t)[0]] = True
        at = np.flatnonzero(m)
        return at, np.full(at.size, boost, dtype=np.float32)
    if kind == "blend":
        m = np.zeros(ctx.n, dtype=bool)
        acc = np.zeros(ctx.n, dtype=np.float64)
        for member in tree[1]:
            t, wv0 = member[0], member[1]
            if boost != np.float32(1.0):
                # recompute with the reference's total = f32(B * b)
                if len(member) < 3 or len(tree) < 3:
                    raise ValueError("boosted blend needs (t, wv, b) members")
                tb = np.float32(boost * np.float32(member[2]))
                w = np.float32(np.float32(tree[2]) * tb)
                wv = np.float32(w * (K1 + np.float32(1.0)))
            else:
                wv = np.float32(wv0)
            at, freq, nb = ctx.postings(t)
            freq = freq.astype(np.float32)
            m[at] = True
            acc[at] += (wv * freq / (freq + ctx.cache[nb])).astype(np.float32)
        at = np.flatnonzero(m)
        return at, acc[at].astype(np.float32)
    if kind == "syn":
        # SynonymQuery, and SpanOrQuery over terms: one pseudo-term whose
        # freq is the tf summed over the terms, under one weight
        m = np.zeros(ctx.n, dtype=bool)
        tf = np.zeros(ctx.n, dtype=np.float64)
        for t in tree[1]:
            at, freq, _nb = ctx.postings(t)
            m[at] = True
            tf[at] += freq
        at = np.flatnonzero(m)
        return at, _bm25_scorer(ctx, np.float32(tree[2]), boost)(tf[at], ctx.nb[at])
    if kind == "matchall":
        return (np.arange(ctx.n, dtype=np.int64),
                np.full(ctx.n, boost, dtype=np.float32))
    if kind == "boosted":
        # BoostQuery: boost multiplies in FLOAT32 at each wrapper
        return _eval(tree[2], ctx, np.float32(boost * np.float32(tree[1])), cand)
    if kind == "const_q":
        # ConstantScoreQuery(q): match = q's match; score = the threaded
        # boost (the wrapped query's own scores are discarded)
        at, _s = _eval(tree[1], ctx, np.float32(1.0), cand)
        return at, np.full(at.size, boost, dtype=np.float32)
    if kind == "boosting":
        # BoostingQuery (queries/BoostingQuery.java): match's scorer
        # drives matching and scoring; when the CONTEXT query also
        # matches, the score is multiplied by the demotion boost in
        # float32 (FilterScorer.score :117-124). The context weight is
        # created with needsScores=false — its own score is discarded.
        at, s = _eval(tree[2], ctx, boost, cand)
        ctx_at, _cs = _eval(tree[3], ctx, np.float32(1.0), cand)
        demote = np.isin(at, ctx_at)
        return at, np.where(demote, (s * np.float32(tree[1])).astype(np.float32), s)
    if kind == "dismax":
        # DisjunctionMaxScorer: float32 scoreSum accumulated in clause
        # order; score = max + (sum - max) * tie, float32 ops (GT round 2)
        m = np.zeros(ctx.n, dtype=bool)
        mx = np.zeros(ctx.n, dtype=np.float32)
        tot = np.zeros(ctx.n, dtype=np.float32)
        for sub in tree[2]:
            at, s = _eval(sub, ctx, boost, cand)
            m[at] = True
            tot[at] += s
            mx[at] = np.maximum(mx[at], s)
        at = np.flatnonzero(m)
        tie = np.float32(tree[1])
        return at, (mx[at] + (tot[at] - mx[at]) * tie).astype(np.float32)
    if kind != "bool":
        raise ValueError(f"unresolved node {kind!r} (call resolve_tree first)")
    return _eval_bool(tree, ctx, boost, cand)


def _eval_positional(leaf, ctx, boost, cand):
    """A phrase, span or automaton leaf: approximate on postings (one
    term of every set, inside `cand`), verify positions on those docs
    only, score the freq with the leaf's summed-idf BM25 weight."""
    ok = np.ones(ctx.n, dtype=bool) if cand is None else cand.copy()
    for alts in _leaf_sets(leaf):
        hit = np.zeros(ctx.n, dtype=bool)
        for t in alts:
            hit[ctx.postings(t)[0]] = True
        ok &= hit
    at = np.flatnonzero(ok)
    if at.size == 0:
        return _NONE
    freq = np.asarray(ctx.freqs(leaf, at)).astype(np.float32)
    at, freq = at[freq > 0], freq[freq > 0]
    idf_sum = idf_sum_f32(
        idf_f32(ctx.df(t), ctx.doc_count) for t in _weight_terms(leaf)
    )
    return at, _bm25_scorer(ctx, idf_sum, boost)(freq, ctx.nb[at])


def _eval_bool(tree, ctx, boost, cand):
    """BooleanQuery: ("bool", ((occur, node), ...), msm, coord) with
    occur "+" MUST, "" SHOULD, "-" MUST_NOT, "f" FILTER; msm and coord
    are optional. Required clauses double-sum inside ConjunctionScorer
    -> float32, optional clauses double-sum inside DisjunctionSumScorer
    -> float32, and ReqOptSumScorer adds the two float32 sides in FLOAT
    (pinned vs the compiled reference); prohibited clauses only mask
    (ReqExclScorer). Duplicate clauses are separate scorers: each scores
    and counts toward msm. coord (ClassicSimilarity's BooleanWeight.
    coord): the float32 product by overlap / maxOverlap over the TERM
    clauses, skipped when maxOverlap <= 1.

    Each child folds into the accumulators as it is evaluated. Children
    holding a positional leaf run last, on the docs the others left
    (two-phase iteration): every required clause, no prohibited one, and
    the msm cut when no optional child is positional."""
    clauses = tree[1]
    msm = int(tree[2]) if len(tree) > 2 else 0
    n = ctx.n
    occs = [occ for occ, _sub in clauses]
    n_opt, n_req = occs.count(""), occs.count("+") + occs.count("f")
    if msm > n_opt:
        # Boolean2ScorerSupplier: more msm than optional clauses -> no hit
        return _NONE
    needed = msm if n_req else max(1, msm)
    req_hits = np.zeros(n, dtype=np.int32)
    opt_hits = np.zeros(n, dtype=np.int32)
    excluded = np.zeros(n, dtype=bool)
    req_acc = np.zeros(n, dtype=np.float64) if "+" in occs else None
    opt_acc = np.zeros(n, dtype=np.float64) if n_opt else None
    coord_max = 0
    if len(tree) > 3 and tree[3]:
        coord_max = sum(occ in ("", "+") and sub[0] == "term" for occ, sub in clauses)
    overlap = np.zeros(n, dtype=np.int32) if coord_max > 1 else None

    def fold(occ, sub, live):
        at, s = _eval(sub, ctx, np.float32(1.0) if occ == "f" else boost, live)
        if occ == "-":
            excluded[at] = True
            return
        if occ == "":
            opt_hits[at] += 1
            opt_acc[at] += s
        else:
            req_hits[at] += 1
            if occ == "+":
                req_acc[at] += s
        if overlap is not None and occ != "f" and sub[0] == "term":
            overlap[at] += 1

    late = []
    for occ, sub in clauses:
        if tree_pos_terms(sub):
            late.append((occ, sub))
        else:
            fold(occ, sub, cand)
    if late:
        n_seen = n_req - sum(occ in ("+", "f") for occ, _sub in late)
        live = ~excluded & (req_hits == n_seen)
        if cand is not None:
            live &= cand
        if needed and all(occ != "" for occ, _sub in late):
            live &= opt_hits >= needed
        for occ, sub in late:
            fold(occ, sub, live)
            n_seen += occ in ("+", "f")
            live &= ~excluded & (req_hits == n_seen)

    match = ~excluded
    if n_req:
        match &= req_hits == n_req
    if needed:
        match &= opt_hits >= needed
    at = np.flatnonzero(match)
    if req_acc is not None and opt_acc is not None:
        s = req_acc[at].astype(np.float32) + opt_acc[at].astype(np.float32)
    elif req_acc is not None:
        s = req_acc[at].astype(np.float32)
    elif opt_acc is not None:
        s = opt_acc[at].astype(np.float32)
    else:
        # only FILTER/MUST_NOT clauses: matches score 0 (no scoring clause)
        s = np.zeros(at.size, dtype=np.float32)
    if overlap is not None:
        coords = (
            np.arange(coord_max + 1, dtype=np.float32) / np.float32(coord_max)
        ).astype(np.float32)
        s = (s * coords[overlap[at]]).astype(np.float32)
    return at, s


def matches_empty_doc(tree) -> tuple[bool, float]:
    """Evaluate the resolved tree against a doc holding NO query term
    (possible via the MatchAllDocs negation wrapper). Returns (matches,
    float32 score) — when it matches, every term-free doc in the corpus
    matches at exactly this constant."""
    from .bm25 import norm_cache

    class _EmptyCtx:
        n = 1
        nb = np.zeros(1, dtype=np.uint8)
        doc_count = 1
        cache = norm_cache(np.float32(1.0))
        scorers = None

        def postings(self, _t):
            return _NO_POSTINGS

        def df(self, _t):
            return 1

    m, s = eval_tree(tree, _EmptyCtx())
    return bool(m[0]), float(s[0])


# ---------------------------------------------------------------------------
# control oracle (pure python over OracleIndex)


def build_ws_oracle_index(docs: list[tuple[int, str]]):
    """OracleIndex built with PURE WHITESPACE analysis (the GT harness
    chain and build_index(analyzer='whitespace')): no lowercasing, no
    stopwords, punctuation kept inside terms — SimpleQueryParser's escape
    semantics are only observable against such an index."""
    from ..analysis.smallfloat import encode_norm
    from .oracle import OracleIndex

    idx = OracleIndex()
    for doc_id, content in docs:
        toks = (content or "").split()
        idx.doc_count += 1
        idx.sum_ttf += len(toks)
        idx.field_len[doc_id] = len(toks)
        idx.norm_bytes[doc_id] = int(encode_norm(np.array([len(toks)]))[0])
        for p, t in enumerate(toks):
            idx.postings.setdefault(t, {})[doc_id] = (
                idx.postings.get(t, {}).get(doc_id, 0) + 1
            )
            idx.positions.setdefault(t, {}).setdefault(doc_id, []).append(p)
    return idx


def _walk_freqs(leaf, docs, plist) -> np.ndarray:
    """Per-doc span walks (search/spans.py) of a span leaf on `docs`:
    plist(alts, doc) -> the doc's ascending positions of the union of
    the alternatives. Leaves: ("span_node", node) (BooleanSpec.spans),
    ("gspan", snode) (surround) and ("span", kind, clauses, slop, extra)
    (xmlqp / simpleqp: kinds or, first, not, near_ord, near_unord)."""
    out = np.zeros(len(docs), dtype=np.float32)
    for i, d in enumerate(docs.tolist()):
        if leaf[0] == "span_node":
            out[i] = span_freq(leaf[1], lambda alts: plist(alts, d))
            continue
        if leaf[0] == "gspan":
            out[i] = gspan_freq(leaf[1], lambda t: plist((t,), d))
            continue
        _k, kind, clauses, slop, extra = leaf
        if kind == "or":
            # merged term spans: freq = total occurrence count
            out[i] = sum(len(plist((t,), d)) for c in clauses for t in c)
            continue
        plists = [plist(tuple(c), d) for c in clauses]
        if any(not pl for pl in plists):
            continue
        if kind == "first":
            out[i] = span_first_freq(plists[0], int(extra))
        elif kind == "not":
            exc = plist(tuple(t for c in extra for t in c), d)
            out[i] = span_not_freq(plists, slop, exc)
        elif kind == "near_ord":
            out[i] = span_ordered_freq(plists, slop)
        else:
            out[i] = span_unordered_freq(plists, slop)
    return out


class _OracleCtx:
    """eval_tree ctx over an OracleIndex, ALL docs as candidates."""

    def __init__(self, idx, docs: np.ndarray):
        from .bm25 import norm_cache

        self.idx = idx
        self.docs = docs
        self.n = docs.size
        self.nb = np.array([idx.norm_bytes[int(d)] for d in docs], dtype=np.uint8)
        self.doc_count = idx.doc_count
        self.cache = norm_cache(idx.avgdl)
        self.scorers = None

    def postings(self, t: str):
        post = self.idx.postings.get(t, {})
        d = np.array(sorted(post), dtype=np.int64)
        at = np.searchsorted(self.docs, d)
        ok = at < self.n
        ok[ok] = self.docs[at[ok]] == d[ok]
        at = at[ok]
        tf = np.array([post[int(x)] for x in d[ok]], dtype=np.float32)
        return at, tf, self.nb[at]

    def df(self, t: str) -> int:
        return len(self.idx.postings.get(t, {}))

    def _plist(self, alts, d: int) -> list[int]:
        return sorted(
            p for t in alts for p in self.idx.positions.get(t, {}).get(int(d), [])
        )

    def _phrase_pf(self, positions, slop: int, d: int):
        """One doc's phrase freq: a position's occurrences are the union
        of its alternatives' (a set: stacked alternatives count once);
        slop > 0 is the Lucene-exact SloppyPhraseScorer (search/
        sloppy.py)."""
        sets = [span_alts(c) for c, _off in positions]
        plists = [self._plist(alts, d) for alts in sets]
        if any(not p for p in plists):
            return 0
        if slop > 0:
            return sloppy_freq(plists, [off for _c, off in positions], slop,
                               terms=sets)
        match = {p - positions[0][1] for p in plists[0]}
        for pl, (_c, off) in zip(plists[1:], positions[1:]):
            match &= {p - off for p in pl}
        return len(match)

    def freqs(self, leaf, at: np.ndarray) -> np.ndarray:
        docs = self.docs[at]
        if leaf[0] == "phrase":
            return np.array(
                [self._phrase_pf(leaf[1], leaf[2], d) for d in docs.tolist()],
                dtype=np.float32,
            )
        if leaf[0] == "automaton":
            raise ValueError(
                "the term automaton's control is oracle_term_automaton_topk"
            )
        return _walk_freqs(leaf, docs, self._plist)


class _OracleDict:
    """resolve_tree's searcher_like over an OracleIndex."""

    def __init__(self, idx):
        self.idx = idx
        self.doc_count = idx.doc_count

    def expand_terms(self, *, prefix: str | None = None, like: str | None = None,
                     regexp: str | None = None,
                     lower: str | None = None, upper: str | None = None,
                     include_lower: bool = True, include_upper: bool = True,
                     max_terms=None):
        import re as _re

        terms = sorted(self.idx.postings)
        if prefix is not None:
            terms = [t for t in terms if t.startswith(prefix)]
        if like is not None:
            rx = "".join(
                ".*" if c == "%" else "." if c == "_" else _re.escape(c)
                for c in like
            )
            terms = [t for t in terms if _re.fullmatch(rx, t)]
        if regexp is not None:
            terms = [t for t in terms if _re.fullmatch(regexp, t)]
        if lower is not None:
            terms = [t for t in terms
                     if (t >= lower if include_lower else t > lower)]
        if upper is not None:
            terms = [t for t in terms
                     if (t <= upper if include_upper else t < upper)]
        return terms if max_terms is None else terms[:max_terms]

    def fuzzy_dictionary(self, _base: str, max_edits: int = 2):
        return [(t, len(self.idx.postings[t])) for t in sorted(self.idx.postings)]


def oracle_topk_tree(idx, tree, k: int = 10) -> list[tuple[int, np.float32]]:
    """Resolve + evaluate a query tree over an OracleIndex (all docs as
    candidates): top-k (doc_id, float32 score), score DESC / doc ASC."""
    if tree is None:
        return []
    tree = resolve_tree(tree, _OracleDict(idx))
    docs = np.array(sorted(idx.norm_bytes), dtype=np.int64)
    if docs.size == 0:
        return []
    m, s = eval_tree(tree, _OracleCtx(idx, docs))
    keep = np.nonzero(m)[0]
    if keep.size == 0:
        return []
    order = keep[np.lexsort((docs[keep], -s[keep].astype(np.float64)))]
    return [(int(docs[i]), np.float32(s[i])) for i in order[:k]]


def simple_topk(idx, query: str, k: int = 10, default_operator: str = "",
                flags: int = ALL_FLAGS,
                analyze_fn=None) -> list[tuple[int, np.float32]]:
    """Control oracle: SimpleQueryParser parse + search over an
    OracleIndex (whitespace analysis by default — the GT harness chain;
    pass analyze_fn to mirror another index chain), top-k
    (doc_id, float32 score), score DESC / doc ASC."""
    tree = parse_simple(query, analyze_fn=analyze_fn, flags=flags,
                        default_operator=default_operator)
    return oracle_topk_tree(idx, tree, k=k)


# ---------------------------------------------------------------------------
# Spark engine execution


def _analyzer_with_positions(analyzer_name: str):
    """[(token, position)] through the index's own chain — positions
    follow the INDEX's convention (standard chain: stop-filter gaps kept,
    matching analyze_with_positions; named chains: sequential over
    surviving tokens, matching their build path)."""
    if analyzer_name == "standard":
        from ..analysis.tokenizer import ENGLISH_STOP_WORDS, _tokenize_lowered

        def fn(text: str) -> list[tuple[str, int]]:
            return [
                (t, i)
                for i, t in enumerate(_tokenize_lowered(text))
                if t not in ENGLISH_STOP_WORDS
            ]

        return fn

    from ..analysis.tokenizer import analyze_as

    def fn(text: str) -> list[tuple[str, int]]:
        return list(enumerate(analyze_as(analyzer_name, text)))

    def swapped(text: str) -> list[tuple[str, int]]:
        return [(t, i) for i, t in fn(text)]

    return swapped


class _RangeCtx:
    """eval_tree ctx over decoded postings (per_term from postings.
    decode_postings), built by the top-k runner's scorer (engine.
    _make_range_scorer): a range group's on the distributed plan, the
    whole scan's on the driver plan. The doc axis is the union of the
    postings' docs, so a doc with NO query term never reaches here (the
    complement pass of spark_topk_tree covers it) and the arrays are at
    most the scan's posting count wide. weights: term -> {df, ...};
    scorers: the prepared similarity scorers, or None (BM25)."""

    def __init__(self, per_term: dict, weights: dict, avgdl: float,
                 doc_count: int, scorers: dict | None = None):
        from .bm25 import norm_cache

        self.per_term = per_term
        self.docs = np.unique(np.concatenate(
            [p[0] for p in per_term.values()] or [np.empty(0, dtype=np.int64)]
        ))
        self.n = self.docs.size
        self.at = {t: np.searchsorted(self.docs, p[0]) for t, p in per_term.items()}
        self.nb = np.zeros(self.n, dtype=np.uint8)
        for t, p in per_term.items():
            self.nb[self.at[t]] = p[2]
        self.doc_count = doc_count
        self.cache = norm_cache(np.float32(avgdl))
        self.weights = weights
        self.scorers = scorers

    def postings(self, t: str):
        p = self.per_term.get(t)
        if p is None:
            return _NO_POSTINGS
        return self.at[t], p[1], p[2]

    def df(self, t: str) -> int:
        return int(self.weights[t]["df"])

    def freqs(self, leaf, at: np.ndarray) -> np.ndarray:
        """The engine's position walks over the decoded positions."""
        from .engine import (
            _abs_positions,
            _doc_positions,
            _exact_phrase_pf,
            _sloppy_phrase_pf,
            _span_posrange_freqs,
            _term_automaton_freqs,
        )

        docs = self.docs[at]
        kind = leaf[0]
        if kind == "phrase":
            if leaf[2] > 0:
                return _sloppy_phrase_pf(self.per_term, leaf[1], docs, leaf[2])
            return _exact_phrase_pf(self.per_term, leaf[1], docs)
        if kind == "automaton":
            return _term_automaton_freqs(self.per_term, leaf[1], docs)
        if kind == "span_node" and leaf[1][0] == "range":
            return _span_posrange_freqs(self.per_term, leaf[1], docs)
        abs_cache = {
            t: _abs_positions(self.per_term, t)
            for t in tree_pos_terms(leaf) if t in self.per_term
        }
        return _walk_freqs(
            leaf, docs, lambda alts, d: _doc_positions(abs_cache, alts, d)
        )


def spark_topk_simple(searcher, query: str, k: int = 10,
                      default_operator: str = "", flags: int = ALL_FLAGS):
    """IndexSearcher.search(SimpleQueryParser.parse(query), k) on Spark:
    the postings scan scores every doc holding >= 1 query term through
    the tree scorer; when the tree matches a TERM-FREE doc (possible via
    the `-tok` MatchAllDocs wrapper) those docs all score one constant,
    served by an anti-join complement pass over the row store — no
    corpus-wide matchall scan unless the query's semantics demand one."""
    tree = parse_simple(
        query, analyze_fn=_analyzer_with_positions(searcher.analyzer),
        flags=flags, default_operator=default_operator,
    )
    return spark_topk_tree(searcher, tree, k=k)


def spark_topk_tree(searcher, tree, k: int = 10):
    """Execute any (unresolved) query tree on the engine: resolve against
    the term dictionary, score the docs holding a query term through the
    top-k runner (IndexSearcher._run_tree, which picks the driver or the
    distributed plan), complement pass for term-free matches, global
    merge."""
    from pyspark.sql import functions as F

    from .engine import topk_frame

    if tree is None:
        return topk_frame(searcher.spark)
    tree = resolve_tree(tree, searcher)
    weights = searcher.term_weights(sorted(tree_terms(tree)))
    hits = searcher._run_tree(tree, weights, k)
    empty_match, c = matches_empty_doc(tree)
    if not (empty_match and c > 0):
        return hits
    present = sorted(t for t, w in weights.items() if w["df"] > 0)
    docs = searcher.spark.read.parquet(searcher.paths.docs).select("doc_id")
    if present:
        posted = searcher._posting_doc_ids(present).select("doc_id").distinct()
        docs = docs.join(posted, "doc_id", "left_anti")
    if searcher.deleted is not None and len(searcher.deleted):
        docs = docs.filter(
            ~F.col("doc_id").isin([int(d) for d in searcher.deleted])
        )
    if searcher.deleted_df is not None:
        docs = docs.join(searcher.deleted_df, "doc_id", "left_anti")
    term_free = docs.orderBy("doc_id").limit(k).select(
        "doc_id", F.lit(float(np.float32(c))).cast("float").alias("score"),
    )
    return (
        hits.unionByName(term_free)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    )
