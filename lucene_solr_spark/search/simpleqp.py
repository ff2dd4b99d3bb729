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
  fuzzy -> ("blend", ((term, weight_value), ...)).
"""

from __future__ import annotations

import numpy as np

from .bm25 import K1, idf_f32, idf_sum_f32

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
        out = ("bool", tuple((occ, resolve_tree(sub, searcher_like))
                             for occ, sub in tree[1]))
        if len(tree) > 2:
            out = out + (tree[2],)
        return out
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


def tree_terms(tree) -> set[str]:
    """Every index term the resolved tree touches (for the block scan)."""
    kind = tree[0]
    if kind == "term":
        return {tree[1]}
    if kind == "phrase":
        return {t for t, _off in tree[1]}
    if kind == "const":
        return set(tree[1])
    if kind == "blend":
        return {m[0] for m in tree[1]}
    if kind == "bool":
        out: set[str] = set()
        for _occ, sub in tree[1]:
            out |= tree_terms(sub)
        return out
    if kind == "boosted":
        return tree_terms(tree[2])
    if kind == "boosting":
        return tree_terms(tree[2]) | tree_terms(tree[3])
    if kind == "const_q":
        return tree_terms(tree[1])
    if kind == "dismax":
        out = set()
        for sub in tree[2]:
            out |= tree_terms(sub)
        return out
    if kind == "span":
        out = {t for c in tree[2] for t in c}
        if tree[1] == "not":
            out |= {t for c in tree[4] for t in c}
        return out
    if kind == "gspan":
        from .spans import gspan_term_set

        return gspan_term_set(tree[1])
    return set()


def tree_phrases(tree) -> list[tuple[tuple[tuple[str, int], ...], int]]:
    """Every (pairs, slop) phrase leaf (positions needed at decode)."""
    kind = tree[0]
    if kind == "phrase":
        return [(tree[1], tree[2])]
    if kind == "bool":
        out = []
        for _occ, sub in tree[1]:
            out.extend(tree_phrases(sub))
        return out
    if kind == "boosted":
        return tree_phrases(tree[2])
    if kind == "boosting":
        return tree_phrases(tree[2]) + tree_phrases(tree[3])
    if kind == "const_q":
        return tree_phrases(tree[1])
    if kind == "dismax":
        out = []
        for sub in tree[2]:
            out.extend(tree_phrases(sub))
        return out
    return []


def tree_pos_terms(tree) -> set[str]:
    """Terms whose POSITIONS the evaluator reads (phrase + span leaves)."""
    kind = tree[0]
    if kind == "phrase":
        return {t for t, _off in tree[1]}
    if kind in ("span", "gspan"):
        return tree_terms(tree)
    if kind == "bool":
        out: set[str] = set()
        for _occ, sub in tree[1]:
            out |= tree_pos_terms(sub)
        return out
    if kind == "boosted":
        return tree_pos_terms(tree[2])
    if kind == "boosting":
        return tree_pos_terms(tree[2]) | tree_pos_terms(tree[3])
    if kind == "const_q":
        return tree_pos_terms(tree[1])
    if kind == "dismax":
        out = set()
        for sub in tree[2]:
            out |= tree_pos_terms(sub)
        return out
    return set()


# ---------------------------------------------------------------------------
# evaluation: the Boolean2ScorerSupplier float tree over dense arrays


def eval_tree(tree, ctx, boost=np.float32(1.0)):
    """-> (match bool[n], score float32[n] zeroed where unmatched).
    ctx protocol: n, nb (uint8[n]), doc_count, cache (f32[256] norm
    cache), tf(term)->f32[n], df(term)->int,
    phrase_freq(pairs, slop)->f32[n], span_freq(kind, clauses, slop,
    extra)->f32[n] (only when span leaves occur).

    `boost` is the BoostQuery product threaded down exactly as
    createNormalizedWeight distributes it: each BoostQuery boundary
    multiplies in float32 and leaves fold it into their weight at the
    reference's cast points (BM25Stats.normalize weight = (float)(idf *
    boost), then weightValue = (float)(weight * (k1+1)) — GT round 4;
    ConstantScoreWeight.normalize queryWeight = queryNorm * boost)."""
    kind = tree[0]
    zero = np.float32(0.0)
    if kind == "term":
        tf = ctx.tf(tree[1])
        m = tf > 0
        idf = idf_f32(ctx.df(tree[1]), ctx.doc_count)
        wv = np.float32(np.float32(idf * boost) * (K1 + np.float32(1.0)))
        s = (wv * tf / (tf + ctx.cache[ctx.nb])).astype(np.float32)
        return m, np.where(m, s, zero)
    if kind == "phrase":
        pairs, slop = tree[1], tree[2]
        pf = ctx.phrase_freq(pairs, slop).astype(np.float32)
        # PhraseWeight: one idf per clause OCCURRENCE (repeats re-count)
        idf_sum = idf_sum_f32(
            idf_f32(ctx.df(t), ctx.doc_count) for t, _off in pairs
        )
        wv = np.float32(np.float32(idf_sum * boost) * (K1 + np.float32(1.0)))
        m = pf > 0
        s = (wv * pf / (pf + ctx.cache[ctx.nb])).astype(np.float32)
        return m, np.where(m, s, zero)
    if kind == "span":
        # SpanWeight.buildSimWeight: one idf per DISTINCT term in the
        # term-context map — SpanNot includes BOTH sides' contexts
        _k, skind, clauses, slop, extra = (
            tree[0], tree[1], tree[2], tree[3], tree[4]
        )
        terms = {t for c in clauses for t in c}
        if skind == "not":
            terms |= {t for c in extra for t in c}
        idf_sum = idf_sum_f32(
            idf_f32(ctx.df(t), ctx.doc_count) for t in sorted(terms)
        )
        wv = np.float32(np.float32(idf_sum * boost) * (K1 + np.float32(1.0)))
        pf = ctx.span_freq(skind, clauses, slop, extra).astype(np.float32)
        m = pf > 0
        s = (wv * pf / (pf + ctx.cache[ctx.nb])).astype(np.float32)
        return m, np.where(m, s, zero)
    if kind == "gspan":
        # generalized span tree (surround parser): SpanWeight idf over
        # the distinct terms (TreeMap order), freq from the interval
        # walks (spans.gspan_freq)
        from .spans import gspan_term_set

        terms = sorted(gspan_term_set(tree[1]))
        idf_sum = idf_sum_f32(
            idf_f32(ctx.df(t), ctx.doc_count) for t in terms
        )
        wv = np.float32(np.float32(idf_sum * boost) * (K1 + np.float32(1.0)))
        pf = ctx.span_freq("g", tree[1], 0, None).astype(np.float32)
        m = pf > 0
        s = (wv * pf / (pf + ctx.cache[ctx.nb])).astype(np.float32)
        return m, np.where(m, s, zero)
    if kind == "const":
        m = np.zeros(ctx.n, dtype=bool)
        for t in tree[1]:
            m |= ctx.tf(t) > 0
        return m, np.where(m, np.float32(boost), zero)
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
            tf = ctx.tf(t)
            s = (wv * tf / (tf + ctx.cache[ctx.nb])).astype(np.float32)
            hit = tf > 0
            m |= hit
            acc += np.where(hit, s, zero).astype(np.float64)
        return m, np.where(m, acc.astype(np.float32), zero)
    if kind == "matchall":
        return (np.ones(ctx.n, dtype=bool),
                np.full(ctx.n, np.float32(boost), dtype=np.float32))
    if kind == "boosted":
        # BoostQuery: boost multiplies in FLOAT32 at each wrapper
        return eval_tree(tree[2], ctx, np.float32(boost * np.float32(tree[1])))
    if kind == "const_q":
        # ConstantScoreQuery(q): match = q's match; score = the threaded
        # boost (the wrapped query's own scores are discarded)
        mm, _ss = eval_tree(tree[1], ctx, np.float32(1.0))
        return mm, np.where(mm, np.float32(boost), zero)
    if kind == "boosting":
        # BoostingQuery (queries/BoostingQuery.java): match's scorer
        # drives matching and scoring; when the CONTEXT query also
        # matches, the score is multiplied by the demotion boost in
        # float32 (FilterScorer.score :117-124). The context weight is
        # created with needsScores=false — its own score is discarded.
        bq = np.float32(tree[1])
        m, s = eval_tree(tree[2], ctx, boost)
        cm, _cs = eval_tree(tree[3], ctx, np.float32(1.0))
        s = np.where(cm, (s * bq).astype(np.float32), s)
        return m, np.where(m, s, zero)
    if kind == "dismax":
        # DisjunctionMaxScorer: float32 scoreSum accumulated in clause
        # order; score = max + (sum - max) * tie, float32 ops (GT round 2)
        tie = np.float32(tree[1])
        subs = [eval_tree(s, ctx, boost) for s in tree[2]]
        m = np.zeros(ctx.n, dtype=bool)
        for mm, _ss in subs:
            m |= mm
        mx = np.zeros(ctx.n, dtype=np.float32)
        tot = np.zeros(ctx.n, dtype=np.float32)
        for _mm, ss in subs:
            np.maximum(mx, ss, out=mx)
            tot = (tot + ss).astype(np.float32)
        score = (mx + (tot - mx) * tie).astype(np.float32)
        return m, np.where(m, score, zero)
    if kind != "bool":
        raise ValueError(f"unresolved node {kind!r} (call resolve_tree first)")
    msm = int(tree[2]) if len(tree) > 2 else 0
    req, opt, proh, filt = [], [], [], []
    for occ, sub in tree[1]:
        if occ == "f":
            # FILTER clause: required for matching, never scores —
            # evaluate at boost 1 (needsScores false side)
            filt.append(eval_tree(sub, ctx, np.float32(1.0)))
            continue
        mm, ss = eval_tree(sub, ctx, boost)
        (proh if occ == "-" else req if occ == "+" else opt).append((mm, ss))
    if msm > len(opt):
        # Boolean2ScorerSupplier: more msm than optional clauses -> no hit
        never = np.zeros(ctx.n, dtype=bool)
        return never, np.zeros(ctx.n, dtype=np.float32)
    required_masks = [mm for mm, _ss in req] + [mm for mm, _ss in filt]
    if required_masks:
        match = required_masks[0].copy()
        for mm in required_masks[1:]:
            match &= mm
        needed = msm
    else:
        match = np.ones(ctx.n, dtype=bool)
        needed = max(1, msm)
    if needed > 0:
        hits = np.zeros(ctx.n, dtype=np.int32)
        for mm, _ss in opt:
            hits += mm.astype(np.int32)
        match &= hits >= needed
    for mm, _ss in proh:
        match &= ~mm
    req32 = opt32 = None
    if req:
        a = np.zeros(ctx.n, dtype=np.float64)
        for _mm, ss in req:
            a += ss.astype(np.float64)
        req32 = a.astype(np.float32)
    if opt:
        a = np.zeros(ctx.n, dtype=np.float64)
        for _mm, ss in opt:
            a += ss.astype(np.float64)
        opt32 = a.astype(np.float32)
    if req32 is not None and opt32 is not None:
        score = (req32 + opt32).astype(np.float32)
    elif req32 is not None:
        score = req32
    elif opt32 is not None:
        score = opt32
    else:
        # only FILTER/MUST_NOT clauses: matches score 0 (no scoring clause)
        score = np.zeros(ctx.n, dtype=np.float32)
    return match, np.where(match, score, zero)


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

        def tf(self, _t):
            return np.zeros(1, dtype=np.float32)

        def df(self, _t):
            return 1

        def wv(self, _t):
            return np.float32(1.0)

        def phrase_freq(self, _pairs, _slop):
            return np.zeros(1, dtype=np.float32)

        def span_freq(self, _kind, _clauses, _slop, _extra):
            return np.zeros(1, dtype=np.float32)

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

    def tf(self, t: str) -> np.ndarray:
        post = self.idx.postings.get(t, {})
        return np.array([post.get(int(d), 0) for d in self.docs], dtype=np.float32)

    def df(self, t: str) -> int:
        return len(self.idx.postings.get(t, {}))

    def wv(self, t: str) -> np.float32:
        idf = idf_f32(self.df(t), self.doc_count)
        return np.float32(idf * (K1 + np.float32(1.0)))

    def phrase_freq(self, pairs, slop: int) -> np.ndarray:
        out = np.zeros(self.n, dtype=np.float32)
        pterms = [t for t, _off in pairs]
        if any(t not in self.idx.positions for t in pterms):
            return out
        if slop > 0:
            from .sloppy import sloppy_freq

            for i, d in enumerate(self.docs):
                plists = [self.idx.positions[t].get(int(d), []) for t in pterms]
                if any(not p for p in plists):
                    continue
                f = sloppy_freq(plists, [off for _t, off in pairs], slop,
                                terms=pterms)
                if f > 0:
                    out[i] = f
        else:
            for i, d in enumerate(self.docs):
                base_t, base_off = pairs[0]
                match = [p - base_off
                         for p in self.idx.positions[base_t].get(int(d), [])]
                for t, off in pairs[1:]:
                    pset = {p - off for p in self.idx.positions[t].get(int(d), [])}
                    match = [p for p in match if p in pset]
                    if not match:
                        break
                if match:
                    out[i] = len(match)
        return out

    def _plist(self, alts, d: int) -> list[int]:
        return sorted(
            p for t in alts for p in self.idx.positions.get(t, {}).get(int(d), [])
        )

    def span_freq(self, kind: str, clauses, slop: int, extra) -> np.ndarray:
        """Span leaf freq per doc via the reference walks (search/spans.py)
        — mirrors oracle_topk_spec's span path clause conventions."""
        from .spans import (
            gspan_freq,
            span_first_freq,
            span_not_freq,
            span_ordered_freq,
            span_unordered_freq,
        )

        out = np.zeros(self.n, dtype=np.float32)
        if kind == "g":
            # generalized span tree (surround): clauses IS the snode
            for i, d in enumerate(self.docs):
                out[i] = gspan_freq(
                    clauses,
                    lambda t, _d=int(d): self.idx.positions.get(t, {}).get(_d, []),
                )
            return out
        if kind == "or":
            # merged term spans: freq = total occurrence count
            for i, d in enumerate(self.docs):
                out[i] = sum(
                    len(self.idx.positions.get(t, {}).get(int(d), []))
                    for c in clauses for t in c
                )
            return out
        for i, d in enumerate(self.docs):
            plists = [self._plist(c, d) for c in clauses]
            if any(not pl for pl in plists):
                continue
            if kind == "first":
                out[i] = span_first_freq(plists[0], int(extra))
            elif kind == "not":
                exc = self._plist(tuple(t for c in extra for t in c), d)
                out[i] = span_not_freq(plists, slop, exc)
            elif kind == "near_ord":
                out[i] = span_ordered_freq(plists, slop)
            else:
                out[i] = span_unordered_freq(plists, slop)
        return out


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
    """eval_tree ctx over one doc-range's decoded postings (per_term from
    postings.decode_postings; docs = the union of posting docs — a doc with
    NO query term never reaches here; the complement pass covers it)."""

    def __init__(self, per_term: dict, docs: np.ndarray, nb: np.ndarray,
                 weights: dict, avgdl: float, doc_count: int):
        from .bm25 import norm_cache

        self.per_term = per_term
        self.docs = docs
        self.n = docs.size
        self.nb = nb
        self.doc_count = doc_count
        self.cache = norm_cache(np.float32(avgdl))
        self.weights = weights
        self._tf_cache: dict[str, np.ndarray] = {}

    def tf(self, t: str) -> np.ndarray:
        arr = self._tf_cache.get(t)
        if arr is None:
            arr = np.zeros(self.n, dtype=np.float32)
            ent = self.per_term.get(t)
            if ent is not None:
                d, tfv = ent[0], ent[1]
                arr[np.searchsorted(self.docs, d)] = tfv.astype(np.float32)
            self._tf_cache[t] = arr
        return arr

    def df(self, t: str) -> int:
        return int(self.weights[t]["df"])

    def wv(self, t: str) -> np.float32:
        return np.float32(self.weights[t]["weight_value"])

    def phrase_freq(self, pairs, slop: int) -> np.ndarray:
        from .engine import _exact_phrase_pf, _sloppy_phrase_pf

        if any(t not in self.per_term for t, _off in pairs):
            return np.zeros(self.n, dtype=np.float32)
        if slop > 0:
            pf = _sloppy_phrase_pf(self.per_term, tuple(pairs), self.docs, slop)
        else:
            pf = _exact_phrase_pf(self.per_term, tuple(pairs), self.docs)
        return pf.astype(np.float32)

    def span_freq(self, kind: str, clauses, slop: int, extra) -> np.ndarray:
        """Span leaf freq over the range's decoded positions — per-doc
        sequential like Lucene's own spans, via the reference walks."""
        from .engine import _abs_positions
        from .spans import (
            gspan_freq,
            gspan_term_set,
            span_first_freq,
            span_not_freq,
            span_ordered_freq,
            span_unordered_freq,
        )

        out = np.zeros(self.n, dtype=np.float32)
        if kind == "or":
            for c in clauses:
                for t in c:
                    out += self.tf(t)
            return out
        data = {}
        if kind == "g":
            term_cols = [tuple(sorted(gspan_term_set(clauses)))]
        else:
            aux = list(extra) if kind == "not" else []
            term_cols = list(clauses) + aux
        for c in term_cols:
            for t in c:
                if t in self.per_term and t not in data:
                    data[t] = _abs_positions(self.per_term, t)

        def dslice(t: str, d: int) -> list[int]:
            ent = data.get(t)
            if ent is None:
                return []
            darr, tfv, run_starts, pos_abs = ent
            j = int(np.searchsorted(darr, d))
            if j >= darr.size or darr[j] != d:
                return []
            s = int(run_starts[j])
            return pos_abs[s:s + int(tfv[j])].tolist()

        if kind == "g":
            for i, d in enumerate(self.docs):
                out[i] = gspan_freq(
                    clauses, lambda t, _d=int(d): dslice(t, _d)
                )
            return out

        for i, d in enumerate(self.docs):
            plists = [
                sorted(p for t in c for p in dslice(t, int(d))) for c in clauses
            ]
            if any(not pl for pl in plists):
                continue
            if kind == "first":
                out[i] = span_first_freq(plists[0], int(extra))
            elif kind == "not":
                exc = sorted(
                    p for c in extra for t in c for p in dslice(t, int(d))
                )
                out[i] = span_not_freq(plists, slop, exc)
            elif kind == "near_ord":
                out[i] = span_ordered_freq(plists, slop)
            else:
                out[i] = span_unordered_freq(plists, slop)
        return out


def _make_simple_tree_scorer(tree, weights: dict, avgdl: float,
                             doc_count: int, k: int, deleted=None):
    """Per-(doc-range) applyInPandas scorer evaluating the resolved
    SimpleQueryParser tree (the Boolean2ScorerSupplier recursion) over
    dense arrays; emits this range's k best (doc_id, score)."""
    pos_terms = tree_pos_terms(tree)

    def _score_impl(key, pdf, deleted_local=None):
        import pandas as pd

        from .engine import _EMPTY
        from .postings import decode_postings

        d_arr = deleted_local if deleted_local is not None else deleted
        per_term = decode_postings(pdf, pos_terms=pos_terms)
        if not per_term:
            return _EMPTY
        docs = np.unique(np.concatenate([v[0] for v in per_term.values()]))
        nb = np.zeros(docs.size, dtype=np.uint8)
        for _t, (d, _tf, nbv, _pos) in per_term.items():
            nb[np.searchsorted(docs, d)] = nbv
        ctx = _RangeCtx(per_term, docs, nb, weights, avgdl, doc_count)
        m, s = eval_tree(tree, ctx)
        if d_arr is not None and len(d_arr):
            m &= ~np.isin(docs, d_arr)
        keep = np.nonzero(m)[0]
        if keep.size == 0:
            return _EMPTY
        order = keep[np.lexsort((docs[keep], -s[keep].astype(np.float64)))][:k]
        return pd.DataFrame({
            "doc_id": docs[order].astype("int64"),
            "score": s[order].astype("float32"),
        })

    def score_range(key, pdf):
        return _score_impl(key, pdf)

    from .engine import _cogroup_wrapper

    score_range.cogroup = _cogroup_wrapper(_score_impl)
    return score_range


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
    the term dictionary, scan + tree-score per doc range, complement pass
    for term-free matches, global merge."""
    from pyspark.sql import functions as F

    from .engine import topk_frame

    if tree is None:
        return topk_frame(searcher.spark)
    tree = resolve_tree(tree, searcher)
    terms = sorted(tree_terms(tree))
    weights = searcher.term_weights(terms) if terms else {}
    present = [t for t in terms if weights[t]["df"] > 0]
    empty_match, c = matches_empty_doc(tree)
    parts = []
    if present:
        needs_pos = bool(tree_pos_terms(tree))
        scan_cols = [
            "term", "range_id", "first_doc", "last_doc",
            "docs_buf", "tfs_buf", "norms_buf",
        ] + (["pos_buf"] if needs_pos else [])
        score_fn = _make_simple_tree_scorer(
            tree, weights, float(searcher.avgdl), searcher.doc_count, k,
            deleted=searcher.deleted,
        )
        parts.append(searcher._apply_range_scorer(
            searcher._blocks_for(present), scan_cols, score_fn
        ))
    if empty_match and c > 0:
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
        parts.append(
            docs.orderBy("doc_id").limit(k).select(
                "doc_id",
                F.lit(float(np.float32(c))).cast("float").alias("score"),
            )
        )
    if not parts:
        return topk_frame(searcher.spark)
    out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
