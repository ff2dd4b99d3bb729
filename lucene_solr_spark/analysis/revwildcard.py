"""ReversedWildcardFilter / ReverseStringFilter — leading-wildcard
acceleration via reversed index terms.

References:
  solr/core/src/java/org/apache/solr/analysis/ReversedWildcardFilter.java
  solr/core/src/java/org/apache/solr/analysis/ReversedWildcardFilterFactory.java
  lucene/analysis/common/src/java/org/apache/lucene/analysis/reverse/
    ReverseStringFilter.java
  solr/core/src/java/org/apache/solr/parser/SolrQueryParserBase.java:776-793
    (the query-side automaton concat-marker-then-reverse, and the
    marker-prefix false-positive subtraction when NOT reversing)

Semantics (pinned bit-for-bit vs the compiled classes, GT round 48):

* ReversedWildcardFilter (INDEX side, withOriginal=true): for each
  input token, emit the REVERSED token first — marker char prepended,
  i.e. reverse(token + marker) — carrying the token's ORIGINAL posInc,
  then the original token at posInc 0 (both at the same position;
  ReversedWildcardFilter.java:54-79).  Zero-length tokens pass through
  unreversed and unmarked.  The reversal keeps UTF-16 surrogate pairs
  in order (the modified Harmony reverse0), which for well-formed
  strings equals Python's code-point reversal.

* shouldReverse (QUERY side, ReversedWildcardFilterFactory.java:99-133):
  a wildcard query term is answered from the reversed terms when its
  leading wildcard position clears the knobs — '?' before
  maxPosQuestion, '*' before maxPosAsterisk, or any wildcard before
  maxFractionAsterisk of the length — and at least minTrailing chars
  follow the last wildcard.

* Query rewrite (SolrQueryParserBase.getWildcardQuery): reversed →
  the pattern automaton is concatenated with the marker and reversed,
  which in pattern space is reverse(pattern + marker) — the leading
  part becomes CONCRETE, so the term-dictionary scan is a sargable
  prefix (parquet row-group pruning) instead of a full-dictionary
  walk.  Not reversed → candidates matching marker+anything are
  subtracted (false positives from the reversed twins).

At 100 TB this is the difference between opening every term-stats
row group for '*ing' and opening only the ones whose [min,max] term
range can contain '\\u0001gni…'.
"""

from __future__ import annotations

#: ReverseStringFilter.START_OF_HEADING_MARKER — the factory default
MARKER = "\u0001"

Token = tuple[str, int, int, int, int, str]


def java_reverse(s: str) -> str:
    """ReverseStringFilter.reverse: UTF-16 reversal keeping surrogate
    pairs in order == Python code-point reversal for well-formed
    strings (a Python str indexes code points, so an astral char is one
    unit here and a kept-together pair there)."""
    return s[::-1]


def reverse_stream(tokens, marker: str | None = None) -> list[Token]:
    """ReverseStringFilter over attribute tuples: every token reversed
    in place (offsets untouched), optionally marker-prepended."""
    out: list[Token] = []
    for term, pinc, plen, s, e, typ in tokens:
        rev = java_reverse(term + (marker or ""))
        out.append((rev, pinc, plen, s, e, typ))
    return out


def reversed_wildcard_stream(
    tokens, with_original: bool = True, marker: str = MARKER
) -> list[Token]:
    """ReversedWildcardFilter over attribute tuples: reversed+marked
    token first with the original posInc, then (withOriginal) the
    original at posInc 0.  Zero-length terms pass through."""
    out: list[Token] = []
    for term, pinc, plen, s, e, typ in tokens:
        if not term:
            out.append((term, pinc, plen, s, e, typ))
            continue
        out.append((java_reverse(term + marker), pinc, plen, s, e, typ))
        if with_original:
            out.append((term, 0, plen, s, e, typ))
    return out


def should_reverse(
    token: str,
    max_pos_asterisk: int = 2,
    max_pos_question: int = 1,
    min_trailing: int = 2,
    max_fraction_asterisk: float = 0.0,
) -> bool:
    """ReversedWildcardFilterFactory.shouldReverse (:99-133), the
    factory defaults: asterisks at 1-based positions 1-2 and question
    marks at position 1 trigger reversal when >=2 chars trail the last
    wildcard."""
    pos_q = token.find("?")
    pos_a = token.find("*")
    if pos_q == -1 and pos_a == -1:
        return False
    last_pos = max(token.rfind("?"), token.rfind("*"))
    if pos_q != -1:
        pos = min(pos_q, pos_a) if pos_a != -1 else pos_q
    else:
        pos = pos_a
    if len(token) - last_pos < min_trailing:
        return False
    if pos_q != -1 and pos_q < max_pos_question:
        return True
    if pos_a != -1 and pos_a < max_pos_asterisk:
        return True
    return max_fraction_asterisk > 0.0 and pos < len(token) * max_fraction_asterisk


def rewrite_reversed_pattern(pattern: str, marker: str = MARKER) -> str:
    """The automaton concat-marker-then-reverse in PATTERN space:
    reverse(pattern + marker).  '*' and '?' are single automaton
    operators, so they ride the reversal unchanged
    (SolrQueryParserBase.java:783-784)."""
    return java_reverse(pattern + marker)


def concrete_prefix(pattern: str) -> str:
    """Leading literal run of a wildcard pattern (the sargable part)."""
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


def _pattern_regex(pattern: str) -> str:
    """Anchored regex for a '*'/'?' wildcard pattern."""
    import re

    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
    return "^(?:" + "".join(parts) + ")$"


def register_reversed_wildcard_analyzer(
    name: str, with_original: bool = True, marker: str = MARKER
) -> None:
    """Register a 'WhitespaceTokenizer -> LowerCaseFilter ->
    ReversedWildcardFilter' chain under `name`.  Like the reference
    factory, the SAME registration drives both the index build (the
    reversed twins reach the index through the POSINC path — posInc 0
    originals stack at the reversed token's position) and the
    query-side leading-wildcard decision (leading_wildcard_topk reads
    the spec back from DYNAMIC_CHAINS)."""
    from .commongrams import _ws_tokens_with_attrs
    from .tokenizer import ANALYZERS, DYNAMIC_CHAINS, POSINC_STREAMS, _java_lower

    def stream(text: str) -> list[tuple[str, int]]:
        toks = [
            (_java_lower(t), pi, pl, s, e, ty)
            for t, pi, pl, s, e, ty in _ws_tokens_with_attrs(text)
        ]
        return [
            (t, pi)
            for t, pi, _pl, _s, _e, _ty in reversed_wildcard_stream(
                toks, with_original, marker
            )
        ]

    def flat(text: str) -> list[str]:
        return [t for t, _pi in stream(text)]

    ANALYZERS[name] = (flat, False, False, None)
    POSINC_STREAMS[name] = stream
    DYNAMIC_CHAINS[name] = ("revwildcard", with_original, marker)


def expand_leading_wildcard(
    searcher, pattern: str, marker: str = MARKER, **knobs
) -> tuple[list[str], bool]:
    """Wildcard expansion over a reversed-wildcard index's term
    dictionary -> (matching index terms, used_reverse).

    shouldReverse -> match REVERSED terms by reverse(pattern + marker):
    the leading run is concrete, so the scan is prefix-sargable
    (parquet min/max pruning — the whole point of the chain).
    Otherwise match original terms, subtracting the marker-prefixed
    reversed twins (SolrQueryParserBase.java:786-792's automaton
    minus)."""
    from pyspark.sql import functions as F

    use_rev = should_reverse(pattern, **knobs)
    pat = rewrite_reversed_pattern(pattern, marker) if use_rev else pattern
    df = searcher._term_stats.select("term")
    head = concrete_prefix(pat)
    if head:
        df = df.filter(F.col("term").startswith(head))
    if not use_rev:
        # remove reversed-twin false positives (marker + anything)
        df = df.filter(~F.col("term").startswith(marker))
    df = df.filter(F.col("term").rlike(_pattern_regex(pat)))
    return [r["term"] for r in df.orderBy("term").collect()], use_rev


def leading_wildcard_topk(searcher, pattern: str, k: int = 10, boost: float = 1.0):
    """CONSTANT_SCORE_REWRITE execution of a wildcard query against a
    reversed-wildcard index (score == float32(boost) for any doc
    holding >=1 matching term, ties doc ASC — the classic parser's
    default multi-term semantics, already pinned in GT round 6)."""
    from .tokenizer import _java_lower
    from ..search.engine import BooleanSpec

    terms, _used = expand_leading_wildcard(searcher, _java_lower(pattern))
    spec = BooleanSpec(groups=(("", (("c", boost, tuple(terms)),)),))
    return searcher.topk_spec(spec, k=k)
