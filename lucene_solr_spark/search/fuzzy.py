"""FuzzyQuery expansion semantics (search/FuzzyQuery.java +
FuzzyTermsEnum.java).

The reference expands a fuzzy term over the dictionary with a
Levenshtein automaton where adjacent-character TRANSPOSITION is a
primitive edit (FuzzyQuery.defaultTranspositions = true, built from the
Mihov/Schulz parametric tables — LevenshteinAutomata.java). That edit
model is the RESTRICTED transposition distance (optimal string
alignment: a transposed pair can't be edited again), NOT the
unrestricted Lowrance-Wagner Damerau distance — verified against the
compiled reference binary in tests/test_lucene_ground_truth.py: for
query "cax" with maxEdits=2 the reference REJECTS "abcx" (unrestricted
DL=2 via transpose-then-insert-inside, OSA=3) while accepting the plain
transpose+substitute cases at 2.

Acceptance + boost (FuzzyTermsEnum.accept, minSimilarity=0,
scale_factor=1 for the int-maxEdits constructor FuzzyQuery uses):
  ed == 0                      -> boost 1.0 (exact match)
  0 < ed <= maxEdits           -> similarity = 1 - ed/min(|cand|, |query|)
                                  accepted only if similarity > 0,
                                  boost = similarity (float32)
so a candidate with ed == min(len) is REJECTED even within maxEdits.
"""

from __future__ import annotations

import numpy as np


def osa_distance(a: str, b: str) -> int:
    """Optimal-string-alignment distance (restricted Damerau): each
    substring may be edited at most once. This is the distance the
    reference's transposition automaton accepts (see module docstring)."""
    la, lb = len(a), len(b)
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1 and j > 1
                and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def fuzzy_accept(query: str, cand: str, max_edits: int) -> tuple[bool, int]:
    """(accepted, edit distance) under FuzzyTermsEnum's rules."""
    ed = osa_distance(query, cand)
    if ed == 0:
        return True, 0
    if ed > max_edits:
        return False, ed
    sim = 1.0 - float(ed) / float(min(len(cand), len(query)))
    return sim > 0.0, ed


def fuzzy_boost(query: str, cand: str, ed: int) -> np.float32:
    """FuzzyTermsEnum.accept boost: 1.0 exact, else the similarity."""
    if ed == 0:
        return np.float32(1.0)
    return np.float32(
        np.float32(1.0)
        - np.float32(ed) / np.float32(min(len(cand), len(query)))
    )


def fuzzy_expand_vocab(
    query: str, vocab_dfs: list[tuple[str, int]], max_edits: int,
    max_expansions: int = 50,
) -> list[tuple[str, int, np.float32]]:
    """Expand `query` over [(term, df)] exactly as FuzzyQuery's
    TopTermsBlendedFreqScoringRewrite collects terms: accept within
    max_edits with similarity > 0, rank by (boost DESC, term ASC —
    TopTermsRewrite.ScoreTerm keeps the lexicographically smaller term
    on equal boosts), cap at max_expansions (defaultMaxExpansions=50).
    Returns [(term, df, boost)]."""
    out = []
    for t, df in vocab_dfs:
        ok, ed = fuzzy_accept(query, t, max_edits)
        if ok:
            out.append((t, df, fuzzy_boost(query, t, ed)))
    out.sort(key=lambda x: (-float(x[2]), x[0]))
    return out[:max_expansions]


def direct_spell_suggest(
    cands: list[tuple[str, int]],
    word: str,
    num_sug: int = 5,
    max_edits: int = 2,
    min_prefix: int = 1,
    accuracy: float = 0.5,
    max_inspections: int = 5,
    docfreq: int = 0,
) -> list[tuple[str, np.float32, int]]:
    """DirectSpellChecker.suggestSimilar core over a (term, df) dictionary
    (suggest/spell/DirectSpellChecker.java:318-385, 403-463). The caller
    is responsible for the query-term gates (minQueryLength, suggest
    mode, maxQueryFrequency) and for handing in a SUPERSET of the
    candidate ball (plain Levenshtein <= 2*max_edits prefilter is safe —
    one transposition costs <= 2 plain edits).

    Faithful structure: an ed<=1 pass with prefix max(minPrefix, 0), then
    — only if it kept fewer than numSug*maxInspections candidates — an
    ed<=maxEdits pass with prefix max(minPrefix, maxEdits-1), each pass a
    bounded PriorityQueue over term-dictionary iteration order (byte
    order): once full, a candidate whose boost <= the queue minimum is
    SKIPPED (ties lose to first-comers, DirectSpellChecker.java:421-423);
    an offered candidate evicts the minimum, ties broken by evicting the
    lexicographically LARGEST term (ScoreTerm.compareTo:505-509 inverts
    term order). Pass results union by term (HashSet<ScoreTerm> equality
    is term equality), then sort score DESC, freq DESC, term ASC
    (SuggestWordScoreComparator) and trim to numSug. Boost == score ==
    1 - ed/min(len) for the internal distance (scale undone at :441)."""
    import heapq

    class _RevStr(str):
        def __lt__(self, other):  # inverted term order inside the PQ
            return str.__gt__(self, other)

    inspections = num_sug * max_inspections
    ordered = sorted(cands)

    def _pass(edit_distance: int, prefix: int) -> dict[str, tuple[np.float32, int]]:
        kept: dict[str, tuple[np.float32, int]] = {}
        heap: list[tuple[np.float32, _RevStr]] = []
        pfx = word[:prefix]
        for term, df in ordered:
            if term == word or not term.startswith(pfx):
                continue
            ed = osa_distance(word, term)
            if ed == 0 or ed > edit_distance:
                continue
            sim = np.float32(
                np.float32(1.0) - np.float32(ed) / np.float32(min(len(term), len(word)))
            )
            if not sim > np.float32(0.0):  # FuzzyTermsEnum accept: sim > minSim(=0)
                continue
            boost = sim
            if len(heap) >= inspections and boost <= heap[0][0]:
                continue  # uncompetitive (checked before df/accuracy)
            if int(df) <= docfreq:
                continue
            score = boost  # INTERNAL_LEVENSHTEIN: boost/scale + minSim
            if score < np.float32(accuracy):
                continue
            heapq.heappush(heap, (boost, _RevStr(term)))
            kept[term] = (score, int(df))
            if len(heap) > inspections:
                _b, evicted = heapq.heappop(heap)
                del kept[str(evicted)]
        return kept

    merged = _pass(1, max(min_prefix, 0))
    if max_edits > 1 and len(merged) < inspections:
        for term, v in _pass(max_edits, max(min_prefix, max_edits - 1)).items():
            merged.setdefault(term, v)
    out = [(t, s, df) for t, (s, df) in merged.items()]
    out.sort(key=lambda x: (-float(x[1]), -x[2], x[0]))
    return out[:num_sug]
