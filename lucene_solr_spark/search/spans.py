"""Span queries over term clauses: SpanNearQuery (ordered / unordered),
SpanNotQuery, SpanContainingQuery, SpanWithinQuery and
SpanPositionRangeQuery (SpanFirstQuery is its lo = 0 case), plus the
span clause nodes of BooleanSpec.spans that name them.

Reference semantics (lucene/core/src/java/org/apache/lucene/search/spans/):

* NearSpansOrdered.java:60-120 — for each start position of clause 0,
  advance each later clause's PERSISTENT cursor to the first position
  >= previous clause's end; matchWidth = sum of inter-clause gaps; a
  match is emitted when matchWidth <= slop. Because the cursors only
  move forward and each lands on min(pos > prev_end), the walk equals
  the from-scratch greedy chain t_i = min(pos_i > t_{i-1}) — the closed
  form `span_ordered_freq` implements (and the SQL oracle mirrors).
* NearSpansUnordered.java:150-268 — a priority queue over the clauses'
  current spans ordered by (start, end); matches whenever
  max_end - min_start - totalSpanLength <= slop, emitting width =
  max_start - min_start after every single advance of the min cell.
  `span_unordered_matches` reproduces the walk EXACTLY, including the
  same-position repeats case (two clauses holding the same occurrence —
  overlapping alternative sets / repeated clauses) where the (start,
  end) tie falls to util/PriorityQueue.java's internal sift layout
  (`_SpanPositionQueue`), deterministic given query-order insertion.
  For TWO DISJOINT term clauses the visited configurations are exactly
  the pairs (x in A, y in B) with nextA(x) > y and nextB(y) > x (the
  classic merge-walk frontier), giving `span_unordered_freq_2` —
  property-tested against the queue walks.
* SpanNotQuery.java / SpanContainingQuery.java / SpanWithinQuery.java —
  filter the ordered near's spans by another side's occurrences
  (`span_not_freq`, `span_containing_freq`, `span_within_freq`,
  `span_not_span_freq`).
* SpanPositionRangeQuery.java — accept spans with startPosition >= lo
  and endPosition <= hi; for a term clause freq = count of positions
  with lo <= pos and pos+1 <= hi (each accepted span has width 0).
  SpanFirstQuery.java:30-44 is the lo = 0 case.
* SpanScorer.java:84-118 — freq += sloppyFreq(width) = 1/(width+1) per
  match, accumulated in float32; the doc scores through the same BM25
  formula with the span weight (idf summed over the clauses' DISTINCT
  terms — SpanWeight.buildSimWeight uses a term->context map, unlike
  PhraseWeight's per-position array).
"""

from __future__ import annotations

import heapq

import numpy as np


def span_ordered_matches(plists: list[list[int]], slop: int):
    """NearSpansOrdered matches for one doc over term clauses (in query
    order; repeated terms simply reuse the same position list):
    yields (start, end, width) per emitted span."""
    n = len(plists)
    if any(len(p) == 0 for p in plists):
        return
    if n == 1:
        for p in plists[0]:
            yield (p, p + 1, 0)
        return
    cursors = [0] * n
    for p0 in plists[0]:
        prev_end = p0 + 1
        width = 0
        dead = False
        for i in range(1, n):
            pl = plists[i]
            c = cursors[i]
            while c < len(pl) and pl[c] < prev_end:
                c += 1
            cursors[i] = c
            if c >= len(pl):
                dead = True
                break
            width += pl[c] - prev_end
            prev_end = pl[c] + 1
        if dead:
            return  # oneExhaustedInCurrentDoc: no later p0 can complete
        if width <= slop:
            yield (p0, prev_end, width)


def span_ordered_freq(plists: list[list[int]], slop: int) -> np.float32:
    """NearSpansOrdered freq: Σ 1/(width+1) over emitted spans."""
    freq = np.float32(0.0)
    for _s, _e, width in span_ordered_matches(plists, slop):
        freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
    return freq


def span_not_freq(
    plists: list[list[int]], slop: int, exclude: list[int]
) -> np.float32:
    """SpanNotQuery (spans/SpanNotQuery.java, pre=post=0) over an ordered
    SpanNear include and a term exclude: accept include spans whose
    [start, end) does not contain an exclude occurrence; freq over the
    accepted spans only (FilterSpans drops rejected spans before the
    scorer sees them)."""
    import bisect

    freq = np.float32(0.0)
    for s, e, width in span_ordered_matches(plists, slop):
        j = bisect.bisect_left(exclude, s)
        if j < len(exclude) and exclude[j] < e:
            continue  # an exclude occurrence overlaps the span
        freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
    return freq


def span_containing_freq(
    plists: list[list[int]], slop: int, little: list[int]
) -> np.float32:
    """SpanContainingQuery (spans/SpanContainingQuery.java): BIG spans
    (the ordered near over plists) that CONTAIN an occurrence of the
    little term; each accepted big span scores with its own width
    (ContainSpans emits the big side)."""
    import bisect

    freq = np.float32(0.0)
    for s, e, width in span_ordered_matches(plists, slop):
        j = bisect.bisect_left(little, s)
        if j < len(little) and little[j] < e:
            freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
    return freq


def span_within_freq(
    plists: list[list[int]], slop: int, little: list[int]
) -> np.float32:
    """SpanWithinQuery (spans/SpanWithinQuery.java): LITTLE term
    occurrences that lie within some big (ordered near) span; each
    accepted little span has width 0 (ContainSpans emits the little
    side), so freq = count of contained occurrences."""
    spans = list(span_ordered_matches(plists, slop))
    if not spans:
        return np.float32(0.0)
    freq = np.float32(0.0)
    for p in little:
        if any(s <= p < e for s, e, _w in spans):
            freq = np.float32(freq + np.float32(1.0))
    return freq


def _span_unordered_freq_tiefree(
    plists: list[list[int]], slop: int
) -> np.float32:
    """NearSpansUnordered freq via a plain heapq walk — valid only when
    clause position lists are pairwise DISJOINT (no two cells can tie on
    (start, end), so heap tie order never matters). Kept as the
    independent cross-check for `span_unordered_matches` on disjoint
    inputs (tests/test_spans.py)."""
    n = len(plists)
    if any(len(p) == 0 for p in plists):
        return np.float32(0.0)
    if n == 1:
        return np.float32(len(plists[0]))
    cursors = [1] * n
    heap = [(pl[0], pl[0] + 1, i) for i, pl in enumerate(plists)]
    heapq.heapify(heap)
    max_end = max(h[1] for h in heap)

    def at_match() -> bool:
        return max_end - heap[0][0] - n <= slop

    freq = np.float32(0.0)

    def advance_min() -> bool:
        nonlocal max_end
        _s, _e, i = heap[0]
        c = cursors[i]
        if c >= len(plists[i]):
            return False
        p = plists[i][c]
        cursors[i] = c + 1
        heapq.heapreplace(heap, (p, p + 1, i))
        if p + 1 > max_end:
            max_end = p + 1
        return True

    # two-phase: advance to the first match
    while not at_match():
        if not advance_min():
            return freq
    while True:
        width = (max_end - 1) - heap[0][0]
        freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
        while True:
            if not advance_min():
                return freq
            if at_match():
                break


class _SpanPositionQueue:
    """util/PriorityQueue.java's exact binary-heap sift (1-based array,
    add/upHeap, updateTop/downHeap) under NearSpansUnordered's
    SpanPositionQueue ordering: lessThan(a, b) = positionsOrdered =
    start1 < start2, or equal starts and end1 < end2
    (NearSpansUnordered.java:175-186). A FULL tie — same start AND end,
    which happens exactly when two clauses share a term occurrence
    (overlapping alternative sets / repeated clauses) — compares false
    both ways, so which tied cell sits at the root is decided by the
    heap LAYOUT: cells are added in query order and sift with the
    reference's shift-chain up/down walks. Reproducing that layout is
    what makes the same-position repeats case bit-reproducible."""

    __slots__ = ("heap", "size")

    def __init__(self, max_size: int):
        self.heap: list = [None] * (max_size + 1)
        self.size = 0

    @staticmethod
    def _less(a, b) -> bool:
        # cells are [start, end, cursor, clause_idx]
        if a[0] == b[0]:
            return a[1] < b[1]
        return a[0] < b[0]

    def add(self, cell) -> None:
        self.size += 1
        h = self.heap
        i = self.size
        h[i] = cell
        # upHeap: shift parents down the vacancy while node < parent
        node = h[i]
        j = i >> 1
        while j > 0 and self._less(node, h[j]):
            h[i] = h[j]
            i = j
            j = j >> 1
        h[i] = node

    def update_top(self) -> None:
        # downHeap(1) with the reference's smaller-child selection:
        # right child replaces left only when STRICTLY less.
        h = self.heap
        size = self.size
        i = 1
        node = h[1]
        j = i << 1
        k = j + 1
        if k <= size and self._less(h[k], h[j]):
            j = k
        while j <= size and self._less(h[j], node):
            h[i] = h[j]
            i = j
            j = i << 1
            k = j + 1
            if k <= size and self._less(h[k], h[j]):
                j = k
        h[i] = node

    def top(self):
        return self.heap[1]


def span_unordered_matches(plists: list[list[int]], slop: int):
    """NearSpansUnordered matches for one doc over term-span clauses
    (each clause's list = the union of its alternatives' positions, the
    SpanOr emission order), yielding (min_start, max_end, width) per
    emitted span — including the same-position repeats case where two
    clauses hold the same occurrence (overlapping alternative sets),
    whose advance order follows the reference PriorityQueue layout.

    Structure per NearSpansUnordered.java: cells seeded on their first
    positions in query order (subSpanCellsToPositionQueue), two-phase
    advance-min until atMatch (twoPhaseCurrentDocMatches), then one
    match per single advance of the min cell while atMatch holds
    (nextStartPosition). Term spans have length 1, so totalSpanLength
    == n, maxEndPositionCell only grows, and width =
    maxEnd-1 - minStart."""
    n = len(plists)
    if any(len(p) == 0 for p in plists):
        return
    if n == 1:
        for p in plists[0]:
            yield (p, p + 1, 0)
        return
    pq = _SpanPositionQueue(n)
    max_end = -1
    cells = []
    for i, pl in enumerate(plists):  # query order, adjustMax per cell
        cell = [pl[0], pl[0] + 1, 1, i]
        cells.append(cell)
        pq.add(cell)
        if cell[1] > max_end:
            max_end = cell[1]

    def advance_min() -> bool:
        nonlocal max_end
        cell = pq.top()
        pl = plists[cell[3]]
        c = cell[2]
        if c >= len(pl):
            return False  # oneExhaustedInCurrentDoc
        cell[0] = pl[c]
        cell[1] = pl[c] + 1
        cell[2] = c + 1
        if cell[1] > max_end:
            max_end = cell[1]
        pq.update_top()
        return True

    def at_match() -> bool:
        return max_end - pq.top()[0] - n <= slop

    while not at_match():
        if not advance_min():
            return
    while True:
        yield (pq.top()[0], max_end, (max_end - 1) - pq.top()[0])
        while True:
            if not advance_min():
                return
            if at_match():
                break


def span_unordered_freq(plists: list[list[int]], slop: int) -> np.float32:
    """NearSpansUnordered freq for one doc: Σ 1/(width+1) in float32
    over the queue-walk matches (SpanScorer.setFreqCurrentDoc order)."""
    freq = np.float32(0.0)
    for _s, _e, width in span_unordered_matches(plists, slop):
        freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
    return freq


def span_unordered_freq_2(a: list[int], b: list[int], slop: int) -> np.float32:
    """Two-clause closed form of `span_unordered_freq` via the merge-walk
    PREFIX property: after k advances the consumed elements are exactly
    the k smallest of the merged order, so config (a_i, b_j) is visited
    iff a_{i-1} < b_j and b_{j-1} < a_i (own-clause LAGS; missing lag =
    always true). Exactly one config exists per k, and walk termination
    (exhausted min cell) falls out because the next config would need an
    out-of-range cursor. Each visited config with |a_i - b_j| - 1 <= slop
    emits 1/(|a_i - b_j| + 1), accumulated in ascending max(a_i, b_j)
    order (= walk order). This is the algorithm the SQL oracle runs."""
    if not a or not b:
        return np.float32(0.0)
    freq = np.float32(0.0)
    configs = []
    for i, x in enumerate(a):
        prv_a = a[i - 1] if i > 0 else None
        for j, y in enumerate(b):
            prv_b = b[j - 1] if j > 0 else None
            if (prv_a is None or prv_a < y) and (prv_b is None or prv_b < x):
                configs.append((max(x, y), min(x, y)))
    configs.sort()
    for hi, lo in configs:
        width = hi - lo
        if width - 1 <= slop:
            freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
    return freq


def span_position_range_freq(plist: list[int], lo: int, hi: int) -> np.float32:
    """SpanPositionRangeQuery over a term clause
    (spans/SpanPositionRangeQuery.java): accept occurrences with
    startPosition >= lo and endPosition (pos+1) <= hi; width 0 each."""
    return np.float32(sum(1 for p in plist if p >= lo and p + 1 <= hi))


def span_first_freq(plist: list[int], end: int) -> np.float32:
    """SpanFirstQuery over a term clause: the lo=0 special case of
    SpanPositionRangeQuery (SpanFirstQuery.java:34 super(match, 0, end))."""
    return span_position_range_freq(plist, 0, end)


def span_not_span_freq(
    inc_plists: list[list[int]],
    inc_slop: int,
    exc_plists: list[list[int]],
    exc_slop: int,
    ordered: bool = True,
) -> np.float32:
    """SpanNotQuery over TWO SpanNears of the same in-order flag — the
    ComplexPhraseQueryParser negation shape
    (ComplexPhraseQueryParser.java:318-345: include = the positive
    clauses at slopFactor + numNegatives, exclude = ALL clauses in
    sequence at slopFactor, BOTH built with the parser's inOrder flag):
    accept include spans whose [start, end) does not OVERLAP any exclude
    span; freq over the accepted spans only.

    SpanNotQuery.accept's lazy exclude pointer (advance while
    exclude.end <= candidate.start, reject iff exclude.start <
    candidate.end) is equivalent to this full-enumeration overlap test
    because both near walks emit matches with non-decreasing starts: a
    passed-over exclude has end <= an earlier candidate's start <= this
    candidate's start (no overlap), and once the current exclude starts
    at/after candidate.end so does every later one."""
    walk = span_ordered_matches if ordered else span_unordered_matches
    exc = list(walk(exc_plists, exc_slop))
    freq = np.float32(0.0)
    for s, e, width in walk(inc_plists, inc_slop):
        if any(es < e and s < ee for es, ee, _w in exc):
            continue
        freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
    return freq


# ---------------------------------------------------------------------------
# span clause nodes (the grammar is on BooleanSpec.spans): ("near",
# clauses, slop, ordered), ("not", near, exclude), ("containing", near,
# terms), ("within", near, terms) and ("range", term, lo, hi)


def span_alts(clause) -> tuple[str, ...]:
    """Normalize a span clause to its alternative set: a bare term is a
    1-tuple; a tuple is a SpanOr of term spans (union of positions)."""
    return (clause,) if isinstance(clause, str) else tuple(clause)


def _is_terms(side) -> bool:
    """A not/containing/within side given as terms, not a "near" node."""
    return all(isinstance(t, str) for t in side)


def span_sets(node) -> tuple[tuple[str, ...], ...]:
    """The alternative sets a doc must hit one term of each to hold a
    span of the node: the (include / big) near's clauses, or the range
    node's one term."""
    if node[0] == "range":
        return ((node[1],),)
    near = node if node[0] == "near" else node[1]
    return tuple(span_alts(c) for c in near[1])


def span_terms(node) -> tuple[str, ...]:
    """Every term of the node, the exclude / little side included (the
    keys of SpanWeight's term->context map)."""
    out = tuple(t for alts in span_sets(node) for t in alts)
    if node[0] in ("not", "containing", "within"):
        side = node[2]
        out += tuple(side) if _is_terms(side) else span_terms(side)
    return out


def span_shape_error(node) -> str | None:
    """Why the walks cannot score the node, or None: the term-side
    not/containing/within walks are ordered, only 'not' takes a near
    side, and that exclude near shares the include near's in-order
    flag."""
    if node[0] not in ("not", "containing", "within"):
        return None
    ordered, side = node[1][3], node[2]
    if _is_terms(side):
        return None if ordered else f"an unordered near under {node[0]!r}"
    if node[0] != "not":
        return f"a near side under {node[0]!r}"
    if side[3] != ordered:
        return "a 'not' whose include and exclude nears differ in order"
    return None


def span_freq(node, plist) -> np.float32:
    """One doc's span freq for a node (SpanScorer's float32 fold of
    1/(width+1)). plist(alts) -> the doc's ascending positions of the
    union of the alternatives; a clause with none gives freq 0."""
    kind = node[0]
    if kind == "range":
        return span_position_range_freq(plist((node[1],)), node[2], node[3])
    _near, clauses, slop, ordered = node if kind == "near" else node[1]
    plists = [plist(span_alts(c)) for c in clauses]
    if not all(plists):
        return np.float32(0.0)
    if kind == "near":
        walk = span_ordered_freq if ordered else span_unordered_freq
        return walk(plists, slop)
    side = node[2]
    if not _is_terms(side):
        exc = [plist(span_alts(c)) for c in side[1]]
        return span_not_span_freq(plists, slop, exc, side[2], ordered=ordered)
    walk = {
        "not": span_not_freq,
        "containing": span_containing_freq,
        "within": span_within_freq,
    }[kind]
    return walk(plists, slop, plist(tuple(side)))


# ---------------------------------------------------------------------------
# generalized (interval) spans: the surround parser's nested span trees
#
# The surround query language (queryparser/surround) composes
# SpanNearQuery over arbitrary sub-SPANS — nested distance operators,
# SpanOr over mixed term/near members — so the flat per-term position
# lists above no longer suffice. These walks operate on materialized
# per-doc INTERVAL lists (start, end, width) and reproduce the exact
# iterator semantics of NearSpansOrdered.java / NearSpansUnordered.java
# over sub-Spans: a sub's matches are consumed monotonically (lazy
# shared iterators never rewind), ordered stretchToOrder advances each
# later clause to the first interval starting at/after the previous
# clause's END, and the unordered cells walk keeps the reference's
# totalSpanLength bookkeeping plus the maxEndPositionCell POINTER quirk
# (the pointed cell's end can shrink when it advances; the pointer only
# moves on a strictly greater end — NearSpansUnordered.adjustMax).
#
# Span tree nodes ("snode"):
#   ("t", term)                      SpanTermQuery leaf
#   ("or", (snode, ...))             SpanOrQuery (surround's
#                                    SpanNearClauseFactory.makeSpanClause)
#   ("near", (snode, ...), slop, ordered)   SpanNearQuery


def gspan_term_set(snode) -> set:
    """Distinct terms under a span tree (SpanWeight's TreeMap term
    contexts — the idf sum's key set)."""
    if snode[0] == "t":
        return {snode[1]}
    out: set = set()
    for sub in snode[1]:
        out |= gspan_term_set(sub)
    return out


def _gspan_list(snode, plist_fn) -> list:
    """Materialize one doc's emissions of a span tree as (start, end,
    width) triples in the reference iterator's order. plist_fn(term) ->
    sorted positions of `term` in this doc."""
    kind = snode[0]
    if kind == "t":
        return [(p, p + 1, 0) for p in plist_fn(snode[1])]
    if kind == "or":
        # SpanOrQuery: byPositionQueue ordered by positionsOrdered
        # (start, then end); a sub with no matches in this doc simply
        # never enters the doc's queue. Stable sort keeps clause order
        # for full (start, end) ties — the reference heap's layout
        # decides those; surround's factory dedups members so full ties
        # across DIFFERENT subs only arise from equal-width emissions,
        # where order cannot change the float fold.
        out = []
        for sub in snode[1]:
            out.extend(_gspan_list(sub, plist_fn))
        out.sort(key=lambda m: (m[0], m[1]))
        return out
    subs = [_gspan_list(sub, plist_fn) for sub in snode[1]]
    walk = gspan_ordered_matches if snode[3] else gspan_unordered_matches
    return list(walk(subs, snode[2]))


def gspan_ordered_matches(sublists: list, slop: int):
    """NearSpansOrdered over sub-span interval lists: for each first
    clause emission, stretchToOrder advances each later clause (monotone
    persistent cursors — advancePosition never rewinds) to the first
    interval with start >= the previous clause's end; width = sum of the
    gaps; matchEnd = the LAST clause's end (NearSpansOrdered.java:
    stretchToOrder). A later clause exhausting ends the doc
    (oneExhaustedInCurrentDoc)."""
    n = len(sublists)
    if any(not sl for sl in sublists):
        return
    cursors = [0] * n
    for s0, e0, _w0 in sublists[0]:
        prev_end = e0
        width = 0
        dead = False
        for i in range(1, n):
            sl = sublists[i]
            c = cursors[i]
            while c < len(sl) and sl[c][0] < prev_end:
                c += 1
            cursors[i] = c
            if c >= len(sl):
                dead = True
                break
            width += sl[c][0] - prev_end
            prev_end = sl[c][1]
        if dead:
            return
        if width <= slop:
            yield (s0, prev_end, width)


def gspan_unordered_matches(sublists: list, slop: int):
    """NearSpansUnordered over sub-span interval lists: cells seeded on
    their first emissions in query order, priority queue by (start, then
    end), totalSpanLength = sum of current cell lengths, atMatch =
    maxEndCell.end - minCell.start - totalSpanLength <= slop, emitted
    width = maxEndCell.START - minCell.start
    (NearSpansUnordered.java:192). maxEndPositionCell is a POINTER:
    advancing it can shrink the tracked max end; it moves only when
    another cell's end strictly exceeds it (adjustMax)."""
    n = len(sublists)
    if any(not sl for sl in sublists):
        return
    if n == 1:
        yield from sublists[0]
        return
    pq = _SpanPositionQueue(n)
    cells = []
    total = 0
    # cell = [start, end, cursor, clause_idx]
    max_cell = None
    for i, sl in enumerate(sublists):  # query order, adjustMax per cell
        s, e, _w = sl[0]
        cell = [s, e, 1, i]
        cells.append(cell)
        pq.add(cell)
        total += e - s
        if max_cell is None or cell[1] > max_cell[1]:
            max_cell = cell

    def advance_min() -> bool:
        nonlocal total, max_cell
        cell = pq.top()
        sl = sublists[cell[3]]
        c = cell[2]
        if c >= len(sl):
            return False  # oneExhaustedInCurrentDoc
        total -= cell[1] - cell[0]
        cell[0], cell[1] = sl[c][0], sl[c][1]
        cell[2] = c + 1
        total += cell[1] - cell[0]
        if cell[1] > max_cell[1]:
            max_cell = cell
        pq.update_top()
        return True

    def at_match() -> bool:
        return max_cell[1] - pq.top()[0] - total <= slop

    while not at_match():
        if not advance_min():
            return
    while True:
        yield (pq.top()[0], max_cell[1], max_cell[0] - pq.top()[0])
        while True:
            if not advance_min():
                return
            if at_match():
                break


def gspan_freq(snode, plist_fn) -> np.float32:
    """SpanScorer.setFreqCurrentDoc over a span tree's emissions:
    float32 fold of 1/(1 + width) in iterator order."""
    freq = np.float32(0.0)
    for _s, _e, width in _gspan_list(snode, plist_fn):
        freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
    return freq
