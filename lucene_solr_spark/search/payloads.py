"""PayloadScoreQuery / SpanPayloadCheckQuery over the pay_buf stream
(lucene/queries/src/java/org/apache/lucene/queries/payloads/).

Reference semantics (payloads ride span matches):

* PayloadScoreQuery.java:180-214 (PayloadSpans) — for every span the
  wrapped SpanQuery emits, collect each leaf position's payload in
  clause order; a NULL payload (token had no delimiter) is skipped
  entirely (collectLeaf returns before touching the fold state).
  payloadScore folds through the PayloadFunction:
    - AveragePayloadFunction: currentScore = payload + acc (float32 add
      per step), docScore = payloadScore / numPayloadsSeen (float div),
      1.0 when no payloads were seen;
    - Min/MaxPayloadFunction: first payload initializes, then
      Math.min/max; docScore = payloadScore, 1.0 when none seen.
  The payload FACTOR is SimScorer.computePayloadFactor — here the
  payload-aware similarity decodes PayloadHelper's big-endian float32
  (analysis/payloads/PayloadHelper.java:51-66), the standard
  DelimitedPayloadTokenFilter(FloatEncoder) pairing.
* PayloadSpanScorer.scoreCurrentDoc — includeSpanScore=True multiplies
  the wrapped span's BM25 score by the payload score (float32 product);
  False returns the payload score alone. Either way a doc with no
  accepted span is NOT a hit.
* SpanPayloadCheckQuery.java:120-150 — spans survive only if their
  collected payloads EQUAL the query's payloadToMatch list elementwise
  (BytesRef equality; a null expected entry matches a null payload);
  surviving spans score like the plain wrapped SpanQuery.

The span walks themselves are the verified search/spans.py machines —
this module re-runs them yielding per-clause matched POSITIONS so the
payload at each leaf can be looked up.
"""

from __future__ import annotations

import numpy as np


def span_match_positions(plists, slop: int, ordered: bool):
    """Matched spans of a SpanNear (or single-term) query, yielding
    (width, (pos_idx_0, ..., pos_idx_{n-1})) per span — each entry the
    INDEX into that clause's position list (payload lookup key), in
    clause order. The walks mirror span_ordered_matches /
    span_unordered_freq (search/spans.py) exactly."""
    n = len(plists)
    if any(len(p) == 0 for p in plists):
        return
    if n == 1:
        for i in range(len(plists[0])):
            yield 0, (i,)
        return
    if ordered:
        cursors = [0] * n
        for i0, p0 in enumerate(plists[0]):
            prev_end = p0 + 1
            width = 0
            idxs = [i0]
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
                idxs.append(c)
                width += pl[c] - prev_end
                prev_end = pl[c] + 1
            if dead:
                return
            if width <= slop:
                yield width, tuple(idxs)
        return
    # unordered: NearSpansUnordered's exact cells walk (spans.py
    # span_unordered_matches — the reference PriorityQueue sift, so
    # same-position ties between clauses advance in the reference
    # order); total span length of term clauses is n (each width 1).
    # At each match the collected payload leaves are the cells' CURRENT
    # positions in clause order (NearSpansUnordered.collect iterates
    # subSpanCells in query order).
    from .spans import _SpanPositionQueue

    pq = _SpanPositionQueue(n)
    max_end = -1
    cells = []
    for i, pl in enumerate(plists):  # query order
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
            return False
        cell[0] = pl[c]
        cell[1] = pl[c] + 1
        cell[2] = c + 1
        if cell[1] > max_end:
            max_end = cell[1]
        pq.update_top()
        return True

    while True:
        if max_end - pq.top()[0] - n <= slop:
            yield (
                (max_end - 1) - pq.top()[0],
                tuple(cell[2] - 1 for cell in cells),
            )
        if not advance_min():
            return


def payload_doc_score(acc: np.float32, seen: int, function: str) -> np.float32:
    """PayloadFunction.docScore: 1.0 with no payloads; avg divides by the
    count (float32), min/max return the fold."""
    if seen == 0:
        return np.float32(1.0)
    if function == "avg":
        return np.float32(acc / np.float32(seen))
    return np.float32(acc)


# ---------------------------------------------------------------------------
# control oracle: the same semantics over an in-memory single-node index
# (the structure tests/test_lucene_ground_truth.py pins to the compiled
# reference binary; the Spark engine is then pinned to THIS oracle)


class PayloadOracleIndex:
    """term -> {doc: (positions list, payload float32 array)}, built with
    the wspayload chain (whitespace + DelimitedPayloadTokenFilter)."""

    def __init__(self, docs: list[tuple[int, str]]):
        from ..analysis.smallfloat import encode_norm
        from ..analysis.tokenizer import PAYLOAD_DELIMITER

        self.postings: dict[str, dict[int, tuple[list[int], list[float]]]] = {}
        self.doc_norm: dict[int, int] = {}
        total_len = 0
        for doc_id, text in docs:
            toks = text.split()
            total_len += len(toks)
            self.doc_norm[doc_id] = int(
                encode_norm(np.array([len(toks)], dtype=np.int64))[0]
            )
            for pos, tok in enumerate(toks):
                head, sep, tail = tok.partition(PAYLOAD_DELIMITER)
                pay = float(np.float32(float(tail))) if sep else float("nan")
                pl, yl = self.postings.setdefault(head, {}).setdefault(
                    doc_id, ([], [])
                )
                pl.append(pos)
                yl.append(pay)
        self.doc_count = len(docs)
        from ..search.bm25 import avgdl_f32

        self.avgdl = avgdl_f32(total_len, self.doc_count)


def payload_topk(
    idx: PayloadOracleIndex, terms: list[str], function: str = "avg", *,
    include_span_score: bool = True, slop: int = 0, ordered: bool = True,
    k: int = 10, boost: float = 1.0,
) -> list[tuple[int, np.float32]]:
    """PayloadScoreQuery top-k over the oracle index (see module
    docstring for the reference semantics). `boost` is a SpanBoostQuery
    wrapper: weight = idf * boost in float32 (BM25Similarity.java:296),
    then weightValue = weight * (k1 + 1) — span-score leg only."""
    from ..search.bm25 import K1, idf_f32, idf_sum_f32, norm_cache

    dset = sorted(set(terms))
    if any(t not in idx.postings for t in terms):
        return []
    idf_sum = idf_sum_f32(
        idf_f32(len(idx.postings[t]), idx.doc_count) for t in dset
    )
    wv = np.float32(
        np.float32(idf_sum * np.float32(boost)) * (K1 + np.float32(1.0))
    )
    cache = norm_cache(idx.avgdl)
    cand = set.intersection(*[set(idx.postings[t]) for t in set(terms)])
    hits = []
    for c in sorted(cand):
        plists = [idx.postings[t][c][0] for t in terms]
        paylists = [
            np.asarray(idx.postings[t][c][1], dtype=np.float32) for t in terms
        ]
        freq = np.float32(0.0)
        acc = np.float32(0.0)
        seen = 0
        matched = False
        for width, idxs in span_match_positions(plists, slop, ordered):
            matched = True
            freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
            for i, j in enumerate(idxs):
                f = paylists[i][j]
                if np.isnan(f):
                    continue
                f = np.float32(f)
                if function == "avg":
                    acc = np.float32(f + acc)
                elif function == "min":
                    acc = f if seen == 0 else np.float32(min(f, acc))
                else:
                    acc = f if seen == 0 else np.float32(max(f, acc))
                seen += 1
        if not matched:
            continue
        score = payload_doc_score(acc, seen, function)
        if include_span_score:
            nb = cache[idx.doc_norm[c]]
            score = np.float32(np.float32(wv * freq / (freq + nb)) * score)
        hits.append((c, score))
    hits.sort(key=lambda h: (-float(h[1]), h[0]))
    return hits[:k]


def span_payload_check_topk(
    idx: PayloadOracleIndex, terms: list[str],
    payloads: list[float | None], *, slop: int = 0, k: int = 10,
) -> list[tuple[int, np.float32]]:
    """SpanPayloadCheckQuery top-k over the oracle index."""
    from ..search.bm25 import K1, idf_f32, idf_sum_f32, norm_cache

    if any(t not in idx.postings for t in terms):
        return []
    want = [None if p is None else np.float32(p) for p in payloads]
    idf_sum = idf_sum_f32(
        idf_f32(len(idx.postings[t]), idx.doc_count) for t in sorted(set(terms))
    )
    wv = np.float32(idf_sum * (K1 + np.float32(1.0)))
    cache = norm_cache(idx.avgdl)
    cand = set.intersection(*[set(idx.postings[t]) for t in set(terms)])
    hits = []
    for c in sorted(cand):
        plists = [idx.postings[t][c][0] for t in terms]
        paylists = [
            np.asarray(idx.postings[t][c][1], dtype=np.float32) for t in terms
        ]
        freq = np.float32(0.0)
        matched = False
        for width, idxs in span_match_positions(plists, slop, True):
            ok = True
            for i, j in enumerate(idxs):
                f = paylists[i][j]
                if want[i] is None:
                    ok = bool(np.isnan(f))
                else:
                    ok = (not np.isnan(f)) and (
                        np.float32(f).tobytes() == want[i].tobytes()
                    )
                if not ok:
                    break
            if ok:
                matched = True
                freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
        if not matched:
            continue
        nb = cache[idx.doc_norm[c]]
        hits.append((c, np.float32(wv * freq / (freq + nb))))
    hits.sort(key=lambda h: (-float(h[1]), h[0]))
    return hits[:k]
