"""Multi-field search — MultiFieldQueryParser semantics over per-field
indexes (lucene/queryparser/src/java/org/apache/lucene/queryparser/
classic/MultiFieldQueryParser.java).

Lucene stores one postings dictionary PER FIELD inside a segment; this
engine's exact analog is one index directory per field over the same
document set (same doc ids, same range layout — asserted from the
manifests). A MultiFieldQueryParser query over fields F with optional
per-field boosts rewrites every parsed clause into

    BooleanQuery( SHOULD BoostQuery(TermQuery(f1:t), boost[f1]),
                  SHOULD BoostQuery(TermQuery(f2:t), boost[f2]), ... )

so a default-OR query of terms t1..tn scores as an OUTER disjunction of
INNER per-field disjunctions. Float structure per Boolean2ScorerSupplier
(pinned in GT round 5/7): each disjunction sums its matching clauses'
float32 scores in DOUBLE and casts back to float32 — the inner group's
f32 result is one clause of the outer sum. Each per-field TermQuery
scores with ITS OWN field statistics (df, avgdl, norms) — the whole
point of fields.

Pinned bit-for-bit (top-k docids + float32 scores) against the compiled
MultiFieldQueryParser + IndexSearcher in GT round 61
(tests/test_misc_filters.py), with `oracle_topk_multifield` as the
pure-Python control; the Spark engine is verified rank+score identical
to the oracle end-to-end over two real per-field indexes
(tests/test_analyzers.py).

Scale posture: the per-range scorer is the same bounded-heap cogroup the
single-field path uses — the two indexes' pruned block scans are
UNIONED with a field tag (their range layouts align because both are
built over the same corpus with the same range size), so one shuffle-free
groupBy(range_id) scores both fields' postings for a doc range together.
No corpus re-read, no join of two result sets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bm25 import avgdl_f32, make_term_weight
from .engine import TOPK_SCHEMA, topk_frame
from .postings import decode_postings


def oracle_topk_span_masked(
    idx_by_field: dict[str, "object"],
    clauses: list[tuple[str, str]],
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
    mask_to: str | None = None,
    span_first_end: int | None = None,
) -> list[tuple[int, np.float32]]:
    """Control oracle for FieldMaskingSpanQuery proximity (pinned
    bit-for-bit vs the compiled binary in GT round 75): positions from
    each clause's own field, df from each term's own field, docCount/
    avgdl/norms from the masked-to field, idf folded f32 in Term order."""
    from .bm25 import K1, idf_f32, idf_sum_f32, norm_cache
    from .spans import span_first_freq, span_ordered_freq, span_unordered_freq

    mask_to = mask_to or clauses[0][0]
    base = idx_by_field[mask_to]
    base_doc_count = sum(1 for fl in base.field_len.values() if fl > 0)
    idf_sum = idf_sum_f32(
        idf_f32(len(idx_by_field[f].postings.get(t, {})), base_doc_count)
        for f, t in sorted(set(clauses))
    )
    wv = np.float32(idf_sum * (K1 + np.float32(1.0)))
    cache = norm_cache(avgdl_f32(base.sum_ttf, base_doc_count))
    out = []
    all_docs = sorted(base.norm_bytes)
    for d in all_docs:
        plists = [
            idx_by_field[f].positions.get(t, {}).get(d, [])
            for f, t in clauses
        ]
        if any(not pl for pl in plists):
            continue
        if span_first_end is not None:
            fq = span_first_freq(plists[0], span_first_end)
        elif in_order:
            fq = span_ordered_freq(plists, slop)
        else:
            fq = span_unordered_freq(plists, slop)
        if fq <= 0:
            continue
        nb = base.norm_bytes[d]
        out.append((d, np.float32(wv * fq / (fq + cache[nb]))))
    out.sort(key=lambda x: (-float(x[1]), x[0]))
    return out[:k]


def oracle_topk_multifield(
    idx_by_field: dict[str, "object"],
    terms: list[str],
    boosts: dict[str, float] | None = None,
    k: int = 10,
    dismax_tie: float | None = None,
    msm: int = 0,
) -> list[tuple[int, np.float32]]:
    """Control oracle: MultiFieldQueryParser's nested-disjunction float
    structure over per-field OracleIndexes. `terms` are the analyzed
    query terms in order (duplicates = duplicate clauses). With
    `dismax_tie` set, each term's inner group is the Solr DisMax shape —
    DisjunctionMaxQuery(per-field clauses, tie): float32 scoreSum
    accumulation in field order, then max + (sum - max) * tie in float32
    (DisjunctionMaxScorer.java:50-59) — and `msm` applies the outer
    BooleanQuery's minimumNumberShouldMatch."""
    boosts = boosts or {}
    fields = list(idx_by_field.keys())
    weights = {}
    for f in fields:
        idx = idx_by_field[f]
        # CollectionStatistics.docCount is PER FIELD: docs holding at
        # least one term of the field (IndexReader.getDocCount) — a doc
        # with an empty title is invisible to the title field's stats
        doc_count = sum(1 for fl in idx.field_len.values() if fl > 0)
        if doc_count == 0:
            continue
        avgdl = avgdl_f32(idx.sum_ttf, doc_count)
        for t in set(terms):
            df = len(idx.postings.get(t, {}))
            weights[(f, t)] = make_term_weight(
                t, df, doc_count, avgdl, boost=boosts.get(f, 1.0))
    scores: dict[int, float] = {}
    matches: dict[int, int] = {}
    for t in terms:
        per_field: dict[int, list[np.float32]] = {}
        for f in fields:
            idx = idx_by_field[f]
            if (f, t) not in weights:
                continue
            tw = weights[(f, t)]
            for doc, tf in idx.postings.get(t, {}).items():
                s = tw.score(np.array([tf]), np.array([idx.norm_bytes[doc]]))[0]
                per_field.setdefault(doc, []).append(s)
        for doc, clause_scores in per_field.items():
            if dismax_tie is None:
                inner = np.float32(sum(float(s) for s in clause_scores))
            else:
                mx = np.float32(max(clause_scores))
                tot = np.float32(0.0)
                for s in clause_scores:
                    tot = np.float32(tot + s)
                inner = np.float32(
                    mx + np.float32((tot - mx) * np.float32(dismax_tie)))
            scores[doc] = scores.get(doc, 0.0) + float(inner)
            matches[doc] = matches.get(doc, 0) + 1
    ranked = sorted(
        (
            (doc, np.float32(s))
            for doc, s in scores.items()
            if matches[doc] >= max(1, msm)
        ),
        key=lambda x: (-float(x[1]), x[0]),
    )
    return ranked[:k]


class MultiFieldSearcher:
    """Per-field IndexSearchers glued into one multi-field query surface.

    All searchers must be built over the SAME document set with the same
    range size (Lucene's per-field postings live in one segment and
    share doc ids); asserted from the manifests at construction. Build
    each field's index over the docs that HAVE the field
    (src.filter(length(field) > 0)) — that makes the index's
    doc_count/avgdl exactly Lucene's per-field CollectionStatistics
    (IndexReader.getDocCount counts docs with at least one term)."""

    def __init__(self, spark, searchers: dict[str, "object"]):
        if not searchers:
            raise ValueError("at least one field required")
        self.spark = spark
        self.searchers = dict(searchers)
        sizes = {s._range_size for s in self.searchers.values()}
        if len(sizes) != 1:
            raise ValueError(f"range layouts differ across fields: {sizes}")
        self._range_size = sizes.pop()
        analyzers = {s.analyzer for s in self.searchers.values()}
        if len(analyzers) != 1:
            raise ValueError(
                "v1 requires one shared analyzer across fields "
                f"(got {analyzers}); per-field analyzers need "
                "PerFieldAnalyzerWrapper plumbing"
            )

    def topk(
        self,
        query: str,
        k: int = 10,
        boosts: dict[str, float] | None = None,
        dismax_tie: float | None = None,
        msm: int = 0,
    ) -> DataFrame:
        """MultiFieldQueryParser.parse(query) for the default-OR plain
        -terms case: each analyzed term becomes an inner SHOULD group of
        per-field (optionally boosted) TermQueries. With `dismax_tie`
        set, the inner group is Solr's DisMax shape instead
        (DisjunctionMaxQuery over the qf fields with the tiebreaker) and
        `msm` is the outer minimumNumberShouldMatch — the DisMaxQParser
        main query."""
        boosts = boosts or {}
        fields = sorted(self.searchers.keys())
        any_searcher = self.searchers[fields[0]]
        terms = tuple(any_searcher._analyze(query))
        if not terms:
            return topk_frame(self.spark)

        # per-(field, term) weights from each field's OWN statistics
        weights: dict[tuple[str, str], tuple] = {}
        for f in fields:
            s = self.searchers[f]
            tws = s.term_weights(list(set(terms)))
            for t in set(terms):
                tw = make_term_weight(
                    t, tws[t]["df"], s.doc_count, s.avgdl,
                    boost=boosts.get(f, 1.0),
                )
                weights[(f, t)] = (tw.weight_value, tw.cache)

        blocks = None
        for f in fields:
            b = (
                self.searchers[f]._blocks_for(list(set(terms)))
                .select(
                    F.lit(f).alias("field"), "term", "range_id",
                    "first_doc", "docs_buf", "tfs_buf", "norms_buf",
                )
            )
            blocks = b if blocks is None else blocks.unionByName(b)

        term_order = terms
        w_local = weights
        empty = pd.DataFrame({
            "doc_id": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float32"),
        })

        tie = dismax_tie
        min_match = max(1, msm)

        def score_range(key, pdf):
            if pdf.empty:
                return empty
            decoded = {
                (f, t): p[:3]
                for f, g in pdf.groupby("field", sort=False)
                for t, p in decode_postings(g).items()
            }
            all_docs = np.unique(np.concatenate(
                [v[0] for v in decoded.values()]))
            outer = np.zeros(all_docs.size, dtype=np.float64)
            n_match = np.zeros(all_docs.size, dtype=np.int64)
            for t in term_order:
                hit = np.zeros(all_docs.size, dtype=bool)
                clause_rows = []
                for f in fields:
                    if (f, t) not in decoded:
                        continue
                    d, tf, nb = decoded[(f, t)]
                    wv, cache = w_local[(f, t)]
                    s = (
                        wv * tf.astype(np.float32)
                        / (tf.astype(np.float32) + cache[nb])
                    ).astype(np.float32)
                    row = np.zeros(all_docs.size, dtype=np.float32)
                    ix = np.searchsorted(all_docs, d)
                    row[ix] = s
                    hit[ix] = True
                    clause_rows.append(row)
                if not clause_rows:
                    continue
                if tie is None:
                    inner64 = np.zeros(all_docs.size, dtype=np.float64)
                    for row in clause_rows:
                        inner64 += row.astype(np.float64)
                    inner = inner64.astype(np.float32)
                else:
                    stack = np.stack(clause_rows)
                    mx = stack.max(axis=0).astype(np.float32)
                    tot = np.zeros(all_docs.size, dtype=np.float32)
                    for row in stack:
                        tot = (tot + row).astype(np.float32)
                    inner = (mx + (tot - mx) * np.float32(tie)).astype(
                        np.float32)
                outer[hit] += inner[hit].astype(np.float64)
                n_match[hit] += 1
            keep = n_match >= min_match
            all_docs = all_docs[keep]
            scores = outer[keep].astype(np.float32)
            order = np.lexsort((all_docs, -scores.astype(np.float64)))[:k]
            return pd.DataFrame({
                "doc_id": all_docs[order],
                "score": scores[order],
            })

        grouped = blocks.groupBy("range_id")
        return (
            grouped.applyInPandas(score_range, schema=TOPK_SCHEMA)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def topk_span_masked(
        self,
        clauses: list[tuple[str, str]],
        slop: int = 0,
        in_order: bool = True,
        k: int = 10,
        mask_to: str | None = None,
        span_first_end: int | None = None,
    ) -> DataFrame:
        """FieldMaskingSpanQuery (core spans/FieldMaskingSpanQuery.java)
        — cross-field proximity: SpanNear (or SpanFirst when
        `span_first_end` is set) over clauses [(field, term)], every
        non-`mask_to` clause masked to `mask_to` (default: the first
        clause's field). Pinned semantics (GT round 75):

        - positions iterate from each clause's REAL field
          (createWeight proxies to the masked query's weight),
        - each term's df comes from its OWN field, but the idf's
          docCount, the avgdl, and the norms all come from the
          masked-to field (buildSimWeight's single
          collectionStatistics(query.getField()) call + getSimScorer),
        - idf folds in float32 in Term order (field, then text).

        At least one clause must be on `mask_to` (norms ride in that
        clause's postings blocks; the pure-annotation-field query shape
        would need a separate norms sidecar). Plan shape: the per-field
        pruned block scans are UNIONED (aligned range layouts) and one
        shuffle-free groupBy(range_id) Arrow stage walks the spans —
        the same bounded-heap cogroup as every other query."""
        from .bm25 import K1, idf_f32, idf_sum_f32, norm_cache
        from .engine import _abs_positions

        mask_to = mask_to or clauses[0][0]
        if mask_to not in self.searchers:
            raise ValueError(f"unknown mask_to field {mask_to!r}")
        base = self.searchers[mask_to]
        parsed: list[tuple[str, str]] = []
        for f, text in clauses:
            if f not in self.searchers:
                raise ValueError(f"unknown field {f!r}")
            toks = self.searchers[f]._analyze(text)
            if len(toks) != 1:
                raise ValueError(
                    f"span clause must analyze to one token: {text!r}")
            parsed.append((f, toks[0]))
        if all(f != mask_to for f, _t in parsed):
            raise ValueError(
                f"at least one clause must be on the masked-to field "
                f"{mask_to!r} (norms source)")
        if span_first_end is not None and len(parsed) != 1:
            raise ValueError("SpanFirst takes exactly one clause")

        # SpanWeight.buildSimWeight: df per term from its own field,
        # docCount/avgdl from the masked-to field, TreeMap fold order
        idf_sum = idf_sum_f32(
            idf_f32(
                self.searchers[f].term_weights([t])[t]["df"],
                base.doc_count,
            )
            for f, t in sorted(set(parsed))
        )
        wv = np.float32(idf_sum * (K1 + np.float32(1.0)))
        cache = norm_cache(np.float32(float(base.avgdl)))

        blocks = None
        for f in sorted({f for f, _t in parsed}):
            ts = sorted({t for f2, t in parsed if f2 == f})
            b = (
                self.searchers[f]._blocks_for(ts)
                .select(
                    F.lit(f).alias("field"), "term", "range_id",
                    "first_doc", "docs_buf", "tfs_buf", "norms_buf",
                    "pos_buf",
                )
            )
            blocks = b if blocks is None else blocks.unionByName(b)

        parsed_l = list(parsed)
        ordered_l = bool(in_order)
        slop_l = int(slop)
        first_end = span_first_end
        base_key = next((f, t) for f, t in parsed if f == mask_to)
        empty = pd.DataFrame({
            "doc_id": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float32"),
        })

        def score_range(key, pdf):
            from .spans import (
                span_first_freq,
                span_ordered_freq,
                span_unordered_freq,
            )

            if pdf.empty:
                return empty
            per_term = {
                (f, t): p
                for f, g in pdf.groupby("field", sort=False)
                for t, p in decode_postings(g, pos_terms=set(g["term"])).items()
            }
            if any(ft not in per_term for ft in parsed_l):
                return empty
            abs_pos = {ft: _abs_positions(per_term, ft)
                       for ft in set(parsed_l)}
            # candidates: docs holding every clause
            cand = None
            for ft in parsed_l:
                d = abs_pos[ft][0]
                cand = d if cand is None else np.intersect1d(cand, d)
            if cand.size == 0:
                return empty
            bd, _btf, bnb, _bp = per_term[base_key]

            def doc_slice(ft, c):
                d, tf, run_starts, pos_abs = abs_pos[ft]
                j = int(np.searchsorted(d, c))
                s = int(run_starts[j])
                return pos_abs[s: s + int(tf[j])].tolist()

            out_d, out_s = [], []
            for c in cand:
                plists = [doc_slice(ft, c) for ft in parsed_l]
                if first_end is not None:
                    fq = span_first_freq(plists[0], first_end)
                elif ordered_l:
                    fq = span_ordered_freq(plists, slop_l)
                else:
                    fq = span_unordered_freq(plists, slop_l)
                if fq <= 0:
                    continue
                nb = bnb[int(np.searchsorted(bd, c))]
                out_d.append(int(c))
                out_s.append(np.float32(wv * fq / (fq + cache[nb])))
            if not out_d:
                return empty
            da = np.asarray(out_d, dtype=np.int64)
            sa = np.asarray(out_s, dtype=np.float32)
            order = np.lexsort((da, -sa.astype(np.float64)))[:k]
            return pd.DataFrame({"doc_id": da[order], "score": sa[order]})

        return (
            blocks.groupBy("range_id")
            .applyInPandas(score_range, schema=TOPK_SCHEMA)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
