"""Pure-Python/numpy Lucene-faithful control oracle.

Plays the role of the single-node "control" in the reference's
distributed-vs-control test pattern
(solr/test-framework/.../BaseDistributedSearchTestCase.java:91,223,328):
index the same corpus with plain Python, score with the same bit-exact
float32 BM25, and assert the Spark engine's top-k is rank- and
score-identical.

Tie-breaks: score DESC, then docID ASC (TopScoreDocCollector.java:63-80,
HitQueue.java:76-81; cross-partition merge order TopDocs.java:199-243 reduces
to docID ASC because our docIDs are globally dense and partition-ordered).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..analysis.smallfloat import encode_norm
from ..analysis.tokenizer import analyze, analyze_to_counts, analyze_with_positions
from .bm25 import (
    K1, avgdl_f32, combine_scores, idf_f32, idf_sum_f32, make_term_weight, norm_cache,
)
from .spans import span_alts, span_freq, span_sets, span_terms


@dataclass
class OracleIndex:
    doc_count: int = 0
    sum_ttf: int = 0
    postings: dict[str, dict[int, int]] = field(default_factory=dict)  # term -> {doc: tf}
    positions: dict[str, dict[int, list[int]]] = field(default_factory=dict)
    norm_bytes: dict[int, int] = field(default_factory=dict)  # doc -> norm byte
    field_len: dict[int, int] = field(default_factory=dict)

    @property
    def avgdl(self) -> np.float32:
        return avgdl_f32(self.sum_ttf, self.doc_count)


def build_oracle_index(docs: list[tuple[int, str]], norm: str = "bm25") -> OracleIndex:
    """docs: [(doc_id, content)] with deterministic, dense-ish doc_ids.
    `norm` picks the index-time norm encoder (setSimilarity's computeNorm
    half): 'bm25' 1/sqrt(len) or 'sweetspot' plateau lengthNorm."""
    from ..analysis.smallfloat import NORM_ENCODERS

    encoder = NORM_ENCODERS[norm]
    idx = OracleIndex()
    for doc_id, content in docs:
        pos_map, flen = analyze_with_positions(content or "")
        idx.doc_count += 1
        idx.sum_ttf += flen
        idx.field_len[doc_id] = flen
        idx.norm_bytes[doc_id] = int(encoder(np.array([flen]))[0])
        for term, plist in pos_map.items():
            idx.postings.setdefault(term, {})[doc_id] = len(plist)
            idx.positions.setdefault(term, {})[doc_id] = plist
    return idx


def oracle_topk(
    idx: OracleIndex,
    query: str,
    k: int = 10,
    mode: str = "or",
) -> list[tuple[int, np.float32]]:
    """Top-k (doc_id, float32 score), Lucene BooleanQuery SHOULD ('or') or
    MUST ('and') over the analyzed query terms. Duplicate query terms score
    as duplicate clauses (Lucene keeps duplicate SHOULD clauses)."""
    terms = analyze(query)
    if not terms:
        return []
    weights = {
        t: make_term_weight(t, len(idx.postings.get(t, {})), idx.doc_count, idx.avgdl)
        for t in set(terms)
    }
    # candidate docs
    doc_sets = [set(idx.postings.get(t, {})) for t in set(terms)]
    if mode == "and":
        cand = set.intersection(*doc_sets) if doc_sets else set()
    else:
        cand = set.union(*doc_sets) if doc_sets else set()
    if not cand:
        return []
    docs = np.array(sorted(cand), dtype=np.int64)
    norm = np.array([idx.norm_bytes[d] for d in docs], dtype=np.uint8)
    per_term = []
    for t in terms:  # duplicates = duplicate clauses
        post = idx.postings.get(t, {})
        tf = np.array([post.get(int(d), 0) for d in docs], dtype=np.float32)
        s = weights[t].score(tf, norm)
        s[tf == 0] = np.float32(0.0)
        per_term.append(s)
    scores = combine_scores(per_term)
    order = np.lexsort((docs, -scores.astype(np.float64)))
    top = order[:k]
    return [(int(docs[i]), np.float32(scores[i])) for i in top]


def oracle_lm_topk(
    idx: OracleIndex,
    query: str,
    similarity: str,
    k: int = 10,
) -> list[tuple[int, np.float32]]:
    """Control for the SimilarityBase models (LMDirichletSimilarity /
    LMJelinekMercerSimilarity / DFR InL2 / IB LL / DFI ×3 independence
    measures): SHOULD-sum over analyzed clauses, each clause scored by
    the model's formula over (tf, norm byte, collection stats)."""
    from .bm25 import (
        DFR_IB_SCORERS,
        collection_probability_f32,
        dfi_scores,
        lm_dirichlet_scores,
        lm_jelinek_mercer_scores,
        simbase_avgdl_f32,
    )

    terms = analyze(query)
    if not terms:
        return []
    cand = set.union(*[set(idx.postings.get(t, {})) for t in set(terms)])
    if not cand:
        return []
    docs = np.array(sorted(cand), dtype=np.int64)
    norm_all = np.array([idx.norm_bytes[d] for d in docs], dtype=np.uint8)
    av32 = simbase_avgdl_f32(idx.sum_ttf, idx.doc_count)
    per_term = []
    for t in terms:  # duplicates = duplicate clauses
        post = idx.postings.get(t, {})
        tf_all = np.array([post.get(int(d), 0) for d in docs], dtype=np.float32)
        # a clause scores only the docs holding its term (a zero lane
        # stays 0; the models are undefined at tf = 0)
        live = tf_all > 0
        tf, norm = tf_all[live], norm_all[live]
        if similarity in DFR_IB_SCORERS:
            s = DFR_IB_SCORERS[similarity](
                tf, norm, len(post), sum(post.values()), idx.sum_ttf,
                idx.doc_count, av32)
        elif similarity == "multi_bm25_classic":
            # MultiSimilarity CombSUM: float32 running sum of BM25 and
            # Classic(queryNorm=1) sub-scores, BM25 norms (sims[0])
            from .bm25 import CLASSIC_DECODE, classic_weight_value

            tw = make_term_weight(t, len(post), idx.doc_count, idx.avgdl)
            cache = norm_cache(np.float32(idx.avgdl))
            s1 = (
                np.float32(tw.weight_value) * tf / (tf + cache[norm])
            ).astype(np.float32)
            cwv = classic_weight_value(
                len(post), idx.doc_count, query_norm=1.0
            )
            s2 = (np.sqrt(tf) * cwv * CLASSIC_DECODE[norm]).astype(np.float32)
            s = (s1 + s2).astype(np.float32)
        elif similarity.startswith("dfi_"):
            s = dfi_scores(
                tf, norm, sum(post.values()), idx.sum_ttf,
                measure=similarity[len("dfi_"):],
            )
        else:
            lm_fn = (
                lm_dirichlet_scores
                if similarity == "lm_dirichlet"
                else lm_jelinek_mercer_scores
            )
            ttf = sum(post.values())
            p = collection_probability_f32(ttf, idx.sum_ttf)
            s = lm_fn(tf, norm, p)
        s_all = np.zeros(docs.size, dtype=np.float32)
        s_all[live] = s
        per_term.append(s_all)
    scores = combine_scores(per_term)
    order = np.lexsort((docs, -scores.astype(np.float64)))
    top = order[:k]
    return [(int(docs[i]), np.float32(scores[i])) for i in top]


def oracle_sweetspot_topk(
    idx: OracleIndex, query: str, k: int = 10, tf_fn=None
) -> list[tuple[int, np.float32]]:
    """Control for SweetSpotSimilarity (lucene/misc/SweetSpotSimilarity.java):
    ClassicSimilarity scoring — queryNorm * boost * idf^2 weights, coord —
    with baselineTf in place of sqrt(tf) and norm bytes that were WRITTEN
    by the sweetspot plateau lengthNorm (build_oracle_index(norm=
    'sweetspot')); duplicate query terms = duplicate clauses.
    tf_fn=np.sqrt over a BM25-norm index is ClassicSimilarity itself."""
    from .bm25 import (
        CLASSIC_DECODE,
        classic_idf_f32,
        classic_query_norm,
        classic_weight_value,
        sweetspot_baseline_tf,
    )

    terms = analyze(query)
    if not terms:
        return []
    cand = set.union(*[set(idx.postings.get(t, {})) for t in set(terms)])
    if not cand:
        return []
    docs = np.array(sorted(cand), dtype=np.int64)
    nb = np.array([idx.norm_bytes[d] for d in docs], dtype=np.uint8)
    qn = classic_query_norm(
        (classic_idf_f32(len(idx.postings.get(t, {})), idx.doc_count), 1.0)
        for t in terms
    )
    per_clause = []
    overlap = np.zeros(docs.size, dtype=np.int32)
    for t in terms:
        post = idx.postings.get(t, {})
        tf = np.array([post.get(int(d), 0) for d in docs], dtype=np.float32)
        wv = classic_weight_value(
            len(post), idx.doc_count, query_norm=float(qn)
        )
        s = ((tf_fn or sweetspot_baseline_tf)(tf) * wv * CLASSIC_DECODE[nb]).astype(np.float32)
        s[tf == 0] = np.float32(0.0)
        overlap += (tf > 0).astype(np.int32)
        per_clause.append(s)
    scores = combine_scores(per_clause)
    if len(terms) > 1:
        coords = (
            np.arange(len(terms) + 1, dtype=np.float32) / np.float32(len(terms))
        ).astype(np.float32)
        scores = (scores * coords[overlap]).astype(np.float32)
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return [(int(docs[i]), np.float32(scores[i])) for i in order]


def _automaton_path_freq(occ_map: dict[int, str], dfa_trans, dfa_accepts) -> int:
    """Independent TermAutomatonScorer.countMatches reference (sandbox/
    search/TermAutomatonScorer.java:226-345) by path enumeration over the
    DETERMINIZED automaton: every held state steps BOTH on the current
    token's term symbol (counting accepts) and on the ANY symbol (never
    counting — and never past the doc's last query token); each route is
    its own path because PosState.add never dedups. Structurally
    different from the engine's forward multiset walk."""
    qpos = sorted(occ_map)
    if not qpos:
        return 0
    max_qpos = qpos[-1]
    acc = set(dfa_accepts)
    dstep: dict[tuple[int, str], int] = {}
    astep: dict[int, int] = {}
    for f, lab, t in dfa_trans:
        if lab == "":
            astep[f] = t
        else:
            dstep[(f, lab)] = t
    hits = 0

    def dfs(state: int, pos: int) -> None:
        nonlocal hits
        if pos > max_qpos:
            return
        t = occ_map.get(pos)
        if t is not None:
            nxt = dstep.get((state, t))
            if nxt is not None:
                if nxt in acc:
                    hits += 1
                dfs(nxt, pos + 1)
        if pos < max_qpos:
            nxt = astep.get(state)
            if nxt is not None:
                dfs(nxt, pos + 1)

    for p in qpos:
        st = dstep.get((0, occ_map[p]))
        if st is not None:
            if st in acc:
                hits += 1
            dfs(st, p + 1)
    return hits


def oracle_term_automaton_topk(
    idx: OracleIndex, transitions, accepts, k: int = 10
) -> list[tuple[int, np.float32]]:
    """Control for TermAutomatonQuery (sandbox/search/TermAutomatonQuery
    .java): candidates are docs holding ANY automaton term (the scorer's
    DocIDQueue union), freq = countMatches via independent path
    enumeration over the finish()-determinized automaton, weight = BM25
    with idf summed float32 over every term label's stats
    (TermAutomatonWeight gathers TermContext per term; absent terms
    contribute idf(df=0))."""
    from .automaton import expand_determinize

    dfa_trans, dfa_accepts = expand_determinize(transitions, accepts)
    labels = sorted({lab for _f, lab, _t in transitions if lab})
    cand: set[int] = set()
    for t in labels:
        cand |= set(idx.postings.get(t, {}))
    if not cand:
        return []
    idf_sum = idf_sum_f32(
        idf_f32(len(idx.postings.get(t, {})), idx.doc_count) for t in labels
    )
    wv = np.float32(idf_sum * (K1 + np.float32(1.0)))
    cache = norm_cache(idx.avgdl)
    scored: list[tuple[int, np.float32]] = []
    for d in sorted(cand):
        occ_map: dict[int, str] = {}
        for t in labels:
            for p in idx.positions.get(t, {}).get(d, []):
                occ_map[p] = t
        f = _automaton_path_freq(occ_map, dfa_trans, dfa_accepts)
        if f <= 0:
            continue
        pf = np.float32(f)
        s = np.float32(wv * pf / (pf + cache[idx.norm_bytes[d]]))
        scored.append((d, s))
    scored.sort(key=lambda x: (-float(x[1]), x[0]))
    return scored[:k]


def _group_terms(members) -> tuple[str, ...]:
    """Every term a group's live member list touches."""
    out: tuple[str, ...] = ()
    for m in members:
        if isinstance(m, str):
            out += (m,)
        elif m[0] == "c":
            out += tuple(m[2])
        else:
            out += tuple(t for t, _wv in m[1])
    return out


def oracle_topk_spec(idx: OracleIndex, spec, k: int = 10) -> list[tuple[int, np.float32]]:
    """Control for BooleanSpec queries (engine.BooleanSpec): MUST/SHOULD/
    MUST_NOT/minShouldMatch, DisjunctionMax, any number of required or
    optional, boosted phrase clauses ((positions, slop, occur, boost), ...)
    whose positions ((term | (alt, ...), offset), ...) match the union of
    their alternatives (PhraseQuery and MultiPhraseQuery, exact or
    sloppy), any number of required span clauses (the node grammar on
    BooleanSpec.spans: SpanNear ordered/unordered, SpanNot, SpanContaining,
    SpanWithin, SpanPositionRange; each scored with its own pf map through
    the search/spans.py walks), and nested groups ((occur, (member, ...)),
    ...) whose members are a bare term (scored with the global weight),
    ("c", boost, (term, ...)) (a constant-score multi-term member scoring
    float32(boost)) or ("w", ((term, weightValue), ...)) (blended fuzzy
    members, their double sum cast to float32). The term automaton has
    its own control (oracle_term_automaton_topk). Plain dicts and sets
    throughout: the reference the engine's numpy scorer is checked
    against."""
    should = [t for t in spec.should if t in idx.postings]
    must = list(spec.must)
    # 0..N phrase clauses [(positions, slop, occur, boost)], each position
    # as (alternative set, offset)
    phrase_clauses = [
        (tuple((span_alts(c), off) for c, off in positions), slop, occ, boost)
        for positions, slop, occ, boost in spec.phrases
    ]
    # nested groups (typed members: scored term / const wrapper /
    # blended); dead members drop, a '+' group with no live member
    # matches nothing
    groups = []
    for occ, members in spec.groups:
        live = []
        for m in members:
            if isinstance(m, str):
                if m in idx.postings:
                    live.append(m)
            elif m[0] == "c":
                ts = tuple(t for t in m[2] if t in idx.postings)
                if ts:
                    live.append(("c", np.float32(m[1]), ts))
            else:
                ws = tuple((t, np.float32(wv)) for t, wv in m[1] if t in idx.postings)
                if ws:
                    live.append(("w", ws))
        if occ == "+" and not live:
            return []
        if live:
            groups.append((occ, tuple(live), _group_terms(live)))
    opt_pc = [pc for pc in phrase_clauses if pc[2] == ""]
    # every clause a hit must match, as its alternative set: must terms,
    # each position of a required phrase, each span node's sets (a SpanOr
    # needs one live alternative)
    required = (
        [(t,) for t in must]
        + [alts for positions, _s, occ, _b in phrase_clauses if occ == "+"
           for alts, _off in positions]
        + [alts for node in spec.spans for alts in span_sets(node)]
    )
    if any(all(t not in idx.postings for t in alts) for alts in required):
        return []
    group_terms = {m for _occ, ms, _ts in groups for m in ms if isinstance(m, str)}
    boost_map = dict(spec.boosts)
    weights = {
        t: make_term_weight(
            t, len(idx.postings.get(t, {})), idx.doc_count, idx.avgdl,
            boost=float(boost_map.get(t, 1.0)),
        )
        for t in set(should) | set(must) | group_terms
    }

    def _gdocs(ts):
        return set.union(*[set(idx.postings.get(t, {})) for t in ts]) if ts else set()

    # candidates
    if required:
        cand = set.intersection(*[_gdocs(alts) for alts in required])
    else:
        cand = set()
        if should:
            cand |= set.union(*[set(idx.postings[t]) for t in set(should)])
        for occ, _ms, ts in groups:
            if occ != "-":
                cand |= _gdocs(ts)
        for positions, _s, _occ, _b in opt_pc:
            cand |= set.intersection(*[_gdocs(alts) for alts, _off in positions])
    for occ, _ms, ts in groups:
        if occ == "+":
            cand &= _gdocs(ts)
        elif occ == "-":
            cand -= _gdocs(ts)
    for t in set(spec.must_not):
        cand -= set(idx.postings.get(t, {}))
    n_plus_groups = sum(1 for occ, _ms, _ts in groups if occ == "+")
    msm = max(spec.min_should_match, 0 if (required or n_plus_groups) else 1)

    def _plist(alts, d):
        return sorted(p for t in alts for p in idx.positions.get(t, {}).get(d, []))

    def _phrase_pf(positions, slop, d):
        """One doc's pf for a phrase clause: a position's occurrences are
        the union of its alternatives' (UnionPostingsEnum); slop > 0 is
        Lucene-exact SloppyPhraseScorer (search/sloppy.py)."""
        from .sloppy import sloppy_freq

        plists = [_plist(alts, d) for alts, _off in positions]
        if any(not p for p in plists):
            return 0
        if slop > 0:
            return sloppy_freq(
                plists, [off for _alts, off in positions], slop,
                terms=[alts for alts, _off in positions],
            )
        match = {p - positions[0][1] for p in plists[0]}
        for pl, (_alts, off) in zip(plists[1:], positions[1:]):
            match &= {p - off for p in pl}
        return len(match)

    # every positional clause as (pf_fn(d), idf terms, boost, occur):
    # PhraseWeight sums one idf per clause occurrence (repeats again; a
    # MultiPhraseQuery position adds every alternative's idf, df=0 ones
    # included — TermContext.build); SpanWeight sums the node's DISTINCT
    # terms, both sides of not/containing/within included
    pos_clauses = [
        (
            lambda d, p=positions, sl=slop: _phrase_pf(p, sl, d),
            [t for alts, _off in positions for t in alts], boost, occ,
        )
        for positions, slop, occ, boost in phrase_clauses
    ] + [
        (
            lambda d, n=node: span_freq(n, lambda alts: _plist(alts, d)),
            sorted(set(span_terms(node))), 1.0, "+",
        )
        for node in spec.spans
    ]
    pf_maps = []
    for pf_fn, _ts, _b, occ in pos_clauses:
        m = {d: f for d in sorted(cand) if (f := pf_fn(d)) > 0}
        pf_maps.append(m)
        if occ == "+":
            cand = set(m)
    if msm > 0:
        def _should_hits(d):
            # one hit per clause: a duplicate SHOULD term counts again
            h = sum(1 for t in should if d in idx.postings.get(t, {}))
            h += sum(
                1 for occ, _ms, ts in groups
                if occ == "" and any(d in idx.postings.get(t, {}) for t in ts)
            )
            h += sum(
                1 for pc, m in zip(pos_clauses, pf_maps) if pc[3] == "" and d in m
            )
            return h
        cand = {d for d in cand if _should_hits(d) >= msm}
    if not cand:
        return []
    docs = np.array(sorted(cand), dtype=np.int64)
    norm = np.array([idx.norm_bytes[d] for d in docs], dtype=np.uint8)
    # Boolean2ScorerSupplier tree: required clauses double-sum inside
    # ConjunctionScorer -> float32; optional clauses double-sum inside
    # DisjunctionSumScorer -> float32; ReqOptSumScorer adds the two
    # float32 sub-scores in FLOAT (pinned vs the compiled reference)
    per_clause = []   # optional side
    req_clause = []   # required side
    cache = norm_cache(idx.avgdl)
    for is_must, t in [(False, t) for t in spec.should] + [(True, t) for t in spec.must]:
        if t not in weights:
            continue
        post = idx.postings.get(t, {})
        tf = np.array([post.get(int(d), 0) for d in docs], dtype=np.float32)
        s = weights[t].score(tf, norm)
        s[tf == 0] = np.float32(0.0)
        (req_clause if is_must else per_clause).append(s)
    for occ, ms, _ts in groups:
        if occ == "-":
            continue
        # nested BooleanQuery: scored terms use the GLOBAL weight, 'c'
        # members add their constant boost when any member term hits
        # (MultiTermQueryConstantScoreWrapper), 'w' members are blended
        # sub-sums cast f32 at their boundary (BlendedTermQuery.BOOLEAN_
        # REWRITE); the group double sum casts to FLOAT32 and the outer
        # sum sees one float sub-score (Scorer.score contract)
        gacc = np.zeros(docs.size, dtype=np.float64)
        for m in ms:
            if isinstance(m, str):
                post = idx.postings.get(m, {})
                tf = np.array([post.get(int(d), 0) for d in docs], dtype=np.float32)
                s = weights[m].score(tf, norm)
                s[tf == 0] = np.float32(0.0)
                gacc += s.astype(np.float64)
            elif m[0] == "c":
                hit = np.array(
                    [any(int(d) in idx.postings.get(t, {}) for t in m[2]) for d in docs]
                )
                gacc += np.where(hit, np.float64(np.float32(m[1])), 0.0)
            else:
                wacc = np.zeros(docs.size, dtype=np.float64)
                for t, wv in m[1]:
                    post = idx.postings.get(t, {})
                    tf = np.array(
                        [post.get(int(d), 0) for d in docs], dtype=np.float32
                    )
                    s = (np.float32(wv) * tf / (tf + cache[norm])).astype(np.float32)
                    s[tf == 0] = np.float32(0.0)
                    wacc += s.astype(np.float64)
                gacc += wacc.astype(np.float32).astype(np.float64)
        (req_clause if occ == "+" else per_clause).append(gacc.astype(np.float32))
    # positional clauses: one score array each (float32 order identical
    # to _make_range_scorer: wv = f32(f32(idf_sum * boost) * (k1+1)))
    for (_pf, ts, boost, occ), m in zip(pos_clauses, pf_maps):
        if not m:
            continue
        idf_sum = idf_sum_f32(
            idf_f32(len(idx.postings.get(t, {})), idx.doc_count) for t in ts
        )
        w = np.float32(idf_sum * np.float32(boost))
        wv = np.float32(w * (K1 + np.float32(1.0)))
        pf = np.array([m.get(int(d), 0) for d in docs], dtype=np.float32)
        ps = (wv * pf / (pf + cache[norm])).astype(np.float32)
        ps[pf == 0] = np.float32(0.0)
        (req_clause if occ == "+" else per_clause).append(ps)
    if not per_clause and not req_clause:
        return []
    if spec.dismax:
        # DisjunctionMaxScorer.java:50-59: float32 scoreSum accumulation,
        # then scoreMax + (scoreSum - scoreMax) * tie in float32 ops
        stack = np.stack(per_clause)
        mx = stack.max(axis=0).astype(np.float32)
        tot = np.zeros_like(stack[0], dtype=np.float32)
        for row in stack:
            tot = (tot + row).astype(np.float32)
        scores = (mx + (tot - mx) * np.float32(spec.tiebreak)).astype(np.float32)
    elif req_clause and per_clause:
        req32 = combine_scores(req_clause)
        opt32 = combine_scores(per_clause)
        # ReqOptSumScorer: float add; opt contributes only where matched
        scores = np.where(opt32 > 0, (req32 + opt32).astype(np.float32), req32)
    elif req_clause:
        scores = combine_scores(req_clause)
    else:
        scores = combine_scores(per_clause)
    order = np.lexsort((docs, -scores.astype(np.float64)))
    return [(int(docs[i]), np.float32(scores[i])) for i in order[:k]]
