"""Distributed BM25 top-k query execution.

Query lifecycle (mirrors IndexSearcher.search -> createNormalizedWeight ->
per-leaf scorer -> TopScoreDocCollector -> TopDocs.merge; SURVEY.md §3.1):

 1. analyze(query) with the SAME chain as indexing (QueryParser analog).
 2. collect global term stats for the query's terms only (TermContext.build /
    ExactStatsCache: exact global df, never shard-local) — a direct read,
    in the driver and with no Spark job, of the term_stats files the
    searcher listed when it opened (search/snapshot.py).
 3. scan posting blocks pruned to (term bucket files) x (term row-group
    min/max) — the terms-dict/FST pruning analog, done by Parquet stats.
    A small scan (DRIVER_SCORE_MAX_BLOCKS) is a direct read of the same
    file snapshot, with no Spark job; a larger one is a Spark scan.
 4. groupBy(range_id): each doc-range partition scores like one Lucene
    segment — decode its blocks in one pass per column (search/postings.py),
    then one simpleqp.eval_tree call over the query's clause tree
    (spec_tree, or a parser's resolved tree): per-doc scores accumulate
    in double over the union of the postings' docs, cast to float32,
    local bounded top-k. A small scan
    (DRIVER_SCORE_MAX_BLOCKS) is decoded once in the driver process and
    scored by one eval_tree call over all of it.
 5. global merge: ORDER BY score DESC, doc_id ASC LIMIT k (TopDocs.merge
    tie-break; docIDs are globally dense so partition order == docID order).
 Steps 3-5 are one runner, IndexSearcher._run_tree, for every top-k
 entry point but the payload family.

Boolean semantics (BooleanWeight.java:375-533; BooleanScorer/ConjunctionDISI/
ReqExclScorer/MinShouldMatchSumScorer):
  * MUST terms all required (conjunction); SHOULD optional but if there are
    no MUST clauses at least max(1, minimumNumberShouldMatch) SHOULD terms
    must match; MUST_NOT excludes and never scores (ReqExclScorer).
  * score = double sum of matching clause float scores, cast to float32
    (DisjunctionSumScorer.java:40-46); duplicate clauses score repeatedly.
  * DisjunctionMax: max + tiebreak * (sum - max) (DisjunctionMaxScorer).
  * PhraseQuery: conjunction on docs, then position-list alignment
    (ExactPhraseScorer.java:27-110); tf := phrase frequency; weight uses
    the SUM of the terms' idfs (PhraseWeight via Similarity.computeWeight
    with all TermStatistics).

Block-max pruning (our extension; results MUST be identical):
  * MUST/phrase: a range lacking the rarest required term is never
    decoded; within a range, blocks outside that term's doc span are
    skipped on block metadata before decode (ConjunctionDISI cost-ordered
    leapfrog analog).
  * pure-OR: per-range upper bound = sum of best block bounds; a first wave
    over the best-bounded ranges establishes threshold theta; ranges
    bounded <= theta are never scored (block-max WAND at range granularity).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.tokenizer import analyze, analyze_with_positions_as
from ..index.builder import BLOCK_SCHEMA, BLOCK_SIZE, DEFAULT_TERM_BUCKETS, IndexPaths
from ..index.codec import decode_doc_blocks
from .bm25 import (
    B, K1, SIMILARITIES, avgdl_f32, idf_f32, idf_sum_f32, make_term_weight,
    norm_cache,
)
from .postings import decode_postings
from .simpleqp import _RangeCtx, eval_tree, tree_pos_terms, tree_terms
from .spans import span_alts, span_sets, span_shape_error, span_terms
from .snapshot import BucketFiles, index_filesystem

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)

#: the searcher's explicit read schemas (readable even for a
#: generation-0 index); the driver's direct reads use the same ones
POSTINGS_READ_SCHEMA = T.StructType(
    list(BLOCK_SCHEMA.fields) + [T.StructField("bucket", T.IntegerType(), True)]
)
TERM_STATS_READ_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), True),
    T.StructField("df", T.LongType(), True),
    T.StructField("ttf", T.LongType(), True),
    T.StructField("bucket", T.IntegerType(), True),
])

_EMPTY = pd.DataFrame(
    {"doc_id": pd.Series([], dtype="int64"), "score": pd.Series([], dtype="float32")}
)
_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32))


def _top_hits(docs: np.ndarray, scores: np.ndarray, k: int):
    """The k best (doc_id, score) arrays, ordered score DESC, doc_id ASC
    (the HitQueue / TopDocs.merge tie-break)."""
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return docs[order].astype(np.int64), scores[order]


def _hits_frame(docs: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
    """A range scorer's hits as the TOPK_SCHEMA pandas frame applyInPandas
    returns; only the distributed plan builds one."""
    return pd.DataFrame({"doc_id": docs, "score": scores}) if docs.size else _EMPTY


class HitsFrame(ClassicDataFrame):
    """A TOPK_SCHEMA DataFrame over (doc_id, score) arrays held in the
    driver process, the TopDocs a TopScoreDocCollector hands back.

    collect(), toPandas(), count() and limit(n) (so take, head and first)
    answer from the arrays, with no JVM call. The Spark plan (_jdf) is
    built only when another operator first needs it: a local relation
    from an Arrow table, so even then collecting it runs no task. A
    frame built from a Python list would run a Python-worker job on every
    collect (0.18-0.30 s measured on 4 cpus)."""

    def __new__(cls, spark, doc_ids, scores):
        # the classic __new__ calls __init__(jdf, session) itself
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, doc_ids, scores):
        self.doc_ids = np.array(doc_ids, dtype=np.int64)
        self.scores = np.array(scores, dtype=np.float32)
        self.doc_ids.flags.writeable = self.scores.flags.writeable = False
        super().__init__(None, spark)

    @property
    def _jdf(self):
        if self._relation is None:
            table = pa.table({"doc_id": self.doc_ids, "score": self.scores})
            self._relation = self._session.createDataFrame(table, TOPK_SCHEMA)._jdf
        return self._relation

    @_jdf.setter
    def _jdf(self, jdf):
        self._relation = jdf

    @property
    def schema(self) -> T.StructType:
        return TOPK_SCHEMA

    def collect(self) -> list:
        # tolist() widens float32 exactly, as Spark's pickler does
        return [Row(doc_id=d, score=s)
                for d, s in zip(self.doc_ids.tolist(), self.scores.tolist())]

    def toPandas(self) -> pd.DataFrame:
        return pd.DataFrame({"doc_id": self.doc_ids, "score": self.scores})

    def count(self) -> int:
        return len(self.doc_ids)

    def limit(self, num: int) -> DataFrame:
        if num < 0:  # Spark's own error for a negative limit
            return super().limit(num)
        # Spark's limit of a local relation keeps its first num rows
        return HitsFrame(self._session, self.doc_ids[:num], self.scores[:num])


def topk_frame(spark: SparkSession, doc_ids=(), scores=()) -> DataFrame:
    """TOPK_SCHEMA frame of hits already on the driver (none by default):
    a HitsFrame, whose local relation is built on first Spark use and
    whose collect() answers in process."""
    return HitsFrame(spark, doc_ids, scores)


#: widest doc-id set the filter cache may materialize on the driver
#: (the same boundary DELETES_DRIVER_MAX draws for tombstones)
FILTER_DRIVER_MAX = 1_000_000

#: driver plan for small top-k scans (IndexSearcher._run_tree): when the
#: query's block bound (sum over terms of min(df, ceil(df/BLOCK_SIZE) +
#: ranges)) is at most this, the pruned scan is read straight from the
#: searcher's bucket files, decoded once and scored in the driver process,
#: with no Spark job (a Python task costs ~0.12 s before the UDF runs).
#: Above it the distributed plan scores ranges in parallel; it is the only
#: plan that runs at corpus scale, and the one whose memory is not the
#: driver's. Measured with `tools/wand_study.py --crossover` (4 cpus,
#: local[2], make_corpus indexes, unpruned top-10 OR over the N most
#: frequent terms, median of 3 alternating runs), driver vs distributed s:
#: 24k docs / 188 ranges: bound 732 0.05 vs 1.29, 7.0k 0.18 vs 1.35,
#: 22.7k 0.57 vs 1.40, 42.0k 1.31 vs 2.64, 79.3k 1.84 vs 3.05, 118.5k
#: 3.01 vs 3.74; 48k docs / 47 ranges: bound 805 0.05 vs 0.47, 9.1k 0.40
#: vs 1.00, 20.7k 0.70 vs 1.18, 32.1k 1.10 vs 1.76, 43.4k 1.19 vs 2.30.
#: The driver won every row; its margin narrows from 2x at 42k to 1.2x
#: at 118k, so the crossover lies above 118k on two task slots (and lower
#: with more). The cap sits where the driver still wins by 1.6x or more.
DRIVER_SCORE_MAX_BLOCKS = 65_536

#: the driver plan's cap for a tree with positional leaves (phrase, span,
#: term automaton), never above DRIVER_SCORE_MAX_BLOCKS: their scorer
#: verifies positions doc by doc in Python, which the driver runs serially
#: and the distributed plan spreads over task slots, so they cross over
#: far below term queries. Measured with `tools/wand_study.py --crossover
#: --crossover-kinds sloppy,span,automaton` (same hosts and indexes as
#: above; a slop-3 MultiPhraseQuery, an unordered slop-3 SpanNear and a
#: two-step automaton over two halves of the N most frequent terms),
#: driver vs distributed s at the bound, sloppy / span / automaton:
#: 48k docs / 47 ranges: 805 0.74 vs 1.24 / 1.38 vs 1.63 / 0.80 vs 1.45;
#: 2.8k 2.77 vs 2.94 / 3.61 vs 4.37 / 2.80 vs 3.08; 6.1k 4.83 vs 3.29 /
#: 6.04 vs 3.91 / 7.38 vs 5.71; 24k docs / 188 ranges: 2.7k 1.21 vs 2.17
#: / 1.78 vs 2.80 / 1.71 vs 3.27; 12.5k 4.47 vs 4.27 / 4.42 vs 3.40 /
#: 6.95 vs 5.43. The driver won every row up to 2.8k blocks and lost
#: every row from 6.1k on the 48k index (12.5k on the 24k one); the cap
#: sits below the lowest crossover.
DRIVER_POSITIONAL_MAX_BLOCKS = 2_048

#: WAND two-wave: up to this many doc ranges the per-range block-max
#: bounds are collected to the driver once and reused for both wave-1
#: selection and the wave-2 survivor filter (16 bytes per range — the
#: Lucene analog keeps block metadata driver-side too); beyond it the
#: bounds frame persists and the survivor filter stays distributed
WAND_DRIVER_BOUNDS_MAX = 1_000_000


@dataclass(frozen=True)
class BooleanSpec:
    """Normalized boolean query (BooleanQuery.Builder analog). Term lists
    are analyzed terms; duplicates in `should` are duplicate clauses."""

    should: tuple[str, ...] = ()
    must: tuple[str, ...] = ()
    must_not: tuple[str, ...] = ()
    min_should_match: int = 0
    dismax: bool = False  # score SHOULD clauses as DisjunctionMax
    tiebreak: float = 0.0
    # Span clauses, each a REQUIRED (MUST) clause, in query order:
    # (node, ...). A node is one of Lucene's span queries (lucene/core/
    # .../search/spans/):
    #   ("near", clauses, slop, ordered)  SpanNearQuery; a clause is a
    #                                     term or a tuple of alternative
    #                                     terms — a SpanOr of term spans
    #                                     (union of positions; normalized
    #                                     by span_alts), the shape
    #                                     ComplexPhraseQueryParser emits
    #                                     for wildcard/fuzzy/paren elements
    #   ("not", near, exclude)            SpanNotQuery, pre = post = 0:
    #                                     near spans overlapping an exclude
    #                                     occurrence drop; exclude is a
    #                                     tuple of terms or a "near" node
    #                                     (ComplexPhraseQueryParser's
    #                                     in-phrase negation, rewrite:
    #                                     318-345)
    #   ("containing", near, terms)       SpanContainingQuery: near spans
    #                                     holding one of the terms
    #   ("within", near, terms)           SpanWithinQuery: the terms'
    #                                     occurrences inside a near span
    #                                     (width 0 each)
    #   ("range", term, lo, hi)           SpanPositionRangeQuery: lo <= pos
    #                                     and pos+1 <= hi; SpanFirstQuery
    #                                     is lo = 0 (SpanFirstQuery.java:34)
    # The near under not/containing/within is ordered when the other side
    # is terms (the walks are ordered), and a near exclude shares the
    # include's in-order flag. freq = Σ 1/(width+1) (search/spans.py);
    # weight = float32 sum of idf over the node's DISTINCT terms, both
    # sides included (SpanWeight's term->context map)
    spans: tuple = ()
    # BoostQuery per-term multiplicative boosts ((term, boost), ...):
    # weightValue = idf * boost * (k1+1) (search/BoostQuery.java)
    boosts: tuple[tuple[str, float], ...] = ()
    # one-level nested BooleanQuery clauses ((occur, (member, ...)), ...)
    # with occur in {'', '+', '-'} — the classic QueryParser's paren
    # groups and its multi-term clauses. A member is one of
    #   term                        — scored SHOULD TermQuery (a bare
    #                                 string)
    #   ("c", boost, (term, ...))   — CONSTANT_SCORE multi-term rewrite
    #                                 (MultiTermQueryConstantScoreWrapper:
    #                                 wildcard/prefix/regexp/range; the
    #                                 member scores float32(boost) when
    #                                 any of its terms matches)
    #   ("w", ((term, wv), ...))    — blended fuzzy members, each scored
    #                                 BM25 with its OWN weightValue
    #                                 (FuzzyQuery's TopTermsBlendedFreq
    #                                 ScoringRewrite, BlendedTermQuery.
    #                                 BOOLEAN_REWRITE); their double sum
    #                                 casts to float32 as one sub-score
    # Group hit = any live member matches; group score = float32(double
    # sum of matching members' sub-scores) — one clause for msm and the
    # required check. A '+' group with no live member matches nothing
    # (MatchNoDocsQuery); the parser writes ("+", ()) for a required
    # clause that expanded to no index term.
    groups: tuple[tuple[str, tuple], ...] = ()
    # Similarity plug point (§2.10; IndexSearcher.setSimilarity): a name
    # in bm25.SIMILARITIES, 'bm25' by default. Every similarity scores
    # the term clauses; positional clauses are BM25-only.
    similarity: str = "bm25"
    # PhraseQuery / MultiPhraseQuery clauses, any number of them (a
    # BooleanQuery holds any mix): ((positions, slop, occur, boost), ...)
    #   positions = ((term | (alt, ...), offset), ...) in query order; a
    #               bare term is one alternative, a tuple is a
    #               MultiPhraseQuery position matching any of its terms
    #               (UnionPostingsEnum; normalized by span_alts)
    #   slop      = 0: exact alignment (ExactPhraseScorer); > 0: the
    #               Lucene-exact SloppyPhraseScorer weighted freq
    #               Σ 1/(matchLength+1) over per-position union postings,
    #               repeats and multi-term repeats included (search/sloppy.py)
    #   occur     = '+' required clause; '' optional SHOULD clause (adds
    #               score and counts toward minShouldMatch when it matches)
    #   boost     = BoostQuery around the clause ('"..."^2'): multiplies
    #               the idf sum before (k1+1) (search/BoostQuery.java)
    # weight = float32 sum of idf over every alternative at every
    # position, df=0 alternatives included (TermContext.build)
    phrases: tuple[tuple, ...] = ()
    # TermAutomatonQuery (lucene/sandbox/src/java/org/apache/lucene/
    # search/TermAutomatonQuery.java): a determinized automaton whose
    # transitions are terms — (transitions, accepts) with transitions =
    # ((from_state, label, to_state), ...), label '' = the ANY arc, and
    # start state 0. Candidate docs are the UNION of the labels' postings
    # (the scorer "acts like a disjunction", per the reference javadoc);
    # freq = accepting TERM-arc arrivals of the per-position NFA walk
    # (TermAutomatonScorer.countMatches — ANY arcs advance state but an
    # accept reached via ANY does not count, and state multisets are NOT
    # deduplicated, both reproduced exactly).
    term_automaton: tuple[tuple, tuple] | None = None

    def __post_init__(self):
        # every scoring path (topk_spec, oracle_topk_spec, MemoryIndex)
        # sees the spec, so a shape the walks cannot score is refused here
        for node in self.spans:
            err = span_shape_error(node)
            if err:
                raise ValueError(f"span clause {node!r}: {err} is not supported")

    @property
    def positional_terms(self) -> tuple[str, ...]:
        out = tuple(t for node in self.spans for t in span_terms(node))
        for positions, _slop, _occ, _b in self.phrases:
            out += tuple(t for c, _off in positions for t in span_alts(c))
        return out + self._automaton_labels

    @property
    def _automaton_labels(self) -> tuple[str, ...]:
        """The term automaton's distinct labels, sorted: its one set."""
        if self.term_automaton is None:
            return ()
        return tuple(sorted({lab for _f, lab, _t in self.term_automaton[0] if lab}))

    @property
    def required_sets(self) -> tuple[tuple[str, ...], ...]:
        """Every clause a hit must match, as its alternative terms: a doc
        needs one term of each set, so a set with no live term matches
        nothing. Covers `must` terms, each span node's sets, each
        position of a '+' phrase, the term automaton (one set of all its
        labels) and '+' groups (whose empty member list matches
        nothing)."""
        out = tuple((t,) for t in self.must)
        out += tuple(alts for node in self.spans for alts in span_sets(node))
        for positions, _slop, occ, _b in self.phrases:
            if occ == "+":
                out += tuple(span_alts(c) for c, _off in positions)
        if self.term_automaton is not None:
            out += (self._automaton_labels,)
        out += tuple(
            _member_terms(members) for occ, members in self.groups if occ == "+"
        )
        return out

    @property
    def scoring_terms(self) -> tuple[str, ...]:
        out = tuple(self.should) + tuple(self.must) + self.positional_terms
        for occ, members in self.groups:
            if occ != "-":
                out += _member_terms(members)
        return out

    @property
    def all_terms(self) -> tuple[str, ...]:
        out = self.scoring_terms + tuple(self.must_not)
        for occ, members in self.groups:
            if occ == "-":
                out += _member_terms(members)
        return out


def _member_terms(members) -> tuple[str, ...]:
    """Every term a group's member list touches (BooleanSpec.groups)."""
    out: tuple[str, ...] = ()
    for m in members:
        if isinstance(m, str):
            out += (m,)
        elif m[0] == "c":
            out += tuple(m[2])
        else:  # "w"
            out += tuple(t for t, _wv in m[1])
    return out


def spec_tree(spec: BooleanSpec) -> tuple:
    """The spec as one simpleqp.eval_tree node: a top-level bool whose
    clauses are, in order, the `should` / `must` / `must_not` term
    leaves, each group as a nested bool of its members (a "c" member is
    a boosted const leaf, a "w" member a blend leaf), each phrase as a
    (boosted) phrase leaf, each span node and the term automaton as a
    required leaf. A dismax spec's `should` clauses form one dismax
    node, a term's duplicates side by side in first-occurrence order
    (the order of its float32 sum). The top bool applies the
    similarity's coord."""
    if spec.dismax:
        should = sorted(spec.should, key=spec.should.index)
        clauses = [("", ("dismax", spec.tiebreak, tuple(("term", t) for t in should)))]
    else:
        clauses = [("", ("term", t)) for t in spec.should]
        clauses += [("+", ("term", t)) for t in spec.must]
    clauses += [("-", ("term", t)) for t in spec.must_not]
    for occ, members in spec.groups:
        nodes = tuple(
            ("", ("term", m) if isinstance(m, str)
             else ("boosted", m[1], ("const", m[2])) if m[0] == "c"
             else ("blend", m[1]))
            for m in members
        )
        clauses.append((occ, ("bool", nodes, 0)))
    for positions, slop, occ, boost in spec.phrases:
        node = ("phrase", positions, slop)
        clauses.append((occ, node if boost == 1 else ("boosted", boost, node)))
    clauses += [("+", ("span_node", node)) for node in spec.spans]
    if spec.term_automaton is not None:
        clauses.append(("+", ("automaton", spec.term_automaton)))
    return ("bool", tuple(clauses), spec.min_should_match,
            SIMILARITIES[spec.similarity].coord)


def ngram_phrase_rewrite(
    phrase: tuple[tuple[str, int], ...], n: int
) -> tuple[tuple[str, int], ...]:
    """NGramPhraseQuery.rewrite (search/NGramPhraseQuery.java:34-58):
    for an exact phrase of >= 3 consecutive-position n-gram terms
    (n >= 2), keep only every n-th term plus the last, positions
    preserved — the overlapping grams in between are implied, so the
    match set is identical on a true n-gram field while touching
    ~1/n of the postings. Non-optimizable shapes return unchanged."""
    terms = [t for t, _ in phrase]
    pos = [p for _, p in phrase]
    optimizable = (
        n >= 2
        and len(terms) >= 3
        and all(pos[i] == pos[i - 1] + 1 for i in range(1, len(pos)))
    )
    if not optimizable:
        return tuple(phrase)
    return tuple(
        (terms[i], pos[i])
        for i in range(len(terms))
        if i % n == 0 or i == len(terms) - 1
    )


class FilterCache:
    """LRUQueryCache + UsageTrackingQueryCachingPolicy analog
    (search/LRUQueryCache.java, search/UsageTrackingQueryCachingPolicy.java):
    caches a FILTER clause's matching doc-id set, but only once the same
    filter has been seen `min_frequency` times in the recent-history ring
    buffer (FrequencyTrackingRingBuffer — one-shot filters never pollute
    the cache), with LRU eviction at `max_entries` and a per-entry doc
    cap (`max_docs`, the maxRamBytesUsed analog: a filter matching half
    the corpus is cheaper to re-run than to pin in memory)."""

    def __init__(self, max_entries: int = 32, min_frequency: int = 2,
                 history: int = 256, max_docs: int = 1 << 20):
        from collections import OrderedDict, deque

        self.max_entries = max_entries
        self.min_frequency = min_frequency
        self.max_docs = max_docs
        self._cache: "OrderedDict[tuple, np.ndarray]" = OrderedDict()
        self._history: "deque[tuple]" = deque(maxlen=history)
        self.hits = 0
        self.misses = 0
        self.evictions = 0

    def _frequency(self, key: tuple) -> int:
        return sum(1 for k in self._history if k == key)

    def get(self, key: tuple) -> "np.ndarray | None":
        self._history.append(key)
        got = self._cache.get(key)
        if got is not None:
            self._cache.move_to_end(key)
            self.hits += 1
            return got
        self.misses += 1
        return None

    def put(self, key: tuple, docs: "np.ndarray") -> bool:
        """Store iff the policy says this filter is worth caching."""
        if docs.size > self.max_docs or self._frequency(key) < self.min_frequency:
            return False
        self._cache[key] = docs
        self._cache.move_to_end(key)
        while len(self._cache) > self.max_entries:
            self._cache.popitem(last=False)
            self.evictions += 1
        return True


def _segment_heads_fn(sort_cols: list[str], n: int, deleted):
    """mapInPandas fn for EarlyTerminatingSortingCollector's candidate
    pass: emit the first n live rows of every sorted run of every file
    (`_seg` column). A docs file is sorted by (layout bucket, index
    sort), so runs are detected by the sort key lexicographically
    DECREASING between consecutive rows; per-file (last key, rows taken
    in current run) state survives Arrow batch splits. Vectorized —
    no per-row Python."""

    def heads(batches):
        state: dict[str, tuple] = {}
        for pdf in batches:
            if deleted is not None and deleted.size:
                pdf = pdf[~pdf["doc_id"].isin(deleted)]
                if not len(pdf):
                    continue
            pdf = pdf.reset_index(drop=True)
            keep = np.zeros(len(pdf), dtype=bool)
            for seg, sub in pdf.groupby("_seg", sort=False):
                last_key, carry = state.get(seg, (None, 0))
                m = len(sub)
                # lexicographic descent vs previous row marks a new run
                lt = np.zeros(m, dtype=bool)
                eq = np.ones(m, dtype=bool)
                for c in sort_cols:
                    v = sub[c].to_numpy()
                    pv = np.concatenate(([v[0]], v[:-1]))
                    lt |= eq & (v < pv)
                    eq &= v == pv
                if last_key is None:
                    lt[0] = False
                    carry = 0
                else:
                    lt[0] = tuple(sub[c].iloc[0] for c in sort_cols) < last_key
                    if lt[0]:
                        carry = 0
                idx = np.arange(m)
                run = np.cumsum(lt)
                pos = idx - np.maximum.accumulate(np.where(lt, idx, 0))
                total = pos + np.where(run == 0, carry, 0)
                keep[sub.index.to_numpy()] = total < n
                state[seg] = (
                    tuple(sub[c].iloc[-1] for c in sort_cols),
                    int(total[-1]) + 1,
                )
            out = pdf[keep]
            if len(out):
                yield out

    return heads


def phrase_pairs(query: str, analyzer: str = "standard") -> tuple[tuple[str, int], ...]:
    """A phrase query's (term, offset) pairs, rebased to the first term:
    positions come from the index's own analysis chain, so stop-filter
    gaps, stacked tokens and POSINC chains line up with the postings
    (QueryParser builds PhraseQuery with analysis positions)."""
    pairs = analyze_with_positions_as(analyzer, query)
    if not pairs:
        return ()
    base = pairs[0][1]
    return tuple((t, p - base) for t, p in pairs)


def phrase_spec(query: str, slop: int = 0) -> BooleanSpec:
    """One required PhraseQuery clause over the analyzed query."""
    pairs = phrase_pairs(query)
    return BooleanSpec(phrases=((pairs, slop, "+", 1.0),) if pairs else ())


class IndexSearcher:
    def __init__(self, spark: SparkSession, index_dir: str, n_term_buckets: int | None = None):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        from ..index.compact import recover_postings

        recover_postings(self.paths)  # heal a crashed compaction swap
        self._fs = index_filesystem(index_dir)
        # the one-row corpus stats table, read in the driver (no job)
        row = pq.read_table(
            os.path.abspath(self.paths.corpus_stats), filesystem=self._fs
        ).to_pylist()[0]
        self.doc_count = int(row["doc_count"])
        self.sum_ttf = int(row["sum_ttf"])
        self.avgdl = avgdl_f32(self.sum_ttf, self.doc_count)
        with open(self.paths.manifest("postings")) as f:
            pm = json.load(f)
        if n_term_buckets is None:
            n_term_buckets = int(pm.get("n_term_buckets", DEFAULT_TERM_BUCKETS))
        self.n_term_buckets = n_term_buckets
        # the index's analysis chain (IndexWriterConfig(Analyzer) analog):
        # query strings MUST be analyzed with the same chain
        self.analyzer = pm.get("analyzer", "standard")
        # IndexWriterConfig.setSimilarity's index-time half: which norm
        # encoder wrote this index's norm bytes ('bm25' = 1/sqrt(len),
        # 'sweetspot' = the plateau lengthNorm). Query-time similarity
        # must agree — see _check_norm_compatible
        self.norm = pm.get("norm", "bm25")
        self._range_size = int(pm.get("range_size", 8192))
        # IndexWriterConfig.setIndexSort analog (see builder): non-empty
        # means every segment file is sorted by these columns
        self.index_sort: list[str] = list(pm.get("index_sort", []))
        # LRUQueryCache analog: FILTER-clause doc-id sets cached per
        # searcher snapshot (a snapshot's postings never change, so the
        # cache needs no invalidation — reopening = a new searcher, the
        # reader-close semantics of the reference cache)
        self.query_cache = FilterCache()
        # explicit schema: readable even for a generation-0 (empty) index
        self._postings = spark.read.schema(POSTINGS_READ_SCHEMA).parquet(self.paths.postings)
        self._term_stats = spark.read.schema(TERM_STATS_READ_SCHEMA).parquet(
            self.paths.term_stats
        )
        # the file snapshot those readers listed: term-stats lookups and
        # driver-plan scans read these files directly, with no Spark job
        self._postings_files = BucketFiles(self._fs, self._postings, POSTINGS_READ_SCHEMA)
        self._stats_files = BucketFiles(self._fs, self._term_stats, TERM_STATS_READ_SCHEMA)
        # per-snapshot term-stats cache (df is immutable for this reader)
        self._tw_cache: dict[str, dict] = {}
        # liveDocs: tombstoned docs are masked at scoring time with STALE
        # stats (Lucene deletes semantics; compact purges them). Small
        # sets ride in scorer closures as a sorted array; corpus-scale
        # sets stay a DataFrame and reach each doc-range scorer via a
        # range_id cogroup (never materialized on the driver).
        from ..index.deletes import load_deleted

        self.deleted, self.deleted_df = load_deleted(spark, self.paths)
        # Opt-in bloom-filtered term dictionary (index/bloom.py — the
        # BloomFilteringPostingsFormat analog): trusted only when its
        # manifest generation matches the index's current generation_no
        # (an increment adds terms the bloom never saw; a stale bloom
        # would be a FALSE-NEGATIVE wrong-answer trap, so it disarms).
        self._blooms: dict[int, object] | None = None
        self._bloom_armed = False
        bm_p = self.paths.manifest("bloom")
        if os.path.exists(bm_p):
            with open(bm_p) as f:
                bloom_gen = int(json.load(f).get("generation_no", -1))
            gen = 0
            ln_p = self.paths.manifest("lineage")
            if os.path.exists(ln_p):
                with open(ln_p) as f:
                    gen = int(json.load(f).get("generation_no", 0))
            self._bloom_armed = bloom_gen == gen

    # ---------------- Weight stage ----------------

    def _analyze(self, text: str) -> list[str]:
        """Query analysis with the index's OWN chain (the manifest-carried
        analyzer name) — mixed chains would search lowercased terms in a
        case-preserving index and silently miss."""
        if self.analyzer == "standard":
            return analyze(text)
        from ..analysis.tokenizer import analyze_as

        return analyze_as(self.analyzer, text)

    def _buckets_of(self, terms: list[str]) -> list[int]:
        """crc32 term bucket ids, computed driver-side (no Spark job) —
        matches the build's F.crc32(encode(term)) % n exactly."""
        import zlib

        return sorted({zlib.crc32(t.encode("utf-8")) % self.n_term_buckets for t in terms})

    def _bloom_maybe(self, term: str) -> bool:
        """Probe the term's bucket bloom: False == definitely absent
        (FuzzySet.ContainsResult.NO). Missing or retired (saturated)
        bucket sets answer MAYBE, exactly like the reference's
        delegate-through when no .blm set was saved. Blooms load lazily
        once per searcher — a few KB per bucket, no Spark job after."""
        import zlib

        if self._blooms is None:
            from ..index.bloom import load_blooms

            self._blooms = load_blooms(self.spark, self.paths.bloom)
        fs = self._blooms.get(zlib.crc32(term.encode("utf-8")) % self.n_term_buckets)
        return True if fs is None else fs.contains(term.encode("utf-8"))

    def term_weights(self, terms: list[str]) -> dict[str, dict]:
        """Global-exact per-term stats + float32 weightValue (idf*boost*(k1+1)).
        The stats are a direct read of the searcher's file snapshot in the
        driver, with no Spark job (TermContext.build reads the terms dict
        in process too): only the terms' bucket files, row groups pruned
        on term. Results are cached per searcher (the LRUQueryCache/
        TermContext reuse analog: an index snapshot's df never changes,
        so repeated or overlapping queries skip the read)."""
        uniq = sorted(set(terms))
        missing = [t for t in uniq if t not in self._tw_cache]
        if missing and self._bloom_armed:
            # the bloom term-miss fast path (BloomFilteringPostingsFormat
            # .java:326-335: contains == NO -> no termsEnum seek): terms
            # the bucket's FuzzySet rejects are DEFINITELY absent — cache
            # df=0 stats without touching term_stats parquet at all
            present, absent = [], []
            for t in missing:
                (present if self._bloom_maybe(t) else absent).append(t)
            for t in absent:
                tw = make_term_weight(t, 0, self.doc_count, self.avgdl)
                self._tw_cache[t] = {
                    "df": 0, "ttf": 0, "weight_value": float(tw.weight_value),
                }
            missing = present
        if missing:
            rows = self._stats_files.read(
                self._buckets_of(missing), ["term", "df", "ttf"],
                ds.field("term").isin(missing),
            ).to_pylist()
            stats = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}
            for t in missing:
                df_, ttf_ = stats.get(t, (0, 0))
                tw = make_term_weight(t, df_, self.doc_count, self.avgdl)
                self._tw_cache[t] = {
                    "df": df_, "ttf": ttf_, "weight_value": float(tw.weight_value),
                }
        # copies: callers (boosts) mutate their view
        return {t: dict(self._tw_cache[t]) for t in uniq}

    # ---------------- pruned posting scan ----------------

    def _blocks_for(self, terms: list[str]) -> DataFrame:
        uniq = sorted(set(terms))
        # literal bucket ids -> parquet partition pruning; term isin -> row-group stats
        return self._postings.filter(
            F.col("bucket").isin(self._buckets_of(uniq)) & F.col("term").isin(uniq)
        )

    # ---------------- top-k entry points ----------------

    def topk(self, query: str, k: int = 10, mode: str = "or", prune: bool | None = None,
             first_wave_ranges: int = 32) -> DataFrame:
        terms = tuple(self._analyze(query))
        spec = BooleanSpec(must=terms) if mode == "and" else BooleanSpec(should=terms)
        return self.topk_spec(spec, k=k, prune=prune, first_wave_ranges=first_wave_ranges)

    def topk_boolean(self, *, should: str = "", must: str = "", must_not: str = "",
                     min_should_match: int = 0, k: int = 10) -> DataFrame:
        spec = BooleanSpec(
            should=tuple(self._analyze(should)),
            must=tuple(self._analyze(must)),
            must_not=tuple(self._analyze(must_not)),
            min_should_match=min_should_match,
        )
        return self.topk_spec(spec, k=k)

    def topk_join_util(self, query: str, keys_df: DataFrame, mode: str = "max",
                       k: int = 10, key_col: str = "source") -> DataFrame:
        """Query-time join — JoinUtil.createJoinQuery (lucene/join/src/
        java/org/apache/lucene/search/join/JoinUtil.java:95) with
        fromField == toField == `key_col` over the corpus itself:
        1. fromQuery (OR of terms) scores EVERY matching doc (not a
           top-k — the collector sees all hits);
        2. scores aggregate per join value exactly as
           TermsWithScoreCollector.SV (float32 running fold in docID
           order for `total`, first-set-then-compare for `min`/`max`
           — TermsWithScoreCollector.java:76-99 — and the f32-sum /
           int-count divide of SV.Avg for `avg`);
        3. the to side (TermsIncludingScoreQuery's SVInOrderScorer)
           matches every doc whose `key_col` term was collected, scored
           by that term's aggregated value (`none` = TermsQuery,
           constant 1.0), ranked score DESC / doc ASC.
        Scale: step 1 is the existing pruned block scan; the aggregation
        is one shuffle keyed by join value (bounded by distinct keys,
        map-side combined for max/min); the to side is a broadcast join
        of the aggregated key table — the corpus is scanned once per
        side and never all-pairs. Pinned vs the compiled JoinUtil in
        tests/test_lucene_ground_truth.py (GT round 68)."""
        from pyspark.sql import functions as F

        scores = self.topk_spec(
            BooleanSpec(should=tuple(self._analyze(query))), k=1 << 30
        )
        keyed = scores.join(keys_df, "doc_id")
        if mode == "none":
            agg = keyed.select(key_col).distinct().withColumn(
                "jscore", F.lit(1.0).cast("float"))
        elif mode in ("max", "min"):
            agg = keyed.groupBy(key_col).agg(
                (F.max if mode == "max" else F.min)("score").alias("jscore"))
        elif mode in ("total", "avg"):
            # float32 left fold in docID order (the collector's += on a
            # float[] as hits arrive) — Catalyst higher-order functions,
            # no UDF; first-assignment == 0.0f + x in float32
            fold = ("CAST(aggregate(transform(array_sort("
                    "collect_list(struct(doc_id, score))), "
                    "x -> CAST(x.score AS FLOAT)), CAST(0.0 AS FLOAT), "
                    "(a, x) -> CAST(a + x AS FLOAT)) AS FLOAT)")
            if mode == "avg":
                fold = f"CAST({fold} / count(*) AS FLOAT)"
            agg = keyed.groupBy(key_col).agg(F.expr(f"{fold} AS jscore"))
        else:
            raise ValueError(f"unknown ScoreMode: {mode}")
        out = (
            keys_df.join(F.broadcast(agg), key_col)
            .select("doc_id", F.col("jscore").cast("float").alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
        return out

    def topk_common_terms(
        self, query: str, max_term_frequency: float = 0.4, k: int = 10
    ) -> DataFrame:
        """CommonTermsQuery (lucene/queries/src/java/org/apache/lucene/
        queries/CommonTermsQuery.java:178 buildQuery, default SHOULD/SHOULD
        occurs, no minimumShouldMatch): terms whose docFreq exceeds
        ceil(maxTermFrequency * maxDoc) become an OPTIONAL high-freq
        clause; the rest form a REQUIRED low-freq group (>=1 must match).
        With lowFreq empty the high-freq terms rewrite to a conjunction
        (:213 — "prevent slow queries"). The df split reuses the cached
        TermContext stats, so classification costs no extra Spark job;
        the rewritten query runs through the same range scorer, meaning
        WAND pruning still sees the high-df terms as optional — at scale
        this is the whole point of the query: the stopword-scale postings
        never gate candidate generation."""
        terms = tuple(self._analyze(query))
        weights = self.term_weights(list(terms))
        cutoff = math.ceil(max_term_frequency * self.doc_count)
        # the low-freq group's members are distinct: a repeated query
        # term scores once inside it
        low = tuple(sorted({t for t in terms if weights[t]["df"] <= cutoff}))
        high = tuple(t for t in terms if weights[t]["df"] > cutoff)
        if not low:
            spec = BooleanSpec(must=high)
        elif not high:
            spec = BooleanSpec(groups=(("+", low),))
        else:
            spec = BooleanSpec(should=high, groups=(("+", low),))
        return self.topk_spec(spec, k=k)

    def topk_dismax(self, query: str, k: int = 10, tiebreak: float = 0.0) -> DataFrame:
        spec = BooleanSpec(should=tuple(self._analyze(query)), dismax=True, tiebreak=tiebreak)
        return self.topk_spec(spec, k=k, prune=False)

    def topk_phrase(self, query: str, k: int = 10, slop: int = 0) -> DataFrame:
        # phrase positions come from the index's OWN analyzer (the WDF
        # 'code' chain splits identifiers with its own posInc gaps;
        # 'english' stems; stop gaps differ). No pairs leaves the spec
        # with no scoring term, which topk_spec answers with no rows.
        pairs = phrase_pairs(query, self.analyzer)
        return self.topk_spec(BooleanSpec(phrases=((pairs, slop, "+", 1.0),)), k=k)

    def topk_span_near(
        self, terms: list[str], slop: int = 0, in_order: bool = True, k: int = 10
    ) -> DataFrame:
        """SpanNearQuery over term clauses (spans/SpanNearQuery.java):
        ordered or unordered proximity with slop, scored Σ 1/(width+1)."""
        clauses = tuple(self._analyze(" ".join(terms)))
        return self.topk_spec(
            BooleanSpec(spans=(("near", clauses, slop, in_order),)), k=k
        )

    def topk_span_first(self, term: str, end: int, k: int = 10) -> DataFrame:
        """SpanFirstQuery (spans/SpanFirstQuery.java): occurrences whose
        end position is <= end."""
        toks = self._analyze(term)
        if not toks:
            return topk_frame(self.spark)
        return self.topk_spec(BooleanSpec(spans=(("range", toks[0], 0, end),)), k=k)

    def _topk_payload_walk(self, terms: list[str], slop: int, ordered: bool,
                           k: int, per_doc_fn, boost: float = 1.0) -> DataFrame:
        """Shared plan for the payload query family: pruned block scan of
        the clause terms (positions + payload stream), one bounded-heap
        scorer per doc range, global top-k merge. per_doc_fn(spans_iter,
        paylists, wv, nb) -> float32 score or None (no hit); spans_iter
        yields (width, idx_tuple) from payloads.span_match_positions.
        `boost` is a SpanBoostQuery wrapper: SpanWeight.normalize threads
        it into BM25Stats (weight = idf * boost in float32 —
        similarities/BM25Similarity.java:296 — then
        weightValue = weight * (k1 + 1)), so it scales the SPAN score
        leg only, never the payload factor."""
        from .payloads import span_match_positions

        clauses = tuple(terms)
        weights = self.term_weights(sorted(set(clauses)))
        if any(weights[t]["df"] == 0 for t in clauses):
            return topk_frame(self.spark)
        # SpanWeight.buildSimWeight: DISTINCT terms (term->context map)
        idf_sum = idf_sum_f32(
            idf_f32(weights[t]["df"], self.doc_count) for t in sorted(set(clauses))
        )
        wv = np.float32(
            np.float32(idf_sum * np.float32(boost)) * (K1 + np.float32(1.0))
        )
        cache = norm_cache(np.float32(float(self.avgdl)))
        blocks = self._blocks_for(list(set(clauses)))
        deleted = self.deleted

        def _score_impl(key, pdf, deleted_local=None):
            if pdf.empty:
                return _EMPTY
            d_arr = deleted_local if deleted_local is not None else deleted
            present = set(pdf["term"])
            if any(t not in present for t in clauses):
                return _EMPTY
            per_term = decode_postings(pdf, pay=True)
            abs_data = {}
            for t in set(clauses):
                d, tf, nb, pos, pay = per_term[t]
                g = np.cumsum(pos.astype(np.int64))
                run_starts = np.concatenate(([0], np.cumsum(tf)))[:-1]
                corr = np.repeat(g[run_starts] - pos[run_starts].astype(np.int64), tf)
                abs_data[t] = (d, tf, nb, run_starts, g - corr, pay)
            # candidates: docs holding every clause term (ConjunctionDISI
            # over the sub-spans)
            cand = None
            for t in set(clauses):
                s = set(abs_data[t][0].tolist())
                cand = s if cand is None else cand & s
            if d_arr is not None and d_arr.size:
                cand -= set(d_arr.tolist())
            if not cand:
                return _EMPTY
            out_docs, out_scores = [], []
            for c in sorted(cand):
                plists, paylists = [], []
                nb_c = 0
                for t in clauses:
                    d, tf, nb, run_starts, pos_abs, pay = abs_data[t]
                    j = int(np.searchsorted(d, c))
                    s = int(run_starts[j])
                    e = s + int(tf[j])
                    plists.append(pos_abs[s:e].tolist())
                    paylists.append(pay[s:e])
                    nb_c = int(nb[j])
                score = per_doc_fn(
                    span_match_positions(plists, slop, ordered), paylists,
                    wv, cache[nb_c],
                )
                if score is not None:
                    out_docs.append(int(c))
                    out_scores.append(np.float32(score))
            if not out_docs:
                return _EMPTY
            return _hits_frame(*_top_hits(
                np.asarray(out_docs, dtype=np.int64),
                np.asarray(out_scores, dtype=np.float32), k,
            ))

        def score_range(key, pdf):
            return _score_impl(key, pdf)

        score_range.cogroup = _cogroup_wrapper(_score_impl)
        scan_cols = ["term", "range_id", "first_doc", "last_doc",
                     "docs_buf", "tfs_buf", "norms_buf", "pos_buf", "pay_buf"]
        return (
            self._apply_range_scorer(blocks, scan_cols, score_range)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def topk_payload_score(
        self, terms: list[str], function: str = "avg", *, slop: int = 0,
        ordered: bool = True, include_span_score: bool = True, k: int = 10,
        boost: float = 1.0, raw: bool = False,
    ) -> DataFrame:
        """PayloadScoreQuery(SpanQuery, PayloadFunction, includeSpanScore)
        (queries/payloads/PayloadScoreQuery.java): the wrapped span query
        is a SpanTermQuery (one term) or SpanNearQuery (ordered /
        unordered, slop); every matching span's leaf payloads fold
        through Min/Max/AveragePayloadFunction, and the doc scores
        payloadScore (or spanScore * payloadScore, float32 product).
        The payload factor decodes the pay stream's big-endian float32
        (the DelimitedPayloadTokenFilter(FloatEncoder) pairing); null
        payloads are skipped. A doc with no matching span is not a hit —
        pinned vs the compiled reference in
        tests/test_lucene_ground_truth.py.

        `boost`: SpanBoostQuery wrapper (the XML BoostingTermBuilder
        emits one — builders/BoostingTermBuilder.java:41); scales only
        the span-score leg, in float32 at the BM25Stats.normalize call
        site. `raw`: take `terms` VERBATIM as index terms (SpanTermQuery
        over raw Term text, the XML element's contract) instead of
        running them through the analyzer."""
        from .payloads import payload_doc_score

        toks = list(terms) if raw else self._analyze(" ".join(terms))
        if not toks:
            return topk_frame(self.spark)

        def per_doc(spans, paylists, wv, nb_cache) -> np.float32 | None:
            freq = np.float32(0.0)
            acc = np.float32(0.0)
            seen = 0
            matched = False
            for width, idxs in spans:
                matched = True
                freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
                # the fold state carries ACROSS spans (one PayloadSpans
                # per doc, reset only at doStartCurrentDoc)
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
                return None
            pay_score = payload_doc_score(acc, seen, function)
            if not include_span_score:
                return pay_score
            span_score = np.float32(wv * freq / (freq + nb_cache))
            return np.float32(span_score * pay_score)

        return self._topk_payload_walk(toks, slop, ordered, k, per_doc,
                                       boost=boost)

    def topk_span_payload_check(
        self, terms: list[str], payloads: list[float | None], *,
        slop: int = 0, k: int = 10,
    ) -> DataFrame:
        """SpanPayloadCheckQuery (queries/payloads/SpanPayloadCheckQuery
        .java): keep only (ordered) spans whose collected payload list
        EQUALS `payloads` elementwise — float equality after decode, a
        None entry matching a null payload — and score the surviving
        spans exactly like the plain SpanNearQuery (Σ 1/(width+1) into
        the span BM25 formula)."""
        toks = self._analyze(" ".join(terms))
        if not toks:
            return topk_frame(self.spark)
        if len(payloads) != len(toks):
            raise ValueError("payloadToMatch length must equal clause count")
        want = [None if p is None else np.float32(p) for p in payloads]

        def per_doc(spans, paylists, wv, nb_cache) -> np.float32 | None:
            freq = np.float32(0.0)
            matched = False
            for width, idxs in spans:
                ok = True
                for i, j in enumerate(idxs):
                    f = paylists[i][j]
                    if want[i] is None:
                        ok = bool(np.isnan(f))
                    else:
                        # BytesRef.bytesEquals = BIT equality (so -0.0
                        # does not match 0.0)
                        ok = (not np.isnan(f)) and (
                            np.float32(f).tobytes() == want[i].tobytes()
                        )
                    if not ok:
                        break
                if ok:
                    matched = True
                    freq = np.float32(freq + np.float32(1.0) / np.float32(width + 1))
            if not matched:
                return None
            return np.float32(wv * freq / (freq + nb_cache))

        return self._topk_payload_walk(toks, slop, True, k, per_doc)

    def topk_multi_phrase(
        self, positions: list[list[str]], k: int = 10, slop: int = 0
    ) -> DataFrame:
        """MultiPhraseQuery (search/MultiPhraseQuery.java:49): a phrase
        where each position accepts any of several terms (e.g. synonym-
        expanded phrases); offsets are consecutive. slop=0 is exact
        alignment; slop>0 runs the Lucene-exact SloppyPhraseScorer over
        per-position union postings, including the multi-term-repeats
        path when alternative sets overlap (setSlop on
        MultiPhraseQuery.Builder)."""
        mp = tuple(
            (tuple(sorted({t for alt in alts for t in self._analyze(alt)})), i)
            for i, alts in enumerate(positions)
        )
        if any(not alts for alts, _i in mp):
            return topk_frame(self.spark)
        return self.topk_spec(BooleanSpec(phrases=((mp, slop, "+", 1.0),)), k=k)

    def auto_stop_words(
        self, max_percent: float = 0.4, max_doc_freq: int | None = None,
    ) -> frozenset[str]:
        """QueryAutoStopWordAnalyzer (lucene/analysis/common/.../query/
        QueryAutoStopWordAnalyzer.java — pinned vs the compiled class, GT
        round 59): terms whose docFreq STRICTLY exceeds maxDocFreq
        (default (int)(numDocs * 0.4)) become query-time stopwords. A
        term-stats METADATA scan — postings and corpus never touched; at
        100 TB this is the same dictionary-scale read the suggesters
        use, and the resulting set is KBs (only stopword-scale terms
        qualify by construction)."""
        limit = (
            int(self.doc_count * max_percent)
            if max_doc_freq is None else max_doc_freq
        )
        rows = (
            self._term_stats.filter(F.col("df") > limit)
            .select("term").collect()
        )
        return frozenset(r["term"] for r in rows)

    def analyze_auto_stop(
        self, text: str, max_percent: float = 0.4,
        max_doc_freq: int | None = None,
    ) -> list[tuple[str, int]]:
        """The analyzer's query side: the index chain's stream with
        auto-stopwords removed, their position increments accumulating
        onto the next kept token (StopFilter semantics)."""
        from lucene_solr_spark.analysis.tokenizer import (
            analyze_with_positions_as,
        )

        stop = self.auto_stop_words(max_percent, max_doc_freq)
        out: list[tuple[str, int]] = []
        prev_pos = -1
        skipped = 0
        for term, pos in analyze_with_positions_as(self.analyzer, text):
            inc = pos - prev_pos
            prev_pos = pos
            if term in stop:
                skipped += inc
                continue
            out.append((term, inc + skipped))
            skipped = 0
        return out

    def expand_terms(
        self,
        *,
        prefix: str | None = None,
        like: str | None = None,
        regexp: str | None = None,
        fuzzy: str | None = None,
        lower: str | None = None,
        upper: str | None = None,
        include_lower: bool = True,
        include_upper: bool = True,
        max_edits: int = 2,
        max_terms: int | None = None,
    ) -> list[str]:
        """MultiTermQuery expansion over the term DICTIONARY (term_stats —
        a metadata-only scan, never the corpus; cf. Terms.intersect over
        the FST). The TopTermsRewrite cap (search/MultiTermQuery.java:44-94,
        TopTermsRewrite ScoreTermQueue) keeps, on equal boosts, the
        lexicographically smallest max_terms terms; FuzzyQuery boosts by
        similarity, so fuzzy expansion orders by edit distance first."""
        df = self._term_stats.select("term")
        if prefix is not None:
            df = df.filter(F.col("term").startswith(prefix))
        if like is not None:
            df = df.filter(F.col("term").like(like))
        if regexp is not None:
            df = df.filter(F.col("term").rlike(regexp))
        # TermRangeQuery bounds (search/TermRangeQuery.java: BytesRef
        # comparison == codepoint order for our lowercased ASCII terms)
        if lower is not None:
            df = df.filter(
                F.col("term") >= lower if include_lower else F.col("term") > lower
            )
        if upper is not None:
            df = df.filter(
                F.col("term") <= upper if include_upper else F.col("term") < upper
            )
        if fuzzy is not None:
            df = df.filter(F.levenshtein(F.col("term"), F.lit(fuzzy)) <= max_edits)
            df = df.orderBy(
                F.levenshtein(F.col("term"), F.lit(fuzzy)).asc(), F.col("term").asc()
            )
        else:
            df = df.orderBy(F.col("term").asc())
        if max_terms is not None:
            df = df.limit(max_terms)
        return [r["term"] for r in df.collect()]

    def fuzzy_dictionary(self, base: str, max_edits: int = 2) -> list[tuple[str, int]]:
        """(term, df) candidates for FuzzyQuery expansion — a term-dict
        metadata scan filtered at plain Levenshtein <= 2*max_edits (one
        transposition costs <= 2 plain edits, so this is a SUPERSET of
        the transposition-primitive ball the reference automaton
        accepts); the caller refines with the exact Damerau distance
        (search/fuzzy.py). Never touches the corpus."""
        rows = (
            self._term_stats.select("term", "df")
            .filter(F.levenshtein(F.col("term"), F.lit(base)) <= 2 * max_edits)
            .collect()
        )
        return [(r["term"], int(r["df"])) for r in rows]

    def topk_regexp(self, pattern: str, max_terms: int = 16, k: int = 10) -> DataFrame:
        """RegexpQuery (search/RegexpQuery.java) with the TopTerms(N)
        scoring rewrite: expand the (whole-term) pattern over the term
        dictionary, cap at max_terms, score as a SHOULD BooleanQuery
        (TopTermsScoringBooleanQueryRewrite)."""
        anchored = pattern if pattern.startswith("^") else f"^(?:{pattern})$"
        terms = self.expand_terms(regexp=anchored, max_terms=max_terms)
        if not terms:
            return topk_frame(self.spark)
        return self.topk_spec(BooleanSpec(should=tuple(sorted(terms))), k=k)

    def topk_fuzzy_like_this(
        self, query: str, max_edits: int = 1, max_variants: int = 3, k: int = 10
    ) -> DataFrame:
        """FuzzyLikeThisQuery (lucene/sandbox/src/java/org/apache/lucene/
        sandbox/queries/FuzzyLikeThisQuery.java): each input term
        "fuzzifies" into its top index-dictionary variants within
        max_edits, ranked (edit distance ASC, docFreq DESC, term ASC) and
        boosted by the reference's similarity factor 1 - distance/len(q);
        the rewrite is a boosted disjunction (a variant reached from two
        inputs sums its boosts). Expansion is a term-dict metadata scan;
        scoring reuses the boosted range scorer."""
        from ..analysis.tokenizer import analyze

        boosts: dict[str, float] = {}
        for q in sorted(set(analyze(query))):
            rows = (
                self._term_stats
                .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
                .filter(F.col("dist") <= max_edits)
                .orderBy(F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
                .limit(max_variants)
                .select("term", "dist")
                .collect()
            )
            for r in rows:
                boosts[r["term"]] = (
                    boosts.get(r["term"], 0.0) + 1.0 - float(r["dist"]) / len(q)
                )
        if not boosts:
            return topk_frame(self.spark)
        return self.topk_boosted(boosts, k=k)

    #: bound on the per-source-term candidate superset the FLT replay
    #: collects (a term-stats METADATA scan, never the corpus; the same
    #: boundary FILTER_DRIVER_MAX draws)
    FLT_DRIVER_MAX = 20_000

    def topk_fuzzy_like_this_ref(
        self, fields, max_num_terms: int = 50, ignore_tf: bool = False,
        k: int = 10, boost: float = 1.0,
    ) -> DataFrame:
        """FuzzyLikeThisQuery, REFERENCE-EXACT (sandbox/queries/
        FuzzyLikeThisQuery.java; pinned bit-for-bit vs the compiled
        binary, GT round 29c) — unlike topk_fuzzy_like_this (the
        documented simplified analog the bm25_fuzzy_like_this gate
        rides), this replays the whole machinery: SlowFuzzyTermsEnum
        variant enumeration with the MaxNonCompetitiveBoost feedback
        loop, the 50-cap per-term variant queue, float32
        (boost^2 * ClassicSimilarity.idf) global ranking with avgDf
        substitution, and scoring where EVERY variant carries an
        artificial df=ttf=1 TermContext (newTermQuery :268-283 — idf is
        idf(1, N) no matter the variant's real docFreq), grouped
        per source term (inner group float32-casts its double sum, the
        outer SHOULD sums the group floats in double and casts).

        fields: [(query_string, min_similarity, prefix_length)] —
        one entry per addTerms call; tokens analyze through the index
        chain with addTerms' per-call processedTerms dedup.

        Deletes note: the reference passes reader.numDocs() (live count)
        into the selection idf while its docFreqs ignore deletes until
        merge; this engine's documented delete policy is stats-stay-
        stale-until-compact everywhere (index/deletes.py), so both df
        and the doc count here are the build-time values — selection
        under tombstones can differ from the mixed-freshness reference
        until compaction, exactly like every other stats consumer.

        Scale shape: candidate supersets come from a bucket-pruned
        term-stats METADATA scan (prefix pushdown + codegen levenshtein
        on the suffix — the same distributed-filter plan the slow_fuzzy
        gate asserts), bounded by FLT_DRIVER_MAX; the corpus is only
        touched by the final pruned block scan over the <= maxNumTerms
        selected variants. The suffix-Levenshtein <= initial-maxEdits
        bound is exact: every accept() branch implies it (automaton
        ed <= curMax; linear raw d <= curMax; linear fractional
        sim > minSim => d < (1-minSim)(realPrefix+min(n,m)) <=
        (1-minSim)*termLen)."""
        from .fuzzy_like_this import flt_select

        sources: list[tuple[str, float, int]] = []
        for qs, ms, pl in fields:
            seen: set[str] = set()
            for t in self._analyze(qs):
                if t not in seen:
                    seen.add(t)
                    sources.append((t, float(ms), int(pl)))
        if not sources:
            return topk_frame(self.spark)
        src_dfs = {
            t: int(w["df"])
            for t, w in self.term_weights(
                sorted({s for s, _m, _p in sources})).items()
        }
        # keyed by the FULL (term, minSim, prefixLen) spec: repeated
        # addTerms calls with looser parameters need their own (wider)
        # superset — a fresh SlowFuzzyTermsEnum per FieldVals
        cand_map: dict[tuple, list[tuple[str, int]]] = {}
        for src, ms, pl in sources:
            if (src, ms, pl) in cand_map:
                continue
            term_length = len(src)
            real_prefix = min(pl, term_length)
            prefix, suffix = src[:real_prefix], src[real_prefix:]
            if ms >= 1.0:
                max_edits = int(ms)
            else:
                max_edits = int((1.0 - float(np.float32(ms))) * term_length)
            stats = self._term_stats
            if prefix:
                stats = stats.filter(F.col("term").startswith(prefix))
            stats = stats.filter(
                F.levenshtein(
                    F.expr(f"substring(term, {real_prefix + 1})"),
                    F.lit(suffix),
                ) <= F.lit(max_edits)
            )
            rows = stats.select("term", "df").limit(
                self.FLT_DRIVER_MAX + 1).collect()
            if len(rows) > self.FLT_DRIVER_MAX:
                raise ValueError(
                    f"FuzzyLikeThis candidate superset of {src!r} exceeds "
                    f"FLT_DRIVER_MAX={self.FLT_DRIVER_MAX} terms: raise the "
                    "bound or tighten prefixLength")
            cand_map[(src, ms, pl)] = [
                (r["term"], int(r["df"])) for r in rows]
        groups = flt_select(sources, cand_map, src_dfs, self.doc_count,
                            max_num_terms)
        if not groups:
            return topk_frame(self.spark)

        idf1 = idf_f32(1, self.doc_count)
        # one inner SHOULD bool per group, whose float32-cast double sum
        # the outer SHOULD bool sums in double; a member scores BM25 at
        # its own weightValue, or its boost as a constant under
        # ignore_tf. An outer BoostQuery (the XML builder's boost attr)
        # merges into each variant's BoostQuery at rewrite
        # (BoostQuery.rewrite:96 — boost * in.boost in float32) before
        # the weight forms
        group_nodes = []
        for _src, members in groups.items():
            nodes = []
            for term, score in members:
                eff = (np.float32(score) if boost == 1.0
                       else np.float32(np.float32(boost) * np.float32(score)))
                if ignore_tf:
                    leaf = ("boosted", float(eff), ("const", (term,)))
                else:
                    wv = np.float32(np.float32(idf1 * eff) * (K1 + np.float32(1.0)))
                    leaf = ("blend", ((term, float(wv)),))
                nodes.append(("", leaf))
            group_nodes.append(("", ("bool", tuple(nodes), 0)))
        tree = ("bool", tuple(group_nodes), 0)
        return self._run_tree(tree, self.term_weights(sorted(tree_terms(tree))), k)

    def topk_term_automaton(
        self, transitions, accepts, k: int = 10
    ) -> DataFrame:
        """TermAutomatonQuery (sandbox/search/TermAutomatonQuery.java): a
        proximity query whose transitions are terms — the generalization
        of Phrase/MultiPhrase/SpanNear. transitions = [(from, label, to)]
        with label '' as the ANY arc and start state 0; accepts = accept
        state ids. The automaton is ANY-expanded and determinized exactly
        as finish() does (TermAutomatonQuery.java:120-185 — ANY arcs match
        every term symbol, so a query-term token under an ANY arc steps
        twice: a scoring term step plus a non-scoring ANY step); tf =
        accepting term-arc arrivals per countMatches, scored BM25 with the
        labels' summed idf."""
        from .automaton import expand_determinize

        spec = BooleanSpec(term_automaton=expand_determinize(transitions, accepts))
        return self.topk_spec(spec, k=k)

    def topk_complex_phrase(
        self, phrase: str, slop: int = 0, in_order: bool = True, k: int = 10
    ) -> DataFrame:
        """ComplexPhraseQueryParser's quoted-phrase mini-language
        (queryparser/complexPhrase/ComplexPhraseQueryParser.java:253-345):
        each whitespace element of the phrase becomes one SpanNear clause —
        a bare term is a SpanTerm; a '(a b c)' group, a wildcard or a
        fuzzy element rewrites to a SpanOr of term spans
        (addComplexPhraseClause over the SCORING_BOOLEAN_REWRITE
        expansion; FuzzyQuery keeps its own blended top-50 rewrite, whose
        boosts the span conversion then IGNORES — span weights come from
        term contexts only). An element with ZERO expansions inserts the
        reference's match-nothing dummy clause (:294-296), so the whole
        phrase matches nothing. A '-' element is in-phrase negation
        (rewrite:318-345): include = the positive clauses at
        slop + numNegatives, exclude = ALL clauses in phrase order at
        slop, BOTH SpanNears built with the parser's inOrder flag,
        include spans overlapping an exclude span dropped. slop =
        slopFactor; inOrder defaults true (the v2 parser default) and
        setInOrder(false) routes through NearSpansUnordered's cells
        walk, same-position repeats included."""
        from .fuzzy import fuzzy_expand_vocab

        elements: list[str] = []
        buf, depth = [], 0
        for ch in phrase:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch.isspace() and depth == 0:
                if buf:
                    elements.append("".join(buf))
                    buf = []
            else:
                buf.append(ch)
        if buf:
            elements.append("".join(buf))

        clauses: list = []
        negatives: list[bool] = []
        for el in elements:
            neg = el.startswith("-") and len(el) > 1
            if neg:
                el = el[1:]
            negatives.append(neg)
            if el.startswith("(") and el.endswith(")"):
                alts: list[str] = []
                for m in el[1:-1].split():
                    alts.extend(self._analyze(m))
                alts = sorted(set(alts))
            elif "*" in el or "?" in el:
                alts = sorted(self.expand_terms(
                    like=el.lower().replace("*", "%").replace("?", "_")
                ))
            elif "~" in el:
                base, _tilde, n = el.partition("~")
                me = int(n) if n else 2
                vocab = self.fuzzy_dictionary(base.lower(), max_edits=me)
                alts = sorted(
                    t for t, _df, _b in fuzzy_expand_vocab(base.lower(), vocab, me)
                )
            else:
                alts = self._analyze(el)
            if not alts:
                # the reference's dummy must-match-nothing clause
                return topk_frame(self.spark)
            clauses.append(alts[0] if len(alts) == 1 else tuple(alts))
        if not clauses:
            return topk_frame(self.spark)
        n_neg = sum(negatives)
        if n_neg:
            positives = [c for c, neg in zip(clauses, negatives) if not neg]
            if not positives:
                return topk_frame(self.spark)
            node = (
                "not",
                ("near", tuple(positives), slop + n_neg, in_order),
                ("near", tuple(clauses), slop, in_order),
            )
        else:
            node = ("near", tuple(clauses), slop, in_order)
        return self.topk_spec(BooleanSpec(spans=(node,)), k=k)

    def topk_simple(self, query: str, k: int = 10,
                    default_operator: str = "", flags: int = -1) -> DataFrame:
        """SimpleQueryParser (queryparser/simple/SimpleQueryParser.java):
        the never-erroring human syntax — `+` AND / `|` OR / `-` NOT /
        quotes / trailing-`*` prefix / `~N` fuzzy-or-near / parens — with
        the reference's right-to-left alternation trees and MatchAllDocs
        negation wrapper, pinned bit-for-bit vs the compiled reference
        (GT round 28). See search/simpleqp.py."""
        from .simpleqp import spark_topk_simple

        return spark_topk_simple(
            self, query, k=k, default_operator=default_operator, flags=flags
        )

    def topk_xml(self, xml_string: str, k: int = 10,
                 content_field: str = "text",
                 extensions: bool = False) -> DataFrame:
        """The XML query parser (queryparser/xml/CoreParser.java):
        TermQuery/TermsQuery/BooleanQuery (all four occurs incl. FILTER)/
        RangeQuery/DisjunctionMaxQuery/ConstantScoreQuery/UserQuery/
        span elements, mapped onto the shared tree evaluator — pinned
        bit-for-bit vs the compiled CoreParser (GT round 29) — plus the
        numeric elements (PointRangeQuery / LegacyNumericRangeQuery over
        a stored numeric doc-store column; the Points/BKD substitution
        is the parquet column scan with min/max row-group pruning) and
        BoostingTermQuery (PayloadScoreQuery through the payload
        machinery). See search/xmlqp.py."""
        from .simpleqp import _analyzer_with_positions
        from .xmlqp import parse_xml_query

        tree = parse_xml_query(
            xml_string, _analyzer_with_positions(self.analyzer),
            content_field=content_field, extensions=extensions,
        )
        return self._exec_xml_tree(tree, k)

    _XML_SPECIAL = frozenset(
        ("numeric_range", "payload_term", "mlt_text", "fuzzy_like_this")
    )

    def _exec_xml_tree(self, tree, k: int) -> DataFrame:
        """Execute a parsed XML tree, routing the node kinds the shared
        tree evaluator doesn't know:

        - root ("numeric_range", ...): IndexSearcher.search(
          PointRangeQuery) — ConstantScoreWeight, every hit scores 1.0,
          doc-order tie-break;
        - root ("payload_term", ...): BoostingTermBuilder's
          PayloadScoreQuery(SpanTermQuery raw term, Average, true)
          wrapped in SpanBoostQuery(boost);
        - root bool with FILTER numeric clauses: the clause splits out
          as a liveDocs-style mask — non-matching doc_ids join the
          scorer cogrouped by range_id (bounded per range, the
          per-segment BKD->bitset analog; index/deletes.py machinery),
          so per-range top-k truncation stays correct; a filter-only
          BooleanQuery matches at score 0 (BooleanWeight with no
          scoring clause), and when every remaining clause is SHOULD
          with msm 0, filter-matching docs that hit no SHOULD clause
          pad the tail at score 0, exactly as in the reference.

        Anything else containing those nodes raises NotImplementedError
        (documented engine scope)."""
        import copy

        from .simpleqp import spark_topk_tree
        from .xmlqp import tree_contains

        if tree is None:
            return topk_frame(self.spark)
        if tree[0] == "fuzzy_like_this" or (
            tree[0] == "boosted" and isinstance(tree[2], tuple)
            and tree[2][0] == "fuzzy_like_this"
        ):
            boost, m = (
                (tree[1], tree[2]) if tree[0] == "boosted" else (1.0, tree)
            )
            _tag, maxn, itf, specs = m
            flds = [(t, ms, pl) for t, ms, pl, ok in specs if ok]
            if not flds:
                return topk_frame(self.spark)
            return self.topk_fuzzy_like_this_ref(
                flds, max_num_terms=maxn, ignore_tf=itf, k=k, boost=boost
            )
        if tree[0] == "mlt_text" or (
            tree[0] == "boosted" and isinstance(tree[2], tuple)
            and tree[2][0] == "mlt_text"
        ):
            boost, m = (
                (tree[1], tree[2]) if tree[0] == "boosted" else (1.0, tree)
            )
            sub = self._resolve_mlt_text(*m[1:])
            if sub is None:
                return topk_frame(self.spark)
            if boost != 1.0:
                sub = ("boosted", boost, sub)
            return spark_topk_tree(self, sub, k=k)
        if tree[0] == "numeric_range":
            live = self._live_docs(self._numeric_match_docs(tree))
            return live.orderBy("doc_id").limit(k).select(
                "doc_id", F.lit(1.0).cast("float").alias("score")
            )
        if tree[0] == "payload_term":
            return self.topk_payload_score(
                [tree[1]], "avg", include_span_score=True, k=k,
                boost=tree[2], raw=True,
            )
        bool_boost, btree = (
            (tree[1], tree[2])
            if tree[0] == "boosted" and isinstance(tree[2], tuple)
            and tree[2][0] == "bool"
            else (1.0, tree)
        )
        if btree[0] == "bool":
            clauses, msm = btree[1], btree[2]
            is_numf = [
                c[0] == "f" and isinstance(c[1], tuple)
                and c[1][0] == "numeric_range" for c in clauses
            ]
            if any(is_numf):
                rest = tuple(c for c, nf in zip(clauses, is_numf) if not nf)
                if tree_contains(rest, self._XML_SPECIAL):
                    raise NotImplementedError(
                        "numeric/payload elements are supported at the "
                        "root or as BooleanQuery FILTER clauses only"
                    )
                allowed = None
                for c, nf in zip(clauses, is_numf):
                    if nf:
                        d = self._numeric_match_docs(c[1])
                        allowed = d if allowed is None else allowed.join(
                            d, "doc_id", "leftsemi"
                        )
                if not rest:
                    live = self._live_docs(allowed)
                    return live.orderBy("doc_id").limit(k).select(
                        "doc_id", F.lit(0.0).cast("float").alias("score")
                    )
                excl = (
                    self.spark.read.parquet(self.paths.docs)
                    .select("doc_id")
                    .join(allowed, "doc_id", "left_anti")
                )
                if self.deleted is not None and len(self.deleted):
                    excl = excl.unionByName(self.spark.createDataFrame(
                        [(int(d),) for d in self.deleted], "doc_id long"
                    ))
                if self.deleted_df is not None:
                    excl = excl.unionByName(self.deleted_df.select("doc_id"))
                masked = copy.copy(self)
                masked.deleted = None
                masked.deleted_df = excl
                scoring = [c for c in rest if c[0] != "-"]
                rest_tree = ("bool", rest, msm)
                if bool_boost != 1.0:
                    # BooleanQueryBuilder's boost attr wraps the whole
                    # query; FILTER scores nothing so only the scoring
                    # clauses scale (and the score-0 pad stays 0)
                    rest_tree = ("boosted", bool_boost, rest_tree)
                if scoring:
                    hits = spark_topk_tree(masked, rest_tree, k=k)
                else:
                    # only FILTER + MUST_NOT clauses: matches score 0
                    hits = topk_frame(self.spark)
                # BooleanWeight with msm 0 and no MUST clause: a doc
                # matching the filter (and no prohibited clause) still
                # matches at score 0 — pad the tail in doc order
                if msm == 0 and all(c[0] in ("", "-") for c in rest):
                    neg_terms = []
                    neg_ok = True
                    for c in rest:
                        if c[0] != "-":
                            continue
                        node = c[1]
                        if (isinstance(node, tuple) and node
                                and node[0] == "boosted"):
                            node = node[2]
                        if (isinstance(node, tuple) and node
                                and node[0] == "term"):
                            neg_terms.append(node[1])
                        else:
                            neg_ok = False
                    if not neg_ok:
                        raise NotImplementedError(
                            "numeric FILTER + non-term MUST_NOT clause: "
                            "the score-0 pad's prohibited-match set is "
                            "only computed for term clauses"
                        )
                    live = self._live_docs(allowed)
                    if neg_terms:
                        # tree ("term", t) nodes carry INDEX-level term
                        # text (XML TermQuery is raw) — no re-analysis
                        live = live.join(
                            self._posting_doc_ids(sorted(set(neg_terms)))
                            .select("doc_id").distinct(),
                            "doc_id", "left_anti",
                        )
                    pad = (
                        live.join(hits.select("doc_id"), "doc_id", "left_anti")
                        .orderBy("doc_id").limit(k)
                        .select("doc_id",
                                F.lit(0.0).cast("float").alias("score"))
                    )
                    hits = hits.unionByName(pad)
                return hits.orderBy(
                    F.col("score").desc(), F.col("doc_id").asc()
                ).limit(k)
        if tree_contains(tree, self._XML_SPECIAL):
            raise NotImplementedError(
                "numeric/payload elements are supported at the root or "
                "as BooleanQuery FILTER clauses only"
            )
        return spark_topk_tree(self, tree, k=k)

    def _resolve_mlt_text(self, field_ok, text, maxq, mintf, pct, stops,
                          mindf):
        """MoreLikeThisQuery.rewrite (queries/mlt/MoreLikeThisQuery.java:
        58-78): analyze likeText (first maxNumTokensParsed=5000 tokens),
        drop isNoiseWord terms (the stopWords set; min/maxWordLen stay
        at their disabled defaults), select via MoreLikeThis.createQueue
        (tf >= minTermFreq, df >= minDocFreq — the MLT default 5 when the
        XML attr is absent — top maxQueryTerms by tf x classic idf), and
        build the SHOULD tree with msm = (int)(clauses *
        percentTermsToMatch). Returns None when no clause survives (a
        clause-less BooleanQuery matches nothing). The term-stats lookup
        is the same metadata scan every query pays; the corpus is never
        touched before the final scoring tree runs."""
        from collections import Counter

        from .mlt import mlt_select_terms

        if not field_ok:
            # the builder's field list missed the index's content field:
            # no term source, the query matches nothing (reference
            # behavior for an absent field — see the parser note)
            return None
        toks = self._analyze(text)[:5000]
        counts = Counter(toks)
        if stops:
            for t in stops:
                counts.pop(t, None)
        if not counts:
            return None
        weights = self.term_weights(sorted(counts))
        terms = mlt_select_terms(
            dict(counts),
            {t: w["df"] for t, w in weights.items()},
            self.doc_count,
            max_query_terms=maxq,
            min_term_freq=mintf,
            min_doc_freq=(mindf if mindf >= 0 else 5),
        )
        if not terms:
            return None
        # (int)(clauses.size() * percentTermsToMatch) — float32 multiply
        # then truncate (MoreLikeThisQuery.java:76)
        msm = int(np.float32(len(terms)) * np.float32(pct))
        return ("bool", tuple(("", ("term", t)) for t in terms), msm)

    def _numeric_match_docs(self, node) -> DataFrame:
        """doc_ids matching one ("numeric_range", field, lo, hi, lo_inc,
        hi_inc) node against the doc store. The predicate pushes into
        the parquet scan (PushedFilters: min/max row-group + file
        pruning — the BKD 1-D range analog); a field with no stored
        column matches nothing, and a NULL value never matches (a doc
        without the point field is absent from the BKD tree)."""
        docs = self.spark.read.parquet(self.paths.docs)
        _tag, f, lo, hi, lo_inc, hi_inc = node
        if f not in docs.columns:
            return docs.select("doc_id").limit(0)
        c = F.col(f)
        pred = c.isNotNull()
        if lo is not None:
            pred = pred & ((c >= F.lit(lo)) if lo_inc else (c > F.lit(lo)))
        if hi is not None:
            pred = pred & ((c <= F.lit(hi)) if hi_inc else (c < F.lit(hi)))
        return docs.filter(pred).select("doc_id")

    def _live_docs(self, docs: DataFrame) -> DataFrame:
        """Mask both delete representations out of a doc_id frame."""
        if self.deleted is not None and len(self.deleted):
            docs = docs.filter(
                ~F.col("doc_id").isin([int(d) for d in self.deleted])
            )
        if self.deleted_df is not None:
            docs = docs.join(
                self.deleted_df.select("doc_id"), "doc_id", "left_anti"
            )
        return docs

    def explain(self, query: str, doc_id: int, mode: str = "or") -> dict:
        """IndexSearcher.explain: the BM25 score-decomposition tree for
        ONE document — TermWeight/BooleanWeight/BM25Similarity explain
        structure with every node's float32 value pinned vs the compiled
        reference (GT round 37; search/explain.py). Reads only the
        posting blocks whose [first_doc, last_doc] covers doc_id for the
        query's terms (a metadata-pruned scan) plus the cached term
        stats — no corpus scan, no topk job."""
        from .explain import explain_boolean, explain_term

        terms = tuple(self._analyze(query))
        if not terms:
            from .explain import _node

            return _node(False, 0.0, "no terms")
        occur = "+" if mode == "and" else ""
        weights = self.term_weights(list(terms))
        tfs, nb = self._doc_postings(sorted(set(terms)), doc_id)
        subs = [
            (occur, explain_term(
                t, doc_id, tfs.get(t, 0), weights[t]["df"], self.doc_count,
                nb, self.avgdl,
            ))
            for t in terms
        ]
        if len(subs) == 1:
            # a 1-clause BooleanQuery rewrites to its inner query
            return subs[0][1]
        return explain_boolean(subs)

    def _doc_postings(self, terms: list[str], doc_id: int):
        """(term -> tf, norm_byte) for one document: decode only the
        blocks covering doc_id (parquet row-group pruning on
        first_doc/last_doc min-max)."""
        pdf = (
            self._blocks_for(terms)
            .filter(
                (F.col("first_doc") <= doc_id) & (F.col("last_doc") >= doc_id)
            )
            .select("term", "first_doc", "docs_buf", "tfs_buf", "norms_buf")
            .toPandas()
        )
        tfs: dict[str, int] = {}
        nb = 0
        for t, (d, tf, nbs, _pos) in decode_postings(pdf).items():
            hit = np.searchsorted(d, doc_id)
            if hit < len(d) and d[hit] == doc_id:
                if self.deleted is not None and np.isin(doc_id, self.deleted):
                    continue  # liveDocs mask: a purged doc has no postings
                tfs[t] = int(tf[hit])
                nb = int(nbs[hit])
        return tfs, nb

    def topk_boosting(self, match: str, context: str, boost: float,
                      k: int = 10) -> DataFrame:
        """BoostingQuery (lucene/queries/BoostingQuery.java): matching
        and scoring come from the MATCH query alone; docs that ALSO
        match the context query have their score multiplied by `boost`
        in float32 (a demotion when boost < 1 — unlike MUST_NOT the
        doc still matches). Both sides parse with the classic parser;
        pinned vs the compiled binary (GT round 35)."""
        from .queryparser import parse
        from .simpleqp import spark_topk_tree
        from .xmlqp import classic_parsed_to_tree

        tree = (
            "boosting", float(boost),
            classic_parsed_to_tree(parse(match)),
            classic_parsed_to_tree(parse(context)),
        )
        return spark_topk_tree(self, tree, k=k)

    def topk_flexible(self, query: str, k: int = 10) -> DataFrame:
        """The FLEXIBLE query parser (queryparser/flexible
        StandardQueryParser): the standard syntax with the
        precedence-flattening BooleanQuery2Modifier semantics, group
        boosts, fractional fuzzy similarities, regexp terms, and '*'
        open range bounds — mapped onto the shared tree evaluator,
        pinned bit-for-bit vs the compiled reference (GT round 32).
        See search/flexibleqp.py."""
        from .flexibleqp import parse_flexible
        from .simpleqp import _analyzer_with_positions, spark_topk_tree

        tree = parse_flexible(query, _analyzer_with_positions(self.analyzer))
        return spark_topk_tree(self, tree, k=k)

    def topk_surround(self, query: str, k: int = 10,
                      field: str = "content",
                      max_basic_queries: int = 1024) -> DataFrame:
        """The surround query language — FULL grammar
        (queryparser/surround/parser/QueryParser.jj): infix/prefix
        AND/OR/NOT, infix left-nested and prefix n-ary distance
        operators `<n>W`/`<n>N` rewriting to
        SpanNearQuery(clauses, n - 1, ordered)
        (surround/query/DistanceQuery.java:97) over generalized span
        trees (nested nears, SpanOr over mixed members —
        SpanNearClauseFactory), `^w` weights at any level, `pre*` /
        `tr?nc*` / quoted terms expanded VERBATIM against the term
        dictionary (no analysis — SimpleTerm.visitMatchingTerms), field
        prefixes, and the 1024-basic-query cap (BasicQueryFactory).
        Replaces the round-24 prefix-form subset; pinned vs the compiled
        parser + IndexSearcher in tests/test_lucene_ground_truth.py
        (GT round 66). Raises SurroundParseError /
        SurroundTooManyBasicQueries with the reference's error behavior.

        `field` names the index's single field as the parser's default
        field: `other:term` clauses expand over an absent field and
        match nothing, exactly as in the reference."""
        from .simpleqp import spark_topk_tree
        from .surroundqp import surround_to_tree

        tree = surround_to_tree(query, self, field,
                                max_basic_queries=max_basic_queries)
        return spark_topk_tree(self, tree, k=k)

    def topk_span_position_range(
        self, term: str, lo: int, hi: int, k: int = 10
    ) -> DataFrame:
        """SpanPositionRangeQuery (spans/SpanPositionRangeQuery.java):
        occurrences with lo <= start and end <= hi (SpanFirst = lo 0)."""
        toks = self._analyze(term)
        if not toks:
            return topk_frame(self.spark)
        return self.topk_spec(BooleanSpec(spans=(("range", toks[0], lo, hi),)), k=k)

    def topk_span_containing(
        self, big: list[str], little: str, slop: int = 0, k: int = 10
    ) -> DataFrame:
        """SpanContainingQuery (spans/SpanContainingQuery.java): big
        ordered-near spans that contain an occurrence of `little`."""
        inc = tuple(self._analyze(" ".join(big)))
        lit = tuple(self._analyze(little))
        return self.topk_spec(
            BooleanSpec(spans=(("containing", ("near", inc, slop, True), lit),)), k=k
        )

    def topk_span_within(
        self, big: list[str], little: str, slop: int = 0, k: int = 10
    ) -> DataFrame:
        """SpanWithinQuery (spans/SpanWithinQuery.java): occurrences of
        `little` lying within some big ordered-near span."""
        inc = tuple(self._analyze(" ".join(big)))
        lit = tuple(self._analyze(little))
        return self.topk_spec(
            BooleanSpec(spans=(("within", ("near", inc, slop, True), lit),)), k=k
        )

    def topk_blended(self, query: str, k: int = 10, tiebreak: float = 0.01) -> DataFrame:
        """BlendedTermQuery (search/BlendedTermQuery.java:276-289 +
        DisjunctionMaxRewrite): every term's docFreq is ADJUSTED to the
        max df across the blended terms (so cross-field/synonym variants
        score on equal idf footing), then the clauses score as
        DisjunctionMax with the rewrite's tiebreaker."""
        terms = sorted(set(self._analyze(query)))
        if not terms:
            return topk_frame(self.spark)
        weights = self.term_weights(terms)
        max_df = max(w["df"] for w in weights.values())
        wv = float(np.float32(idf_f32(max_df, self.doc_count) * (K1 + np.float32(1.0))))
        tree = ("dismax", tiebreak, tuple(("blend", ((t, wv),)) for t in terms))
        return self._run_tree(tree, weights, k)

    def spellcheck(
        self,
        word: str,
        max_edits: int = 2,
        n: int = 5,
        min_prefix: int = 1,
        accuracy: float = 0.5,
        min_query_length: int = 4,
        max_inspections: int = 5,
    ) -> DataFrame:
        """DirectSpellChecker.suggestSimilar (lucene/suggest/.../spell/
        DirectSpellChecker.java:318-385), SUGGEST_WHEN_NOT_IN_INDEX, full
        reference semantics — pinned against the compiled binary in
        tests/test_lucene_ground_truth.py: query gates (minQueryLength,
        in-index query returns nothing), candidates from the term
        DICTIONARY within the transposition-primitive OSA distance,
        score = 1 - ed/min(len) (float32) filtered at `accuracy`, the
        ed=1-then-ed<=maxEdits pass structure with per-pass prefix
        max(minPrefix, ed-1) and the numSug*maxInspections PriorityQueue
        truncation, ranked score DESC, docFreq DESC, term ASC
        (SuggestWordScoreComparator). Output: (term, score, df).

        Scale shape: a metadata-only term_stats scan — prefix prune
        (pushdown) + plain-Levenshtein <= 2*maxEdits superset prefilter
        (one transposition costs <= 2 plain edits), with the exact OSA /
        PQ finalize over the surviving dictionary NEIGHBORHOOD (bounded
        by the ball around one word, not the corpus) in one Arrow stage."""
        from .fuzzy import direct_spell_suggest

        out_schema = "term string, score float, df long"
        if len(word) < min_query_length:
            return self.spark.createDataFrame([], out_schema)
        qdf = (
            self._term_stats.filter(F.col("term") == word)
            .agg(F.sum("df")).collect()[0][0]
        )
        if int(qdf or 0) > 0:  # SUGGEST_WHEN_NOT_IN_INDEX (:330-332)
            return self.spark.createDataFrame([], out_schema)
        pmin = min(max(min_prefix, 0), max(min_prefix, max_edits - 1))
        base = self._term_stats.select("term", "df").filter(F.col("term") != word)
        if pmin > 0:
            base = base.filter(F.col("term").startswith(word[:pmin]))
        base = base.filter(
            F.levenshtein(F.col("term"), F.lit(word)) <= 2 * max_edits
        )

        def _finalize(key, pdf):
            cands = sorted(zip(pdf["term"], pdf["df"].astype(int)))
            out = direct_spell_suggest(
                cands, word, num_sug=n, max_edits=max_edits,
                min_prefix=min_prefix, accuracy=accuracy,
                max_inspections=max_inspections,
            )
            return pd.DataFrame({
                "term": [t for t, _s, _d in out],
                "score": np.array([s for _t, s, _d in out], dtype=np.float32),
                "df": np.array([d for _t, _s, d in out], dtype=np.int64),
            })

        return (
            base.groupBy(F.lit(0).alias("_g"))
            .applyInPandas(_finalize, schema=out_schema)
            .orderBy(F.col("score").desc(), F.col("df").desc(), F.col("term").asc())
        )

    def topk_boosted(self, boosts: dict[str, float], k: int = 10) -> DataFrame:
        """BoostQuery (search/BoostQuery.java): per-clause multiplicative
        boost, terms given as {analyzed_term: boost}. A SHOULD disjunction
        through topk_spec's boosts: weight = (float)(idf * boost), then
        weightValue = weight * (k1+1) in float32 (BM25Stats order)."""
        spec = BooleanSpec(should=tuple(sorted(boosts)), boosts=tuple(sorted(boosts.items())))
        return self.topk_spec(spec, k=k)

    def _apply_range_scorer(self, blocks: DataFrame, scan_cols: list, score_fn) -> DataFrame:
        """Run a per-range scorer over the pruned block scan. With a
        corpus-scale delete set (deleted_df mode) the tombstones are
        cogrouped in by range_id so each range scorer masks its own
        liveDocs — the per-segment .del file analog, with zero driver
        materialization (index/deletes.py DELETES_DRIVER_MAX)."""
        grouped = blocks.select(scan_cols).groupBy("range_id")
        if self.deleted_df is None:
            return grouped.applyInPandas(score_fn, schema=TOPK_SCHEMA)
        dels = self.deleted_df.withColumn(
            "range_id", F.floor(F.col("doc_id") / F.lit(self._range_size)).cast("long")
        )
        return grouped.cogroup(dels.groupBy("range_id")).applyInPandas(
            score_fn.cogroup, schema=TOPK_SCHEMA
        )

    def topk_synonym(self, query: str, k: int = 10) -> DataFrame:
        """SynonymQuery (search/SynonymQuery.java): all terms score as ONE
        pseudo-term — tf summed across synonyms per doc, one similarity
        weight built from df = max over the terms' docFreqs."""
        terms = sorted(set(self._analyze(query)))
        if not terms:
            return topk_frame(self.spark)
        weights = self.term_weights(terms)
        df_max = max(w["df"] for w in weights.values())
        tree = ("syn", tuple(terms), float(idf_f32(df_max, self.doc_count)))
        return self._run_tree(tree, weights, k)

    def topk_span_or(self, terms: list[str], k: int = 10) -> DataFrame:
        """SpanOrQuery over term clauses (spans/SpanOrQuery.java:122-128):
        merged sub-spans; every term span has width 0, so the span freq
        is the TOTAL occurrence count across the clauses; the weight sums
        the idfs of the clause terms (getTermContexts map — distinct,
        absent terms still contribute idf(df=0))."""
        ts = sorted(set(self._analyze(" ".join(terms))))
        if not ts:
            return topk_frame(self.spark)
        weights = self.term_weights(ts)
        idf_sum = idf_sum_f32(idf_f32(weights[t]["df"], self.doc_count) for t in ts)
        return self._run_tree(("syn", tuple(ts), float(idf_sum)), weights, k)

    def topk_span_not(
        self, include: list[str], exclude: str, slop: int = 0, k: int = 10
    ) -> DataFrame:
        """SpanNotQuery (spans/SpanNotQuery.java): ordered SpanNear include
        minus spans overlapping the exclude term's occurrences."""
        inc = tuple(self._analyze(" ".join(include)))
        exc = tuple(self._analyze(exclude))
        return self.topk_spec(
            BooleanSpec(spans=(("not", ("near", inc, slop, True), exc),)), k=k
        )

    def topk_spec(self, spec: BooleanSpec, k: int = 10, prune: bool | None = None,
                  first_wave_ranges: int = 32,
                  candidates: list[int] | None = None,
                  range_ids: list[int] | None = None) -> DataFrame:
        """-> DataFrame(doc_id long, score float): k best rows ordered
        score DESC, doc_id ASC (HitQueue/TopDocs.merge tie-break). The
        spec is validated, its terms' stats are read, and its tree
        (spec_tree) is scored by the top-k runner (_run_tree), which
        chooses the driver or the distributed plan.

        prune: None = auto (WAND only when the range count justifies two
        extra driver round trips), True = force the distributed two-wave
        WAND plan (never the driver plan), False = never. Only a pure-OR
        BM25 spec is pruned; any other spec ignores prune.

        candidates: restrict scoring to these doc ids (QueryRescorer.java
        only ever scores the first-pass candidate set). range_ids: score
        only these doc ranges (a TimeLimitingCollector slice). Per-doc
        BM25 uses global stats, so either restriction scores its docs
        exactly as an unrestricted run."""
        sim = SIMILARITIES.get(spec.similarity)
        if sim is None:
            raise ValueError(
                f"unknown similarity {spec.similarity!r}; accepted: "
                + ", ".join(SIMILARITIES)
            )
        if spec.similarity != "bm25" and spec.positional_terms:
            # phrase, span and automaton clauses are scored with BM25's
            # weight and norm cache only
            raise ValueError(
                f"similarity {spec.similarity!r} covers term clauses only; "
                "positional clauses are BM25-only"
            )
        if spec.dismax and (
            spec.must or spec.groups or spec.positional_terms
            or spec.min_should_match > 1
        ):
            # DisjunctionMax is scored over `should` term clauses only
            raise ValueError(
                "a dismax spec holds should and must_not terms only: no "
                "must, groups, positional clauses or min_should_match > 1"
            )
        if spec.term_automaton is not None and (spec.phrases or spec.spans):
            # the automaton's own reference (oracle_term_automaton_topk)
            # scores it alone, so no reference scores such a mix
            raise ValueError(
                "a term automaton does not mix with phrase or span clauses"
            )
        if not spec.scoring_terms:
            return topk_frame(self.spark)
        # index-time/search-time similarity agreement (Lucene requires the
        # SAME Similarity at IndexWriterConfig and IndexSearcher): an index
        # whose norm bytes encode SweetSpot's plateau cannot be scored by a
        # 1/sqrt(len) model, and vice versa — fail loudly, never mis-score
        if self.norm != sim.norm:
            raise ValueError(
                f"index norms were written with norm='{self.norm}' but the "
                f"query similarity '{spec.similarity}' expects '{sim.norm}'"
            )
        weights = self.term_weights(list(spec.all_terms))
        # a required clause with no live term matches nothing
        if any(
            all(weights[t]["df"] == 0 for t in alts) for alts in spec.required_sets
        ):
            return topk_frame(self.spark)
        if not any(weights[t]["df"] for t in spec.scoring_terms):
            return topk_frame(self.spark)
        scorers = sim.prepare(
            weights, self.doc_count, self.sum_ttf, self.avgdl,
            dict(spec.boosts), tuple(spec.should) + tuple(spec.must),
        )
        # the conjunction's block skip leads on the rarest one-term set
        lead_terms = sorted({alts[0] for alts in spec.required_sets if len(alts) == 1})
        lead = min(lead_terms, key=lambda t: weights[t]["df"]) if lead_terms else None
        pure_or = (
            not spec.must and not spec.must_not and not spec.positional_terms
            and not spec.dismax and spec.min_should_match <= 1
            and not spec.groups and spec.similarity == "bm25"
        )
        return self._run_tree(
            spec_tree(spec), weights, k, scorers=scorers, lead=lead,
            candidates=candidates, range_ids=range_ids,
            wand=prune if pure_or else False, first_wave_ranges=first_wave_ranges,
        )

    def _run_tree(self, tree, weights: dict, k: int, *, scorers: dict | None = None,
                  lead: str | None = None, candidates: list[int] | None = None,
                  range_ids: list[int] | None = None, wand: bool | None = False,
                  first_wave_ranges: int = 32) -> DataFrame:
        """The top-k runner every top-k entry point but the payload family
        ends in: score a resolved simpleqp.eval_tree tree over the block
        scan of its live terms -> DataFrame(doc_id long, score float),
        the k best rows ordered score DESC, doc_id ASC.

        The plan is chosen from term stats before any job runs. A scan
        whose block bound (min(df, ceil(df/BLOCK_SIZE) + ranges) summed
        over the live terms) is at most DRIVER_SCORE_MAX_BLOCKS, or
        DRIVER_POSITIONAL_MAX_BLOCKS for a tree with positional leaves,
        is scored on the driver: a direct read of the searcher's bucket
        files (only the terms' buckets, row groups pruned on term and
        range_id), decoded once and scored by one eval_tree call over
        the union of its docs (at most BLOCK_SIZE per block), with no
        Spark job and no JVM call until a Spark operator is applied
        (HitsFrame). Forced WAND and a corpus-scale delete set
        (deleted_df) keep the distributed plan: the (range_id) shuffle
        into applyInPandas, the only plan that runs at corpus scale.
        Every doc's score depends only on the global stats, so both
        plans return the same rows bit for bit.

        weights: term -> {df, weight_value} for every term of the tree.
        scorers: the similarity's prepared term scorers (None: BM25 at
        the tree's boosts). lead: the rarest one-term required clause,
        for the block skip. candidates / range_ids: see topk_spec.
        wand: the two-wave WAND plan, for a pure-OR bool of term leaves
        only: None = auto (more than 512 doc ranges), True = forced,
        False = never."""
        present = sorted(t for t in tree_terms(tree) if weights[t]["df"] > 0)
        if not present:
            return topk_frame(self.spark)
        n_ranges = self._est_ranges()
        # the doc ranges the scan is restricted to (None = all of them)
        scan_ranges = None
        if range_ids is not None:
            scan_ranges = {int(r) for r in range_ids}
            n_ranges = min(n_ranges, len(scan_ranges))
            wand = False
        cand_arr = None
        if candidates is not None:
            cand_arr = np.asarray(sorted({int(c) for c in candidates}), dtype=np.int64)
            if cand_arr.size == 0:
                return topk_frame(self.spark)
            cand_ranges = {int(c) // self._range_size for c in cand_arr}
            n_ranges = min(n_ranges, len(cand_ranges))
            scan_ranges = cand_ranges if scan_ranges is None else scan_ranges & cand_ranges
            wand = False
            k = max(k, int(cand_arr.size))
        if scan_ranges is not None:
            scan_ranges = sorted(scan_ranges)
        # column-prune the scan on either plan: pos_buf (the widest
        # column) is only read for positional leaves, and block metadata
        # the scorer never touches is dropped
        positional = bool(tree_pos_terms(tree))
        scan_cols = [
            "term", "range_id", "first_doc", "last_doc",
            "docs_buf", "tfs_buf", "norms_buf",
        ] + (["pos_buf"] if positional else [])
        score_fn = _make_range_scorer(
            tree, weights, float(self.avgdl), self.doc_count, k,
            scorers=scorers, lead=lead, candidates=cand_arr, deleted=self.deleted,
        )
        # a term's blocks tile each range it occurs in by BLOCK_SIZE docs,
        # so it has at most ceil(df/BLOCK_SIZE) + n_ranges of them, and
        # never more than df: an upper bound on the rows of the scan,
        # known before any job runs
        dfs = [int(weights[t]["df"]) for t in present]
        max_blocks = sum(min(df, -(-df // BLOCK_SIZE) + n_ranges) for df in dfs)
        cap = DRIVER_SCORE_MAX_BLOCKS
        if positional:
            cap = min(cap, DRIVER_POSITIONAL_MAX_BLOCKS)
        if wand is not True and self.deleted_df is None and max_blocks <= cap:
            where = ds.field("term").isin(present)
            if scan_ranges is not None:
                where &= ds.field("range_id").isin(pa.array(scan_ranges, pa.int64()))
            scan = self._postings_files.read(self._buckets_of(present), scan_cols, where)
            return topk_frame(self.spark, *score_fn.score(score_fn.decode(scan)))

        blocks = self._blocks_for(present)
        if scan_ranges is not None:
            blocks = blocks.filter(F.col("range_id").isin(scan_ranges))
        # WAND's two-wave plan costs two extra driver round trips; it only
        # pays when there are enough doc ranges to prune. Estimate from
        # corpus stats (free) — at 10^12-file scale this is always true.
        if wand is None:
            # measured on a 3M-doc/366-range corpus: two-wave WAND costs
            # more than it prunes below ~512 ranges (flat bounds); at true
            # 10^12 scale (10^8+ ranges) pruning is mandatory
            wand = n_ranges > 512
        if self.deleted_df is not None:
            # corpus-scale delete sets pause WAND (its two-wave bounds
            # would need per-range tombstone counts); sets that large
            # imply an imminent compact which purges them anyway
            wand = False
        if wand:
            # a WAND tree is a bool of SHOULD term leaves
            should = tuple(sub[1] for _occ, sub in tree[1])
            result = self._wand_pruned(
                blocks, scan_cols, score_fn, weights, should, k, first_wave_ranges,
            )
        else:
            result = self._apply_range_scorer(blocks, scan_cols, score_fn)
        return result.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def search(self, query: str, k: int = 10, mode: str = "or", prune: bool | None = None) -> DataFrame:
        """topk + join back to docs for metadata & the sha256 row invariant
        (phase 2 GET_FIELDS of the distributed search, QueryComponent.java:767)."""
        hits = self.topk(query, k=k, mode=mode, prune=prune)
        docs = self.spark.read.parquet(self.paths.docs)
        return (
            hits.join(docs, "doc_id", "inner")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        )

    # ---------------- filter cache (LRUQueryCache) ----------------

    def _posting_doc_ids(self, terms: list[str]) -> DataFrame:
        """DataFrame(term, doc_id) decoded from the pruned posting blocks
        of `terms` — the unscored DISI the filter path walks."""
        blocks = self._blocks_for(sorted(set(terms))).select(
            "term", "first_doc", "docs_buf"
        )

        def decode(it):
            for pdf in it:
                doc, n = decode_doc_blocks(pdf["docs_buf"].to_numpy(), pdf["first_doc"].to_numpy())
                yield pd.DataFrame({"term": np.repeat(pdf["term"].to_numpy(), n), "doc_id": doc})

        return blocks.mapInPandas(decode, "term string, doc_id long")

    def filter_docs(self, *, must: str = "", should: str = "",
                    must_not: str = "") -> np.ndarray:
        """Matching doc ids of a FILTER query (BooleanClause.Occur.FILTER:
        matches like MUST, contributes NO score), served through the
        LRUQueryCache: repeated filters skip the postings walk entirely.
        Terms are analyzed with the index chain; deletes are masked."""
        m = tuple(sorted(self._analyze(must)))
        s = tuple(sorted(self._analyze(should)))
        n = tuple(sorted(self._analyze(must_not)))
        key = (m, s, n)
        cached = self.query_cache.get(key)
        if cached is not None:
            return cached
        docs = self._filter_docs_uncached(m, s, n)
        self.query_cache.put(key, docs)
        return docs

    def _filter_docs_uncached(self, m: tuple, s: tuple, n: tuple) -> np.ndarray:
        """MUST = intersect, SHOULD-only = union (with MUST present the
        SHOULD clauses are optional, per BooleanQuery), MUST_NOT = anti."""
        weights = self.term_weights(list(m + s + n))
        present = {t for t, w in weights.items() if w["df"] > 0}
        mu = tuple(sorted(set(m)))
        if (mu and any(t not in present for t in mu)) or not (mu or s):
            return np.empty(0, dtype=np.int64)
        terms = [t for t in set(m + s + n) if t in present]
        pd_docs = self._posting_doc_ids(terms)
        if mu:
            hit = (
                pd_docs.filter(F.col("term").isin(list(mu)))
                .groupBy("doc_id")
                .agg(F.count("*").alias("nm"))
                .filter(F.col("nm") == len(mu))
                .select("doc_id")
            )
        else:
            hit = pd_docs.filter(F.col("term").isin(list(s))).select("doc_id").distinct()
        if n:
            excl = pd_docs.filter(F.col("term").isin(list(n))).select("doc_id").distinct()
            hit = hit.join(excl, "doc_id", "left_anti")
        if self.deleted_df is not None:
            # corpus-scale delete set: mask distributed, BEFORE any rows
            # reach the driver (the numpy bitset below only exists in the
            # small-delete-set mode)
            hit = hit.join(self.deleted_df.select("doc_id"), "doc_id", "left_anti")
        # the filter-cache contract is a driver-side doc-id set (Lucene's
        # cached BitSet is also bounded by maxDoc) — cap what may cross
        # to the driver; a filter wider than the cap must run as a plain
        # boolean FILTER clause (topk_boolean), not through the cache
        rows = hit.limit(FILTER_DRIVER_MAX + 1).collect()
        if len(rows) > FILTER_DRIVER_MAX:
            raise ValueError(
                f"filter matches more than FILTER_DRIVER_MAX={FILTER_DRIVER_MAX} docs; "
                "run it as a scored boolean FILTER clause instead of the cached doc-set path"
            )
        arr = np.asarray(sorted(r["doc_id"] for r in rows), dtype=np.int64)
        if self.deleted is not None and self.deleted.size:
            arr = arr[~np.isin(arr, self.deleted)]
        return arr

    def topk_filtered(self, query: str, k: int = 10, mode: str = "or",
                      **filter_kwargs) -> DataFrame:
        """BooleanQuery with FILTER clauses: hits must satisfy the filter
        but only `query` contributes score (IndexSearcher + FILTER occur).
        The filter's doc set comes from the query cache and is pushed into
        the scorer as a candidate mask (block ranges pruned to it)."""
        docs = self.filter_docs(**filter_kwargs)
        if not docs.size:
            return topk_frame(self.spark)
        spec = (
            BooleanSpec(must=tuple(self._analyze(query)))
            if mode == "and"
            else BooleanSpec(should=tuple(self._analyze(query)))
        )
        # the candidates path scores EVERY candidate (rescore semantics),
        # so the filter query re-applies its own k
        return self.topk_spec(spec, k=k, candidates=[int(d) for d in docs]).limit(k)

    # ---------------- sorted / time-bounded collectors ----------------

    def _early_candidates(self, n: int, sort_cols: list[str]) -> DataFrame:
        """EarlyTerminatingSortingCollector candidate pass
        (lucene/core/.../search/EarlyTerminatingSortingCollector.java):
        when every segment is sorted by the index sort, the global top-n
        needs only the FIRST n docs of each segment — collection past n
        throws CollectionTerminatedException per leaf.

        Here 'segment' = one sorted RUN inside a docs parquet file. The
        doc-id layout window sorts each file by (_bucket, index_sort), so
        a file holds one sorted run PER LAYOUT BUCKET, not one run total
        — taking just each file's head would miss later buckets whose
        keys sort lower. An Arrow stage streams each file in order,
        detects run boundaries (the sort key lexicographically
        decreasing) and emits only the first n live rows of every run,
        so ≤ n_layout_buckets·n rows (not the corpus) reach the final
        merge — a bound that is a property of the corpus layout, never
        of cluster width. Per-file state survives Arrow batch splits."""
        if not self.index_sort:
            raise ValueError(
                "early termination requires an index sort "
                "(build with order_cols, not an explicit doc_id_col)"
            )
        if list(sort_cols) != self.index_sort[: len(sort_cols)]:
            raise ValueError(
                f"query sort {sort_cols} is not a prefix of the index "
                f"sort {self.index_sort}"
            )
        if self.deleted_df is not None:
            raise ValueError(
                "corpus-scale delete set pending compaction — early "
                "termination would need per-segment live counts"
            )
        docs = self.spark.read.parquet(self.paths.docs)
        missing = [c for c in sort_cols if c not in docs.columns]
        if missing:
            raise ValueError(f"sort columns not stored in docs table: {missing}")
        # the candidate pass ships ONLY (sort cols, doc_id) through Arrow
        # — the parquet scan column-prunes to them; stored fields of the
        # n winners are fetched afterwards by early_terminating_topn's
        # semi-join (like Lucene collecting doc ids first and loading
        # stored fields for the final page only)
        slim_cols = list(dict.fromkeys([*sort_cols, "doc_id"]))
        with_seg = docs.select(*slim_cols).withColumn("_seg", F.input_file_name())
        out_schema = with_seg.schema
        deleted = self.deleted

        return with_seg.mapInPandas(
            _segment_heads_fn(list(sort_cols), n, deleted), schema=out_schema
        ).drop("_seg")

    def early_terminating_topn(
        self, n: int, sort_cols: list[str] | None = None
    ) -> DataFrame:
        """Top-n docs by the index sort via per-segment early termination;
        identical rows to a full ORDER BY ... LIMIT n, but the merge input
        is bounded by sorted-runs·n instead of the corpus size, and only
        the final n winners' stored fields are ever read."""
        sort_cols = list(sort_cols or self.index_sort)
        cand = self._early_candidates(n, sort_cols)
        order = [F.col(c).asc() for c in sort_cols] + [F.col("doc_id").asc()]
        winners = cand.orderBy(*order).limit(n).select("doc_id")
        docs = self.spark.read.parquet(self.paths.docs)
        return docs.join(F.broadcast(winners), "doc_id", "inner").orderBy(*order)

    def topk_time_limited(
        self,
        query: str,
        k: int = 10,
        budget_s: float = 1.0,
        mode: str = "or",
        ranges_per_slice: int = 256,
    ) -> tuple[DataFrame, bool, int]:
        """TimeLimitingCollector (lucene/core/.../search/
        TimeLimitingCollector.java): stop collecting when the wall-clock
        budget is exhausted and return the hits gathered so far plus a
        timed-out flag (TimeExceededException carries partial results).

        The doc-range space is processed in slices — each slice is one
        pruned distributed scoring job; the budget is checked between
        slices (the reference checks per collected doc; per-slice is the
        distributed analog of its granularity). Scores use global stats,
        so partial results are bit-identical to the same docs in a full
        run. Returns (topk_df, timed_out, ranges_visited)."""
        import time as _time

        spec = (
            BooleanSpec(must=tuple(self._analyze(query)))
            if mode == "and"
            else BooleanSpec(should=tuple(self._analyze(query)))
        )
        n_ranges = max(1, -(-self.doc_count // self._range_size))
        t0 = _time.monotonic()
        rows: list = []
        visited = 0
        timed_out = False
        for start in range(0, n_ranges, ranges_per_slice):
            if _time.monotonic() - t0 >= budget_s:
                timed_out = True
                break
            sl = list(range(start, min(start + ranges_per_slice, n_ranges)))
            rows.extend(self.topk_spec(spec, k=k, range_ids=sl).collect())
            visited += len(sl)
        rows.sort(key=lambda r: (-r["score"], r["doc_id"]))
        out = topk_frame(
            self.spark, [r["doc_id"] for r in rows[:k]], [r["score"] for r in rows[:k]]
        )
        return out, timed_out, visited

    def _est_ranges(self) -> int:
        return max(1, -(-self.doc_count // self._range_size))

    def _wand_pruned(
        self, blocks: DataFrame, scan_cols: list[str], score_fn, weights: dict,
        should: tuple, k: int, first_wave_ranges: int
    ) -> DataFrame:
        # Wave 1 must surface >= k COMPETITIVE docs or theta comes out
        # weak and wave 2 prunes nothing (measured at 3M docs: 8 ranges
        # -> theta 2.08, 1457/1465 survive, pruning loses; 16-32 ranges
        # -> the true theta 4.40, 51-99 survive, pruning wins 2x). The
        # top-k docs of a skewed term concentrate ~1-2 per range, so
        # scale the wave with k and floor it well above it.
        first_wave_ranges = max(first_wave_ranges, 2 * k)
        # a duplicate SHOULD clause scores again, so a term's weight
        # counts once per clause
        wv_map = F.create_map(*[
            x for t, w in weights.items()
            for x in (F.lit(t), F.lit(w["weight_value"] * should.count(t)))
        ])
        # per-block bound: wv * max_tf/(max_tf + k1*(1-b)) + epsilon (must only over-estimate)
        kb = float(K1) * (1.0 - float(B))
        ub = wv_map[F.col("term")] * F.col("max_tf") / (F.col("max_tf") + F.lit(kb)) + F.lit(1e-5)
        bounds = (
            blocks.withColumn("_ub", ub)
            .groupBy("range_id", "term")
            .agg(F.max("_ub").alias("tub"))
            .groupBy("range_id")
            .agg(F.sum("tub").alias("bound"))
        )
        # One metadata aggregation, used twice (wave-1 selection AND the
        # survivor filter). Under WAND_DRIVER_BOUNDS_MAX ranges the
        # (range_id, bound) pairs come to the driver ONCE — Lucene's
        # block metadata lives driver-side too — which drops a whole
        # recomputation of the aggregation from the wave-2 plan; above
        # the cap (10^8-range scale) the frame persists and the survivor
        # filter stays distributed.
        driver_bounds = None
        if self._est_ranges() <= WAND_DRIVER_BOUNDS_MAX:
            driver_bounds = [
                (int(r["range_id"]), float(r["bound"])) for r in bounds.collect()
            ]
            driver_bounds.sort(key=lambda rb: -rb[1])
            wave1_ids = [r for r, _b in driver_bounds[:first_wave_ranges]]
        else:
            # one persisted bounds frame per searcher at a time: release
            # the previous query's (lazily-referenced) cache before
            # pinning a new one, or repeated huge-corpus queries leak
            # executor storage
            prev = getattr(self, "_wand_bounds_cached", None)
            if prev is not None:
                prev.unpersist()
            bounds = bounds.persist()
            self._wand_bounds_cached = bounds
            wave1_ids = [
                int(r["range_id"])
                for r in bounds.orderBy(F.col("bound").desc())
                .limit(first_wave_ranges).collect()
            ]
        if not wave1_ids:
            return topk_frame(self.spark)
        scan = blocks.select(scan_cols)
        wave1_top = (
            scan.filter(F.col("range_id").isin(wave1_ids))
            .groupBy("range_id")
            .applyInPandas(score_fn, schema=TOPK_SCHEMA)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .collect()
        )
        wave1_df = topk_frame(
            self.spark, [r["doc_id"] for r in wave1_top], [r["score"] for r in wave1_top]
        )
        if len(wave1_top) < k:
            # not enough hits for a threshold: score the rest unpruned
            rest = scan.filter(~F.col("range_id").isin(wave1_ids))
            wave2 = rest.groupBy("range_id").applyInPandas(score_fn, schema=TOPK_SCHEMA)
            return wave1_df.unionByName(wave2)
        theta = float(wave1_top[-1]["score"])
        if driver_bounds is not None:
            w1 = set(wave1_ids)
            surviving_ids = [
                r for r, b in driver_bounds if b > theta and r not in w1
            ]
            if not surviving_ids:
                return wave1_df
            if len(surviving_ids) <= 10_000:
                wave2_scan = scan.filter(F.col("range_id").isin(surviving_ids))
            else:
                ids_df = self.spark.createDataFrame(
                    [(r,) for r in surviving_ids], "range_id long"
                )
                wave2_scan = scan.join(
                    F.broadcast(ids_df), "range_id", "left_semi"
                )
        else:
            surviving = bounds.filter(
                (~F.col("range_id").isin(wave1_ids)) & (F.col("bound") > F.lit(theta))
            )
            wave2_scan = scan.join(
                F.broadcast(surviving.select("range_id")), "range_id", "left_semi"
            )
        wave2 = (
            wave2_scan.groupBy("range_id")
            .applyInPandas(score_fn, schema=TOPK_SCHEMA)
        )
        return wave1_df.unionByName(wave2)


_POS_SHIFT = np.int64(1) << np.int64(22)  # > max field position (builder
# enforces MAX_FIELD_POSITION = 2^22-1 at index time)


def _abs_positions(per_term, t: str):
    """Decode term t's position stream in the range: (docs, tf, run_starts,
    pos_abs) where pos_abs holds ascending absolute positions per doc in
    one cumsum-with-reset pass, no per-doc Python."""
    d, tf, _nb, pos = per_term[t]
    g = np.cumsum(pos.astype(np.int64))
    run_starts = np.concatenate(([0], np.cumsum(tf)))[:-1]
    corr = np.repeat(g[run_starts] - pos[run_starts].astype(np.int64), tf)
    return d, tf, run_starts, g - corr


def _occurrence_keys(per_term, t: str) -> np.ndarray:
    """Flat (doc << 22 | position) composite keys for every occurrence of
    term t in the decoded range."""
    d, tf, _run_starts, pos_abs = _abs_positions(per_term, t)
    return np.repeat(d, tf) * _POS_SHIFT + pos_abs


def _sloppy_phrase_pf(per_term, positions, cand: np.ndarray, slop: int) -> np.ndarray:
    """Lucene-exact weighted sloppy phrase freq per candidate doc
    (SloppyPhraseScorer.phraseFreq + BM25Similarity.sloppyFreq 1/(d+1)).
    positions: ((term | (alt, ...), offset), ...); each position's cursor
    walks the UNION of its alternatives' occurrences (MultiPhraseQuery
    UnionPostingsEnum), through the repeats path when a term recurs and
    the multi-term-repeats path (hasMultiTermRpts) when alternative sets
    overlap (see search/sloppy.py). Per-doc sequential walk — the same
    cost model as Lucene's own scorer, run per doc range."""
    from .sloppy import sloppy_freq

    term_sets = [span_alts(c) for c, _off in positions]
    offsets = [off for _c, off in positions]
    abs_cache = {
        t: _abs_positions(per_term, t)
        for t in sorted({t for ts in term_sets for t in ts}) if t in per_term
    }
    freqs = np.zeros(cand.size, dtype=np.float32)
    for ci, c in enumerate(cand):
        plists = [_doc_positions(abs_cache, alts, c) for alts in term_sets]
        if all(plists):
            freqs[ci] = sloppy_freq(plists, offsets, slop, terms=term_sets)
    return freqs


def _doc_positions(abs_cache, alts, c) -> list[int]:
    """Doc c's ascending positions of the union of the alternatives (a
    SpanOr clause, a MultiPhraseQuery position), from _abs_positions
    entries; a term missing from abs_cache contributes none."""
    merged: list[int] = []
    for t in alts:
        if t in abs_cache:
            d, tf, run_starts, pos_abs = abs_cache[t]
            j = int(np.searchsorted(d, c))
            if j < d.size and d[j] == c:
                s = int(run_starts[j])
                merged.extend(pos_abs[s : s + int(tf[j])].tolist())
    return sorted(merged) if len(alts) > 1 else merged


def _term_automaton_freqs(per_term, auto, cand: np.ndarray) -> np.ndarray:
    """TermAutomatonScorer.countMatches reimplemented (sandbox/search/
    TermAutomatonScorer.java:226-345): per doc, walk the query terms'
    positions in order; each token at position p steps every state held
    at p (plus a fresh start from state 0) along its term arc into p+1,
    counting a match whenever a TERM arc lands in an accept state. ANY
    arcs ('' label) advance held states one position at a time between
    consecutive query tokens WITHOUT accept counting, and peter out when
    a gap position holds no states. State containers are multisets (the
    reference's PosState.add never dedups), reproduced with lists."""
    transitions, accepts = auto
    step: dict = {}
    any_step: dict = {}
    for frm, lab, to in transitions:
        if lab == "":
            any_step.setdefault(frm, []).append(to)
        else:
            step.setdefault((frm, lab), []).append(to)
    acc_set = set(accepts)
    terms = sorted({lab for _f, lab, _t in transitions if lab})
    abs_cache = {t: _abs_positions(per_term, t) for t in terms if t in per_term}
    freqs = np.zeros(cand.size, dtype=np.int64)
    for ci, c in enumerate(cand):
        occ: list = []
        for t, (d, tf, run_starts, pos_abs) in abs_cache.items():
            j = int(np.searchsorted(d, c))
            if j < d.size and d[j] == c:
                s = int(run_starts[j])
                occ.extend((int(p), t) for p in pos_abs[s : s + int(tf[j])])
        if not occ:
            continue
        occ.sort()
        freq = 0
        held: dict[int, list[int]] = {}  # position -> multiset of states
        last_pos = -1
        for pos, t in occ:
            if last_pos != -1 and any_step and last_pos < pos:
                lp, start_lp = last_pos, last_pos
                while lp < pos:
                    states_here = held.get(lp, ())
                    if not states_here and lp > start_lp:
                        break  # petered out (countMatches:271-274)
                    nxt = held.setdefault(lp + 1, [])
                    for st in states_here:
                        nxt.extend(any_step.get(st, ()))
                    lp += 1
            nxt = held.setdefault(pos + 1, [])
            for st in held.get(pos, ()):
                for to in step.get((st, t), ()):
                    nxt.append(to)
                    if to in acc_set:
                        freq += 1
            for to in step.get((0, t), ()):  # start a new match here
                nxt.append(to)
                if to in acc_set:
                    freq += 1
            last_pos = pos
        freqs[ci] = freq
    return freqs


def _exact_phrase_pf(per_term, positions, cand: np.ndarray) -> np.ndarray:
    """EXACT phrase frequency per candidate doc (ExactPhraseScorer),
    vectorized over composite (doc, position) keys. positions: ((term |
    (alt, ...), offset), ...); a position's occurrence set is the UNION
    of its alternatives' occurrences (MultiPhraseQuery UnionPostingsEnum);
    pf = count of lead occurrences aligning through every position."""
    cand_sorted = np.asarray(sorted(cand), dtype=np.int64)
    keys = None
    for idx, (c, off) in enumerate(positions):
        parts = [
            _occurrence_keys(per_term, t) - off
            for t in span_alts(c) if t in per_term
        ]
        ki = (
            np.concatenate(parts)
            if parts
            else np.array([], dtype=np.int64)
        )
        if idx == 0:
            lead_docs = ki // _POS_SHIFT
            keys = ki[np.isin(lead_docs, cand_sorted)]
        else:
            keys = keys[np.isin(keys, ki)]
        if keys.size == 0:
            break
    counts = np.zeros(cand.size, dtype=np.int64)
    if keys is not None and keys.size:
        match_docs = keys // _POS_SHIFT
        order = np.argsort(cand, kind="mergesort")
        sorted_cand = cand[order]
        idx2 = np.searchsorted(sorted_cand, match_docs)
        np.add.at(counts, order[idx2], 1)
    return counts


def _span_posrange_freqs(per_term, node, cand: np.ndarray) -> np.ndarray:
    """SpanPositionRangeQuery freq of a ("range", term, lo, hi) node
    (SpanFirst = lo 0): occurrences with lo <= pos and pos+1 <= hi,
    vectorized (one reduceat over the term's position runs)."""
    _kind, t, lo_b, hi_b = node
    d, _tf, run_starts, pos_abs = _abs_positions(per_term, t)
    if pos_abs.size == 0:
        return np.zeros(cand.size, dtype=np.float32)
    hits = ((pos_abs >= lo_b) & (pos_abs + 1 <= hi_b)).astype(np.int64)
    per_doc = np.add.reduceat(hits, run_starts)
    freqs = np.zeros(cand.size, dtype=np.float32)
    j = np.searchsorted(d, cand)
    j_cl = np.minimum(j, d.size - 1)
    valid = d[j_cl] == cand
    freqs[valid] = per_doc[j_cl[valid]]
    return freqs


def _lead_span_keep(scan, lead: str, pos_terms) -> np.ndarray:
    """The conjunction's block skip (ConjunctionDISI's cost-ordered
    leapfrog at block granularity), on block metadata before any decode:
    in each doc range, a block lying wholly outside the span of the lead
    term's blocks holds no doc that can match, and a range without the
    lead holds none at all. Positional terms keep every block of the
    ranges that hold the lead: their position streams must stay
    doc-aligned. -> the row mask of the blocks to decode."""
    terms = scan["term"].to_numpy()
    first = scan["first_doc"].to_numpy()
    last = scan["last_doc"].to_numpy()
    ranges, inv = np.unique(scan["range_id"].to_numpy(), return_inverse=True)
    is_lead = terms == lead
    lo = np.full(ranges.size, np.iinfo(np.int64).max)
    hi = np.full(ranges.size, -1, dtype=np.int64)
    np.minimum.at(lo, inv[is_lead], first[is_lead])
    np.maximum.at(hi, inv[is_lead], last[is_lead])
    keep = (last >= lo[inv]) & (first <= hi[inv])
    if pos_terms:
        pos_terms = set(pos_terms)
        keep |= (hi[inv] >= 0) & np.array([t in pos_terms for t in terms], dtype=bool)
    return keep


def _cogroup_wrapper(score_fn):
    """Adapt a (key, blocks_pdf, deleted_local=None) range scorer to the
    cogroup applyInPandas signature: the right side is this range's slice
    of the tombstone table (corpus-scale deletes path)."""
    def cg(key, pdf, del_pdf):
        if pdf.empty:
            return _EMPTY
        loc = None
        if len(del_pdf):
            loc = np.unique(del_pdf["doc_id"].to_numpy(np.int64))
        return score_fn(key, pdf, loc)

    return cg


def _make_range_scorer(tree, weights: dict, avgdl: float, doc_count: int, k: int,
                       scorers: dict | None = None, lead: str | None = None,
                       candidates: np.ndarray | None = None,
                       deleted: np.ndarray | None = None):
    """The scorer of one query tree, built by the top-k runner
    (IndexSearcher._run_tree) for either plan. As the applyInPandas
    function, it decodes each doc-range group, one 'segment', and scores
    it by one simpleqp.eval_tree call. It also carries its two steps for
    the driver plan, which runs them once on its whole scan:
    .decode(scan) -> decoded postings
    (the lead term's block skip applied) and .score(postings) -> the k
    best (doc_id, score) arrays; only the applyInPandas entry builds a
    DataFrame. The evaluation's arrays span the union of the postings'
    docs.
    scorers: the similarity's prepared per-term score(freq, norm_byte),
    boosts folded in (None: BM25 at the tree's boosts).
    lead: the rarest one-term required clause, for the block skip.
    candidates: sorted doc ids to restrict scoring to (rescore pushdown).
    deleted: sorted tombstoned doc ids masked out (liveDocs)."""
    pos_terms = sorted(tree_pos_terms(tree))

    def decode(scan) -> dict:
        """The scan's postings, blocks the lead's span rules out skipped."""
        keep = None if lead is None else _lead_span_keep(scan, lead, pos_terms)
        return decode_postings(scan, pos_terms=pos_terms, keep=keep)

    def score(per_term: dict, deleted_local=None):
        """The k best (doc_id, score) arrays of the decoded postings,
        ordered score DESC, doc_id ASC."""
        if not per_term:
            return _NO_HITS
        ctx = _RangeCtx(per_term, weights, avgdl, doc_count, scorers)
        live = np.ones(ctx.n, dtype=bool)
        if candidates is not None:
            live &= np.isin(ctx.docs, candidates)
        d_arr = deleted if deleted_local is None else deleted_local
        if d_arr is not None and d_arr.size:
            live &= ~np.isin(ctx.docs, d_arr)
        match, sc = eval_tree(tree, ctx, cand=live)
        idx = np.flatnonzero(match & live)
        return _top_hits(ctx.docs[idx], sc[idx], k)

    def _score_group(key, pdf, deleted_local=None):
        return _hits_frame(*score(decode(pdf), deleted_local))

    def score_range(key, pdf):
        return _score_group(key, pdf)

    score_range.cogroup = _cogroup_wrapper(_score_group)
    score_range.decode = decode
    score_range.score = score
    return score_range
