"""Plan-shape regression tests for the r1 scale-killers (VERDICT):
the fixes must HOLD in the physical plan, not just return green rows.

- search_after: keyset paging = TakeOrderedAndProject stages, never a
  row_number window over the whole table;
- terms_component / suggest_prefix: term-dict browse reads term_stats
  metadata, never the documents corpus;
- min_should_match / function_query: posting-list access, no per-query
  re-tokenization (no split/explode of text in the plan);
- rescore candidate pushdown: topk_spec(candidates=...) returns scores
  identical to the unrestricted run, with the block scan pruned to the
  candidates' ranges.
"""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.ops import relational as R

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_search_after_keyset_plan(spark):
    df = R.search_after(spark, SF)
    plan = _plan(df)
    # the page comes from a bounded top-k (TakeOrderedAndProject subsumes
    # the limit), the keyset predicate is pushed to the parquet scan, and
    # the only window sits above the 10-row page
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [Or(LessThan(o_totalprice" in plan


def test_terms_component_reads_term_stats_only(spark):
    plan = _plan(R.terms_component(spark, SF))
    assert "term_stats" in plan
    assert "documents" not in plan


def test_suggest_prefix_reads_term_stats_only(spark):
    plan = _plan(R.suggest_prefix(spark, SF))
    assert "term_stats" in plan
    assert "documents" not in plan
    assert "StartsWith" in plan  # prefix filter pushed to the scan


def test_min_should_match_uses_postings(spark):
    plan = _plan(R.min_should_match(spark, SF))
    assert "postings" in plan
    assert "split" not in plan and "explode" not in plan.lower()


def test_function_query_no_retokenize(spark):
    plan = _plan(R.function_query(spark, SF))
    assert "postings" in plan
    assert "split" not in plan and "explode" not in plan.lower()
    # the documents scan is column-pruned to the stored fields it needs
    assert "text" not in plan.split("ReadSchema")[-1] or "n_chars" in plan


def test_rescore_candidates_identical_and_pruned(spark):
    from lucene_solr_spark.ops.index_access import searcher_for
    from lucene_solr_spark.search.engine import BooleanSpec

    s = searcher_for(spark, SF)
    spec = BooleanSpec(should=("spark",))
    full = {
        int(r["doc_id"]): r["score"]
        for r in s.topk_spec(spec, k=50, prune=False).collect()
    }
    cand = sorted(full)[:7]
    got = {
        int(r["doc_id"]): r["score"]
        for r in s.topk_spec(spec, k=7, candidates=cand).collect()
    }
    assert set(got) <= set(cand)
    for d, sc in got.items():
        assert sc == full[d]  # per-doc BM25 unchanged under restriction
    # non-matching candidates simply don't appear
    assert set(got) == {d for d in cand if d in full}


def test_spellcheck_reads_term_stats_only(spark):
    """DirectSpellChecker browses the term DICTIONARY — a corpus scan in
    the plan would mean re-deriving the dictionary per query."""
    plan = _plan(R.spellcheck_suggest(spark, SF))
    assert "term_stats" in plan
    assert "documents" not in plan


def test_blended_term_no_retokenize(spark):
    """BlendedTermQuery reads postings + stats; no split/explode of raw
    text may appear in the plan."""
    from lucene_solr_spark.ops.index_access import searcher_for

    s = searcher_for(spark, SF)
    plan = _plan(s.topk_blended("spark vector", k=10))
    assert "split(" not in plan and "explode" not in plan.lower()


def test_block_join_child_side_aggregates_before_join(spark):
    """ToParentBlockJoin: the child rollup must aggregate lineitem BEFORE
    joining orders (never join raw children to parents first)."""
    plan = _plan(R.block_join_parent(spark, SF))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # physical plans print top-down: the join consumes the aggregate,
    # so the aggregate appears BELOW (after) the join operator line
    assert "l_quantity" in plan  # child filter pushed into the scan
    assert "PushedFilters" in plan


def test_spatial_knn_bbox_pushdown_and_bounded_topk(spark):
    """LatLonPoint two-phase: the bounding-box prefilter must reach the
    parquet scan (BKD-visit analog) and the distance sort must be a
    bounded top-k, never a global sort."""
    plan = _plan(R.spatial_knn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # the bbox BETWEEN on the derived lat is a filter over c_custkey
    # arithmetic — the scan must at least be pruned to the one column
    assert "ReadSchema" in plan and "c_custkey" in plan
    # exact haversine runs on bbox survivors only: ASIN appears above a
    # Filter, not inside the scan
    assert "ASIN" in plan.upper()


def test_contamination_no_gram_shuffle(spark):
    """The training corpus's grams must never be exchanged: per-doc
    distinct happens inside the shingle generator, the eval-gram join is
    broadcast, and the only train-side exchange is the per-doc aggregate
    (map-side combined). A hashpartitioning on (doc_id, s) would mean
    every gram in the corpus crosses the network."""
    import re

    from lucene_solr_spark.ops import pipeline as P

    plan = _plan(P.contamination_check(spark, SF))
    assert "BroadcastHashJoin" in plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert not any("doc_id" in e and "s#" in e for e in exchanges), exchanges


def test_pii_scrub_single_scan_projection(spark):
    """pii_scrub is a map-only pass: one parquet scan, no join, no
    aggregate; the only exchange is the output ordering's range
    partition."""
    from lucene_solr_spark.ops import pipeline as P

    plan = _plan(P.pii_scrub(spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "HashAggregate" not in plan


def test_suggest_fuzzy_reads_term_stats_only(spark):
    """FuzzySuggester variant: completion candidates come from the term
    dictionary metadata, never the corpus; the distance filter runs over
    term_stats rows only."""
    plan = _plan(R.suggest_fuzzy(spark, SF))
    assert "term_stats" in plan
    assert "documents" not in plan
    assert "levenshtein" in plan


def test_suggest_wordbreak_semantics_and_plan(spark):
    """WordBreakSpellChecker variant: (a) term-dict-only — the corpus is
    never scanned, the literal split/pair candidates are broadcast; (b)
    semantics — run-together words split into dictionary pieces, terms
    already in the index are skipped (SUGGEST_WHEN_NOT_IN_INDEX), splits
    with a stopped-out piece are dropped (df >= minSuggestionFrequency),
    adjacent-term combinations must land in the dictionary with at least
    one absent component."""
    df = R.suggest_wordbreak(spark, SF)
    plan = _plan(df)
    assert "term_stats" in plan
    assert "documents" not in plan
    assert "BroadcastHashJoin" in plan
    rows = {(r["variant"], r["term"]) for r in df.collect()}
    breaks = {t for v, t in rows if v == "wordbreak"}
    combos = {t for v, t in rows if v == "wordcombine"}
    assert breaks == {"big data", "hash join", "sort key"}
    assert combos == {"value", "window"}
    # 'spark' is indexed -> suggestWordBreaks returns nothing for it;
    # 'apart' splits to a|part but 'a' is stopped out of the dictionary
    assert not any(t.startswith("spark") or t == "a part" for t in breaks)


def test_fuzzy_like_this_expansion_is_metadata_only(spark, monkeypatch):
    """FuzzyLikeThisQuery's expansion never scans the corpus: the variant
    lookup is a term_stats metadata query; only the final boosted scorer
    touches postings (read in the driver under DRIVER_SCORE_MAX_BLOCKS,
    by a Spark scan above it)."""
    from lucene_solr_spark.ops.index_access import searcher_for
    from lucene_solr_spark.search import engine as E

    s = searcher_for(spark, SF)
    exp = (
        s._term_stats
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit("sprk")))
        .filter(F.col("dist") <= 1)
    )
    plan = exp._jdf.queryExecution().executedPlan().toString()
    assert "term_stats" in plan and "documents" not in plan
    hits = s.topk_fuzzy_like_this("sprk merg", k=10)
    assert hits.count() > 0
    assert "documents" not in _plan(hits)
    monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", 0)
    plan2 = _plan(s.topk_fuzzy_like_this("sprk merg", k=10))
    assert "postings" in plan2 and "documents" not in plan2


def test_stored_ivf_probe_is_partition_pruned(spark, tmp_path):
    """The 100-TB IVF layout claim, made real: the corpus stored
    partitionBy(centroid cell) turns the probe's bucket filter into a
    PartitionFilter (directory prune) — unprobed cells are never opened —
    and results are identical to the in-memory assignment path."""
    from lucene_solr_spark.ops import pipeline as P

    idx = str(tmp_path / "ivf_idx")
    P.build_ivf_index(spark, SF, idx)
    got = P.ann_ivf_stored(spark, SF, idx, nprobe=2)
    plan = _plan(got)
    scan = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in scan  # the probe filter prunes partitions
    want = [tuple(r) for r in P.ann_ivf_kmeans(spark, SF, nprobe=2).collect()]
    assert [tuple(r) for r in got.collect()] == want


def test_term_automaton_scan_pruned_to_labels(spark, monkeypatch):
    """TermAutomatonQuery scans only its labels' posting blocks (term-hash
    partition pruning like every other query), reads the position stream,
    and never touches the documents corpus (read in the driver under
    DRIVER_SCORE_MAX_BLOCKS, by a Spark scan above it)."""
    from lucene_solr_spark.ops.index_access import searcher_for
    from lucene_solr_spark.search import engine as E

    s = searcher_for(spark, SF)
    auto = ([(0, "merge", 1), (1, "", 2), (2, "sort", 3)], [3])
    assert "documents" not in _plan(s.topk_term_automaton(*auto, k=10))
    monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", 0)
    plan = _plan(s.topk_term_automaton(*auto, k=10))
    assert "postings" in plan and "documents" not in plan
    assert "pos_buf" in plan  # the position stream is read
    read = plan.split("ReadSchema")[-1]
    assert "docs_buf" in read


def test_highlight_unified_zero_shuffle(spark):
    """The unified PostingsHighlighter variant is one Arrow stage over
    the stored text — a shuffle before the final presentation sort would
    mean per-doc work crossed the network."""
    df = R.highlight_unified(spark, SF)
    plan = _plan(df)
    before_sort = plan.split("Sort", 1)[0]
    assert "Exchange" not in before_sort or "rangepartitioning" in before_sort
    assert "FlatMapsInPandas" in plan or "MapInPandas" in plan


def test_spellcheck_neighborhood_only_arrow_stage(spark):
    """DirectSpellChecker's exact OSA/PQ finalize runs over the pruned
    dictionary NEIGHBORHOOD: the plan must show the term_stats scan with
    the Levenshtein prefilter BELOW the Arrow stage — never a corpus
    read."""
    from lucene_solr_spark.ops.index_access import searcher_for

    df = searcher_for(spark, SF).spellcheck("slon")
    plan = _plan(df)
    assert "term_stats" in plan
    assert "documents" not in plan
    assert "levenshtein" in plan.lower()


def test_expression_sort_pure_codegen(spark):
    """The compiled JS-language expression (lucene/expressions analog)
    must stay a JVM-side codegen projection — no Python UDF stage — and
    top-k must be a bounded TakeOrderedAndProject, never a global sort
    exchange."""
    df = R.expression_sort_query(spark, SF)
    plan = _plan(df)
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_spatial_zorder_range_join_single_zcode(spark):
    """The z-order bbox leg (GT round 77) must prefilter via a BROADCAST
    range join — NOT an OR chain of BETWEENs, which Catalyst inlines the
    multi-KB z-code expression into (one copy per range) until codegen
    overflows the stack under default driver configs. The plan must show
    one broadcast nested-loop join and exactly ONE z-code computation
    (one shiftleft cascade per dimension pair = the magic-constant
    spread appears a bounded number of times), and no Python stage."""
    df = R.spatial_zorder(spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan
    # the spread constant 6148914691236517205 appears once per spread
    # step per dimension in ONE zcode projection (2 dims x <=2 plan
    # renderings); an OR-chain regression would multiply it by ~50
    assert plan.count("6148914691236517205") <= 8, plan.count(
        "6148914691236517205")


def test_slow_fuzzy_candidate_filter_is_distributed(spark):
    """r3 VERDICT #1: slow_fuzzy must never collect the full word
    dictionary — the LinearFuzzyTermsEnum acceptance set is a
    distributed prefix + levenshtein codegen filter, so the only rows
    reaching the driver are the bounded (< maxExpansions) survivors.
    The filter must sit in the plan BELOW the aggregate (i.e. applied
    before distinct), with no Python stage."""
    p = spark.read.parquet(SF + "/part.parquet")
    words = p.select(
        "p_partkey", F.explode(F.split(F.col("p_name"), " ")).alias("w"))
    cand = R._slow_fuzzy_candidates(words, "grean", 3, 1)
    plan = _plan(cand)
    assert "levenshtein" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan
    # filter runs map-side under the distinct's exchange: the aggregate
    # shuffles only pre-filtered candidates
    pre_exchange = plan.split("Exchange")[-1]
    assert "levenshtein" in pre_exchange


def test_slow_fuzzy_and_strdist_no_full_dictionary_collect():
    """The two r3 'weak' legs (ops/relational.py slow_fuzzy_query /
    strdist_query) must stay free of the full-dictionary collect
    pattern: any .collect() in their source must be either the bounded
    candidate-survivor collect (slow_fuzzy) or absent (strdist uses the
    closed literal vocabulary + a scalar anti-join count)."""
    import inspect

    src = inspect.getsource(R.slow_fuzzy_query)
    assert ".distinct().collect()" not in src
    assert "_slow_fuzzy_candidates" in src
    src2 = inspect.getsource(R.strdist_query)
    assert ".collect()" not in src2
    assert "STRDIST_VOCAB" in src2


def test_flt_candidate_scan_distributed_and_bounded(spark):
    """FuzzyLikeThisQuery (reference-exact path): the per-source-term
    candidate superset must come from a DISTRIBUTED term-stats metadata
    filter (prefix pushdown + codegen levenshtein on the suffix, no
    Python stage) with only the bounded survivors collected — the same
    no-full-dictionary-collect contract the slow_fuzzy gate pins."""
    import inspect

    from lucene_solr_spark.ops.index_access import searcher_for
    from lucene_solr_spark.search.engine import IndexSearcher

    s = searcher_for(spark, SF)
    stats = s._term_stats.filter(F.col("term").startswith("me")).filter(
        F.levenshtein(F.expr("substring(term, 2)"), F.lit("erge")) <= F.lit(2)
    )
    plan = _plan(stats.select("term", "df"))
    assert "levenshtein" in plan
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert "StartsWith" in plan or "startswith" in plan.lower()
    # the engine method builds exactly this shape and asserts the bound
    src = inspect.getsource(IndexSearcher.topk_fuzzy_like_this_ref)
    assert "FLT_DRIVER_MAX" in src and "levenshtein" in src
    # end-to-end: selection survives and the query runs
    hits = s.topk_fuzzy_like_this_ref([("merge", 0.5, 1)], k=5)
    assert hits.count() > 0


def test_flt_candidate_bound_raises(spark, monkeypatch):
    """A candidate superset over FLT_DRIVER_MAX is a runtime error that
    names the bound — a ValueError, never a bare assert that `python -O`
    would strip."""
    from lucene_solr_spark.ops.index_access import searcher_for
    from lucene_solr_spark.search.engine import IndexSearcher

    s = searcher_for(spark, SF)
    monkeypatch.setattr(IndexSearcher, "FLT_DRIVER_MAX", 0)
    with pytest.raises(ValueError, match="FLT_DRIVER_MAX=0"):
        s.topk_fuzzy_like_this_ref([("merge", 0.5, 1)], k=5)
