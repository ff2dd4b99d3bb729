"""End-to-end: build the index on Spark, assert rank- and score-identity vs
the pure-Python control oracle (BaseDistributedSearchTestCase pattern), index
invariants (CheckIndex analog), and determinism across parallelism."""

import gc
import os
import warnings

import numpy as np
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from lucene_solr_spark.corpus import make_corpus
from lucene_solr_spark.index.builder import BLOCK_SIZE, build_index
from lucene_solr_spark.search import engine as E
from lucene_solr_spark.search.engine import BooleanSpec, IndexSearcher
from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk

N_DOCS = 400

QUERIES = [
    ("hotcommon", "or"),            # stopword-scale df (skew)
    ("parse", "or"),                # common term
    ("parse_30", "or"),             # rare term
    ("parse index merge", "or"),
    ("parse index", "and"),
    ("hotcommon parse_30", "or"),   # rare + hot (WAND stressor)
    ("hotcommon parse_30", "and"),
    ("def class return", "or"),
    ("DupLicated content", "or"),   # exact-dup docs -> ties
    ("the and of", "or"),           # all stopwords -> empty
    ("zzz_missing", "or"),          # absent term -> empty
    ("PARSE Index", "or"),          # query analysis = lowercase
    ("token score", "and"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    pdf = make_corpus(N_DOCS, seed=42)
    src = spark.createDataFrame(pdf)
    out = os.path.join(tmp_root, "idx_corpus")
    paths = build_index(
        spark,
        src,
        out_dir=out,
        content_col="content",
        order_cols=["repo", "path", "commit"],
        meta_cols=["repo", "path", "lang"],
        range_size=64,  # small ranges so the tiny corpus exercises multi-range merge
        fingerprint="corpus400v1",
    )
    searcher = IndexSearcher(spark, out)
    # oracle over the SAME doc_id assignment
    docs = spark.read.parquet(paths.docs).select("doc_id", "repo", "path").collect()
    key_to_id = {(r["repo"], r["path"]): r["doc_id"] for r in docs}
    oracle_docs = [
        (key_to_id[(row.repo, row.path)], row.content) for row in pdf.itertuples()
    ]
    oidx = build_oracle_index(oracle_docs)
    return paths, searcher, oidx


def test_corpus_stats_match_oracle(built):
    _, searcher, oidx = built
    assert searcher.doc_count == oidx.doc_count == N_DOCS
    assert searcher.sum_ttf == oidx.sum_ttf
    assert searcher.avgdl == oidx.avgdl


#: scan plans of topk_spec: the default DRIVER_SCORE_MAX_BLOCKS scores these
#: small scans on the driver; a cap of 0 forces the distributed plan (the
#: range shuffle into applyInPandas, and WAND when pruning is forced)
PLANS = [("", E.DRIVER_SCORE_MAX_BLOCKS), (":distributed", 0)]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "query,mode,cap",
    [(q, m, cap) for _s, cap in PLANS for q, m in QUERIES],
    ids=[f"{q}:{m}{s}" for s, _c in PLANS for q, m in QUERIES],
)
def test_rank_identity(built, monkeypatch, query, mode, cap):
    _, searcher, oidx = built
    monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
    expected = oracle_topk(oidx, query, k=10, mode=mode)
    got = [(r["doc_id"], r["score"]) for r in searcher.topk(query, k=10, mode=mode).collect()]
    assert len(got) == len(expected)
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed, (query, mode, got, expected)
        assert np.float32(gs) == es, (query, gd, gs, es)


def test_prune_does_not_change_results(built, monkeypatch):
    """prune=True always runs the distributed two-wave WAND plan; the
    unpruned side runs the driver plan under the default cap and the
    distributed scorer with the cap forced to 0."""
    _, searcher, oidx = built
    for _s, cap in PLANS:
        monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
        for q in ["hotcommon", "parse index merge", "hotcommon parse_30"]:
            pruned = _rows(searcher.topk(q, k=10, prune=True))
            full = _rows(searcher.topk(q, k=10, prune=False))
            assert pruned == full, (q, cap)


def test_driver_plan_boundary(built, monkeypatch):
    """A scan whose block bound is over DRIVER_SCORE_MAX_BLOCKS keeps the
    range shuffle into the Python scorer; at the cap it is scored on the
    driver and the returned frame holds no Python node. Both plans give
    the same rows."""
    _, searcher, _ = built
    q = "parse index merge"
    weights = searcher.term_weights(searcher._analyze(q))
    bound = sum(
        min(w["df"], -(-w["df"] // BLOCK_SIZE) + searcher._est_ranges())
        for w in weights.values() if w["df"] > 0
    )
    monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", bound - 1)
    over = searcher.topk(q, k=10)
    assert "FlatMapGroupsInPandas" in _plan(over)
    monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", bound)
    under = searcher.topk(q, k=10)
    plan = _plan(under)
    assert "InPandas" not in plan and "Python" not in plan, plan
    assert _rows(under) == _rows(over)
    assert len(_rows(under)) == 10


def test_positional_driver_plan_boundary(built, monkeypatch):
    """Positional clauses verify positions doc by doc in Python, so their
    driver plan stops at the lower DRIVER_POSITIONAL_MAX_BLOCKS: a sloppy
    phrase over it keeps the distributed plan even with
    DRIVER_SCORE_MAX_BLOCKS far above the bound; at it the scan is scored
    on the driver. Both plans give the same rows."""
    _, searcher, _ = built
    spec = E.phrase_spec("parse index", slop=4)
    weights = searcher.term_weights(list(spec.positional_terms))
    bound = sum(
        min(w["df"], -(-w["df"] // BLOCK_SIZE) + searcher._est_ranges())
        for w in weights.values() if w["df"] > 0
    )
    monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", 10 * bound)
    monkeypatch.setattr(E, "DRIVER_POSITIONAL_MAX_BLOCKS", bound - 1)
    over = searcher.topk_spec(spec, k=10)
    assert "FlatMapGroupsInPandas" in _plan(over)
    monkeypatch.setattr(E, "DRIVER_POSITIONAL_MAX_BLOCKS", bound)
    under = searcher.topk_spec(spec, k=10)
    plan = _plan(under)
    assert "InPandas" not in plan and "Python" not in plan, plan
    assert _rows(under) == _rows(over)
    assert _rows(under)


def test_driver_plan_matches_distributed_on_restricted_scans(built, monkeypatch):
    """candidates (rescore pushdown) and range_ids (time-limited slices)
    restrict the scan; the driver plan scores them exactly as the
    distributed plan does."""
    _, searcher, _ = built
    rng = np.random.default_rng(3)
    top = [d for d, _s in _rows(searcher.topk("parse index", k=20))]
    cand = sorted({*top, *(int(c) for c in rng.choice(N_DOCS, size=20, replace=False))})
    specs = [
        BooleanSpec(should=("parse", "index", "hotcommon")),
        BooleanSpec(must=("parse", "index")),
        BooleanSpec(should=("hotcommon",), must_not=("parse",)),
    ]
    for spec in specs:
        for kw in ({"candidates": cand}, {"range_ids": [0, 2, 5]}, {}):
            got = {}
            for s, cap in PLANS:
                monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
                got[s] = _rows(searcher.topk_spec(spec, k=15, **kw))
            assert got[""] == got[":distributed"], (spec, kw)
            assert got[""], (spec, kw)


def _spark_stats(searcher) -> dict:
    return {r["term"]: (r["df"], r["ttf"]) for r in searcher._term_stats.collect()}


def _assert_direct_stats_match_spark(searcher, absent=("zzz_missing", "", "parse_")):
    """term_weights reads the searcher's files directly; it must return the
    rows a Spark scan of the same term_stats snapshot returns."""
    want = _spark_stats(searcher)
    tw = searcher.term_weights([*want, *absent])
    assert {t: (w["df"], w["ttf"]) for t, w in tw.items() if w["df"]} == want
    assert all(tw[t]["df"] == tw[t]["ttf"] == 0 for t in absent)
    return want


def test_direct_term_stats_match_spark(built, spark):
    paths, _, _ = built
    want = _assert_direct_stats_match_spark(IndexSearcher(spark, paths.root))
    assert len(want) > 100


def test_direct_reads_after_increment_and_on_empty_index(spark, tmp_root, monkeypatch):
    """A generation-0 index has no bucket files and reads as empty; each
    reopen after apply_increment sees the increment's inc_* posting files
    and the rewritten term stats, and the driver plan's direct scan still
    scores exactly as the distributed plan's Spark scan."""
    from lucene_solr_spark.streaming.indexer import apply_increment, init_empty_index

    pdf = make_corpus(160, seed=7).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    # Spark lists the files as percent-encoded URIs
    d = os.path.join(tmp_root, "idx direct %inc")
    init_empty_index(spark, d, meta_cols=["repo", "path"], range_size=64)
    s0 = IndexSearcher(spark, d)
    assert s0.doc_count == 0
    assert _assert_direct_stats_match_spark(s0, absent=("parse", "hotcommon")) == {}
    assert _rows(s0.topk("parse hotcommon", k=10)) == []
    for lo, hi in [(0, 100), (100, 160)]:
        batch = spark.createDataFrame(pdf[(pdf.doc_id >= lo) & (pdf.doc_id < hi)])
        apply_increment(spark, d, batch, content_col="content", doc_id_col="doc_id",
                        meta_cols=["repo", "path"], batch_id=f"{lo}-{hi}")
        s = IndexSearcher(spark, d)
        assert any("/inc_" in f for f in s._postings.inputFiles())
        _assert_direct_stats_match_spark(s)
        for spec in [BooleanSpec(should=("parse", "index", "hotcommon")),
                     BooleanSpec(must=("parse", "index"))]:
            got = {}
            for tag, cap in PLANS:
                monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
                got[tag] = _rows(s.topk_spec(spec, k=10))
            assert got[""] == got[":distributed"] and got[""], (lo, spec)


_XML_OR = (
    '<BooleanQuery fieldName="text">'
    + "".join(f'<Clause occurs="should"><TermQuery>{t}</TermQuery></Clause>'
              for t in ("parse", "index", "merge"))
    + "</BooleanQuery>"
)

#: every top-k entry point the runner (_run_tree) serves, on plain terms
#: only: prefix, fuzzy and surround expansion still scan term_stats on Spark
ENTRY_POINTS = {
    "topk": lambda s: s.topk("parse index merge", k=10),
    "topk_simple": lambda s: s.topk_simple("parse index merge", k=10),
    "topk_xml": lambda s: s.topk_xml(_XML_OR, k=10),
    "topk_synonym": lambda s: s.topk_synonym("parse index merge", k=10),
    "topk_span_or": lambda s: s.topk_span_or(["parse", "index", "merge"], k=10),
    "topk_blended": lambda s: s.topk_blended("parse index merge", k=10),
    "topk_flexible": lambda s: s.topk_flexible("parse index merge", k=10),
    "topk_boosting": lambda s: s.topk_boosting("parse index", "merge", 0.5, k=10),
}


@pytest.mark.parametrize("entry", list(ENTRY_POINTS))
def test_driver_plan_runs_no_spark_job(built, spark, entry):
    """A fresh searcher answers a driver-plan query with zero Spark jobs,
    whichever entry point builds its tree: term stats and the block scan
    are direct reads of its file snapshot."""
    paths, _, _ = built
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("direct-control", "a Spark job is counted")
        spark.range(3).count()
        assert tracker.getJobIdsForGroup("direct-control")
        s = IndexSearcher(spark, paths.root)
        sc.setJobGroup("direct-topk", f"fresh searcher, driver-plan {entry}")
        rows = ENTRY_POINTS[entry](s).collect()
        assert list(tracker.getJobIdsForGroup("direct-topk")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 10


@pytest.mark.parametrize("entry", list(ENTRY_POINTS))
def test_driver_plan_answer_makes_no_jvm_call(built, spark, monkeypatch, entry):
    """A warm searcher answers a driver-plan collect() without one py4j
    command: the hits stay in Python until a Spark operator needs them.
    py4j's own memory commands ("m\\n", sent when a Python proxy of a JVM
    object is garbage collected) are not the query's, and gc.collect()
    first flushes the ones earlier tests left pending."""
    paths, _, _ = built
    s = IndexSearcher(spark, paths.root)
    ENTRY_POINTS[entry](s).collect()
    gc.collect()
    sent = []
    real = ClientServerConnection.send_command

    def counting(conn, command):
        if not command.startswith("m\n"):
            sent.append(command.split("\n", 2)[:2])
        return real(conn, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    hits = ENTRY_POINTS[entry](s)
    rows = hits.collect()
    monkeypatch.undo()
    assert sent == []
    assert len(rows) == 10
    # the lazy Spark relation still builds for a Spark operator
    assert hits.orderBy("doc_id").collect() == sorted(rows, key=lambda r: r["doc_id"])


@pytest.mark.parametrize("entry", list(ENTRY_POINTS))
def test_entry_point_rows_equal_on_both_plans(built, monkeypatch, entry):
    """Each entry point returns the same rows, by repr, on the driver
    plan and on the distributed plan (DRIVER_SCORE_MAX_BLOCKS = 0)."""
    _, searcher, _ = built
    got = {}
    for s, cap in PLANS:
        monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
        df = ENTRY_POINTS[entry](searcher)
        assert ("FlatMapGroupsInPandas" in _plan(df)) == (cap == 0), (entry, s)
        got[s] = [(d, repr(sc)) for d, sc in _rows(df)]
    assert got[""] == got[":distributed"], entry
    assert len(got[""]) == 10


def test_distributed_plan_query_warns_nothing(built, monkeypatch):
    """The scorer closures handed to applyInPandas carry no type hints, so
    PySpark raises no "Cannot infer the eval type" warning per query."""
    _, searcher, _ = built
    monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", 0)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        full = _rows(searcher.topk("parse index merge", k=10))
        pruned = _rows(searcher.topk("parse index merge", k=10, prune=True))
    assert len(full) == 10 and pruned == full


def test_index_invariants(built, spark):
    """CheckIndex analog (CheckIndex.java:80-212; FIXTURES.md §6)."""
    paths, searcher, oidx = built
    blocks = spark.read.parquet(paths.postings)
    docs = spark.read.parquet(paths.docs)
    term_stats = spark.read.parquet(paths.term_stats)

    # df == total posting entries; sum tf == ttf — engine vs oracle
    ts = {r["term"]: (r["df"], r["ttf"]) for r in term_stats.collect()}
    for term, post in oidx.postings.items():
        assert ts[term][0] == len(post), term
        assert ts[term][1] == sum(post.values()), term
    assert len(ts) == len(oidx.postings)

    # block metadata consistent
    bad = blocks.filter(
        (F.col("first_doc") > F.col("last_doc"))
        | (F.col("n_docs") <= 0)
        | (F.col("max_tf") <= 0)
    ).count()
    assert bad == 0

    # every posting doc exists in docs; norms match oracle
    norm_map = {r["doc_id"]: r["norm_byte"] for r in docs.select("doc_id", "norm_byte").collect()}
    assert norm_map.keys() == oidx.norm_bytes.keys()
    for d, nb in oidx.norm_bytes.items():
        assert norm_map[d] == nb

    # sha256 invariant vs source content recomputed
    import hashlib

    pdf = make_corpus(N_DOCS, seed=42)
    sha_by_key = {
        (row.repo, row.path): hashlib.sha256(row.content.encode()).hexdigest()
        for row in pdf.itertuples()
    }
    for r in docs.select("repo", "path", "sha256").collect():
        assert sha_by_key[(r["repo"], r["path"])] == r["sha256"]


def test_determinism_across_parallelism(built, spark, tmp_root):
    """Same input at different partition counts -> identical stats + top-k
    (FIXTURES.md §6 final invariant)."""
    paths, searcher, _ = built
    pdf = make_corpus(N_DOCS, seed=42)
    src = spark.createDataFrame(pdf).repartition(13)  # different input layout
    out2 = os.path.join(tmp_root, "idx_corpus_p13")
    build_index(
        spark, src, out_dir=out2, content_col="content",
        order_cols=["repo", "path", "commit"], meta_cols=["repo", "path", "lang"],
        range_size=64, fingerprint="corpus400v1p13",
    )
    s2 = IndexSearcher(spark, out2)
    assert s2.doc_count == searcher.doc_count
    assert s2.sum_ttf == searcher.sum_ttf
    for q, m in [("hotcommon parse_30", "or"), ("parse index", "and"), ("def class return", "or")]:
        a = [(r["doc_id"], r["score"]) for r in searcher.topk(q, k=10, mode=m).collect()]
        b = [(r["doc_id"], r["score"]) for r in s2.topk(q, k=10, mode=m).collect()]
        assert a == b


def test_resume_skips_completed_stages(built, spark, tmp_root):
    """Checkpoint-resume: re-running build with same fingerprint is a no-op."""
    paths, _, _ = built
    import json, time

    with open(paths.manifest("postings")) as f:
        gen_before = json.load(f)["generation"]
    pdf = make_corpus(N_DOCS, seed=42)
    src = spark.createDataFrame(pdf)
    t = time.time()
    build_index(
        spark, src, out_dir=paths.root, content_col="content",
        order_cols=["repo", "path", "commit"], meta_cols=["repo", "path", "lang"],
        range_size=64, fingerprint="corpus400v1",
    )
    with open(paths.manifest("postings")) as f:
        assert json.load(f)["generation"] == gen_before  # stage skipped


def test_explain_matches_topk_scores(built):
    """IndexSearcher.explain (GT round 37 pins the node values vs the
    compiled reference): the tree's ROOT value must equal the doc's
    topk score bit-for-bit, matching docs only, and the tfNorm leaves
    must carry the doc's true quantized field length."""
    _, searcher, _ = built
    for query, mode in [("parse index merge", "or"), ("parse index", "and"),
                        ("hotcommon", "or")]:
        hits = [(r["doc_id"], r["score"])
                for r in searcher.topk(query, k=5, mode=mode).collect()]
        assert hits
        for doc_id, score in hits:
            tree = searcher.explain(query, doc_id, mode=mode)
            assert tree["match"] is True
            # the REFERENCE's own explain differs from its scorer by
            # design (both faithfully reproduced here, each pinned vs
            # the binary on its own side): explainTFNorm recomputes
            # (1-b) + (b*doclen)/avgdl while the scorer reads the
            # k1*(1-b+b*decode/avgdl) norm CACHE (different float32
            # association), and BooleanWeight.explain sums clause
            # values in float32 while DisjunctionSumScorer accumulates
            # in double — so explain sits within a rounding step of
            # the hit score, not necessarily ON it
            g, e = np.float32(tree["value"]), np.float32(score)
            ulp = np.float32(np.spacing(e))
            assert abs(float(g) - float(e)) <= 2.0 * float(ulp), (
                query, doc_id, float(g), float(e))
        # a doc that does NOT match: explain must say so
        all_ids = {d for d, _ in hits}
        miss = searcher.explain("zzz_missing", hits[0][0])
        assert miss["match"] is False and miss["value"] == 0.0


def test_slow_fuzzy_engine_matches_oracle(built):
    """SlowFuzzyQuery end-to-end (GT round 76): the pinned
    `slow_fuzzy_expand` runs over the ENGINE's term dictionary
    (term_stats metadata scan), and the rewritten boosted-SHOULD query
    scores rank+float32 identical to the control oracle, including a
    raw distance-3 case core FuzzyQuery cannot express."""
    import numpy as np

    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.fuzzy_slow import slow_fuzzy_expand
    from lucene_solr_spark.search.oracle import oracle_topk_spec

    _, searcher, oidx = built
    dictionary = sorted(oidx.postings)  # == the index term dict (stats
    # equality asserted in test_corpus_stats_match_oracle)
    for text, ms, pl, me in [
        ("parse", 3.0, 1, 50),     # raw, beyond-FuzzyQuery distance
        ("parze", 2.0, 0, 5),      # raw, capped expansion
        ("indexx", 0.5, 1, 50),    # fractional similarity
        ("clas", 1.0, 0, 3),
    ]:
        exp = slow_fuzzy_expand(dictionary, text, ms, pl, me)
        if not exp:
            continue
        spec = BooleanSpec(
            should=tuple(t for t, _b in exp),
            boosts=tuple((t, float(b)) for t, b in exp),
        )
        expected = oracle_topk_spec(oidx, spec, k=10)
        got = [
            (r["doc_id"], np.float32(r["score"]))
            for r in searcher.topk_spec(spec, k=10).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in expected], (
            text, ms, pl, me, exp, got, expected)
        for (gd, gs), (_ed, es) in zip(got, expected):
            assert gs == es, (text, ms, pl, me, gd, gs, es)
