"""Deletes / liveDocs: tombstoned docs vanish from results while stats
stay STALE (Lucene's delete semantics), and compaction reclaims them —
after the purge the index is score-identical to a fresh build on the
surviving corpus."""

import os

import pytest

from lucene_solr_spark.corpus import make_corpus
from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.check import verify_index
from lucene_solr_spark.index.compact import compact_index
from lucene_solr_spark.index.deletes import delete_docs
from lucene_solr_spark.search import engine as engine_mod
from lucene_solr_spark.search.engine import IndexSearcher

N_DOCS = 240


@pytest.fixture(scope="module")
def corpus():
    pdf = make_corpus(N_DOCS, seed=21).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    return pdf


QUERIES = [("parse index", "or"), ("hotcommon", "or"), ("parse index", "and")]


def _hits(searcher, k=20):
    return {
        (q, m): [(r["doc_id"], r["score"]) for r in searcher.topk(q, k=k, mode=m).collect()]
        for q, m in QUERIES
    }


def test_deletes_mask_with_stale_stats_then_purge(spark, tmp_root, corpus, monkeypatch):
    d = os.path.join(tmp_root, "idx_del")
    build_index(
        spark, spark.createDataFrame(corpus), out_dir=d, content_col="content",
        doc_id_col="doc_id", meta_cols=["repo", "path"], range_size=64,
        fingerprint="del240",
    )
    s0 = IndexSearcher(spark, d)
    before = _hits(s0, k=60)  # deep enough that post-delete top-20 ⊆ it
    # delete the top hit of each query plus a few more
    dead = {before[("parse index", "or")][0][0], before[("hotcommon", "or")][0][0],
            5, 6, 7}
    delete_docs(spark, d, dead)

    s1 = IndexSearcher(spark, d)  # reopened reader sees tombstones
    assert s1.doc_count == N_DOCS  # stats STALE until merge (Lucene semantics)
    after = _hits(s1)
    for key, rows in after.items():
        # no deleted doc appears, and every surviving doc keeps its exact
        # pre-delete float32 score (df/norms unchanged)
        pre = {doc: sc for doc, sc in before[key]}
        for doc, sc in rows:
            assert doc not in dead
            assert sc == pre[doc], (key, doc)
        # the surviving ranking is the pre-delete ranking minus the dead
        assert [doc for doc, _ in rows] == [
            doc for doc, _ in before[key] if doc not in dead
        ][: len(rows)]
    # synonym (sum-tf) path masks too, the same way on the distributed
    # plan (DRIVER_SCORE_MAX_BLOCKS = 0) as on the driver plan
    syn = [(r["doc_id"], r["score"]) for r in s1.topk_synonym("parse index", k=20).collect()]
    assert syn and not ({doc for doc, _ in syn} & dead)
    with monkeypatch.context() as m:
        m.setattr(engine_mod, "DRIVER_SCORE_MAX_BLOCKS", 0)
        syn_dist = s1.topk_synonym("parse index", k=20)
        assert "FlatMapGroupsInPandas" in syn_dist._jdf.queryExecution().toString()
        assert [(r["doc_id"], r["score"]) for r in syn_dist.collect()] == syn

    # ---- merge reclaims the deletes ----
    out = compact_index(spark, d)
    assert out["docs_purged"] == len(dead)
    assert not os.path.exists(os.path.join(d, "deletes"))
    s2 = IndexSearcher(spark, d)
    assert s2.doc_count == N_DOCS - len(dead)
    verify_index(spark, d)

    fresh_dir = os.path.join(tmp_root, "idx_del_fresh")
    remaining = corpus[~corpus.doc_id.isin(dead)]
    build_index(
        spark, spark.createDataFrame(remaining), out_dir=fresh_dir,
        content_col="content", doc_id_col="doc_id", meta_cols=["repo", "path"],
        range_size=64, fingerprint="delfresh",
    )
    s_fresh = IndexSearcher(spark, fresh_dir)
    assert s2.sum_ttf == s_fresh.sum_ttf
    assert _hits(s2) == _hits(s_fresh)  # rank- AND score-identical


def test_corpus_scale_deletes_cogroup_no_driver_bitset(spark, tmp_root, corpus, monkeypatch):
    """When the tombstone set exceeds DELETES_DRIVER_MAX the reader keeps
    it as a DataFrame and cogroups it into each doc-range scorer by
    range_id — no driver materialization — with results identical to the
    in-closure bitset mode."""
    from lucene_solr_spark.index import deletes as deletes_mod

    d = os.path.join(tmp_root, "idx_del_big")
    build_index(
        spark, spark.createDataFrame(corpus), out_dir=d, content_col="content",
        doc_id_col="doc_id", meta_cols=["repo", "path"], range_size=64,
        fingerprint="delbig240",
    )
    delete_docs(spark, d, {1, 2, 3, 64, 65, 130})

    s_small = IndexSearcher(spark, d)  # array mode (6 <= default max)
    assert s_small.deleted is not None and s_small.deleted_df is None

    monkeypatch.setattr(deletes_mod, "DELETES_DRIVER_MAX", 2)
    s_big = IndexSearcher(spark, d)  # forced DataFrame mode
    assert s_big.deleted is None and s_big.deleted_df is not None

    for q, m in QUERIES:
        want = [(r["doc_id"], r["score"]) for r in s_small.topk(q, k=20, mode=m).collect()]
        hits_df = s_big.topk(q, k=20, mode=m)
        got = [(r["doc_id"], r["score"]) for r in hits_df.collect()]
        assert got == want, (q, m)
        assert all(doc not in {1, 2, 3, 64, 65, 130} for doc, _ in got)

    # plan shape: tombstones flow through a cogroup, not a collected bitset
    plan = s_big.topk("parse index", k=10, mode="or")._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_small_delete_set_driver_plan_matches_distributed(spark, tmp_root, corpus, monkeypatch):
    """A delete set small enough to ride in the scorer closure is masked
    the same way on the driver plan as on the distributed plan (forced
    with DRIVER_SCORE_MAX_BLOCKS = 0)."""
    d = os.path.join(tmp_root, "idx_del_plans")
    build_index(
        spark, spark.createDataFrame(corpus), out_dir=d, content_col="content",
        doc_id_col="doc_id", meta_cols=["repo", "path"], range_size=64,
        fingerprint="delplans240",
    )
    top = _hits(IndexSearcher(spark, d))
    dead = {top[("parse index", "or")][0][0], top[("hotcommon", "or")][1][0], 70, 71}
    delete_docs(spark, d, dead)
    s = IndexSearcher(spark, d)
    assert s.deleted is not None and s.deleted_df is None
    driver = _hits(s)
    monkeypatch.setattr(engine_mod, "DRIVER_SCORE_MAX_BLOCKS", 0)
    assert _hits(s) == driver
    for rows in driver.values():
        assert rows and not {doc for doc, _ in rows} & dead
