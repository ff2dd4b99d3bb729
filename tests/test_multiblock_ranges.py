"""Several posting blocks of one term in one doc range. With 256-doc
ranges and 128-doc blocks a frequent term has two blocks in a full range,
an increment appends a block of a new generation (a reused block_no at
higher doc ids) to a part-filled range, and a few docs are deleted. The doc-delta reset at
each block start inside a range must hold on both plans: the driver plan
(one decode of the whole scan, per-range slices) and the distributed plan
(one decode per range group) return the control oracle's rows."""

import os

import numpy as np
import pytest

from lucene_solr_spark.corpus import make_corpus
from lucene_solr_spark.index.builder import BLOCK_SIZE, build_index
from lucene_solr_spark.index.deletes import delete_docs
from lucene_solr_spark.search import engine as E
from lucene_solr_spark.search.engine import BooleanSpec, IndexSearcher
from lucene_solr_spark.search.oracle import (
    build_oracle_index,
    oracle_sweetspot_topk,
    oracle_topk_spec,
)
from lucene_solr_spark.streaming.indexer import apply_increment

N_BASE, N_INC, RANGE_SIZE = 400, 200, 256
DEAD = {3, 130, 257, 401, 599}
K = 15


@pytest.fixture(scope="module")
def multiblock(spark, tmp_root):
    pdf = make_corpus(N_BASE + N_INC, seed=11).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    d = os.path.join(tmp_root, "idx_multiblock")
    kw = dict(content_col="content", doc_id_col="doc_id", meta_cols=["repo", "path"])
    build_index(spark, spark.createDataFrame(pdf[pdf.doc_id < N_BASE]), out_dir=d,
                range_size=RANGE_SIZE, fingerprint="multiblock400", **kw)
    apply_increment(spark, d, spark.createDataFrame(pdf[pdf.doc_id >= N_BASE]),
                    batch_id="inc-400-600", **kw)
    delete_docs(spark, d, DEAD)
    searcher = IndexSearcher(spark, d)
    # stats stay stale under deletes, so the oracle indexes every doc and
    # its rows are filtered afterwards
    oidx = build_oracle_index(list(zip(pdf.doc_id.tolist(), pdf.content.tolist())))
    return searcher, oidx


def test_ranges_hold_several_blocks_of_a_term(multiblock):
    searcher, oidx = multiblock
    assert searcher.doc_count == oidx.doc_count and searcher.avgdl == oidx.avgdl
    rows = searcher._postings.filter("term = 'hotcommon'").select(
        "range_id", "block_no", "first_doc").collect()
    per_range = {}
    for r in rows:
        per_range.setdefault(r["range_id"], []).append((r["block_no"], r["first_doc"]))
    assert len(per_range[0]) >= 2
    # range 1 holds the base build's blocks and the increment's, whose
    # block numbers restart at 0 with higher first docs
    nos = [no for no, _f in sorted(per_range[1], key=lambda x: x[1])]
    assert len(nos) != len(set(nos))
    assert N_BASE // RANGE_SIZE == 1 and BLOCK_SIZE < RANGE_SIZE


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _both_plans(searcher, monkeypatch, run):
    got = {}
    for tag, cap in (("driver", E.DRIVER_SCORE_MAX_BLOCKS), ("distributed", 0)):
        monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
        got[tag] = _rows(run())
    assert got["driver"] == got["distributed"]
    return got["driver"]


def _expected(ranked, keep=lambda d: True, k=K):
    return [(d, s) for d, s in ranked if d not in DEAD and keep(d)][:k]


def _assert_same(got, expected, ctx):
    assert len(got) == len(expected), (ctx, got, expected)
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed and np.float32(gs) == es, (ctx, got, expected)


SPECS = [
    BooleanSpec(must=("parse", "hotcommon")),
    BooleanSpec(must=("hotcommon",), should=("index", "merge")),
    BooleanSpec(should=("hotcommon", "parse"), must_not=("index",)),
    BooleanSpec(should=("hotcommon", "parse", "index"), dismax=True, tiebreak=0.3),
    BooleanSpec(should=("parse",), groups=(
        ("+", ("hotcommon", ("c", 2.0, ("merge", "token")),
               ("w", (("index", 1.75), ("token", 0.5))))),
        ("", ("merge",)),
    )),
    BooleanSpec(groups=(("", ("hotcommon", "parse")), ("-", (("c", 1.0, ("merge",)),)))),
]


@pytest.mark.parametrize("spec", SPECS, ids=[str(i) for i in range(len(SPECS))])
def test_multiblock_ranges_match_oracle_on_both_plans(multiblock, monkeypatch, spec):
    searcher, oidx = multiblock
    got = _both_plans(searcher, monkeypatch, lambda: searcher.topk_spec(spec, k=K))
    _assert_same(got, _expected(oracle_topk_spec(oidx, spec, k=N_BASE + N_INC)), spec)
    assert got


def test_multiblock_classic_coord_matches_oracle(multiblock, monkeypatch):
    searcher, oidx = multiblock
    spec = BooleanSpec(should=("hotcommon", "parse", "merge"), similarity="classic")
    got = _both_plans(searcher, monkeypatch, lambda: searcher.topk_spec(spec, k=K))
    want = oracle_sweetspot_topk(oidx, "hotcommon parse merge", k=N_BASE + N_INC,
                                 tf_fn=np.sqrt)
    _assert_same(got, _expected(want), "classic")


def test_multiblock_restricted_scans_match_oracle(multiblock, monkeypatch):
    searcher, oidx = multiblock
    spec = BooleanSpec(should=("hotcommon", "parse"), must_not=("merge",))
    full = oracle_topk_spec(oidx, spec, k=N_BASE + N_INC)
    cand = sorted({*range(0, 600, 7), *(d for d, _s in full[:5])})
    got = _both_plans(searcher, monkeypatch,
                      lambda: searcher.topk_spec(spec, k=K, candidates=cand))
    _assert_same(got, _expected(full, lambda d: d in cand, k=len(cand)), "candidates")
    got = _both_plans(searcher, monkeypatch,
                      lambda: searcher.topk_spec(spec, k=K, range_ids=[1, 2]))
    _assert_same(got, _expected(full, lambda d: d >= RANGE_SIZE), "range_ids")
