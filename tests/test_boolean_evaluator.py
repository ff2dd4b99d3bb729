"""The one Boolean evaluator (simpleqp.eval_tree over engine.spec_tree).

With no Spark: for seeded random BooleanSpecs, eval_tree over
spec_tree(spec) ranks and scores exactly as the independent control
oracle_topk_spec. The specs mix flat clauses, min_should_match, dismax,
groups with term, "c" and "w" members, phrases with MultiPhrase
alternatives, boosts and duplicate clauses.

On Spark: the driver plan scores its whole scan in one eval_tree call and
returns the distributed plan's rows, and WAND's range bounds count a
duplicate SHOULD clause once per clause."""

import os

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.corpus import make_corpus
from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.search import engine as E
from lucene_solr_spark.search.bm25 import SIMILARITIES, make_term_weight
from lucene_solr_spark.search.engine import BooleanSpec, IndexSearcher, spec_tree
from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk_spec
from lucene_solr_spark.search.simpleqp import _OracleCtx, eval_tree

from .test_multiblock_ranges import SPECS as MULTIBLOCK_SPECS
from .test_multiblock_ranges import multiblock  # noqa: F401  (fixture)

N_SPECS = 2000
K = 10


@pytest.fixture(scope="module")
def oidx():
    pdf = make_corpus(300, seed=7).reset_index(drop=True)
    return build_oracle_index(list(enumerate(pdf.content.tolist())))


def _vocab(idx) -> list[str]:
    """Terms across the df range, frequent first, and two absent ones."""
    by_df = sorted(idx.postings, key=lambda t: (-len(idx.postings[t]), t))
    step = max(1, len(by_df) // 40)
    return by_df[:12] + by_df[12::step][:28] + ["zzabsent", "zzgone"]


def _random_spec(rng, vocab) -> BooleanSpec:
    def terms(lo, hi):
        return tuple(rng.choice(vocab, size=int(rng.integers(lo, hi + 1))).tolist())

    def boost():
        return float(np.float32(rng.choice([0.5, 1.0, 1.5, 2.0, 3.25])))

    shape = rng.choice(["flat", "msm", "dismax", "groups", "phrases", "mixed"])
    kw = {}
    if shape == "dismax":
        # the dismax node sums a term's duplicates side by side, so the
        # clause order is the control's only when they already are
        should = terms(1, 4)
        kw.update(should=tuple(sorted(should, key=should.index)), dismax=True,
                  tiebreak=float(rng.choice([0.0, 0.1, 0.5, 1.0])),
                  must_not=terms(0, 1))
    else:
        kw.update(should=terms(0 if shape != "msm" else 2, 4),
                  must=terms(0, 2 if shape in ("flat", "mixed") else 1),
                  must_not=terms(0, 2))
        if shape in ("msm", "mixed") or rng.random() < 0.3:
            kw["min_should_match"] = int(rng.integers(0, 4))
    if rng.random() < 0.4:
        pool = sorted(set(kw["should"]) | set(kw.get("must", ())))
        kw["boosts"] = tuple((t, boost()) for t in pool if rng.random() < 0.6)
    if shape in ("groups", "mixed"):
        groups = []
        for _ in range(int(rng.integers(1, 3))):
            members = []
            for _ in range(int(rng.integers(1, 4))):
                r = rng.random()
                if r < 0.4:
                    members.append(str(rng.choice(vocab)))
                elif r < 0.7:
                    members.append(("c", boost(), terms(1, 3)))
                else:
                    members.append(("w", tuple(
                        (t, float(np.float32(rng.uniform(0.3, 4.0)))) for t in terms(1, 3)
                    )))
            groups.append((str(rng.choice(["", "", "+", "-"])), tuple(members)))
        kw["groups"] = tuple(groups)
    if shape in ("phrases", "mixed"):
        phrases = []
        for _ in range(int(rng.integers(1, 3))):
            positions, off = [], 0
            for _ in range(int(rng.integers(2, 4))):
                c = terms(1, 2) if rng.random() < 0.3 else str(rng.choice(vocab[:12]))
                positions.append((c if isinstance(c, str) or len(c) > 1 else c[0], off))
                off += int(rng.integers(1, 3))
            phrases.append((tuple(positions), int(rng.choice([0, 0, 1, 2])),
                            str(rng.choice(["+", ""])), boost()))
        kw["phrases"] = tuple(phrases)
    return BooleanSpec(**kw)


def _eval_topk(idx, spec, k):
    docs = np.array(sorted(idx.norm_bytes), dtype=np.int64)
    ctx = _OracleCtx(idx, docs)
    weights = {}
    for t in set(spec.all_terms):
        df = len(idx.postings.get(t, {}))
        tw = make_term_weight(t, df, idx.doc_count, idx.avgdl)
        weights[t] = {"df": df, "ttf": 0, "weight_value": float(tw.weight_value)}
    ctx.scorers = SIMILARITIES["bm25"].prepare(
        weights, idx.doc_count, idx.sum_ttf, idx.avgdl, dict(spec.boosts),
        tuple(spec.should) + tuple(spec.must),
    )
    m, s = eval_tree(spec_tree(spec), ctx)
    keep = np.flatnonzero(m)
    order = keep[np.lexsort((docs[keep], -s[keep].astype(np.float64)))][:k]
    return [(int(docs[i]), np.float32(s[i])) for i in order]


def test_eval_tree_of_spec_tree_equals_spec_control(oidx):
    rng = np.random.default_rng(20261019)
    vocab = _vocab(oidx)
    hits = 0
    for i in range(N_SPECS):
        spec = _random_spec(rng, vocab)
        want = oracle_topk_spec(oidx, spec, k=K)
        got = _eval_topk(oidx, spec, K)
        assert [d for d, _s in got] == [d for d, _s in want], (i, spec)
        assert [repr(s) for _d, s in got] == [repr(np.float32(s)) for _d, s in want], (i, spec)
        hits += bool(want)
    # the generator must reach matching specs, not only empty ones
    assert hits > N_SPECS // 3


def test_duplicate_should_clauses_count_once_each_for_msm(oidx):
    """BooleanQuery keeps duplicate SHOULD clauses as separate scorers,
    so should=(x, x) meets min_should_match=2 on every doc holding x."""
    x = _vocab(oidx)[5]
    spec = BooleanSpec(should=(x, x), min_should_match=2)
    want = oracle_topk_spec(oidx, spec, k=1000)
    assert len(want) == len(oidx.postings[x])
    assert _eval_topk(oidx, spec, 1000) == want


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_driver_plan_scores_the_whole_scan_in_one_eval_tree_call(
        multiblock, monkeypatch):  # noqa: F811
    searcher, _oidx = multiblock
    calls = []
    real = E.eval_tree

    def counting(tree, ctx, *args, **kw):
        calls.append(ctx.n)
        return real(tree, ctx, *args, **kw)

    monkeypatch.setattr(E, "eval_tree", counting)
    cap = E.DRIVER_SCORE_MAX_BLOCKS
    for spec in MULTIBLOCK_SPECS:
        monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
        calls.clear()
        driver = _rows(searcher.topk_spec(spec, k=15))
        # 600 docs over three 256-doc ranges: one call spans them all
        assert len(calls) == 1 and calls[0] > 256, (spec, calls)
        monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", 0)
        assert _rows(searcher.topk_spec(spec, k=15)) == driver, spec


@pytest.fixture(scope="module")
def dup_index(spark, tmp_root):
    """41 ranges of 16 docs: forty hold a beta x 50 doc and an alpha doc,
    the last holds one alpha alpha alpha doc; the rest is filler."""
    text = {}
    for r in range(40):
        text[16 * r] = " ".join(["beta"] * 50)
        text[16 * r + 1] = "alpha"
    text[640] = "alpha alpha alpha"
    pdf = pd.DataFrame({
        "doc_id": np.arange(656, dtype="int64"),
        "content": [text.get(d, f"filler{d % 5} pad") for d in range(656)],
    })
    out = os.path.join(tmp_root, "idx_wand_dup")
    build_index(spark, spark.createDataFrame(pdf), out_dir=out, content_col="content",
                doc_id_col="doc_id", range_size=16, fingerprint="wanddup656")
    return IndexSearcher(spark, out)


def test_wand_bounds_count_duplicate_should_clauses(dup_index):
    """Doc 640 scores alpha twice; the two-wave plan must not prune its
    range on a bound that charges alpha once."""
    spec = BooleanSpec(should=("alpha", "alpha", "beta"))
    unpruned = _rows(dup_index.topk_spec(spec, k=1, prune=False))
    assert unpruned[0][0] == 640
    assert _rows(dup_index.topk_spec(spec, k=1, prune=True)) == unpruned
