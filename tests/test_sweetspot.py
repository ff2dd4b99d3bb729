"""SweetSpotSimilarity (lucene/misc/SweetSpotSimilarity.java) — the
index-time half of the similarity plug point: norms are an index
artifact, so the plateau lengthNorm means a DIFFERENT index
(build_index(norm='sweetspot')), and index-/search-time similarity must
agree (Lucene's own rule). The compiled-binary pin lives in
tests/test_lucene_ground_truth.py::test_sweetspot_matches_compiled_reference.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.search.bm25 import SIMILARITIES

SF = "/root/testdata/sf0.001"


def test_sweetspot_norm_plateau():
    """computeLengthNorm: 1.0 across the [min,max] plateau, sqrt falloff
    outside; degenerates to 1/sqrt(len) when min=max=1 and steep=0.5
    (the class javadoc's own claim)."""
    from lucene_solr_spark.analysis.smallfloat import (
        byte315_to_float,
        encode_norm,
        sweetspot_encode_norm,
    )

    lens = np.arange(1, 64, dtype=np.int64)
    b = sweetspot_encode_norm(lens, ln_min=3, ln_max=10, steep=0.5)
    decoded = byte315_to_float(b)
    assert np.all(decoded[(lens >= 3) & (lens <= 10)] == np.float32(1.0))
    # falloff is symmetric in distance beyond the plateau edges
    assert decoded[1] < 1.0 and decoded[12] < 1.0
    assert np.all(np.diff(decoded[lens >= 10]) <= 0)  # non-increasing above
    # degenerate params == the classic/BM25 1/sqrt(len) encoder
    degen = sweetspot_encode_norm(lens, ln_min=1, ln_max=1, steep=0.5)
    assert np.array_equal(degen, encode_norm(lens))


def test_sweetspot_baseline_tf():
    """baselineTf: 0 at 0; base (1.5) up to min (2); sqrt(f + base^2 - min)
    above — continuous at the knee by construction."""
    from lucene_solr_spark.search.bm25 import sweetspot_baseline_tf

    f = np.array([0.0, 1.0, 2.0, 3.0, 9.0], dtype=np.float32)
    out = sweetspot_baseline_tf(f)
    assert out[0] == np.float32(0.0)
    assert out[1] == np.float32(1.5) and out[2] == np.float32(1.5)
    assert out[3] == np.float32(np.sqrt(np.float32(3.0 + 2.25 - 2.0)))
    assert out[4] == np.float32(np.sqrt(np.float32(9.0 + 2.25 - 2.0)))


def test_sweetspot_engine_matches_oracle(spark):
    """Engine over the sweetspot-norm index == the control oracle built
    with the same norm encoder: rank + float32 score identity."""
    from lucene_solr_spark.analysis.tokenizer import analyze
    from lucene_solr_spark.ops.index_access import sweetspot_searcher_for
    from lucene_solr_spark.search.engine import BooleanSpec
    from lucene_solr_spark.search.oracle import (
        build_oracle_index,
        oracle_sweetspot_topk,
    )

    df = pd.read_parquet(f"{SF}/documents.parquet")
    oidx = build_oracle_index(list(zip(df.doc_id, df.text)), norm="sweetspot")
    s = sweetspot_searcher_for(spark, SF)
    assert s.norm == "sweetspot"
    for query in ("spark merge vector", "parse index", "fast join dup"):
        spec = BooleanSpec(should=tuple(analyze(query)), similarity="sweetspot")
        got = [
            (r["doc_id"], r["score"]) for r in s.topk_spec(spec, k=10).collect()
        ]
        expected = oracle_sweetspot_topk(oidx, query, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], query
        for (gd, gs), (ed, es) in zip(got, expected):
            assert np.float32(gs) == np.float32(es), (query, gd)


def test_norm_similarity_mismatch_raises(spark):
    """Lucene requires the same Similarity at IndexWriterConfig and
    IndexSearcher; scoring a sweetspot-norm index with BM25 (or a
    1/sqrt-norm index with sweetspot) must fail loudly, never mis-score."""
    from lucene_solr_spark.analysis.tokenizer import analyze
    from lucene_solr_spark.ops.index_access import (
        searcher_for,
        sweetspot_searcher_for,
    )
    from lucene_solr_spark.search.engine import BooleanSpec

    terms = tuple(analyze("spark merge"))
    ss = sweetspot_searcher_for(spark, SF)
    with pytest.raises(ValueError, match="norm"):
        ss.topk_spec(BooleanSpec(should=terms), k=5)
    default = searcher_for(spark, SF)
    with pytest.raises(ValueError, match="norm"):
        default.topk_spec(
            BooleanSpec(should=terms, similarity="sweetspot"), k=5
        )


def test_unknown_similarity_raises(spark, monkeypatch):
    """topk_spec rejects a similarity name it has no scorer for, before
    it reads any term stats: a misspelt name must not score BM25 quietly
    or fail later inside the range scorer."""
    from lucene_solr_spark.analysis.tokenizer import analyze
    from lucene_solr_spark.ops.index_access import searcher_for
    from lucene_solr_spark.search.engine import BooleanSpec

    terms = tuple(analyze("spark merge"))
    s = searcher_for(spark, SF)

    def no_read(_terms):
        raise AssertionError("term stats read for an unknown similarity")

    monkeypatch.setattr(s, "term_weights", no_read)
    for name in ("bm52", "lm_dirchlet", "dfi_", "dfr_inl9"):
        with pytest.raises(ValueError, match=r"unknown similarity .*accepted: bm25, "):
            s.topk_spec(BooleanSpec(should=terms, similarity=name), k=5)


@pytest.mark.parametrize("name", [n for n in SIMILARITIES if n != "bm25"])
def test_positional_clauses_are_bm25_only(spark, monkeypatch, name):
    """Phrase, span and automaton clauses score with BM25's weight and
    norm cache only, so every other similarity rejects a positional
    spec, before it reads any term stats."""
    import dataclasses

    from lucene_solr_spark.ops.index_access import searcher_for
    from lucene_solr_spark.search.engine import phrase_spec

    s = searcher_for(spark, SF)

    def no_read(_terms):
        raise AssertionError("term stats read for a rejected spec")

    monkeypatch.setattr(s, "term_weights", no_read)
    spec = dataclasses.replace(phrase_spec("spark merge"), similarity=name)
    assert spec.positional_terms
    with pytest.raises(ValueError, match="positional clauses are BM25-only"):
        s.topk_spec(spec, k=5)
