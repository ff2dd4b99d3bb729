"""Bloom-filtered term dictionary (index/bloom.py): unit invariants +
end-to-end searcher behavior.

The bit-level parity with the compiled reference (FuzzySet serialize
bytes, saturation, downsize projection, MurmurHash2 incl. signed tails)
lives in tests/test_lucene_ground_truth.py (ground-truth round 39); this
file covers the engine wiring:

  * build_index(bloom=True) writes one FuzzySet per term-stats bucket
  * no false negatives: every indexed term probes MAYBE
  * the searcher's term-miss fast path answers absent terms WITHOUT
    reading term_stats (df=0 stats from the driver-cached bitset) and
    results stay identical to the bloom-less searcher
  * an incremental append DISARMS the bloom (generation mismatch) until
    rebuild_bloom re-stamps it — the stale-filter wrong-answer trap
"""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.index.bloom import FuzzySet, murmurhash2, murmurhash2_bulk
from lucene_solr_spark.index.builder import IndexPaths, build_index, rebuild_bloom
from lucene_solr_spark.index.check import verify_index
from lucene_solr_spark.search.engine import IndexSearcher

DOCS = [
    ("r", f"f{i}.py", "c", "py", body)
    for i, body in enumerate(
        [
            "merge sort vector",
            "merge join spark",
            "vector spark token",
            "sort sort merge",
            "unique singleton appears here",
            "spark spark spark merge",
        ]
    )
]


@pytest.fixture(scope="module")
def bloom_index(spark, tmp_path_factory):
    src = spark.createDataFrame(DOCS, "repo string, path string, commit string, lang string, content string")
    out = str(tmp_path_factory.mktemp("bloomidx"))
    build_index(spark, src, out_dir=out, fingerprint="bloom-e2e", bloom=True)
    return out, src


def test_roundtrip_and_membership():
    fs = FuzzySet.create_set_based_on_quality(1000, 0.10)
    vals = [f"term{i}".encode() for i in range(200)] + [b"", b"\xff" * 9]
    fs.add_many(vals)
    assert all(fs.contains(v) for v in vals)
    back = FuzzySet.deserialize(fs.serialize())
    assert back.bloom_size == fs.bloom_size
    assert np.array_equal(back.words, fs.words)
    assert all(back.contains(v) for v in vals)
    # bulk == scalar
    assert [int(x) for x in murmurhash2_bulk(vals)] == [murmurhash2(v) for v in vals]


def test_build_writes_blooms_and_checkindex_passes(spark, bloom_index):
    out, src = bloom_index
    paths = IndexPaths(out)
    rows = spark.read.parquet(paths.bloom).collect()
    assert rows and all(r["bloom"] is not None for r in rows)
    # verify_index includes the bloom no-false-negative pass when present
    res = verify_index(spark, out)
    assert res["bloom_false_negative_violations"] == 0


def test_term_miss_fast_path_skips_stats_read(spark, bloom_index):
    out, _src = bloom_index
    s = IndexSearcher(spark, out)
    assert s._bloom_armed
    # an absent word the bloom REJECTS (false positives are legal bloom
    # behavior, so scan candidates for one that probes NO): its stats
    # come from the bitset alone — poison the term-stats file reader to
    # PROVE no stats read happens.
    absent = next(
        w for w in (f"zzzabsent{i}" for i in range(1000))
        if not s._bloom_maybe(w)
    )
    real_stats = s._stats_files
    s._stats_files = None
    tw = s.term_weights([absent])
    assert tw[absent]["df"] == 0
    s._stats_files = real_stats
    # mixed query: present terms still resolve, results identical to a
    # bloom-less searcher on the same index
    s2 = IndexSearcher(spark, out)
    s2._bloom_armed = False
    a = s.topk(f"merge {absent} vector", k=10).collect()
    b = s2.topk(f"merge {absent} vector", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_increment_disarms_until_rebuild(spark, bloom_index, tmp_path):
    # copy the index so the module-scoped fixture stays pristine
    import shutil

    out, _src = bloom_index
    idx = str(tmp_path / "idx")
    shutil.copytree(out, idx)
    from lucene_solr_spark.streaming.indexer import apply_increment

    new = spark.createDataFrame(
        [(100, "freshterm merge")], "doc_id long, content string"
    )
    apply_increment(
        spark, idx, new, content_col="content", doc_id_col="doc_id",
        meta_cols=[], batch_id="b1",
    )
    s = IndexSearcher(spark, idx)
    # generation moved: the (stale) bloom must be disarmed — freshterm
    # is absent from it and a trusted bloom would zero its stats
    assert not s._bloom_armed
    assert s.term_weights(["freshterm"])["freshterm"]["df"] == 1
    # rebuild re-arms with the new vocabulary
    rebuild_bloom(spark, idx)
    s2 = IndexSearcher(spark, idx)
    assert s2._bloom_armed
    assert s2._bloom_maybe("freshterm")
    assert s2.term_weights(["freshterm"])["freshterm"]["df"] == 1
    res = verify_index(spark, idx)
    assert res["bloom_false_negative_violations"] == 0
