"""A driver-plan answer (engine.HitsFrame) behaves like the Spark frame
built from the same Arrow table, on every DataFrame surface a caller
uses. This is also the tripwire for a PySpark upgrade that changes the
classic DataFrame internals HitsFrame relies on (__new__/__init__ and
the _jdf attribute)."""

import os

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.corpus import make_corpus
from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.search.engine import TOPK_SCHEMA, HitsFrame, IndexSearcher, topk_frame


@pytest.fixture(scope="module")
def searcher(spark, tmp_root):
    out = os.path.join(tmp_root, "idx_hits_frame")
    build_index(
        spark, spark.createDataFrame(make_corpus(120, seed=5)), out_dir=out,
        content_col="content", order_cols=["repo", "path", "commit"],
        meta_cols=["repo", "path", "lang"], range_size=32,
        fingerprint="hitsframe120v1",
    )
    return IndexSearcher(spark, out)


@pytest.fixture(scope="module", params=["hits", "empty"])
def pair(request, searcher):
    """(hits frame, the Spark frame built from the same Arrow table)."""
    hits = searcher.topk("parse index merge", k=10)
    if request.param == "empty":
        hits = topk_frame(searcher.spark)
    assert type(hits) is HitsFrame and isinstance(hits, DataFrame)
    assert len(hits.doc_ids) == (10 if request.param == "hits" else 0)
    table = pa.table({"doc_id": hits.doc_ids, "score": hits.scores})
    return hits, searcher.spark.createDataFrame(table, TOPK_SCHEMA)


def _reprs(rows):
    return [repr(r) for r in rows]


def test_collect_rows(pair):
    hits, ref = pair
    got, want = hits.collect(), ref.collect()
    assert _reprs(got) == _reprs(want) and got == want
    for g, w in zip(got, want):
        assert g["doc_id"] == w["doc_id"] and g.score == w.score
        assert g.asDict() == w.asDict()
        assert type(g.doc_id) is type(w.doc_id) and type(g.score) is type(w.score)


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_to_pandas(pair, spark, arrow):
    hits, ref = pair
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        want = ref.toPandas()
    finally:
        spark.conf.set(key, old)
    got = hits.toPandas()
    pd.testing.assert_frame_equal(got, want)
    assert list(got.dtypes.astype(str)) == ["int64", "float32"]


def test_count_limit_take_first_head(pair):
    hits, ref = pair
    assert hits.count() == ref.count()
    for n in (0, 1, 3, 10, 20):
        assert _reprs(hits.limit(n).collect()) == _reprs(ref.limit(n).collect())
        assert _reprs(hits.take(n)) == _reprs(ref.take(n))
        assert _reprs(hits.head(n)) == _reprs(ref.head(n))
    assert repr(hits.first()) == repr(ref.first())
    assert repr(hits.head()) == repr(ref.head())
    assert type(hits.limit(2)) is HitsFrame
    for frame in (hits, ref):
        with pytest.raises(AnalysisException, match="IS_NEGATIVE"):
            frame.limit(-1)


def test_schema_columns_dtypes_repr(pair):
    hits, ref = pair
    assert hits.schema == ref.schema
    assert hits.columns == ref.columns
    assert hits.dtypes == ref.dtypes
    assert repr(hits) == repr(ref)


def test_spark_operators_build_the_relation(pair, searcher, spark):
    hits, ref = pair
    assert _reprs(hits.orderBy("doc_id").collect()) == _reprs(ref.orderBy("doc_id").collect())
    real = spark.createDataFrame([(10**9, 0.5)], TOPK_SCHEMA)
    assert (_reprs(hits.unionByName(real).collect())
            == _reprs(ref.unionByName(real).collect()))
    assert (_reprs(hits.filter(F.col("score") > 0).collect())
            == _reprs(ref.filter(F.col("score") > 0).collect()))

    docs = spark.read.parquet(searcher.paths.docs)

    def joined(df):
        return (df.join(docs, "doc_id", "inner")
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .select("doc_id", "score", "path").collect())

    assert _reprs(joined(hits)) == _reprs(joined(ref))

    hits.createOrReplaceTempView("hits_frame_view")
    ref.createOrReplaceTempView("ref_frame_view")
    q = "SELECT doc_id, score FROM {} ORDER BY score DESC, doc_id"
    assert (_reprs(spark.sql(q.format("hits_frame_view")).collect())
            == _reprs(spark.sql(q.format("ref_frame_view")).collect()))
