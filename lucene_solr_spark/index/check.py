"""CheckIndex analog: full-index invariant verification as a Spark job.

Reference: lucene/core/src/java/org/apache/lucene/index/CheckIndex.java:80-212
verifies per segment that postings are sorted, stats are consistent, and
norms are present. Here every check is a distributed pass:

  1. block invariants: decoded docs strictly ascending, metadata
     (first/last/n_docs/max_tf/max_norm/sum_tf) matches the payload, and
     every posting's doc exists in the docs table.
  2. stats invariants: term_stats.df == Σ n_docs, term_stats.ttf == Σ sum_tf
     per term; corpus_stats matches the docs table.
  3. norm invariants: docs.norm_byte == floatToByte315(1/sqrt(field_len)).
  4. sha256 row invariant vs the SOURCE table (BASELINE input_hint):
     sha2(source.content) == docs.sha256 for every doc.

Returns a dict of violation counts (all zero == healthy); raises
CheckIndexError if any check fails.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.smallfloat import encode_norm
from .builder import IndexPaths
from .codec import vbyte_decode_batch


class CheckIndexError(AssertionError):
    pass


def _block_violations(iterator):
    for pdf in iterator:
        bad = 0
        docs_l = vbyte_decode_batch(pdf["docs_buf"].tolist())
        tfs_l = vbyte_decode_batch(pdf["tfs_buf"].tolist())
        pos_l = vbyte_decode_batch(pdf["pos_buf"].tolist())
        for i, row in enumerate(pdf.itertuples()):
            deltas = docs_l[i]
            tfs = tfs_l[i].astype(np.int64)
            nbs = np.frombuffer(row.norms_buf, dtype=np.uint8)
            d = deltas.copy()
            d[0] = row.first_doc
            d = np.cumsum(d.astype(np.int64))
            ok = d.size == row.n_docs and tfs.size == d.size and nbs.size == d.size
            if ok and d.size > 1:
                ok = bool((np.diff(d) > 0).all())
            ok = ok and d[0] == row.first_doc and d[-1] == row.last_doc
            ok = ok and int(tfs.max()) == row.max_tf and int(tfs.sum()) == row.sum_tf
            ok = ok and int(nbs.max()) == row.max_norm
            ok = ok and pos_l[i].size == int(tfs.sum())  # one position per occurrence
            # payload stream: absent (b"") or exactly 4 bytes per position
            ok = ok and len(row.pay_buf) in (0, 4 * int(tfs.sum()))
            if not ok:
                bad += 1
        yield pd.DataFrame({"violations": [bad], "blocks": [len(pdf)]})


def verify_index(
    spark: SparkSession,
    index_dir: str,
    source: DataFrame | None = None,
    content_col: str = "content",
    source_doc_id_col: str | None = None,
) -> dict:
    paths = IndexPaths(index_dir)
    blocks = spark.read.parquet(paths.postings)
    docs = spark.read.parquet(paths.docs)
    term_stats = spark.read.parquet(paths.term_stats)
    out: dict[str, int] = {}

    # 1. block payload invariants (distributed decode pass)
    res = (
        blocks.select(
            "first_doc", "last_doc", "n_docs", "sum_tf", "max_tf", "max_norm",
            "docs_buf", "tfs_buf", "norms_buf", "pos_buf", "pay_buf",
        )
        .mapInPandas(_block_violations, "violations long, blocks long")
        .agg(F.sum("violations").alias("v"), F.sum("blocks").alias("b"))
        .collect()[0]
    )
    out["block_violations"] = int(res["v"] or 0)
    out["blocks_checked"] = int(res["b"] or 0)

    # 1b. every posting doc exists in docs (block doc range containment)
    doc_minmax = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    out["block_doc_range_violations"] = blocks.filter(
        (F.col("first_doc") < F.lit(doc_minmax[0])) | (F.col("last_doc") > F.lit(doc_minmax[1]))
    ).count() if doc_minmax[0] is not None else blocks.count()

    # 1c. skew bound: postings per (term, range) group never exceed
    # range_size — the salting guarantee that keeps every merge/score task
    # bounded regardless of term df (stopword-scale terms included)
    import json as _json

    with open(paths.manifest("postings")) as f:
        range_size = int(_json.load(f).get("range_size", 0))
    if range_size:
        out["skew_bound_violations"] = (
            blocks.groupBy("term", "range_id")
            .agg(F.sum("n_docs").alias("g"))
            .filter(F.col("g") > range_size)
            .count()
        )

    # 2. stats invariants
    agg = blocks.groupBy("term").agg(
        F.sum("n_docs").alias("df2"), F.sum("sum_tf").alias("ttf2")
    )
    out["term_stats_violations"] = (
        term_stats.join(agg, "term", "full")
        .filter(
            F.col("df").isNull() | F.col("df2").isNull()
            | (F.col("df") != F.col("df2")) | (F.col("ttf") != F.col("ttf2"))
        )
        .count()
    )
    cs = spark.read.parquet(paths.corpus_stats).collect()[0]
    dagg = docs.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("field_len"), F.lit(0)).alias("s")
    ).collect()[0]
    out["corpus_stats_violations"] = int(
        (int(cs["doc_count"]) != int(dagg["n"])) + (int(cs["sum_ttf"]) != int(dagg["s"]))
    )

    # 3. norm quantization invariant
    @F.pandas_udf("int")
    def norm_of(field_len: pd.Series) -> pd.Series:
        return pd.Series(encode_norm(field_len.to_numpy()).astype(np.int32))

    out["norm_violations"] = docs.filter(
        norm_of(F.col("field_len")) != F.col("norm_byte")
    ).count()

    # 4. sha256 row invariant vs source (input_hint: content sha256 equality)
    if source is not None:
        if source_doc_id_col:
            src = source.select(
                F.col(source_doc_id_col).cast("long").alias("doc_id"),
                F.sha2(F.col(content_col), 256).alias("sha_src"),
            )
            joined = docs.select("doc_id", "sha256").join(src, "doc_id", "full")
        else:
            src = source.select(
                "repo", "path", F.sha2(F.col(content_col), 256).alias("sha_src")
            )
            joined = docs.select("repo", "path", "sha256").join(
                src, ["repo", "path"], "full"
            )
        out["sha256_violations"] = joined.filter(
            F.col("sha256").isNull() | F.col("sha_src").isNull()
            | (F.col("sha256") != F.col("sha_src"))
        ).count()

    # 5. bloom no-false-negative invariant (when the opt-in bloom stage
    # ran): every term in the dictionary must probe MAYBE in its bucket's
    # FuzzySet — a NO for a present term is a wrong-answer trap, the one
    # thing a bloom filter must never do. Retired (saturated) buckets
    # store NULL and are always-MAYBE by construction.
    import os as _os

    if _os.path.isdir(paths.bloom):
        import pandas as _pd

        blooms = spark.read.parquet(paths.bloom).select("bucket", "bloom")

        def _probe(key, terms_pdf, bloom_pdf):
            from .bloom import FuzzySet

            blob_rows = bloom_pdf["bloom"].dropna() if len(bloom_pdf) else _pd.Series([], dtype=object)
            terms = terms_pdf["term"].dropna()
            if blob_rows.empty or terms.empty:
                return _pd.DataFrame({"violations": [0]})
            fs = FuzzySet.deserialize(bytes(blob_rows.iloc[0]))
            bad = sum(0 if fs.contains(t.encode("utf-8")) else 1 for t in terms)
            return _pd.DataFrame({"violations": [bad]})

        res = (
            term_stats.select("term", "bucket")
            .groupBy("bucket")
            .cogroup(blooms.groupBy("bucket"))
            .applyInPandas(_probe, "violations long")
            .agg(F.sum("violations"))
            .collect()[0][0]
        )
        out["bloom_false_negative_violations"] = int(res or 0)

    failures = {k: v for k, v in out.items() if k.endswith("violations") and v}
    if failures:
        raise CheckIndexError(f"index invariant violations: {failures}")
    return out
