"""Incremental index updates: new segment generations + Structured Streaming.

Lucene analog: each increment is a new write-once segment published by a
commit (IndexWriter.commit -> new segments_N generation, SegmentInfos.java:
54-66). Appended posting blocks reuse block numbers but always cover HIGHER
doc ids than every prior generation, so the query engine just orders blocks
by first_doc (SURVEY.md §2.2 SegmentMerger; postings.decode_postings).

Two consumption styles:
  * apply_increment(): batch append of new docs — idempotent per batch_id
    via a STAGED two-phase commit (the Solr UpdateLog replay pattern,
    UpdateLog.java:815-839): the batch's docs and postings are first
    written to a private staging dir, sealed with a staged.json manifest,
    then moved file-by-file (atomic renames, deterministic target names)
    into the live index and finished with the marker. A retry after a
    crash at ANY point either rebuilds staging from scratch (no live
    writes happened), resumes the remaining renames (already-moved files
    are simply absent from staging), or skips entirely (marker present) —
    never a duplicated doc or posting.
  * index_stream(): Structured Streaming foreachBatch over a file source
    with a checkpointLocation — Spark's batchId feeds the idempotency
    marker, giving effectively-once indexing of a growing directory
    (TopicStream checkpoints at cluster scale).

Stats are merged INCREMENTALLY: df/ttf are additive, so each increment
aggregates only its own staged blocks (O(increment) input) and folds the
deltas into the existing term_stats/corpus_stats (O(vocabulary), never
O(all postings)). The rare resumed-commit path falls back to a full
metadata recompute for safety.

Compaction note: at 10^12 files many small generations would accumulate;
rerunning the normal build (or a per-(term,range) re-merge of blocks, the
TieredMergePolicy analog) compacts them. Queries are correct either way.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.builder import (
    BLOCK_SCHEMA,
    DEFAULT_RANGE_SIZE,
    DEFAULT_TERM_BUCKETS,
    FRAGMENT_SCHEMA,
    INDEX_SCHEMA_VERSION,
    IndexPaths,
    _make_fragments_fn,
    _merge_fragments_stream_fn,
    build_docs_table,
)


def _read_manifest(paths: IndexPaths, stage: str) -> dict:
    with open(paths.manifest(stage)) as f:
        return json.load(f)


def init_empty_index(
    spark: SparkSession,
    out_dir: str,
    *,
    meta_cols: list[str],
    range_size: int = DEFAULT_RANGE_SIZE,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
) -> IndexPaths:
    """Generation-0 empty index (so a stream can build it from nothing)."""
    paths = IndexPaths(out_dir)
    os.makedirs(paths.manifest_dir, exist_ok=True)
    docs_schema = ", ".join(
        ["doc_id long"]
        + [f"{c} string" for c in meta_cols]
        + ["sha256 string", "field_len int", "norm_byte int"]
    )
    spark.createDataFrame([], docs_schema).write.mode("overwrite").parquet(paths.docs)
    empty_blocks = spark.createDataFrame([], BLOCK_SCHEMA).withColumn(
        "bucket", F.lit(0).cast("int")
    )
    empty_blocks.write.mode("overwrite").partitionBy("bucket").parquet(paths.postings)
    spark.createDataFrame([], "term string, df long, ttf long, bucket int").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(paths.term_stats)
    _write_stats(spark, paths)
    for stage, payload in [
        ("postings", {"range_size": range_size, "n_term_buckets": n_term_buckets}),
        ("lineage", {"generation_no": 0, "watermark": -1}),
    ]:
        payload = dict(payload)
        payload.update({"stage": stage, "schema": INDEX_SCHEMA_VERSION,
                        "generation": int(time.time() * 1000), "fingerprint": "stream-gen0"})
        with open(paths.manifest(stage), "w") as f:
            json.dump(payload, f, indent=2)
    return paths


def _swap_dir(live: str, new_dir: str) -> None:
    """Crash-safe directory swap: rename live aside, move new in, delete
    old. compact.recover_postings restores `__old` if a crash lands in
    the middle window."""
    import shutil

    old = live + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(live):
        os.replace(live, old)
    os.replace(new_dir, live)
    if os.path.exists(old):
        shutil.rmtree(old)


def _postings_schema():
    from pyspark.sql import types as T

    return T.StructType(
        list(BLOCK_SCHEMA.fields) + [T.StructField("bucket", T.IntegerType(), True)]
    )


def _write_stats(spark: SparkSession, paths: IndexPaths) -> None:
    """FULL recompute of term/corpus stats from block METADATA (column-
    pruned scan of n_docs/sum_tf — never touches the binary posting
    payloads). Used at init and on the rare resumed-commit path; the
    normal increment path uses _merge_stats_incremental."""
    blocks = spark.read.schema(_postings_schema()).parquet(paths.postings)
    (
        blocks.groupBy("term", "bucket")
        .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("ttf"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(paths.term_stats + "_next")
    )
    docs = spark.read.parquet(paths.docs)
    (
        docs.agg(
            F.count("*").alias("doc_count"),
            F.coalesce(F.sum("field_len"), F.lit(0)).cast("long").alias("sum_ttf"),
        )
        .write.mode("overwrite")
        .parquet(paths.corpus_stats + "_next")
    )
    _swap_dir(paths.term_stats, paths.term_stats + "_next")
    _swap_dir(paths.corpus_stats, paths.corpus_stats + "_next")


def _merge_stats_incremental(
    spark: SparkSession, paths: IndexPaths, staged_postings: str,
    n_new: int, sum_flen_new: int,
) -> None:
    """Fold the increment's stats deltas into the existing tables.

    df/ttf are additive per term, so the job reads ONLY the staged blocks
    (O(increment)) plus the current term_stats (O(vocabulary)) — never the
    live postings. Corpus stats are two scalars, updated driver-side."""
    delta = (
        spark.read.schema(_postings_schema())
        .parquet(staged_postings)
        .groupBy("term", "bucket")
        .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("ttf"))
    )
    existing = spark.read.schema(
        "term string, df long, ttf long, bucket int"
    ).parquet(paths.term_stats)
    (
        existing.select("term", "df", "ttf", "bucket")
        .unionByName(delta)
        .groupBy("term", "bucket")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
        .repartition("bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(paths.term_stats + "_next")
    )
    row = spark.read.parquet(paths.corpus_stats).collect()[0]
    spark.createDataFrame(
        [(int(row["doc_count"]) + n_new, int(row["sum_ttf"]) + sum_flen_new)],
        "doc_count long, sum_ttf long",
    ).write.mode("overwrite").parquet(paths.corpus_stats + "_next")
    _swap_dir(paths.term_stats, paths.term_stats + "_next")
    _swap_dir(paths.corpus_stats, paths.corpus_stats + "_next")


def _move_staged_files(src_dir: str, dst_dir: str, prefix: str) -> int:
    """Move a staged parquet write into a live parquet dir (recursing into
    partition subdirs) with atomic per-file renames and DETERMINISTIC
    target names — a crashed move is resumable because files already moved
    are simply absent from staging, and re-moving can never collide."""
    moved = 0
    for root, _dirs, files in os.walk(src_dir):
        rel = os.path.relpath(root, src_dir)
        tgt = dst_dir if rel == "." else os.path.join(dst_dir, rel)
        made = False
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            if not made:
                os.makedirs(tgt, exist_ok=True)
                made = True
            os.replace(os.path.join(root, fn), os.path.join(tgt, prefix + fn))
            moved += 1
    return moved


def apply_increment(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    *,
    content_col: str,
    doc_id_col: str,
    meta_cols: list[str],
    batch_id: int | str = None,
    stage_only: bool = False,
) -> dict:
    """Append one segment generation for `new_docs`. Idempotent per
    batch_id (staged two-phase commit, see module docstring); enforces the
    monotone doc-id invariant (new ids must exceed the committed
    watermark). stage_only=True seals phase 1 and stops — the Solr tlog
    state: realtime_get() already serves the docs, searches do not see
    them; re-calling with the same batch_id commits."""
    import shutil

    paths = IndexPaths(index_dir)
    pm = _read_manifest(paths, "postings")
    lineage = _read_manifest(paths, "lineage")
    range_size = int(pm["range_size"])
    n_term_buckets = int(pm["n_term_buckets"])

    marker_dir = os.path.join(paths.manifest_dir, "increments")
    os.makedirs(marker_dir, exist_ok=True)
    sid = str(batch_id) if batch_id is not None else f"adhoc_{int(time.time() * 1e6)}"
    marker = os.path.join(marker_dir, f"batch_{sid}.json")
    stage_root = os.path.join(paths.root, "_staging", f"batch_{sid}")
    if batch_id is not None and os.path.exists(marker):
        # a crash between the marker write and staging cleanup leaves a
        # committed batch's stage behind — reclaim it here so tlog reads
        # (realtime_get) can never see the batch twice
        shutil.rmtree(stage_root, ignore_errors=True)
        return {"skipped": True, "batch_id": batch_id}
    st_docs = os.path.join(stage_root, "docs")
    st_postings = os.path.join(stage_root, "postings")
    staged_manifest = os.path.join(stage_root, "staged.json")

    resumed_commit = os.path.exists(staged_manifest)
    if not resumed_commit:
        # ---- phase 1: stage (no live writes; a crash here is a no-op) ----
        base = new_docs.withColumn("doc_id", F.col(doc_id_col).cast("long"))
        stats = base.agg(
            F.count("*").alias("n"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("mx")
        ).collect()[0]
        n_new = int(stats["n"])
        if n_new == 0:
            return {"skipped": True, "reason": "empty"}
        watermark = int(lineage.get("watermark", -1))
        if int(stats["lo"]) <= watermark:
            raise ValueError(
                f"increment doc_ids must exceed committed watermark {watermark}; got {stats['lo']}"
            )
        if os.path.exists(stage_root):
            shutil.rmtree(stage_root)  # partial stage from a prior crash

        mc = [c for c in meta_cols if c != doc_id_col]
        # segments must use the INDEX's analysis chain (IndexWriterConfig
        # is fixed for the index lifetime) — a 'standard' default here
        # would silently mix chains on non-standard indexes
        analyzer = pm.get("analyzer", "standard")
        norm = pm.get("norm", "bm25")  # setSimilarity is index-lifetime too
        build_docs_table(
            base, content_col, mc, analyzer=analyzer, norm=norm
        ).write.mode("overwrite").parquet(st_docs)

        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        from ..analysis.tokenizer import PAYLOAD_ANALYZERS

        fragments = base.select("doc_id", content_col).mapInPandas(
            _make_fragments_fn(
                content_col, range_size, analyzer,
                payloads=analyzer in PAYLOAD_ANALYZERS,
                norm=norm,
            ),
            schema=FRAGMENT_SCHEMA,
        )
        blocks = fragments.repartition(n_shuffle, "term", "range_id").mapInPandas(
            _merge_fragments_stream_fn(), schema=BLOCK_SCHEMA
        )
        (
            blocks.withColumn(
                "bucket",
                F.pmod(F.crc32(F.encode(F.col("term"), "utf-8")), F.lit(n_term_buckets)).cast("int"),
            )
            .repartition("bucket")
            .sortWithinPartitions("term", "range_id", "block_no")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(st_postings)
        )
        sum_flen = int(
            spark.read.parquet(st_docs)
            .agg(F.coalesce(F.sum("field_len"), F.lit(0))).collect()[0][0]
        )
        payload = {
            "batch_id": sid, "rows": n_new, "lo": int(stats["lo"]),
            "watermark": int(stats["mx"]), "sum_field_len": sum_flen,
        }
        tmp = staged_manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, staged_manifest)  # seals the stage atomically
    if stage_only:
        # the tlog state: sealed but uncommitted — visible to
        # realtime_get, invisible to searches; a later call with the
        # same batch_id resumes the commit (crash-resume machinery)
        return {"staged": True, "batch_id": sid, "rows": None}
    with open(staged_manifest) as f:
        staged = json.load(f)

    # ---- phase 2: commit (atomic per-file renames; resumable) ----
    if resumed_commit:
        # a prior run may have died anywhere in commit — the incremental
        # delta can no longer be applied exactly-once, so move what's left
        # and recompute stats from live metadata (still column-pruned,
        # never posting payloads)
        _move_staged_files(st_docs, paths.docs, f"inc_{sid}_")
        _move_staged_files(st_postings, paths.postings, f"inc_{sid}_")
        _write_stats(spark, paths)
    else:
        # stats delta reads the STAGED blocks, so merge before the renames
        # consume staging; readers see new postings only at the next
        # IndexSearcher open (Lucene's segment-reopen visibility model)
        _merge_stats_incremental(
            spark, paths, st_postings, staged["rows"], staged["sum_field_len"]
        )
        _move_staged_files(st_docs, paths.docs, f"inc_{sid}_")
        _move_staged_files(st_postings, paths.postings, f"inc_{sid}_")

    new_wm = int(staged["watermark"])
    if int(lineage.get("watermark", -1)) < new_wm:
        lineage.update(
            {
                "generation_no": int(lineage.get("generation_no", 0)) + 1,
                "generation": int(time.time() * 1000),
                "watermark": new_wm,
                "doc_count": int(lineage.get("doc_count", 0)) + int(staged["rows"]),
            }
        )
        with open(paths.manifest("lineage"), "w") as f:
            json.dump(lineage, f, indent=2, default=str)
    if batch_id is not None:
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": sid, "rows": staged["rows"], "watermark": new_wm}, f)
        os.replace(tmp, marker)
    shutil.rmtree(stage_root, ignore_errors=True)
    return {
        "generation_no": int(lineage.get("generation_no", 0)),
        "rows": int(staged["rows"]),
        "watermark": new_wm,
    }


def index_stream(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    schema,
    *,
    content_col: str,
    doc_id_col: str,
    meta_cols: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Structured Streaming: watch a directory of parquet drops and index
    each micro-batch as a new segment generation. Returns the
    StreamingQuery (availableNow drains the backlog then stops)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_increment(
            spark,
            index_dir,
            batch_df,
            content_col=content_col,
            doc_id_col=doc_id_col,
            meta_cols=meta_cols,
            batch_id=batch_id,
        )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def realtime_get(spark: SparkSession, index_dir: str, doc_ids: list) -> DataFrame:
    """RealTimeGet (solr/core/.../component/RealTimeGetComponent.java):
    fetch docs BY ID seeing uncommitted state — Solr consults the
    transaction log before the last open searcher; here the tlog is the
    sealed-but-uncommitted staging area, so the lookup unions the
    committed docs table with every staged docs dir and drops
    tombstoned ids. Searches keep segment-reopen visibility (staged
    docs stay invisible to them until commit)."""
    import glob as _glob

    from ..index.deletes import load_deleted

    paths = IndexPaths(index_dir)
    ids = sorted({int(d) for d in doc_ids})
    out = spark.read.parquet(paths.docs).filter(F.col("doc_id").isin(ids))
    staged = sorted(_glob.glob(os.path.join(paths.root, "_staging", "batch_*", "docs")))
    for st in staged:
        # skip stages whose batch already committed (a crash between the
        # commit marker and staging cleanup leaves both copies on disk —
        # the committed docs table is the authority then)
        bname = os.path.basename(os.path.dirname(st))
        if os.path.exists(os.path.join(paths.manifest_dir, "increments", f"{bname}.json")):
            continue
        # uncommitted stages carry ids above the committed watermark, so
        # a plain union cannot duplicate a committed doc
        sdf = spark.read.parquet(st).filter(F.col("doc_id").isin(ids))
        out = out.unionByName(sdf, allowMissingColumns=True)
    deleted, ddf = load_deleted(spark, paths)
    if ddf is not None:
        out = out.join(ddf, "doc_id", "left_anti")
    elif deleted is not None and deleted.size:
        out = out.filter(~F.col("doc_id").isin([int(x) for x in deleted]))
    return out.orderBy("doc_id")


def update_documents(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    *,
    key_cols: list[str],
    content_col: str,
    doc_id_col: str,
    meta_cols: list[str],
    batch_id: int | str = None,
) -> dict:
    """IndexWriter.updateDocument (index/IndexWriter.java:1503): an
    atomic delete-by-term + add. Old versions matching `key_cols` are
    tombstoned (masked immediately with stale stats, reclaimed at the
    next merge — Lucene's exact update visibility) and the new versions
    append as a fresh segment generation with new monotone doc ids."""
    from ..index.deletes import delete_docs

    paths = IndexPaths(index_dir)
    committed = spark.read.parquet(paths.docs).select("doc_id", *key_cols)
    # "old versions" = committed docs matching the keys MINUS the batch's
    # own doc ids — on a crash-resume/idempotent retry the new versions
    # are already committed, and without the anti-join they would be
    # tombstoned, deleting the update itself
    new_ids = new_docs.select(F.col(doc_id_col).cast("long").alias("doc_id")).distinct()
    old_ids = [
        int(r["doc_id"])
        for r in committed.join(
            F.broadcast(new_docs.select(*key_cols).distinct()), key_cols
        )
        .join(F.broadcast(new_ids), "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    ]
    res = apply_increment(
        spark, index_dir, new_docs,
        content_col=content_col, doc_id_col=doc_id_col,
        meta_cols=meta_cols, batch_id=batch_id,
    )
    if old_ids:
        delete_docs(spark, index_dir, old_ids)
    res["updated"] = len(old_ids)
    return res
