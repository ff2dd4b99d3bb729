"""Distributed inverted-index build: the reference's write path, Spark-first.

Pipeline (each arrow is one Spark stage; reference analogs in parens):

  source table
    -> deterministic dense doc_id assignment        (segment ordinals + docBase,
       via fixed hash-bucket layout + cumulative offsets; no global sort)
    -> docs table: sha256, field_len, norm_byte     (stored fields + norms,
       NormValuesWriter / BM25Similarity.computeNorm)
    -> per-partition segment fragments, mapInPandas (DocumentsWriterPerThread:
       each Spark partition builds a private in-memory postings map, then
       flushes sorted (term, doc-range) fragments — DWPT flush)
    -> salted merge: groupBy(term, range_id)        (SegmentMerger k-way merge;
       the doc-range id IS the salt: stopword-scale terms split into
       bounded-size groups, cf. CompositeIdRouter skew routing)
    -> 128-doc VByte blocks with skip/block-max     (Lucene50PostingsWriter
       metadata                                      FoR blocks + skip lists;
                                                     block-max is our extension)
    -> term_stats / corpus_stats                    (TermContext.build /
                                                     ExactStatsCache global df)
    -> _manifest generation markers                 (segments_N commits)

Scale notes (10^12-file posture):
  * no per-doc data is ever collected to the driver; only per-layout-bucket
    counts (N_LAYOUT_BUCKETS values) and stage manifests.
  * shuffle volume of the merge = compressed fragments, not raw tokens.
  * group size in the merge is bounded by range_size postings regardless of
    term df — skew-proof by construction.
  * final postings are written partitioned by a term hash bucket so a query
    touches only matching files, with rows sorted by term for row-group
    min/max pruning (the FST/terms-dict analog).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.tokenizer import analyze_batch
from .codec import delta_encode, vbyte_encode

BLOCK_SIZE = 128  # Lucene50PostingsFormat.BLOCK_SIZE analog
DEFAULT_RANGE_SIZE = 8192  # docs per range bucket (merge salt + query partition)
DEFAULT_TERM_BUCKETS = 64  # output file partitions by term hash (query-side
# pruning granularity AND final-write parallelism — must exceed cluster width)
N_LAYOUT_BUCKETS = 256  # fixed layout constant for doc_id assignment
INDEX_SCHEMA_VERSION = 4  # v4: pay_buf payload stream (.pay analog) next to pos_buf
MAX_FIELD_POSITION = (1 << 22) - 1  # engine packs (doc << 22 | position)
# composite keys for phrase/span matching (engine._POS_SHIFT); the build
# enforces the invariant the query engine relies on (IndexWriter's
# IllegalArgumentException on position overflow is the reference analog,
# lucene/core/.../index/DefaultIndexingChain.java "position overflows")


FRAGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("range_id", T.LongType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("max_norm", T.IntegerType(), False),
        T.StructField("docs_buf", T.BinaryType(), False),
        T.StructField("tfs_buf", T.BinaryType(), False),
        T.StructField("norms_buf", T.BinaryType(), False),
        T.StructField("pos_buf", T.BinaryType(), False),
        # payload stream (Lucene .pay analog): 4 bytes big-endian float32
        # per token position, rides every gather pos_buf takes; b"" when
        # the field's analyzer chain carries no payload filter
        T.StructField("pay_buf", T.BinaryType(), False),
        T.StructField("seg_id", T.IntegerType(), False),
    ]
)

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("range_id", T.LongType(), False),
        T.StructField("block_no", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("max_norm", T.IntegerType(), False),
        T.StructField("docs_buf", T.BinaryType(), False),
        T.StructField("tfs_buf", T.BinaryType(), False),
        T.StructField("norms_buf", T.BinaryType(), False),
        T.StructField("pos_buf", T.BinaryType(), False),
        T.StructField("pay_buf", T.BinaryType(), False),
    ]
)


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def corpus_stats(self) -> str:
        return os.path.join(self.root, "corpus_stats")

    @property
    def deletes(self) -> str:
        """Tombstone table (doc_id long) — the liveDocs analog: deleted
        docs are masked at query time with STALE corpus/term stats
        (exactly Lucene's semantics: deletes don't touch df until a
        merge reclaims them; compact_index purges tombstones)."""
        return os.path.join(self.root, "deletes")

    @property
    def bloom(self) -> str:
        """Opt-in per-bucket term-dictionary bloom filters (the
        BloomFilteringPostingsFormat analog — see index/bloom.py). One
        serialized FuzzySet per term_stats bucket partition; a query
        term the bloom rejects skips the stats read entirely."""
        return os.path.join(self.root, "bloom")

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifest")

    def manifest(self, stage: str) -> str:
        return os.path.join(self.manifest_dir, f"{stage}.json")


def _write_manifest(paths: IndexPaths, stage: str, payload: dict) -> None:
    os.makedirs(paths.manifest_dir, exist_ok=True)
    payload = dict(payload)
    payload["stage"] = stage
    payload["schema"] = INDEX_SCHEMA_VERSION
    payload["generation"] = int(time.time() * 1000)
    with open(paths.manifest(stage), "w") as f:
        json.dump(payload, f, indent=2, default=str)


def _stage_done(paths: IndexPaths, stage: str, fingerprint: str) -> bool:
    """Checkpoint-resume: a stage is skipped iff its manifest exists and was
    written for the same input fingerprint (segments_N generation analog)
    AND the same index schema version (format migrations force rebuild)."""
    p = paths.manifest(stage)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as f:
            m = json.load(f)
        return (
            m.get("fingerprint") == fingerprint
            and m.get("schema") == INDEX_SCHEMA_VERSION
        )
    except (json.JSONDecodeError, OSError):
        return False


TARGET_ROWS_PER_LAYOUT_BUCKET = 1 << 20  # ~1M rows per bucket-local sort


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int | None = None,
) -> DataFrame:
    """Deterministic dense doc_id without a global sort.

    Layout: bucket = pmod(xxhash64(order_cols), n_buckets). Within a
    bucket, rows are sorted by order_cols; global doc_id = bucket_offset
    + local rank. Only n_buckets counts are collected to the driver.

    n_buckets defaults to a power of two sized so each bucket-local
    window sort sees ~TARGET_ROWS_PER_LAYOUT_BUCKET rows (the r1 fixed
    256 meant ~4e9 rows per task at 1e12 files). It is a function of the
    DATA SIZE ONLY — like Lucene's insertion order, the layout is a
    property of the corpus, never of cluster width, so doc_ids are
    reproducible across any parallelism.
    """
    if n_buckets is None:
        n = df.count()
        n_buckets = N_LAYOUT_BUCKETS
        while n_buckets * TARGET_ROWS_PER_LAYOUT_BUCKET < n and n_buckets < (1 << 22):
            n_buckets *= 2
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(n_buckets)).cast("int")
    dfb = df.withColumn("_bucket", bucket)
    counts = {r["_bucket"]: r["cnt"] for r in dfb.groupBy("_bucket").agg(F.count("*").alias("cnt")).collect()}
    offsets = []
    acc = 0
    for b in range(n_buckets):
        offsets.append((b, acc))
        acc += counts.get(b, 0)
    from pyspark.sql import Window

    w = Window.partitionBy("_bucket").orderBy(*[F.col(c) for c in order_cols])
    if n_buckets <= 4096:
        offset_expr = F.element_at(
            F.array(*[F.lit(v) for _b, v in offsets]), F.col("_bucket") + 1
        )
        out = dfb.withColumn(
            "doc_id", (F.row_number().over(w) - 1 + offset_expr).cast("long")
        )
    else:
        # too many buckets for a literal lookup: broadcast-join the
        # (bucket, offset) table (n_buckets rows, trivially broadcastable)
        off_df = dfb.sparkSession.createDataFrame(
            [(b, v) for b, v in offsets if counts.get(b, 0) > 0],
            "_bucket int, _offset long",
        )
        out = (
            dfb.join(F.broadcast(off_df), "_bucket")
            .withColumn("doc_id", (F.row_number().over(w) - 1 + F.col("_offset")).cast("long"))
            .drop("_offset")
        )
    return out.drop("_bucket")


def _analysis_udf(analyzer: str = "standard", norm: str = "bm25"):
    from ..analysis.tokenizer import DYNAMIC_CHAINS

    chain_spec = DYNAMIC_CHAINS.get(analyzer)

    @F.pandas_udf("field_len int, norm_byte int")
    def analysis(content: pd.Series) -> pd.DataFrame:
        from ..analysis.smallfloat import NORM_ENCODERS
        from ..analysis.tokenizer import ensure_chain, token_table

        ensure_chain(analyzer, chain_spec)
        encoder = NORM_ENCODERS[norm]
        texts = content.tolist()
        table = token_table(texts, analyzer=analyzer)
        lens = (
            np.zeros(len(texts), dtype=np.int32) if table is None else table[4]
        )
        return pd.DataFrame(
            {"field_len": lens, "norm_byte": encoder(lens).astype(np.int32)}
        )

    return analysis


def build_docs_table(
    df: DataFrame, content_col: str, meta_cols: list[str],
    analyzer: str = "standard", norm: str = "bm25",
) -> DataFrame:
    """docs: (doc_id, *meta, sha256, field_len, norm_byte).

    sha256 stays JVM-side (F.sha2, whole-stage codegen); field_len/norm come
    from ONE Arrow-batched analysis pandas UDF (the one unavoidable Python
    hot path)."""
    return (
        df.select("doc_id", *meta_cols, F.col(content_col).alias("_content"))
        .withColumn("sha256", F.sha2(F.col("_content"), 256))
        .withColumn("_a", _analysis_udf(analyzer, norm)(F.col("_content")))
        .withColumn("field_len", F.col("_a.field_len"))
        .withColumn("norm_byte", F.col("_a.norm_byte"))
        .drop("_content", "_a")
    )


def _make_fragments_fn(
    content_col: str,
    range_size: int,
    analyzer: str = "standard",
    payloads: bool = False,
    norm: str = "bm25",
):
    from ..analysis.tokenizer import DYNAMIC_CHAINS

    # picklable spec rides in the closure so Spark workers can
    # re-register a dynamic (synonym) chain (ensure_chain)
    chain_spec = DYNAMIC_CHAINS.get(analyzer)
    def fragments(iterator):
        """DWPT analog, fully vectorized: each Arrow batch becomes one set of
        sorted posting fragments (term, doc-range) -> delta+VByte streams.

        Per-token work is factorize/lexsort/reduceat (C speed) — per-token
        Python dict accumulation saturated memory bandwidth and capped
        multi-core scaling. Multiple fragments per (term, range) from one
        partition are fine: the shuffle merge k-way merges them.

        Positions stream: per (term, doc) ascending positions, delta-encoded
        with the FIRST position absolute, concatenated in doc order; tf is
        the per-doc run length so the stream splits at any doc boundary
        (Lucene .pos analog, Lucene50PostingsWriter.java:323)."""
        from pyspark import TaskContext

        from ..analysis.tokenizer import ensure_chain, token_table
        from .codec import vbyte_encode_batch

        ensure_chain(analyzer, chain_spec)
        seg_id = TaskContext.get().partitionId() if TaskContext.get() else -1

        for pdf in iterator:
            table = token_table(
                pdf[content_col].tolist(), analyzer=analyzer,
                with_payloads=payloads,
            )
            if table is None:
                continue
            if payloads:
                uniq, c2, drep, p2, flens, pay2 = table
            else:
                uniq, c2, drep, p2, flens = table
                pay2 = None
            if p2.size and int(p2.max()) > MAX_FIELD_POSITION:
                raise ValueError(
                    f"field position {int(p2.max())} exceeds MAX_FIELD_POSITION "
                    f"{MAX_FIELD_POSITION} (~4.19M tokens/doc); truncate the "
                    "document or raise the engine's position width"
                )
            from ..analysis.smallfloat import NORM_ENCODERS

            norms = NORM_ENCODERS[norm](flens)
            doc_ids = pdf["doc_id"].to_numpy(np.int64)
            d2 = doc_ids[drep]
            nb2 = norms[drep]
            n = c2.size
            if n == 0:
                continue
            # order by (term, doc, position)
            order = np.lexsort((p2, d2, c2))
            c2, d2, p2, nb2 = c2[order], d2[order], p2[order], nb2[order]
            if pay2 is not None:
                pay2 = pay2[order]

            # (term, doc) runs -> tf per posting
            new_run = np.ones(n, dtype=bool)
            new_run[1:] = (c2[1:] != c2[:-1]) | (d2[1:] != d2[:-1])
            run_starts = np.flatnonzero(new_run)
            nr = run_starts.size
            run_bounds = np.concatenate((run_starts, [n]))
            tf = np.diff(run_bounds)
            rd = d2[run_starts]
            rc = c2[run_starts]
            rnb = nb2[run_starts]
            rranges = rd // range_size

            # (term, range) rows over runs
            new_row = np.ones(nr, dtype=bool)
            new_row[1:] = (rc[1:] != rc[:-1]) | (rranges[1:] != rranges[:-1])
            row_starts_r = np.flatnonzero(new_row)  # index into runs
            row_bounds_r = np.concatenate((row_starts_r, [nr]))
            row_ends_r = row_bounds_r[1:]
            n_rows = row_starts_r.size

            # metadata per row (reduceat over runs)
            first_doc = rd[row_starts_r]
            last_doc = rd[row_ends_r - 1]
            n_docs_row = (row_ends_r - row_starts_r).astype(np.int32)
            sum_tf = np.add.reduceat(tf, row_starts_r)
            max_tf = np.maximum.reduceat(tf, row_starts_r).astype(np.int32)
            max_norm = np.maximum.reduceat(rnb.astype(np.int32), row_starts_r)

            # doc deltas per row: diff over run docs, row-start reset to 0
            ddeltas = np.diff(rd, prepend=rd[:1])
            ddeltas[row_starts_r] = 0
            # position deltas per token: per-run reset to absolute first
            pdeltas = np.diff(p2, prepend=np.int64(0))
            pdeltas[run_starts] = p2[run_starts]

            # row bounds in run space and token space
            tok_row_bounds = run_bounds[row_bounds_r]
            nb_blob = rnb.tobytes()
            if pay2 is not None:
                # .pay analog: 4-byte big-endian float32 per position
                # (PayloadHelper.encodeFloat byte order), aligned 1:1
                # with the pos stream so every pos gather carries it
                pay_blob = pay2.astype(">f4").tobytes()
                pay_bufs = [
                    pay_blob[4 * s : 4 * e]
                    for s, e in zip(tok_row_bounds[:-1], tok_row_bounds[1:])
                ]
            else:
                pay_bufs = [b""] * n_rows
            yield pd.DataFrame(
                {
                    "term": uniq[rc[row_starts_r]],
                    "range_id": rranges[row_starts_r].astype(np.int64),
                    "first_doc": first_doc,
                    "last_doc": last_doc,
                    "n_docs": n_docs_row,
                    "sum_tf": sum_tf.astype(np.int64),
                    "max_tf": max_tf,
                    "max_norm": max_norm,
                    "docs_buf": vbyte_encode_batch(
                        ddeltas.astype(np.uint64), row_bounds_r
                    ),
                    "tfs_buf": vbyte_encode_batch(tf.astype(np.uint64), row_bounds_r),
                    "norms_buf": [
                        nb_blob[s:e] for s, e in zip(row_starts_r, row_ends_r)
                    ],
                    "pos_buf": vbyte_encode_batch(
                        pdeltas.astype(np.uint64), tok_row_bounds
                    ),
                    "pay_buf": pay_bufs,
                    "seg_id": np.full(n_rows, seg_id, dtype=np.int32),
                }
            )

    return fragments


def _merge_fragments_stream_fn(drop_docs: np.ndarray | None = None):
    """SegmentMerger analog, fully vectorized per shuffle partition.

    The fragment shuffle is hash-partitioned on (term, range_id); one
    mapInPandas call merges ALL groups of the partition with numpy passes
    (per-group applyInPandas overhead killed the build at 200k+ near-
    singleton groups). Fragments are individually doc-sorted; interleaved
    doc spans across segments are k-way merged by one vectorized lexsort
    within groups — the whole merge is bounds arithmetic + reduceat + one
    batched vbyte encode per stream.

    drop_docs (sorted doc ids): postings of these docs are PURGED during
    the merge — the merge-reclaims-deletes path (compact_index with
    tombstones); None keeps the normal path untouched."""
    from .codec import block_decode_flat, block_encode_batch, decode_doc_blocks

    def merge(iterator):
        parts = list(iterator)  # whole shuffle partition (bounded by n_shuffle)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        if pdf.empty:
            return
        pdf = pdf.sort_values(["term", "range_id", "first_doc"], kind="mergesort")
        n_frag = len(pdf)

        D, frag_sizes = decode_doc_blocks(pdf["docs_buf"].tolist(), pdf["first_doc"].to_numpy())
        frag_starts = np.concatenate(([0], np.cumsum(frag_sizes)))[:-1]
        total = int(frag_sizes.sum())

        TF = block_decode_flat(pdf["tfs_buf"].tolist())[0].astype(np.int64)
        NB = np.concatenate(
            [np.frombuffer(b, dtype=np.uint8) for b in pdf["norms_buf"]]
        )
        POS = block_decode_flat(pdf["pos_buf"].tolist())[0]
        # payload stream: fixed 4-byte rows aligned 1:1 with POS; a
        # payload-less field carries b"" bufs and PAY stays None
        pay_raw = pdf["pay_buf"].tolist()
        if any(pay_raw):
            PAY = np.frombuffer(b"".join(pay_raw), dtype=np.uint8).reshape(-1, 4)
            if PAY.shape[0] != POS.size:
                raise AssertionError(
                    f"payload stream misaligned: {PAY.shape[0]} payloads "
                    f"vs {POS.size} positions"
                )
        else:
            PAY = None

        # group boundaries (term, range_id change)
        terms = pdf["term"].to_numpy()
        rids = pdf["range_id"].to_numpy()
        new_grp = np.ones(n_frag, dtype=bool)
        new_grp[1:] = (terms[1:] != terms[:-1]) | (rids[1:] != rids[:-1])
        grp_frag_starts = np.flatnonzero(new_grp)
        grp_val_starts = frag_starts[grp_frag_starts]
        grp_val_ends = np.concatenate((grp_val_starts[1:], [total]))

        # k-way merge: fragments are individually sorted but their doc spans
        # may interleave across segments (hash-bucketed doc-id layout), so
        # sort values within each group by doc — one vectorized lexsort, and
        # a run-permutation gather keeps the per-doc position runs aligned
        is_grp_start = np.zeros(total, dtype=bool)
        is_grp_start[grp_val_starts] = True
        needs_sort = total > 1 and bool(((np.diff(D) <= 0) & ~is_grp_start[1:]).any())
        if needs_sort:
            grp_sizes = grp_val_ends - grp_val_starts
            grp_of_val = np.repeat(np.arange(grp_val_starts.size), grp_sizes)
            order = np.lexsort((D, grp_of_val))
            run_starts = np.concatenate(([0], np.cumsum(TF)))[:-1]
            new_lens = TF[order]
            cum_new = np.concatenate(([0], np.cumsum(new_lens)))
            pos_idx = (
                np.repeat(run_starts[order], new_lens)
                + np.arange(int(cum_new[-1]))
                - np.repeat(cum_new[:-1], new_lens)
            )
            D = D[order]
            TF = new_lens
            NB = NB[order]
            POS = POS[pos_idx]
            if PAY is not None:
                PAY = PAY[pos_idx]
        # invariant: strictly ascending docs within each group (a violation
        # now means duplicate doc ids — a real upstream bug)
        if total > 1:
            bad = (np.diff(D) <= 0) & ~is_grp_start[1:]
            if bad.any():
                i = int(np.flatnonzero(bad)[0])
                raise AssertionError(
                    f"duplicate doc id in postings merge (doc {D[i]} -> {D[i+1]})"
                )

        grp_terms = terms[grp_frag_starts]
        grp_rids = rids[grp_frag_starts]

        if drop_docs is not None and drop_docs.size and total:
            # purge tombstoned docs: mask postings, gather their position
            # runs out, and drop groups that became empty
            j = np.minimum(np.searchsorted(drop_docs, D), drop_docs.size - 1)
            keep = drop_docs[j] != D
            if not keep.all():
                grp_sizes0 = grp_val_ends - grp_val_starts
                grp_of_val = np.repeat(np.arange(grp_val_starts.size), grp_sizes0)
                sel = np.flatnonzero(keep)
                run_starts = np.concatenate(([0], np.cumsum(TF)))[:-1]
                new_lens = TF[sel]
                cum_new = np.concatenate(([0], np.cumsum(new_lens)))
                pos_idx = (
                    np.repeat(run_starts[sel], new_lens)
                    + np.arange(int(cum_new[-1]))
                    - np.repeat(cum_new[:-1], new_lens)
                )
                D, TF, NB, POS = D[sel], new_lens, NB[sel], POS[pos_idx]
                if PAY is not None:
                    PAY = PAY[pos_idx]
                sizes = np.bincount(
                    grp_of_val[sel], minlength=grp_val_starts.size
                )
                keep_grp = sizes > 0
                grp_terms = grp_terms[keep_grp]
                grp_rids = grp_rids[keep_grp]
                sizes_k = sizes[keep_grp]
                grp_val_ends = np.cumsum(sizes_k)
                grp_val_starts = grp_val_ends - sizes_k
                total = int(D.size)
                if total == 0:
                    return

        # blocks: tile each group in BLOCK_SIZE chunks
        blk_starts_list = [
            np.arange(s, e, BLOCK_SIZE, dtype=np.int64)
            for s, e in zip(grp_val_starts, grp_val_ends)
        ]
        blocks_per_grp = np.fromiter(
            (a.size for a in blk_starts_list), dtype=np.int64, count=len(blk_starts_list)
        )
        blk_starts = np.concatenate(blk_starts_list)
        n_blocks = blk_starts.size
        blk_bounds = np.concatenate((blk_starts, [total]))
        blk_ends = blk_bounds[1:]
        grp_first_blk = np.concatenate(([0], np.cumsum(blocks_per_grp)))[:-1]
        blk_no = (np.arange(n_blocks) - np.repeat(grp_first_blk, blocks_per_grp)).astype(np.int32)

        # per-block metadata in single reduceat passes
        sum_tf = np.add.reduceat(TF, blk_starts)
        max_tf = np.maximum.reduceat(TF, blk_starts)
        max_norm = np.maximum.reduceat(NB.astype(np.int32), blk_starts)

        # per-block doc deltas: global diff with block-start reset to 0.
        # Full 128-doc blocks bit-pack at the block max's width (ForUtil
        # analog, Lucene50PostingsWriter.java:272-297); tails and all-equal
        # blocks keep the vbyte/ALLEQ forms — readers dispatch per buffer.
        bdeltas = np.diff(D, prepend=np.int64(0))
        bdeltas[blk_starts] = 0
        docs_bufs = block_encode_batch(bdeltas.astype(np.uint64), blk_bounds)
        tfs_bufs = block_encode_batch(TF.astype(np.uint64), blk_bounds)
        nb_blob = NB.tobytes()
        norms_bufs = [nb_blob[s:e] for s, e in zip(blk_starts, blk_ends)]
        cum_tf = np.concatenate(([0], np.cumsum(TF)))
        pos_bounds = cum_tf[blk_bounds]
        pos_bufs = block_encode_batch(POS, pos_bounds)
        if PAY is not None:
            pay_blob = PAY.tobytes()
            pay_bufs = [
                pay_blob[4 * s : 4 * e]
                for s, e in zip(pos_bounds[:-1], pos_bounds[1:])
            ]
        else:
            pay_bufs = [b""] * n_blocks

        yield pd.DataFrame(
            {
                "term": np.repeat(grp_terms, blocks_per_grp),
                "range_id": np.repeat(grp_rids, blocks_per_grp),
                "block_no": blk_no,
                "first_doc": D[blk_starts],
                "last_doc": D[blk_ends - 1],
                "n_docs": (blk_ends - blk_starts).astype(np.int32),
                "sum_tf": sum_tf,
                "max_tf": max_tf.astype(np.int32),
                "max_norm": max_norm,
                "docs_buf": docs_bufs,
                "tfs_buf": tfs_bufs,
                "norms_buf": norms_bufs,
                "pos_buf": pos_bufs,
                "pay_buf": pay_bufs,
            }
        )

    return merge


def build_index(
    spark: SparkSession,
    source: DataFrame,
    *,
    out_dir: str,
    content_col: str = "content",
    doc_id_col: str | None = None,
    order_cols: list[str] | None = None,
    meta_cols: list[str] | None = None,
    range_size: int = DEFAULT_RANGE_SIZE,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
    fingerprint: str = "",
    overwrite: bool = False,
    analyzer: str = "standard",
    norm: str = "bm25",
    bloom: bool = False,
) -> IndexPaths:
    """Build the full index. Resumable: completed stages (matching manifest
    fingerprint) are skipped — kill the job at any stage boundary and re-run.

    `analyzer` is the IndexWriterConfig(Analyzer) plug point (the
    reference passes the Analyzer into the writer config): 'standard'
    (default) / 'whitespace' / 'simple' / 'keyword' per the
    analysis.tokenizer.ANALYZERS registry. The name is recorded in the
    postings manifest so readers analyze queries with the SAME chain.

    `norm` is the IndexWriterConfig.setSimilarity INDEX-TIME half of the
    similarity plug point (TFIDFSimilarity.computeNorm writes the norm
    byte at index time): 'bm25' (1/sqrt(len), shared by every model in
    this reference that encodes 1/sqrt) or 'sweetspot'
    (SweetSpotSimilarity.computeLengthNorm's plateau). Recorded in the
    manifest; the searcher refuses a query-time similarity whose norms
    don't match the index, mirroring the Lucene rule that index- and
    search-time Similarity must agree."""
    if not fingerprint:
        # an empty fingerprint would compare equal to any prior ""-manifest
        # and silently serve a stale index for a different source
        raise ValueError(
            "build_index requires a non-empty fingerprint identifying the "
            "source (e.g. a path + snapshot id) for checkpoint-resume safety"
        )
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    meta_cols = list(meta_cols or [])
    t0 = time.time()

    if doc_id_col:
        base = source.withColumn("doc_id", F.col(doc_id_col).cast("long"))
        if doc_id_col in meta_cols:
            meta_cols.remove(doc_id_col)
    else:
        base = assign_doc_ids(source, order_cols or ["repo", "path", "commit"])
    # both the docs and postings stages (and their range-sampling passes)
    # consume base; persist so the doc-id window sort runs exactly once
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)

    # ---- stage: docs (stored fields + norms) ----
    if overwrite or not _stage_done(paths, "docs", fingerprint):
        t = time.time()
        # no exchange after the analysis UDF: a repartitionByRange here would
        # EXECUTE THE UDF TWICE (range sampling runs the child plan) and cap
        # write parallelism; base partitions are written as-is
        docs = build_docs_table(
            base, content_col, meta_cols, analyzer=analyzer, norm=norm
        )
        docs.write.mode("overwrite").parquet(paths.docs)
        n_docs = spark.read.parquet(paths.docs).count()
        _write_manifest(
            paths, "docs", {"fingerprint": fingerprint, "rows": n_docs, "wall_s": time.time() - t}
        )

    # ---- stage: postings (fragments -> salted merge -> blocks) ----
    if overwrite or not _stage_done(paths, "postings", fingerprint):
        t = time.time()
        # DWPT analog: every base partition is one segment (no exchange —
        # the merge k-way-sorts interleaved doc spans, any layout is fine)
        seg_src = base.select("doc_id", content_col)
        from ..analysis.tokenizer import PAYLOAD_ANALYZERS

        fragments = seg_src.mapInPandas(
            _make_fragments_fn(
                content_col, range_size, analyzer,
                payloads=analyzer in PAYLOAD_ANALYZERS,
                norm=norm,
            ),
            schema=FRAGMENT_SCHEMA,
        )
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        blocks = (
            fragments.repartition(n_shuffle, "term", "range_id")
            .mapInPandas(_merge_fragments_stream_fn(), schema=BLOCK_SCHEMA)
        )
        # crc32 (not xxhash64): the query side computes bucket ids driver-
        # side via zlib.crc32 — no Spark job just to locate a term's files
        (
            blocks.withColumn(
                "bucket",
                F.pmod(F.crc32(F.encode(F.col("term"), "utf-8")), F.lit(n_term_buckets)).cast("int"),
            )
            .repartition("bucket")
            .sortWithinPartitions("term", "range_id", "block_no")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(paths.postings)
        )
        _write_manifest(
            paths,
            "postings",
            {"fingerprint": fingerprint, "wall_s": time.time() - t, "range_size": range_size,
             "n_term_buckets": n_term_buckets, "block_size": BLOCK_SIZE,
             "analyzer": analyzer,
             "norm": norm,
             # IndexWriterConfig.setIndexSort analog: with assign_doc_ids
             # every segment (bucket partition) is written sorted by
             # order_cols, which EarlyTerminatingSortingCollector needs;
             # an explicit doc_id_col keeps source order (no index sort)
             "index_sort": [] if doc_id_col else list(order_cols or ["repo", "path", "commit"])},
        )

    # ---- stage: stats (ExactStatsCache analog: global df/ttf) ----
    if overwrite or not _stage_done(paths, "stats", fingerprint):
        t = time.time()
        blocks = spark.read.parquet(paths.postings)
        (
            blocks.groupBy("term", "bucket")
            .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("ttf"))
            .repartition("bucket")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(paths.term_stats)
        )
        docs = spark.read.parquet(paths.docs)
        (
            docs.agg(
                F.count("*").alias("doc_count"),
                F.sum("field_len").cast("long").alias("sum_ttf"),
            )
            .write.mode("overwrite")
            .parquet(paths.corpus_stats)
        )
        _write_manifest(paths, "stats", {"fingerprint": fingerprint, "wall_s": time.time() - t})

    # ---- stage: bloom (opt-in — the BloomFilteringPostingsFormat analog;
    # like the reference codec it is NOT part of the default chain) ----
    if bloom and (overwrite or not _stage_done(paths, "bloom", fingerprint)):
        t = time.time()
        from .bloom import build_bloom_table

        n_docs = int(
            spark.read.parquet(paths.corpus_stats).collect()[0]["doc_count"]
        )
        build_bloom_table(spark, paths.term_stats, paths.bloom, n_docs)
        # generation pin: an increment adds terms the bloom has never
        # seen — a stale bloom would be a FALSE NEGATIVE (wrong results),
        # so the searcher only trusts a bloom stamped with the index's
        # current generation_no (rebuild_bloom re-stamps after appends)
        _write_manifest(
            paths,
            "bloom",
            {"fingerprint": fingerprint, "generation_no": 0,
             "wall_s": time.time() - t},
        )

    base.unpersist()

    # ---- stage: lineage (per-segment metrics, UpdateLog/CheckIndex-lite) ----
    if overwrite or not _stage_done(paths, "lineage", fingerprint):
        docs = spark.read.parquet(paths.docs)
        n_docs = docs.count()
        _write_manifest(
            paths,
            "lineage",
            {
                "fingerprint": fingerprint,
                "doc_count": n_docs,
                "total_wall_s": time.time() - t0,
                "files_per_sec": n_docs / max(time.time() - t0, 1e-9),
            },
        )
    return paths


def rebuild_bloom(spark: SparkSession, index_dir: str) -> None:
    """Re-derive the per-bucket term blooms from the CURRENT term_stats
    (which incremental appends keep up to date) and stamp them with the
    index's current generation_no, re-arming the searcher's bloom fast
    path after increments invalidated it. The Lucene analog: a new
    segment gets its own .blm at flush — here the bucket is the
    dictionary unit, so the whole table re-derives (a stats-sized job,
    not a corpus-sized one)."""
    import json as _json

    from .bloom import build_bloom_table

    paths = IndexPaths(index_dir)
    n_docs = int(spark.read.parquet(paths.corpus_stats).collect()[0]["doc_count"])
    build_bloom_table(spark, paths.term_stats, paths.bloom, n_docs)
    gen = 0
    lineage_p = paths.manifest("lineage")
    if os.path.exists(lineage_p):
        with open(lineage_p) as f:
            gen = int(_json.load(f).get("generation_no", 0))
    _write_manifest(paths, "bloom", {"generation_no": gen, "wall_s": 0.0})
