#!/usr/bin/env python3
"""WAND pruning effectiveness study (r4 VERDICT #6): at the 3M-doc
scaling corpus, measure block-max WAND's two-wave pruning on hot-term
queries — wall time with prune on vs off, ranges scored vs skipped —
and assert the results are bit-identical (CheckIndex-style invariant:
pruning must never change the top-k).

Usage: python3 tools/wand_study.py [--index /tmp/lss_scale_idx_8]
                                   [--cpus 8] [--queries q1,q2,...]
       python3 tools/wand_study.py --crossover [--cpus 2]
                                   [--crossover-kinds or,sloppy,span,automaton]
Prints one JSON line; paste the table into BENCH.md.

--crossover times the driver plan against the distributed plan for
unpruned top-k queries over the N most frequent terms, at several
block bounds, on two make_corpus indexes (24k docs in 128-doc ranges,
48k docs in 1024-doc ranges), and asserts equal rows on every run: the
table that sets engine.DRIVER_SCORE_MAX_BLOCKS. --crossover-kinds picks
the query shapes (crossover_spec): an OR of the terms (the default),
and the positional clauses that verify positions per candidate doc — a
sloppy MultiPhraseQuery, an unordered SpanNear and a term automaton,
each over two alternative sets that split the terms in half: the table
that sets engine.DRIVER_POSITIONAL_MAX_BLOCKS.

prune=True always runs the distributed two-wave plan. prune=False runs
the driver plan when the query's block bound is at most
engine.DRIVER_SCORE_MAX_BLOCKS, and the distributed scorer above it;
each row names the plan each side ran (`plan_prune_on` is always
`wand`, `plan_prune_off` is `driver` or `distributed`), so a prune-on
vs prune-off timing says whether it compares WAND with the distributed
scorer or with the driver plan.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_skewed_index(spark, n_docs: int, out_dir: str) -> None:
    """A corpus with RANGE-CORRELATED term statistics (what real repo
    data looks like: languages/terms cluster by repo, and doc ids follow
    the repo sort): 'skewterm' appears hot (tf 6-9) in the first 2% of
    docs, sporadically (tf 1) in the next 3%, and not at all elsewhere;
    'common' is uniform background. Block-max bounds then VARY by range
    and WAND's wave-2 can skip."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import shutil
    import tempfile

    # The index layout buckets doc ids by hash(order_cols), so term
    # PRESENCE scatters uniformly across ranges no matter how the source
    # clusters — realistic block-max skew therefore comes from per-doc
    # TF variance: 'skewterm' is a background tf=1 term in 10% of docs,
    # with ~120 spike docs at tf 30-50. Ranges without a spike get a
    # block bound below the top-10 threshold and wave 2 skips them.
    rng = np.random.default_rng(17)
    spikes = set(int(x) for x in rng.choice(n_docs, size=120,
                                            replace=False))
    rows = []
    fill = ["alpha", "beta", "gamma", "delta", "code", "parse"]
    for i in range(n_docs):
        words = ["common"] * int(rng.integers(1, 4))
        words += [fill[int(x)] for x in rng.integers(0, len(fill), 6)]
        if i in spikes:
            words += ["skewterm"] * int(rng.integers(30, 51))
        elif rng.random() < 0.1:
            words += ["skewterm"]
        rng.shuffle(words)  # type: ignore[arg-type]
        rows.append((f"repo{i // 1000:04d}", f"f{i:07d}.py", "c0",
                     "py", " ".join(words)))
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                      "content"])
    src_dir = tempfile.mkdtemp(prefix="lss_wand_skew_src_")
    step = (len(pdf) + 31) // 32
    for j in range(32):
        chunk = pdf.iloc[j * step:(j + 1) * step]
        if len(chunk):
            pq.write_table(pa.Table.from_pandas(chunk),
                           f"{src_dir}/part-{j:03d}.parquet")
    from lucene_solr_spark.index.builder import build_index

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    build_index(spark, spark.read.parquet(src_dir), out_dir=out_dir,
                content_col="content", order_cols=["repo", "path"],
                meta_cols=["repo", "lang"], range_size=2048,
                fingerprint="wand-skew")
    shutil.rmtree(src_dir)


#: --crossover indexes: (docs, range_size)
CROSSOVER_INDEXES = ((24_000, 128), (48_000, 1024))


def crossover_spec(kind: str, terms: tuple[str, ...]):
    """The --crossover query of one kind over `terms`: 'or' is a SHOULD
    clause per term; the positional kinds match a term of the first half
    followed (within slop 3, or next for the automaton) by a term of the
    second half, so their scan and block bound equal the OR query's."""
    from lucene_solr_spark.search.engine import BooleanSpec

    if kind == "or":
        return BooleanSpec(should=terms)
    half = max(1, len(terms) // 2)
    a, b = terms[:half], terms[half:]
    if kind == "sloppy":
        return BooleanSpec(phrases=((((a, 0), (b, 1)), 3, "+", 1.0),))
    if kind == "span":
        return BooleanSpec(spans=(("near", (a, b), 3, False),))
    if kind == "automaton":
        arcs = tuple((0, t, 1) for t in a) + tuple((1, t, 2) for t in b)
        return BooleanSpec(term_automaton=(arcs, (2,)))
    raise ValueError(f"unknown --crossover kind {kind!r}")


def crossover(spark, args) -> dict:
    """Driver plan vs distributed plan, median wall time of alternating
    runs, per (index, query kind, query size); every run's rows must
    be equal."""
    import statistics
    import tempfile

    from pyspark.sql import functions as F

    from lucene_solr_spark.corpus import make_corpus
    from lucene_solr_spark.index.builder import BLOCK_SIZE, build_index
    from lucene_solr_spark.search import engine
    from lucene_solr_spark.search.engine import IndexSearcher

    caps = {"driver": 10**9, "distributed": 0}
    out = []
    for n_docs, range_size in CROSSOVER_INDEXES:
        d = os.path.join(tempfile.gettempdir(), f"lss_crossover_{n_docs}_{range_size}")
        if not os.path.exists(os.path.join(d, "_manifest")):
            build_index(spark, spark.createDataFrame(make_corpus(n_docs, seed=5)),
                        out_dir=d, content_col="content",
                        order_cols=["repo", "path", "commit"],
                        meta_cols=["repo", "path", "lang"], range_size=range_size,
                        fingerprint=f"crossover-{n_docs}-{range_size}")
        s = IndexSearcher(spark, d)
        n_ranges = s._est_ranges()
        by_df = [(r["term"], r["df"]) for r in
                 s._term_stats.orderBy(F.col("df").desc(), F.col("term")).collect()]
        for kind, n_terms in [(kind, int(x)) for kind in args.crossover_kinds.split(",")
                              for x in args.crossover_terms.split(",")]:
            terms = by_df[:n_terms]
            bound = sum(min(df, -(-df // BLOCK_SIZE) + n_ranges) for _t, df in terms)
            spec = crossover_spec(kind, tuple(t for t, _df in terms))
            times = {p: [] for p in caps}
            want = None
            for rep in range(args.reps + 1):  # the first round warms both plans
                for plan, cap in caps.items():
                    engine.DRIVER_SCORE_MAX_BLOCKS = cap
                    engine.DRIVER_POSITIONAL_MAX_BLOCKS = cap
                    t0 = time.perf_counter()
                    hits = s.topk_spec(spec, k=args.k, prune=False)
                    rows = [(r["doc_id"], r["score"]) for r in hits.collect()]
                    if rep:
                        times[plan].append(time.perf_counter() - t0)
                    assert plan_of(hits) == plan, (plan, n_terms)
                    want = rows if want is None else want
                    assert rows == want, (n_docs, kind, n_terms, plan)
            row = {"docs": n_docs, "ranges": n_ranges, "kind": kind,
                   "terms": len(terms), "hits": len(want),
                   "block_bound": bound, "identical": True,
                   **{f"{p}_s": round(statistics.median(t), 3) for p, t in times.items()}}
            print(json.dumps(row), file=sys.stderr, flush=True)
            out.append(row)
    return {"k": args.k, "cpus": args.cpus, "reps": args.reps, "rows": out}


def plan_of(df) -> str:
    """Which plan an unpruned topk ran: 'distributed' while the returned
    frame still holds the Python range scorer, 'driver' when topk_spec
    scored the scan on the driver."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "distributed" if "InPandas" in plan else "driver"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", default="/tmp/lss_scale_idx_8")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--queries", default=None,
                    help="comma list; default: hottest + mixed terms")
    ap.add_argument("--skewed", type=int, default=0, metavar="N_DOCS",
                    help="build an N-doc range-skewed corpus instead and "
                         "query 'skewterm common'")
    ap.add_argument("--crossover", action="store_true",
                    help="time the driver plan against the distributed plan "
                         "instead (see the module docstring)")
    ap.add_argument("--crossover-terms", default="2,8,24,48,96,192,384,768",
                    help="comma list of query sizes (most frequent terms)")
    ap.add_argument("--crossover-kinds", default="or",
                    help="comma list of query shapes: or, sloppy, span, "
                         "automaton (see crossover_spec)")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("lss-wand-study")
        .config("spark.sql.shuffle.partitions", str(4 * args.cpus))
        .config("spark.driver.memory", "2g" if args.crossover else "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.crossover:
        print(json.dumps(crossover(spark, args)))
        spark.stop()
        return

    from lucene_solr_spark.search.engine import IndexSearcher

    if args.skewed:
        args.index = f"/tmp/lss_wand_skew_idx_{args.skewed}"
        if not os.path.exists(os.path.join(args.index, "_manifest")):
            build_skewed_index(spark, args.skewed, args.index)
        args.queries = args.queries or "skewterm common,skewterm"

    s = IndexSearcher(spark, args.index)
    n_ranges = max(1, -(-s.doc_count // s._range_size))

    if args.queries:
        queries = args.queries.split(",")
    else:
        # hottest terms by df (stopword-scale) + a hot+rare mix
        hot = [r["term"] for r in (
            s._term_stats.orderBy(F.col("df").desc()).limit(8).collect())]
        mid = [r["term"] for r in (
            s._term_stats.filter(F.col("df") > 1000)
            .orderBy(F.col("df").asc()).limit(2).collect())]
        queries = [hot[0], " ".join(hot[:2]), " ".join(hot[:4]),
                   f"{hot[0]} {mid[0]}"]

    rows = []
    for q in queries:
        # warm both paths once so JVM/codegen warmup doesn't bias either
        s.topk(q, k=args.k, prune=False).collect()

        t0 = time.time()
        off_df = s.topk(q, k=args.k, prune=False)
        off = [(r["doc_id"], float(r["score"])) for r in off_df.collect()]
        t_off = time.time() - t0

        t0 = time.time()
        on = [(r["doc_id"], float(r["score"]))
              for r in s.topk(q, k=args.k, prune=True).collect()]
        t_on = time.time() - t0

        assert on == off, (q, on[:3], off[:3])

        # replicate the two-wave bound math to count surviving ranges
        from lucene_solr_spark.search.bm25 import B, K1

        spec_terms = sorted(set(s._analyze(q)))
        weights = s.term_weights(spec_terms)
        blocks = s._blocks_for(spec_terms)
        wv_map = F.create_map(*[
            x for t, w in weights.items()
            for x in (F.lit(t), F.lit(w["weight_value"]))])
        kb = float(K1) * (1.0 - float(B))
        ub = (wv_map[F.col("term")] * F.col("max_tf")
              / (F.col("max_tf") + F.lit(kb)) + F.lit(1e-5))
        bounds = (blocks.withColumn("_ub", ub)
                  .groupBy("range_id", "term")
                  .agg(F.max("_ub").alias("tub"))
                  .groupBy("range_id").agg(F.sum("tub").alias("bound")))
        n_term_ranges = bounds.count()
        theta = on[-1][1] if len(on) >= args.k else float("-inf")
        surviving = bounds.filter(F.col("bound") > F.lit(theta)).count()
        rows.append({
            "query": q,
            "df": {t: int(weights[t]["df"]) for t in spec_terms},
            "wall_prune_off_s": round(t_off, 3),
            "wall_prune_on_s": round(t_on, 3),
            "plan_prune_off": plan_of(off_df),
            "plan_prune_on": "wand",
            "speedup": round(t_off / t_on, 2) if t_on > 0 else None,
            "ranges_total": n_ranges,
            "ranges_with_term": n_term_ranges,
            "ranges_above_theta": surviving,
            "ranges_skipped": n_term_ranges - surviving,
            "identical": True,
        })
        print(json.dumps(rows[-1]), file=sys.stderr, flush=True)

    print(json.dumps({"doc_count": int(s.doc_count),
                      "range_size": int(s._range_size),
                      "k": args.k, "cpus": args.cpus, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
