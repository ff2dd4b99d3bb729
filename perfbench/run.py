#!/usr/bin/env python3
"""The repository benchmark: a BM25 code-search index on a seeded corpus.

    python3 perfbench/run.py --workload code_search --seed 1 --seconds 10 --trace 0

Each run starts a fresh Spark JVM with a pinned configuration, generates its
corpus and queries from --seed, builds a fresh index with a cold
`build_index`, warms up on queries from another seed and then runs
`topk(...).collect()` in a closed loop (one client), in whole rounds of
queries, each round on a freshly opened `IndexSearcher`, for --seconds.
Every answer is checked outside the timed windows. The last line of stdout
is one JSON object: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1 (which also writes spans and a per-layer table under
perfbench/out/). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

END_TO_END = {  # gated: BENCHMARK.json lists these
    "query_p50_s": "s", "build_docs_per_s": "docs/s",
    "index_bytes_per_source_byte": "ratio", "peak_rss_gb": "GB", "setup_s": "s",
}
CONTEXT = {  # printed on the line before the result, not gated (see README)
    "query_p90_s": "s", "failed_ops_ratio": "ratio",
}
PER_LAYER = {
    "analysis.query_s": "s/query", "analysis.docs_per_s": "docs/s",
    "index.docs_stage_s": "s", "index.postings_stage_s": "s", "index.stats_stage_s": "s",
    "index.shuffle_write_bytes": "bytes", "index.shuffle_skew": "ratio",
    "index.python_cpu_s": "s", "index.postings_bytes": "bytes", "index.docs_bytes": "bytes",
    "index.term_stats_bytes": "bytes", "search.open_s": "s", "search.term_stats_s": "s/query",
    "search.term_cache_hit_ratio": "ratio", "search.jobs_per_query": "count",
    "search.tasks_per_query": "count", "search.driver_s_per_query": "s",
    "search.scan_bytes_per_query": "bytes", "search.scan_rows_per_query": "rows",
    "search.python_bytes_per_query": "bytes", "search.blocks_scored_ratio": "ratio",
    "search.executor_cpu_s_per_query": "s", "search.executor_wait_s_per_query": "s",
    "search.python_cpu_s_per_query": "s",
}
K = 10
SHUFFLE_PARTITIONS = 2
WARMUP_ROUNDS = 2
META = ["repo", "path", "lang"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the tests run a tiny scale)")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def host_probe_s() -> float:
    """Fixed single-process work (numpy stream + string split), as in
    tools/host_probe.py: context for comparing runs, not a metric."""
    import numpy as np

    a = np.arange(4_000_000, dtype=np.float64)
    s = "word7 " * 120_000
    t0 = time.perf_counter()
    for _ in range(4):
        float((a * 1.0001).sum())
        len(s.split(" "))
    return time.perf_counter() - t0


def pin_cpus() -> int:
    """Pin this process, and so the JVM and Python workers it starts, to
    cpus + 1 of the cpus it may use, and return cpus, the Spark task slots:
    half of them. Every Spark task of a pandas UDF keeps a JVM thread and a
    Python worker busy, so local[n] runs about 2n processes; the extra cpu
    is for this process and the JVM's own threads. On a shared virtual
    machine, spreading the query's many cross-process round trips over
    every cpu made a slow phase of the host slow the queries twice as much
    as the build (see STEADINESS.md)."""
    allowed = sorted(os.sched_getaffinity(0))
    cpus = max(1, len(allowed) // 2)
    os.sched_setaffinity(0, allowed[:min(len(allowed), cpus + 1)])
    return cpus


def start_spark(run_dir: str, traced: bool, cpus: int):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cpus}]").appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # a fixed heap that every run fills: steady peak RSS
         .config("spark.driver.memory", "1g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp "
                 f"-Dderby.system.home={run_dir}/tmp"))
    if traced:
        os.makedirs(os.path.join(run_dir, "events"))
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + os.path.join(run_dir, "events"))
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, the JVM and the Python workers, and wait for all."""
    from spans import descendants

    pids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
        for p in pids:  # reap any that were ours
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def _warm_workers(it):
    import lucene_solr_spark.search.engine  # noqa: F401

    yield from it


class Bench:
    def __init__(self, args, run_dir: str, cpus: int):
        import gen

        self.args, self.cpus = args, cpus
        self.w = gen.scaled(gen.WORKLOADS[args.workload], args.scale)
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0

    # ------------------------------------------------------------ helpers
    def _fail_if(self, failed: bool, what: str) -> None:
        if failed:
            self.failed += 1
            self.failures.append(what)

    def _parquet(self, pdf) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.run_dir, "src")
        os.makedirs(path)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, "part-0.parquet"))
        return path

    @staticmethod
    def _answer(df) -> list[tuple[int, float]]:
        return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]

    # -------------------------------------------------------------- run
    def run(self) -> dict:
        import gen
        from spans import RssSampler, Tracer

        a, w = self.args, self.w
        # the JVM boots on other cores while this thread generates the inputs
        with ThreadPoolExecutor(1) as pool:
            starting = pool.submit(start_spark, self.run_dir, a.trace == 1, self.cpus)
            corpus = gen.make_inputs(w, a.seed)
            self.corpus = corpus
            queries = gen.make_queries(w, corpus, a.seed, 2000)
            warmup = gen.make_queries(w, corpus, a.seed + 7919, WARMUP_ROUNDS * w.round_size)
            src = self._parquet(corpus.docs)
            log("inputs generated")
            self.spark = starting.result()
        spark = self.spark
        self.tr = Tracer(spark.sparkContext if a.trace else None)
        try:
            with RssSampler(os.getpid()) as rss:
                # worker warm-up: spawn the Python workers and import the engine
                spark.range(self.cpus * 4, numPartitions=self.cpus).mapInPandas(
                    _warm_workers, schema="id long").count()
                log("spark started, workers warm")
                timed = self._measure(queries, warmup, src)
            timed["peak_rss_gb"] = rss.peak / 1e9
            extra = self._trace_extras() if a.trace else {}
            self._check()
        finally:
            stop_spark(spark)
        groups = None
        if a.trace:
            from spans import read_event_log

            groups = read_event_log(os.path.join(self.run_dir, "events"))
        return self._report(timed, extra, groups)

    def _measure(self, queries, warmup, src) -> dict:
        from lucene_solr_spark.analysis.tokenizer import analyze
        from lucene_solr_spark.index.builder import build_index
        from lucene_solr_spark.search.engine import IndexSearcher

        spark, tr, w, corpus = self.spark, self.tr, self.w, self.corpus
        self.index_dir = os.path.join(self.run_dir, "index")
        out = {}

        kw = {} if w.range_size is None else {"range_size": w.range_size}
        t0 = time.time()
        with tr.span("build_index", cpu=True):
            build_index(spark, spark.read.parquet(src), out_dir=self.index_dir,
                        content_col="content", order_cols=["repo", "path", "commit"],
                        meta_cols=META, fingerprint=f"perfbench-{w.name}-{self.args.seed}", **kw)
        build_s = time.time() - t0
        log(f"build_index {build_s:.2f}s")
        out["build_docs_per_s"] = len(corpus.docs) / build_s
        src_bytes = sum(len(c.encode("utf-8")) for c in corpus.docs["content"])
        self.index_parts = {p: dir_bytes(os.path.join(self.index_dir, p))
                            for p in ("postings", "docs", "term_stats")}
        out["index_bytes_per_source_byte"] = dir_bytes(self.index_dir) / src_bytes
        self.stage_s = {}
        for stage in ("docs", "postings", "stats"):
            with open(os.path.join(self.index_dir, "_manifest", f"{stage}.json")) as f:
                self.stage_s[stage] = float(json.load(f)["wall_s"])
        self.attempted += 1

        # ---- warm up on another seed's queries, a fresh searcher per round ----
        for r in range(WARMUP_ROUNDS):
            with tr.span("IndexSearcher"):
                searcher = IndexSearcher(spark, self.index_dir)
            for q in warmup[r * w.round_size:(r + 1) * w.round_size]:
                searcher.topk(q.text, k=K, mode=q.mode, prune=q.prune).collect()
        out["setup_s"] = time.time() - T_START
        log("setup done")

        # ---- timed closed loop, one client, in whole rounds ----
        # Each round reopens the searcher, as a reader reopened after a
        # commit, so its term-stats cache starts empty and the round's own
        # repeats set the hit rate. Without that, the hit rate (and so the
        # latency) would grow with the number of queries that fit in
        # --seconds, amplifying any slowdown of the host.
        lat, answers, hits, n_terms, self.rounds = [], [], 0, 0, 0
        deadline = time.time() + self.args.seconds
        while (self.rounds == 0 or time.time() < deadline) \
                and (self.rounds + 1) * w.round_size <= len(queries):
            with tr.span("IndexSearcher"):
                self.searcher = searcher = IndexSearcher(spark, self.index_dir)
            seen: set[str] = set()
            for qid in range(self.rounds * w.round_size, (self.rounds + 1) * w.round_size):
                q = queries[qid]
                with tr.span("query", qid):
                    if tr.enabled:
                        with tr.span("analyze", qid):
                            terms = analyze(q.text)
                        with tr.span("term_weights", qid):
                            searcher.term_weights(terms)
                    else:
                        terms = analyze(q.text)
                    with tr.span("topk", qid, cpu=True):
                        t0 = time.perf_counter()
                        rows = searcher.topk(q.text, k=K, mode=q.mode, prune=q.prune).collect()
                        lat.append(time.perf_counter() - t0)
                answers.append([(int(r["doc_id"]), float(r["score"])) for r in rows])
                hits += sum(t in seen for t in terms)
                n_terms += len(terms)
                seen.update(terms)
            self.rounds += 1
        self.answers, self.latencies = answers, lat
        self.timed_queries = queries[:len(answers)]
        self.cache_hit_ratio = hits / max(n_terms, 1)
        out["query_p50_s"] = statistics.median(lat)
        out["query_p90_s"] = statistics.quantiles(lat, n=10, method="inclusive")[-1] \
            if len(lat) > 1 else lat[0]
        return out

    # ------------------------------------------------------------ checks
    def _check(self) -> None:
        """Outside every timed window: code_search, every distinct timed query
        vs the oracle; hot_topk, every prune=True query vs its prune=False
        answer, and a seeded sample of two distinct queries vs the oracle."""
        import numpy as np

        import check
        from lucene_solr_spark.search.oracle import oracle_topk

        t0 = time.time()
        docs = self.corpus.docs
        distinct: dict[tuple, list] = {}
        for q, ans in zip(self.timed_queries, self.answers):
            distinct.setdefault((q.text, q.mode, q.prune), []).append(ans)
        self.attempted += len(self.answers)
        sample = list(distinct)
        if self.w.name == "hot_topk":
            for (text, mode, prune), runs in distinct.items():
                if prune:
                    ref = self._answer(self.searcher.topk(text, k=K, mode=mode, prune=False))
                    self._fail_if(any(ans != ref for ans in runs), f"pruned != unpruned: {text!r}")
            rng = np.random.default_rng([self.args.seed, 3])
            sample = [sample[i] for i in sorted(rng.choice(len(sample), size=min(2, len(sample)),
                                                           replace=False))]
        stats = check.DocStats(check.query_terms([key[0] for key in sample]))
        rows = (self.spark.read.parquet(os.path.join(self.index_dir, "docs"))
                .select("doc_id", "path").collect())
        by_path = {r["path"]: int(r["doc_id"]) for r in rows}
        stats.add([by_path[p] for p in docs["path"]], docs["content"])
        oracle = stats.oracle()
        for key in sample:
            want = oracle_topk(oracle, key[0], k=K, mode=key[1])
            self._fail_if(any(not check.same(ans, want) for ans in distinct[key]),
                          f"engine != oracle: {key}")
        self.check_s = time.time() - t0
        log(f"checks {self.check_s:.2f}s")

    # ------------------------------------------------------------ traced
    def _trace_extras(self) -> dict:
        """Traced run only: single-process analysis rate over a seeded sample
        of the corpus, and the block count of each timed query's terms."""
        import numpy as np
        from pyspark.sql import functions as F

        from lucene_solr_spark.analysis.tokenizer import analyze

        rng = np.random.default_rng([self.args.seed, 4])
        docs = self.corpus.docs["content"]
        texts = docs.iloc[rng.choice(len(docs), size=min(2000, len(docs)), replace=False)].tolist()
        with self.tr.span("analyze_docs"):
            t0 = time.perf_counter()
            for t in texts:
                analyze(t)
            docs_per_s = len(texts) / (time.perf_counter() - t0)
        postings = self.spark.read.parquet(os.path.join(self.index_dir, "postings"))
        blocks = {}
        with self.tr.span("count_blocks"):
            for q in self.timed_queries:
                if q.text not in blocks:
                    terms = sorted(set(analyze(q.text)))
                    blocks[q.text] = postings.filter(F.col("term").isin(terms)).count()
        return {"docs_per_s": docs_per_s, "blocks": blocks}

    # ------------------------------------------------------------ report
    def _report(self, timed: dict, extra: dict, groups: dict | None) -> dict:
        result = {"correct": self.failed == 0, "attempted": self.attempted,
                  "failed": self.failed}
        timed["failed_ops_ratio"] = self.failed / self.attempted
        info = {"workload": self.w.name, "seed": self.args.seed, "cpus": self.cpus,
                "pinned_cpus": sorted(os.sched_getaffinity(0)),
                "queries_timed": len(self.latencies), "rounds": self.rounds,
                "latencies_s": [round(x, 4) for x in self.latencies],
                "failures": self.failures[:20],
                "check_s": round(self.check_s, 3),
                "host_probe_s": round(host_probe_s(), 4),
                "end_to_end": {k: {"value": timed[k], "unit": u}
                               for k, u in {**END_TO_END, **CONTEXT}.items()}}
        if groups is None:
            result["metrics"] = {k: info["end_to_end"][k] for k in END_TO_END}
        else:
            from layers import per_layer

            layers, table = per_layer(self, extra, groups, timed, OUT, PER_LAYER)
            result["metrics"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            info["trace_dir"] = table
        print(json.dumps(info), flush=True)
        return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        print(f"perfbench: no lucene_solr_spark package next to {HERE}", file=sys.stderr)
        return 2
    cpus = pin_cpus()  # before any thread or child process starts
    sys.path.insert(0, ROOT)
    import gen

    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(gen.WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(OUT, f"run-{os.getpid()}-{int(T_START * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # the engine's Python workers import the package from the checkout; all
    # temp files stay inside the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # keep spark-submit's launcher JVM from writing perf data outside the run dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for var in ("SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    try:
        result = Bench(args, run_dir, cpus).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
