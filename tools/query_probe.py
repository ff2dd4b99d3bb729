#!/usr/bin/env python3
"""Per-entry-point query probe: latency, Spark jobs and py4j calls of one
two-term query through every top-k entry point.

Builds a 6,000-doc index (make_corpus(seed=3, vocab_size=2000),
range_size=128, 47 doc ranges) on local[2] in a temp dir, opens one
IndexSearcher, and for each entry point runs `entry(searcher).collect()`
once to warm up and then 7 timed times over the terms `parse merge`.
Prints one JSON line per entry point:

  median_ms  median wall time of the 7 timed calls
  jobs       Spark jobs per call (the job group of the timed calls)
  py4j       py4j commands per call (ClientServerConnection.send_command,
             less py4j's own "m\\n" memory commands)
  host_s     tools/host_probe.py's single-process work, timed right after,
             so rows taken on a slow host phase can be told apart

Usage: python3 tools/query_probe.py [entry ...]   (default: all of them)
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TERMS = "parse merge"
RUNS = 7
_XML_OR = (
    '<BooleanQuery fieldName="text">'
    + "".join(f'<Clause occurs="should"><TermQuery>{t}</TermQuery></Clause>'
              for t in TERMS.split())
    + "</BooleanQuery>"
)

#: entry point -> the probe's call of it, over TERMS
ENTRY_POINTS = {
    "topk": lambda s: s.topk(TERMS, k=10),
    "topk_simple": lambda s: s.topk_simple(TERMS, k=10),
    "topk_xml": lambda s: s.topk_xml(_XML_OR, k=10),
    "topk_synonym": lambda s: s.topk_synonym(TERMS, k=10),
    "topk_span_or": lambda s: s.topk_span_or(TERMS.split(), k=10),
    "topk_blended": lambda s: s.topk_blended(TERMS, k=10),
    "topk_flexible": lambda s: s.topk_flexible(TERMS, k=10),
    "topk_boosting": lambda s: s.topk_boosting("parse", "merge", 0.5, k=10),
    "topk_fuzzy_like_this_ref": lambda s: s.topk_fuzzy_like_this_ref([(TERMS, 0.5, 3)], k=10),
    "topk_payload_score": lambda s: s.topk_payload_score(TERMS.split(), k=10),
    "topk_surround": lambda s: s.topk_surround("or(parse, merge)", k=10),
    "topk_phrase": lambda s: s.topk_phrase(TERMS, k=10),
    "topk_phrase_slop2": lambda s: s.topk_phrase(TERMS, k=10, slop=2),
    "topk_span_near_unordered": lambda s: s.topk_span_near(
        TERMS.split(), slop=3, in_order=False, k=10),
    "topk_span_near_ordered": lambda s: s.topk_span_near(TERMS.split(), slop=3, k=10),
}


def probe(spark, searcher, name: str, call) -> dict:
    from host_probe import work
    from py4j.clientserver import ClientServerConnection

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    real = ClientServerConnection.send_command
    sent = []

    def counting(conn, command):
        if not command.startswith("m\n"):
            sent.append(1)
        return real(conn, command)

    call(searcher).collect()
    times = []
    group = f"query-probe-{name}"
    for _ in range(RUNS):
        gc.collect()
        sc.setJobGroup(group, name)
        ClientServerConnection.send_command = counting
        try:
            t0 = time.perf_counter()
            call(searcher).collect()
            times.append(time.perf_counter() - t0)
        finally:
            ClientServerConnection.send_command = real
            sc.setLocalProperty("spark.jobGroup.id", None)
    return {
        "entry": name,
        "median_ms": round(1000 * statistics.median(times), 1),
        "jobs": len(tracker.getJobIdsForGroup(group)) / RUNS,
        "py4j": len(sent) / RUNS,
        "host_s": round(work(0), 3),
    }


def main() -> None:
    from lucene_solr_spark.corpus import make_corpus
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.engine import IndexSearcher
    from lucene_solr_spark.session import get_spark

    names = sys.argv[1:] or list(ENTRY_POINTS)
    spark = get_spark("query_probe", cpus=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix="lss_query_probe_")
    try:
        build_index(
            spark, spark.createDataFrame(make_corpus(6_000, seed=3, vocab_size=2000)),
            out_dir=os.path.join(out, "idx"), content_col="content",
            order_cols=["repo", "path", "commit"], meta_cols=["repo", "path", "lang"],
            range_size=128, fingerprint="query-probe-6000",
        )
        searcher = IndexSearcher(spark, os.path.join(out, "idx"))
        for name in names:
            print(json.dumps(probe(spark, searcher, name, ENTRY_POINTS[name])), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
