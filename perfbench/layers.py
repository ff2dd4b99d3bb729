"""Per-layer metrics of a traced run, from its spans and Spark event log.

Writes spans.jsonl, layers.json and layers.md under
perfbench/out/trace-<workload>-seed<seed>/ and returns the metrics.
"""

from __future__ import annotations

import json
import os

from spans import covered, median, self_time


def per_layer(bench, extra: dict, groups: dict, timed: dict, out_root: str,
              units: dict) -> tuple[dict, str]:
    """bench: the finished run; extra: its traced-only measurements; groups:
    the event log per job group; timed: the run's end-to-end values."""
    tr = bench.tr
    spans = tr.spans
    g = lambda s: groups[s["group"]]  # noqa: E731
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    qids = set(range(len(bench.latencies)))
    topk = {s["qid"]: s for s in tr.by_name("topk", qids)}
    tw = {s["qid"]: s for s in tr.by_name("term_weights", qids)}

    per_query = []
    for qid in sorted(qids):
        parts = [tw[qid], topk[qid]]  # what an untraced topk call does
        groups_q = [g(s) for s in parts]
        jobs = [iv for gq in groups_q for iv in gq["jobs"]]
        busy = sum(covered(jobs, s["start"], s["end"]) for s in parts)
        per_query.append({
            "qid": qid,
            "jobs": sum(s["jobs"] for s in parts),
            "tasks": sum(s["tasks"] for s in parts),
            "driver_s": sum(dur(s) for s in parts) - busy,
            "scan_bytes": sum(gq["input_bytes"] for gq in groups_q),
            "scan_rows": sum(gq["input_rows"] for gq in groups_q),
            "python_bytes": g(topk[qid])["python_bytes"],
            "scorer_rows": g(topk[qid])["scorer_rows"],
            "cpu_s": sum(gq["cpu_s"] for gq in groups_q),
            "wait_s": sum(gq["run_s"] - gq["cpu_s"] for gq in groups_q),
            "python_cpu_s": topk[qid].get("python_cpu_s", 0.0),
            "unattributed_s": self_time(next(s for s in tr.by_name("query", {qid})), spans),
        })
    pq = lambda key: median(q[key] for q in per_query)  # noqa: E731
    build = tr.by_name("build_index")[0]
    read = sorted(g(build)["shuffle_read_bytes"])
    blocks_total = sum(extra["blocks"][q.text] for q in bench.timed_queries)
    scored = sum(q["scorer_rows"] for q in per_query)
    m = {
        "analysis.query_s": median(dur(s) for s in tr.by_name("analyze", qids)),
        "analysis.docs_per_s": extra["docs_per_s"],
        "index.docs_stage_s": bench.stage_s["docs"],
        "index.postings_stage_s": bench.stage_s["postings"],
        "index.stats_stage_s": bench.stage_s["stats"],
        "index.shuffle_write_bytes": g(build)["shuffle_write_bytes"],
        "index.shuffle_skew": read[-1] / median(read) if read else 1.0,
        "index.python_cpu_s": build["python_cpu_s"],
        "index.postings_bytes": bench.index_parts["postings"],
        "index.docs_bytes": bench.index_parts["docs"],
        "index.term_stats_bytes": bench.index_parts["term_stats"],
        "search.open_s": median(dur(s) for s in tr.by_name("IndexSearcher")),
        "search.term_stats_s": median(dur(s) for s in tw.values()),
        "search.term_cache_hit_ratio": bench.cache_hit_ratio,
        "search.jobs_per_query": pq("jobs"),
        "search.tasks_per_query": pq("tasks"),
        "search.driver_s_per_query": pq("driver_s"),
        "search.scan_bytes_per_query": pq("scan_bytes"),
        "search.scan_rows_per_query": pq("scan_rows"),
        "search.python_bytes_per_query": pq("python_bytes"),
        "search.blocks_scored_ratio": scored / blocks_total if blocks_total else 0.0,
        "search.executor_cpu_s_per_query": pq("cpu_s"),
        "search.executor_wait_s_per_query": pq("wait_s"),
        "search.python_cpu_s_per_query": pq("python_cpu_s"),
    }
    table_only = {"search.unattributed_s_per_query": pq("unattributed_s")}

    out_dir = os.path.join(out_root, f"trace-{bench.w.name}-seed{bench.args.seed}")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps({**s, "self_s": self_time(s, spans), **{
                k: v for k, v in g(s).items() if k != "shuffle_read_bytes"}}) + "\n")
    names = sorted({s["name"] for s in spans})
    self_by_name = {n: [self_time(s, spans) for s in spans if s["name"] == n] for n in names}
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump({"per_layer": m, "table_only": table_only, "per_query": per_query,
                   "end_to_end_traced": timed,
                   "self_s_total": {n: sum(v) for n, v in self_by_name.items()}}, f, indent=1)
    lines = [f"# Traced run: {bench.w.name}, seed {bench.args.seed}", "",
             "| layer metric | value | unit |", "|---|---|---|"]
    units = {**units, "search.unattributed_s_per_query": "s"}
    for k, v in {**m, **table_only}.items():
        lines.append(f"| {k} | {v:.6g} | {units[k]} |")
    lines += ["", "| span | count | total s | self s (total) | median s |", "|---|---|---|---|---|"]
    for n in names:
        d = [dur(s) for s in spans if s["name"] == n]
        lines.append(f"| {n} | {len(d)} | {sum(d):.4f} | {sum(self_by_name[n]):.4f} | "
                     f"{median(d):.4f} |")
    lines += ["", "`query` self time is the unattributed remainder of each timed query: "
              "wall time between its analyze, term_weights and topk spans.",
              "`search.driver_s_per_query` is the time of term_weights + topk during which "
              "no Spark job of theirs ran.", ""]
    with open(os.path.join(out_dir, "layers.md"), "w") as f:
        f.write("\n".join(lines))
    return m, out_dir
