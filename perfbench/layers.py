"""Per-layer numbers of a traced run, from spans the benchmark's own
listeners recorded in the child JVM (perfbench/jvm/Trace.scala) and from
the in-process layer ladder (perfbench/jvm/Ladder.scala).

`PER_LAYER` is what every traced run reports in its result line; the
workload-specific layers (cli.*, service.*, sources.records_read_per_record)
are printed in the trace report and kept in the saved trace file.
"""
import json
import os
import statistics

import gen
import jvm
from build import ROOT

LADDER = [
    "sources.scan_s", "expressions.parse_s", "catalog.ets_s",
    "catalog.kpi_s", "engine.validate_s", "engine.violations_s",
    "engine.violation_rows_per_record", "engine.reports_s",
    "engine.verdicts_s", "engine.dataset_rules_s", "engine.uniqueness_s",
    "engine.referential_s", "engine.column_stats_s", "engine.lang_drift_s",
    "engine.cache_mb", "ledger.pending_s", "ledger.commit_s",
]
SPARK = [
    "spark.plan_ms", "spark.codegen_ms", "spark.codegen_classes",
    "spark.cpu_s", "spark.gc_s", "spark.shuffle_bytes", "spark.spill_bytes",
    "spark.task_skew", "spark.jobs",
]
PER_LAYER = LADDER + SPARK + ["main.startup_s", "trace.overhead_ratio"]

# which end-to-end metric each layer should move, and on which workload
MOVES = {
    "sources.scan_s": "records_per_s / batch_typical",
    "sources.records_read_per_record": "records_per_s / batch_typical",
    "expressions.parse_s": "records_per_s / batch_typical",
    "catalog.ets_s": "records_per_s / batch_typical",
    "catalog.kpi_s": "records_per_s / batch_typical",
    "engine.validate_s": "records_per_s / batch_typical",
    "engine.violations_s": "records_per_s, out_bytes_per_in_byte / batch_typical",
    "engine.violation_rows_per_record": "out_bytes_per_in_byte / batch_typical",
    "engine.reports_s": "out_bytes_per_in_byte, records_per_s / batch_typical",
    "engine.verdicts_s": "records_per_s / batch_typical",
    "engine.dataset_rules_s": "records_per_s / batch_typical",
    "engine.uniqueness_s": "records_per_s / batch_typical",
    "engine.referential_s": "records_per_s / batch_typical",
    "engine.column_stats_s": "records_per_s / batch_typical",
    "engine.lang_drift_s": "records_per_s / batch_typical",
    "engine.cache_mb": "peak_rss_mb / batch_typical",
    "ledger.pending_s": "records_per_s / batch_typical",
    "ledger.commit_s": "records_per_s / batch_typical",
    "cli.startup_s": "records_per_s / batch_typical",
    "cli.jobs": "records_per_s / batch_typical",
    "cli.exit_code_s": "records_per_s / batch_typical",
    "service.http_ms": "p50_ms / svc_open",
    "service.exec_ms": "p50_ms, records_per_s / svc_open",
    "service.wait_ms": "p50_ms / svc_open",
    "service.jobs_per_request": "records_per_s / svc_open",
    "spark.plan_ms": "p50_ms / svc_open (small on batch)",
    "spark.codegen_ms": "records_per_s / batch_typical; setup_s / svc_open",
    "spark.codegen_classes": "records_per_s / batch_typical; setup_s / svc_open",
    "spark.cpu_s": "records_per_s / both",
    "spark.gc_s": "records_per_s / batch_typical; setup_s / svc_open",
    "spark.shuffle_bytes": "records_per_s, peak_rss_mb / batch_typical",
    "spark.spill_bytes": "records_per_s, peak_rss_mb / batch_typical",
    "spark.task_skew": "records_per_s / batch_typical",
    "spark.jobs": "records_per_s / both",
    "main.startup_s": "records_per_s / batch_typical; setup_s / svc_open",
    "trace.overhead_ratio": "(tracing cost, not a product layer)",
}
WRITES = ["violations", "reports", "column_stats", "lang_drift",
          "partition_verdicts"]
MOVES.update({f"cli.write_{w}_s": "records_per_s / batch_typical"
              for w in WRITES})


def unit(name):
    for suffix, u in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                      ("_bytes", "bytes")):
        if name.endswith(suffix):
            return u
    if name.endswith(("_ratio", "_per_record", "_skew")):
        return "ratio"
    return "count"


def common(per_layer):
    return {k: {"value": per_layer[k], "unit": unit(k)} for k in PER_LAYER}


def run_ladder(work, table):
    out = os.path.join(work, "ladder.json")
    code, child = jvm.run("ladder", "perfbench.Ladder",
                          [table, out, os.path.join(work, "ladder")], work,
                          heap="2g")
    if code != 0:
        raise RuntimeError(f"perfbench.Ladder exited {code}")
    with open(out) as f:
        return json.load(f)


def _dur_ms(s):
    return max(0, s["end"] - s["start"])


def _plan_ms(s):
    return sum(s.get(f"{p}_ms", 0) for p in
               ("analysis", "optimization", "planning"))


def _skew(stages):
    if not stages:
        return 1.0
    widest = max(stages, key=lambda s: (s["tasks"], _dur_ms(s)))
    return widest["task_max_ms"] / max(1, widest["task_median_ms"])


def _spark(sqls, jobs, stages, codegen_ms, classes, gc_ms):
    return {
        "spark.plan_ms": sum(_plan_ms(s) for s in sqls),
        "spark.codegen_ms": codegen_ms,
        "spark.codegen_classes": classes,
        "spark.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.gc_s": gc_ms / 1000,
        "spark.shuffle_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.task_skew": _skew(stages),
        "spark.jobs": len(jobs),
    }


def _kinds(spans):
    return ([s for s in spans if s["kind"] == "sql"],
            [s for s in spans if s["kind"] == "job"],
            [s for s in spans if s["kind"] == "stage"])


def batch_layers(trace, ladder, n, runs, resume):
    sqls, jobs, stages = _kinds(trace["spans"])
    m = dict(ladder)
    m.update(_spark(sqls, jobs, stages, trace["end_codegen_ms"],
                    trace["end_codegen_classes"], trace["end_gc_ms"]))
    m["main.startup_s"] = resume.wall_s
    m["trace.overhead_ratio"] = runs["traced"].wall_s / runs["untraced"].wall_s
    m["cli.startup_s"] = resume.wall_s
    m["cli.jobs"] = len(jobs)
    m["sources.records_read_per_record"] = \
        sum(s["records_read"] for s in stages) / n
    by_label = {}
    for s in sqls:
        if s["parent"] is None:
            by_label.setdefault(s.get("label", s["name"]), []).append(s)
    for label, ss in by_label.items():
        secs = sum(_dur_ms(s) for s in ss) / 1000
        if label.startswith("write:"):
            m[f"cli.write_{label[6:]}_s"] = secs
        elif label.endswith("failed,parse_errors"):
            m["cli.exit_code_s"] = secs
    m["cli.sql"] = {label: round(sum(_dur_ms(s) for s in ss) / 1000, 3)
                    for label, ss in by_label.items()}
    return m


def _request_spans(trace, reqs):
    """Assign each SQL execution to the request whose send..receive window
    holds its start (requests were sent one at a time)."""
    sqls, jobs, stages = _kinds(trace["spans"])
    out = []
    for i, (kind, key, t0, t1, status, qb, rb) in enumerate(reqs):
        lo, hi = t0 * 1000 - 5, t1 * 1000 + 5
        rs = [s for s in sqls if lo <= s["start"] <= hi]
        ids = {s["id"] for s in rs}
        rj = [j for j in jobs if j["parent"] in ids]
        jids = {j["id"] for j in rj}
        rst = [s for s in stages if s["parent"] in jids]
        for s in rs + rj + rst:
            s["trace"] = f"req-{i}"
        out.append((kind, (t1 - t0) * 1000, rs, rj, rst))
    return out


def svc_layers(trace, ladder, runs):
    m = dict(ladder)
    untraced_child, untraced = runs["untraced"]
    traced_child, traced = runs["traced"]
    per_req = [r for r in _request_spans(trace, traced) if r[2]]
    rows = []
    for kind, lat, sqls, jobs, stages in per_req:
        roots = [s for s in sqls if s["parent"] is None]
        codegen = sum(s["end_codegen_ms"] - s["start_codegen_ms"] for s in roots)
        classes = sum(s["end_codegen_classes"] - s["start_codegen_classes"]
                      for s in roots)
        gc = sum(s["end_gc_ms"] - s["start_gc_ms"] for s in roots)
        row = _spark(sqls, jobs, stages, codegen, classes, gc)
        row["exec_ms"] = sum(_dur_ms(s) for s in roots)
        row["latency_ms"] = lat
        rows.append(row)
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    for k in SPARK:
        m[k] = med[k]
    # after warm-up a request compiles nothing and rarely collects, so
    # codegen and GC are the traced child's totals, as on batch. Those are
    # start-up and warm-up cost: they move setup_s, not p50_ms
    m["spark.codegen_ms"] = trace["end_codegen_ms"]
    m["spark.codegen_classes"] = trace["end_codegen_classes"]
    m["spark.gc_s"] = trace["end_gc_ms"] / 1000
    all_stages = [s for r in per_req for s in r[4]]
    m["spark.task_skew"] = _skew(all_stages)
    m["service.exec_ms"] = med["exec_ms"]
    m["service.wait_ms"] = statistics.median(
        r["latency_ms"] - r["exec_ms"] for r in rows)
    m["service.jobs_per_request"] = med["spark.jobs"]
    m["service.http_ms"] = statistics.median(
        (t1 - t0) * 1000 for k, _, t0, t1, *_ in untraced if k == "get")
    untraced_p50 = statistics.median(
        (t1 - t0) * 1000 for k, _, t0, t1, *_ in untraced if k in gen.SPARK_KINDS)
    m["trace.overhead_ratio"] = statistics.median(
        r["latency_ms"] for r in rows) / untraced_p50
    m["main.startup_s"] = untraced_child.listening_s
    m["service.requests_traced"] = len(rows)
    return m


def _report(per_layer, extra, elapsed):
    print("[perfbench] per-layer numbers (layer  value  unit  -> moves):")
    for k in PER_LAYER + extra:
        if k in per_layer:
            v = per_layer[k]
            print(f"[perfbench]   {k:36s} {v:14.4f} {unit(k):6s} -> "
                  f"{MOVES.get(k, '')}")
    print(f"[perfbench] traced run took {elapsed:.1f} s")


def report_batch(m, runs, elapsed):
    writes = [f"cli.write_{w}_s" for w in WRITES]
    _report(m, ["sources.records_read_per_record", "cli.startup_s",
                "cli.jobs", "cli.exit_code_s"] + writes, elapsed)
    print(f"[perfbench] SQL executions of the traced CLI run (s): "
          f"{json.dumps(m['cli.sql'])}")
    u, t = runs["untraced"].wall_s, runs["traced"].wall_s
    print(f"[perfbench] tracing overhead: cold CLI {u:.3f} s untraced vs "
          f"{t:.3f} s traced (ratio {t / u:.3f})")


def report_svc(m, runs, elapsed):
    _report(m, ["service.http_ms", "service.exec_ms", "service.wait_ms",
                "service.jobs_per_request"], elapsed)
    print(f"[perfbench] tracing overhead: sequential POST p50 ratio traced/"
          f"untraced {m['trace.overhead_ratio']:.3f} over "
          f"{m['service.requests_traced']} Spark-backed requests")


def save_trace(work, workload, seed, trace):
    """Keep the spans of the traced run under .bench_build/traces."""
    d = os.path.join(ROOT, ".bench_build", "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump(trace, f)
