"""Production-path benchmark of graft: cold `graft.cli.Main` batch runs and
open-loop latency of `graft.service.Wcmp2Service`, both launched as child
JVMs from a build of this checkout.

    python3 perfbench/run.py --svc-rate 2.5 --workload batch_typical \
        --seed 1 --seconds 20 --trace 0

`--trace 0` measures the end-to-end metrics untraced; `--trace 1` makes the
traced run that gives the per-layer numbers. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Metric
definitions are in perfbench/README.md.
"""
import argparse
import hashlib
import http.client
import json
import os
import queue
import random
import shutil
import socket
import statistics
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
import jvm  # noqa: E402
import layers  # noqa: E402
from build import ROOT, build  # noqa: E402

RUN_DATETIME = "2026-01-01T00:00:00Z"
CLI = "graft.cli.Main"
SERVICE = "graft.service.Wcmp2Service"
RECORDS = 10000             # batch input size
BATCH_HEAP = "3g"
SERVICE_HEAP = "2g"
LATENESS_BOUND_MS = 100.0   # generator lateness above this voids a run
CLOSED_REQUESTS = 40        # closed-loop phase: 4 clients x 10 requests
WARM_BURST = 100            # concurrent warm-up requests before timing
TRACE_WARM = 24             # the same, before the traced run's requests
SETTLE_S = 3.0              # idle after warm-up: the JIT compile queue drains
CLIENTS = 4
PROCESS_IDS = {"ets": "pywcmp-wis2-wcmp2-ets", "ets_gate": "pywcmp-wis2-wcmp2-ets",
               "kpi": "pywcmp-wis2-wcmp2-kpi",
               "not_json": "pywcmp-wis2-wcmp2-ets",
               "missing": "pywcmp-wis2-wcmp2-ets"}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def median(xs):
    return statistics.median(xs)


def metric(value, unit):
    return {"value": value, "unit": unit}


# ------------------------------------------------------------------ batch

def batch_setup(seed, n, work, repeats):
    """Generate the input table and the expected outputs `repeats` times
    (timing each); returns (expected, input dir, input bytes, times)."""
    times = []
    for i in range(repeats):
        t0 = time.monotonic()
        path = os.path.join(work, f"in{i}")
        shutil.rmtree(path, ignore_errors=True)
        rows, expected = gen.batch_records(seed, n)
        in_bytes = gen.write_table(rows, path)
        times.append(time.monotonic() - t0)
    return expected, path, in_bytes, times


def batch_child(name, work, input_dir, out_dir, props=()):
    args = ["--input", input_dir, "--output", out_dir,
            "--run-datetime", RUN_DATETIME]
    return jvm.run(name, CLI, args, work, heap=BATCH_HEAP, props=props)


def run_batch(args, work):
    n = RECORDS
    repeats = 1 if args.trace else 5
    expected, input_dir, in_bytes, setup_times = batch_setup(
        args.seed, n, work, repeats)
    log(f"input: {n} records, {in_bytes} bytes; setup "
        f"{[round(t, 3) for t in setup_times]} s")
    if args.trace:
        return trace_batch(args, work, expected, input_dir, n)

    walls, peaks, ratios, failed = [], [], [], 0
    t_start = time.monotonic()
    while True:
        out_dir = os.path.join(work, f"out{len(walls)}")
        code, child = batch_child(f"cli{len(walls)}", work, input_dir, out_dir)
        problems = check.check_batch(out_dir, expected, code)
        failed += bool(problems)
        for p in problems:
            log(f"CHECK FAILED: {p}")
        walls.append(child.wall_s)
        peaks.append(child.peak_rss_mb)
        ratios.append(gen.tree_bytes(out_dir) / in_bytes)
        log(f"cold CLI run {len(walls)}: exit {code}, {child.wall_s:.3f} s, "
            f"peak RSS {child.peak_rss_mb:.0f} MB, "
            f"{'verified' if not problems else 'WRONG'}")
        shutil.rmtree(out_dir, ignore_errors=True)
        elapsed = time.monotonic() - t_start
        if elapsed + child.wall_s > args.seconds:
            break
    return {
        "attempted": len(walls), "failed": failed,
        "metrics": {
            "setup_s": metric(median(setup_times), "s"),
            "records_per_s": metric(n / median(walls), "records/s"),
            "p50_ms": metric(1000 * median(walls), "ms"),
            "out_bytes_per_in_byte": metric(median(ratios), "ratio"),
            "peak_rss_mb": metric(median(peaks), "MB"),
        }}


def trace_batch(args, work, expected, input_dir, n):
    """Untraced cold run, traced cold run, a cold run on the committed
    ledger, and the in-process layer ladder."""
    t_setup = time.monotonic()
    failed = 0
    runs = {}
    for name, props in (("untraced", ()),
                        ("traced", jvm.TRACE_PROPS + [
                            "-Dperfbench.trace.out=" +
                            os.path.join(work, "trace.json")])):
        out_dir = os.path.join(work, f"out-{name}")
        code, child = batch_child(f"cli-{name}", work, input_dir, out_dir,
                                  props)
        problems = check.check_batch(out_dir, expected, code)
        for p in problems:
            log(f"CHECK FAILED ({name}): {p}")
        failed += bool(problems)
        runs[name] = child
        log(f"{name} cold CLI run: exit {code}, {child.wall_s:.3f} s")
    code, resume = batch_child("cli-resume", work, input_dir,
                               os.path.join(work, "out-traced"))
    if code != 0 or "nothing to do" not in resume.stdout():
        log(f"CHECK FAILED: resume on a committed ledger exited {code}")
        failed += 1
    with open(os.path.join(work, "trace.json")) as f:
        trace = json.load(f)
    ladder = layers.run_ladder(work, input_dir)
    per_layer = layers.batch_layers(trace, ladder, n, runs, resume)
    layers.report_batch(per_layer, runs, time.monotonic() - t_setup)
    layers.save_trace(work, "batch_typical", args.seed, trace)
    return {"attempted": 3, "failed": failed,
            "metrics": layers.common(per_layer)}


# ------------------------------------------------------------------ service

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Client:
    """One keep-alive HTTP connection to the service."""

    def __init__(self, port):
        self.port = port
        self.conn = None

    def send(self, kind, key, pool):
        if kind == "get":
            method, path, body = "GET", "/processes", None
        else:
            method = "POST"
            path = f"/processes/{PROCESS_IDS[kind]}/execution"
            inputs = {}
            if kind != "missing":
                inputs["record"] = pool[key]
            if kind in ("ets", "ets_gate"):
                inputs["fail_on_schema_validation"] = kind == "ets_gate"
            body = json.dumps({"inputs": inputs}).encode()
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection(
                    "127.0.0.1", self.port, timeout=60)
            try:
                self.conn.request(method, path, body=body,
                                  headers={"Content-Type": "application/json"})
                r = self.conn.getresponse()
                data = r.read()
                return r.status, data.decode("utf-8"), len(body or b""), \
                    len(data)
            except ConnectionError:
                # a keep-alive connection the server closed: reconnect once
                self.conn.close()
                self.conn = None
                if attempt:
                    raise

    def close(self):
        if self.conn is not None:
            self.conn.close()


def start_service(work, name, props=()):
    port = free_port()
    child = jvm.Child(name, SERVICE, ["--port", str(port)], work,
                      heap=SERVICE_HEAP, props=props)
    deadline = time.monotonic() + 120
    while "listening" not in child.stdout():
        if child.proc.poll() is not None or time.monotonic() > deadline:
            child.stop()
            raise RuntimeError(f"{name} did not start")
        time.sleep(0.05)
    child.listening_s = time.monotonic() - child.t0
    return child, port


def expect_answers(work, pool):
    """Expected answers for every pool record from perfbench.Expect. The
    pool is fixed, so they are derived once per build of the checkout and
    kept under .bench_build/expect."""
    text = "".join(json.dumps({"key": k, "record": v}) + "\n"
                   for k, v in pool.items())
    key = hashlib.sha256((build() + RUN_DATETIME + text).encode()).hexdigest()
    cache = os.path.join(ROOT, ".bench_build", "expect", key[:24] + ".jsonl")
    if not os.path.exists(cache):
        pool_path = os.path.join(work, "pool.jsonl")
        out_path = os.path.join(work, "expect.jsonl")
        with open(pool_path, "w") as f:
            f.write(text)
        code, _ = jvm.run("expect", "perfbench.Expect",
                          [pool_path, RUN_DATETIME, out_path], work, heap="1g")
        if code != 0:
            raise RuntimeError(f"perfbench.Expect exited {code}")
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        os.replace(out_path, cache)
    with open(cache) as f:
        return {e["key"]: e for e in map(json.loads, f)}


def sequential(client, reqs, pool, expect, problems, gap=0.0):
    """Send requests one at a time; [(kind, key, t_send, t_done, status,
    req bytes, resp bytes)] with epoch-second times."""
    out = []
    for kind, key in reqs:
        t0 = time.time()
        status, body, qb, rb = client.send(kind, key, pool)
        t1 = time.time()
        p = check.check_response(kind, key, status, body, expect)
        if p:
            problems.append(p)
        out.append((kind, key, t0, t1, status, qb, rb))
        if gap:
            time.sleep(gap)
    return out


def open_loop(port, schedule, pool, expect, problems):
    """Send `schedule` on time from CLIENTS threads (a request waits for a
    free client as it would for a free server thread). Latency runs from
    each request's scheduled time; lateness is how late the generator
    handed a request over. Returns ([(kind, latency s)], [lateness s],
    request bytes, response bytes)."""
    q = queue.Queue()
    done, late, nbytes = [], [], [0, 0]
    lock = threading.Lock()

    def worker():
        c = Client(port)
        while True:
            item = q.get()
            if item is None:
                break
            due, kind, key = item
            try:
                status, body, qb, rb = c.send(kind, key, pool)
            except OSError as e:
                with lock:
                    problems.append(f"{kind} {key}: {e}")
                continue
            t = time.monotonic()
            p = check.check_response(kind, key, status, body, expect)
            with lock:
                done.append((kind, t - due))
                nbytes[0] += qb
                nbytes[1] += rb
                if p:
                    problems.append(p)
        c.close()

    threads = [threading.Thread(target=worker) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    t0 = time.monotonic() + 0.1
    for off, kind, key in schedule:
        due = t0 + off
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        late.append(time.monotonic() - due)
        q.put((due, kind, key))
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join()
    return done, late, nbytes[0], nbytes[1]


def closed_loop(port, reqs, pool, expect, problems):
    """CLIENTS clients, each sending its share back to back. Returns
    completions per second while every client was still busy (the tail
    where clients drop out one by one is not capacity)."""
    shares = [reqs[i::CLIENTS] for i in range(CLIENTS)]
    finished = [[] for _ in shares]

    def client(i):
        c = Client(port)
        try:
            for r in sequential(c, shares[i], pool, expect, problems):
                finished[i].append(r[3])
        except OSError as e:
            problems.append(f"closed loop: {e}")
        c.close()

    threads = [threading.Thread(target=client, args=(i,))
               for i in range(CLIENTS)]
    t0 = time.time()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if not all(finished):
        return 0.0
    t_end = min(f[-1] for f in finished)
    return sum(t <= t_end for f in finished for t in f) / (t_end - t0)


def run_svc(args, work):
    # before the set-up clock: on a cache miss this launches a JVM of the
    # benchmark's own, which would make set-up differ between hit and miss
    pool = gen.svc_pool()
    expect = expect_answers(work, pool)
    t0 = time.monotonic()
    schedule = gen.svc_schedule(args.seed, pool, args.svc_rate,
                                round(args.svc_rate * args.seconds))
    # warm-up and capacity requests do not depend on the seed: the JIT
    # profile the warm-up leaves behind moves every later number
    rng = random.Random(31337)
    warm_burst = gen.svc_requests(rng, pool, WARM_BURST, gen.SVC_POSTS)
    trace_warm = warm_burst[:TRACE_WARM]
    closed = gen.svc_requests(rng, pool, CLOSED_REQUESTS, gen.SVC_POSTS)
    if args.trace:
        return trace_svc(args, work, pool, expect, trace_warm, t0)
    svc, port = start_service(work, "service")
    problems = []
    try:
        closed_loop(port, warm_burst, pool, expect, problems)
        time.sleep(SETTLE_S)
        setup_s = time.monotonic() - t0
        log(f"setup {setup_s:.3f} s (service listening after "
            f"{svc.listening_s:.3f} s)")
        done, late, qb, rb = open_loop(port, schedule, pool, expect, problems)
        # last, when the JIT is warmest: capacity drifts up for hundreds of
        # requests after start-up
        time.sleep(SETTLE_S)
        capacity = closed_loop(port, closed, pool, expect, problems)
    finally:
        svc.stop()
    for p in problems:
        log(f"CHECK FAILED: {p}")
    late_ms = [x * 1000 for x in late]
    log(f"open loop: {len(schedule)} requests, Poisson at {args.svc_rate}/s; "
        f"generator lateness p99 {gen.percentile(late_ms, 99):.2f} ms, max "
        f"{max(late_ms):.2f} ms (bound {LATENESS_BOUND_MS} ms)")
    if max(late_ms) > LATENESS_BOUND_MS:
        raise Invalid(f"generator fell {max(late_ms):.1f} ms behind its "
                      f"schedule (bound {LATENESS_BOUND_MS} ms); run void")
    lat_ms = [x * 1000 for k, x in done if k in gen.SPARK_KINDS]
    p50 = gen.percentile(lat_ms, 50)
    log(f"open-loop latency of {len(lat_ms)} Spark-backed requests: p50 "
        f"{p50:.1f} ms, p80 {gen.percentile(lat_ms, 80):.1f} ms, p90 "
        f"{gen.percentile(lat_ms, 90):.1f} ms; closed loop {capacity:.3f} "
        f"req/s with {CLIENTS} clients")
    attempted = len(warm_burst) + len(schedule) + len(closed)
    failed = len(problems)
    log(f"error_ratio {failed}/{attempted} = {failed / attempted:.4f}")
    return {
        "attempted": attempted, "failed": failed,
        "metrics": {
            "setup_s": metric(setup_s, "s"),
            "records_per_s": metric(capacity, "records/s"),
            "p50_ms": metric(p50, "ms"),
            "out_bytes_per_in_byte": metric(rb / qb, "ratio"),
            "peak_rss_mb": metric(svc.peak_rss_mb, "MB"),
        }}


def trace_svc(args, work, pool, expect, warm_burst, t0):
    """Untraced and traced services, each warmed like svc_open and then
    sent the same requests one at a time, then the layer ladder over the
    pool as a table."""
    problems = []
    seq_rng = random.Random(args.seed * 7 + 5)
    # every kind, GET /processes included (service.http_ms)
    reqs = gen.svc_requests(seq_rng, pool, 16, [
        ("ets", 4), ("ets_gate", 4), ("kpi", 4), ("get", 2), ("not_json", 1),
        ("missing", 1)])
    runs = {}
    for name, props in (("untraced", ()),
                        ("traced", jvm.TRACE_PROPS + [
                            "-Dperfbench.trace.out=" +
                            os.path.join(work, "trace.json")])):
        svc, port = start_service(work, f"service-{name}", props)
        try:
            closed_loop(port, warm_burst, pool, expect, problems)
            time.sleep(SETTLE_S)
            client = Client(port)
            runs[name] = (svc, sequential(client, reqs, pool, expect,
                                          problems, gap=0.1))
            client.close()
            time.sleep(0.5)
        finally:
            svc.stop()
    for p in problems:
        log(f"CHECK FAILED: {p}")
    with open(os.path.join(work, "trace.json")) as f:
        trace = json.load(f)
    table = os.path.join(work, "pool_table")
    rows = [("bench", k, "0" * 40, "und", v) for k, v in pool.items()]
    gen.write_table(rows, table)
    ladder = layers.run_ladder(work, table)
    per_layer = layers.svc_layers(trace, ladder, runs)
    layers.report_svc(per_layer, runs, time.monotonic() - t0)
    layers.save_trace(work, "svc_open", args.seed, trace)
    attempted = 2 * (len(reqs) + len(warm_burst))
    return {"attempted": attempted, "failed": len(problems),
            "metrics": layers.common(per_layer)}


# ------------------------------------------------------------------ main

class Invalid(Exception):
    pass


WORKLOADS = {"batch_typical": run_batch, "svc_open": run_svc}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--svc-rate", type=float, required=True,
                    help="open-loop arrival rate, requests/s")
    args = ap.parse_args()

    build()
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = WORKLOADS[args.workload](args, work)
    except Invalid as e:
        log(f"INVALID: {e}")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["correct"] = res["failed"] == 0
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
