"""Output checkers. Each returns a list of problems; an empty list means the
output verified.

Batch: per-rule violation counts against the generator's expected counts;
per-lang records, failed records and sha fingerprint from
`partition_verdicts` (the fingerprint recomputed here from the generated
content); one ledger commit per lang agreeing with the verdicts; one report
row per record; the exit code min(ETS FAILED, 255), or 255 on a parse error.

Service: status and body of every response against the expected answers
derived from the reference `Reports.validateOne` (perfbench.Expect), with
the wall-clock `datetime` field masked.
"""
import json
import os
import re

_DATETIME = re.compile(r'"datetime":"[^"]*"')
OUTPUTS = ["violations", "reports", "column_stats", "lang_drift",
           "partition_verdicts"]


def _table(path):
    import pyarrow.parquet as pq
    return pq.read_table(path)


def check_batch(out_dir, expected, exit_code):
    problems = []
    if exit_code != expected["exit_code"]:
        problems.append(f"exit code {exit_code}, expected "
                        f"{expected['exit_code']}")
    missing = [o for o in OUTPUTS if not os.path.isdir(os.path.join(out_dir, o))]
    if missing:
        return problems + [f"missing outputs {missing}"]

    viol = _table(os.path.join(out_dir, "violations")).column("rule_id")
    got = {}
    for r in viol.to_pylist():
        got[r] = got.get(r, 0) + 1
    if got != expected["rules"]:
        problems.append(f"violation counts per rule {got}, expected "
                        f"{expected['rules']}")

    reports = _table(os.path.join(out_dir, "reports")).num_rows
    if reports != expected["records"]:
        problems.append(f"{reports} report rows, expected {expected['records']}")

    verdicts = _table(os.path.join(out_dir, "partition_verdicts")).to_pylist()
    by_lang = {v["lang"]: v for v in verdicts}
    if sorted(by_lang) != sorted(expected["langs"]) or \
            len(verdicts) != len(by_lang):
        problems.append(f"verdict langs {[v['lang'] for v in verdicts]}, "
                        f"expected {sorted(expected['langs'])}")
    for lang, exp in expected["langs"].items():
        v = by_lang.get(lang)
        if v is None:
            continue
        for k in ("records", "failed_records", "sha_fingerprint"):
            if v[k] != exp[k]:
                problems.append(f"lang {lang}: {k} {v[k]}, expected {exp[k]}")

    ledger_dir = os.path.join(out_dir, "_ledger")
    commits = sorted(f for f in os.listdir(ledger_dir)
                     if f.endswith(".commit")) if os.path.isdir(ledger_dir) \
        else []
    want = sorted(f"lang={lang}.commit" for lang in expected["langs"])
    if commits != want:
        problems.append(f"ledger commits {commits}, expected {want}")
    for lang, exp in expected["langs"].items():
        path = os.path.join(ledger_dir, f"lang={lang}.commit")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            entry = json.load(f)
        for k in ("records", "sha_fingerprint"):
            if entry.get(k) != exp[k]:
                problems.append(f"ledger {lang}: {k} {entry.get(k)}, "
                                f"expected {exp[k]}")
    return problems


def mask(body):
    return _DATETIME.sub('"datetime":"*"', body)


def _error_body(code, description):
    return json.dumps({"code": code, "description": description},
                      separators=(",", ":"), ensure_ascii=False)


def expected_response(kind, key, expect):
    """(status, body) the service must answer; body None = not compared
    (GET /processes is checked structurally)."""
    if kind == "missing":
        return 400, _error_body("MissingParameterValue", "Missing record")
    if kind == "get":
        return 200, None
    e = expect[key]
    if "error" in e:
        return 400, _error_body("InvalidParameterValue", e["error"])
    if kind == "kpi":
        return 200, e["kpi"]
    if kind == "ets_gate" and e["gate_failed"]:
        return 500, _error_body(
            "ProcessorExecuteError",
            "Record fails WCMP2 validation. Stopping ETS errors: "
            f"[{e['gate_errors']}]")
    return 200, e["ets"]


def check_response(kind, key, status, body, expect):
    """None if the response is right, else a one-line problem."""
    want_status, want_body = expected_response(kind, key, expect)
    if status != want_status:
        return f"{kind} {key}: status {status}, expected {want_status}"
    if want_body is None:
        try:
            ids = [p["id"] for p in json.loads(body)["processes"]]
        except (ValueError, KeyError, TypeError):
            return f"{kind}: body is not a process list"
        if ids != ["pywcmp-wis2-wcmp2-ets", "pywcmp-wis2-wcmp2-kpi"]:
            return f"{kind}: process ids {ids}"
        return None
    if want_status != 200:
        try:
            same = json.loads(body) == json.loads(want_body)
        except ValueError:
            same = False
    else:
        same = mask(body) == mask(want_body)
    return None if same else f"{kind} {key}: body differs from the reference"
