"""Seeded input generators. The seed is the only source of randomness; the
product receives only what these functions write.

- `batch_records`: the FIXTURES.md section 5 record mix (70% pass, 30% fail
  exactly one ETS test, langs skewed 70/10/10/10), with the expected
  outputs the checker compares against, derived from the mutation table
  below rather than from the product.
- `svc_pool` / `svc_schedule`: the service record pool and the open-loop
  arrival schedule (Poisson, fixed rate) with its request mix (`SVC_POSTS`,
  `SVC_CHECKS`).
"""
import hashlib
import math
import os
import random

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "src", "main", "resources", "fixtures")
ETS = "http://wis.wmo.int/spec/wcmp/2/conf/core/"
ID_LINE = "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime"
LANGS = ["en", "fr", "de", "zh"]
LANG_WEIGHTS = [7, 1, 1, 1]


def fixture(name):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        return f.read()


def _sub(text, old, new):
    assert text.count(old) >= 1, old
    return text.replace(old, new)


def _drop_policy(t):
    return _sub(t, ',\n        "wmo:dataPolicy": "core"', "")


# mutation -> (template edit, id maker, rule ids of the violation rows it
# must produce). Each failing mutation fails exactly one ETS test; a bad
# centre id also fails the dataset-level referential rule.
MUTATIONS = {
    "pass": (lambda t: t, lambda tok: f"ca-eccc-msc:{tok}", []),
    "bad_centre": (lambda t: t, lambda tok: f"bad-centre-id:{tok}",
                   [ETS + "identifier", "referential:centre_id"]),
    "id_space": (lambda t: t, lambda tok: f"ca-eccc-msc:obs {tok}",
                 [ETS + "identifier"]),
    "created_none": (
        lambda t: _sub(t, '"created": "2018-01-01T11:11:11Z"',
                       '"created": "None"'),
        lambda tok: f"ca-eccc-msc:{tok}", [ETS + "record_created_datetime"]),
    "lon_range": (lambda t: _sub(t, "-142,", "-242,"),
                  lambda tok: f"ca-eccc-msc:{tok}",
                  [ETS + "extent_geospatial"]),
    "no_policy": (_drop_policy, lambda tok: f"ca-eccc-msc:{tok}",
                  [ETS + "data_policy"]),
    "rel_download": (lambda t: _sub(t, '"rel": "data",', '"rel": "download",'),
                     lambda tok: f"ca-eccc-msc:{tok}", [ETS + "links"]),
}
FAILING = [k for k in MUTATIONS if k != "pass"]
_TEMPLATES = {}


def _template(kind):
    if kind not in _TEMPLATES:
        _TEMPLATES[kind] = MUTATIONS[kind][0](fixture("wcmp2-passing.json"))
    return _TEMPLATES[kind]


def make_record(kind, token):
    """One WCMP2 document of the given mutation kind with a unique id."""
    return _sub(_template(kind), ID_LINE,
                "urn:wmo:md:" + MUTATIONS[kind][1](token))


def sha_prefix(content):
    """The per-row fingerprint term: the first 15 hex digits of sha256."""
    return int(hashlib.sha256(content.encode("utf-8")).hexdigest()[:15], 16)


def _exact_shares(rng, n, labels, weights):
    """n labels in exact proportion to weights, in seeded random order."""
    total = sum(weights)
    counts = [n * w // total for w in weights]
    for i in range(n - sum(counts)):
        counts[i % len(counts)] += 1
    out = [lab for lab, c in zip(labels, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


def batch_records(seed, n):
    """Rows (repo, path, commit, lang, content) and expected outputs."""
    rng = random.Random(seed)
    langs = _exact_shares(rng, n, LANGS, LANG_WEIGHTS)
    n_fail = round(n * 0.3)
    kinds = _exact_shares(rng, n, ["fail", "pass"], [n_fail, n - n_fail])
    rows = []
    rules = {}
    per_lang = {}
    failed_tests = 0
    for i in range(n):
        kind = rng.choice(FAILING) if kinds[i] == "fail" else "pass"
        token = f"obs.s{seed}.r{i}.{rng.getrandbits(32):08x}"
        content = make_record(kind, token)
        lang = langs[i]
        commit = hashlib.sha1(f"{seed}/{i}".encode()).hexdigest()
        rows.append((f"repo{rng.randrange(1000)}", f"records/{i}.json",
                     commit, lang, content))
        for r in MUTATIONS[kind][2]:
            rules[r] = rules.get(r, 0) + 1
        ets_fails = sum(r.startswith(ETS) for r in MUTATIONS[kind][2])
        failed_tests += ets_fails
        v = per_lang.setdefault(lang, {"records": 0, "failed_records": 0,
                                       "sha_fingerprint": 0})
        v["records"] += 1
        v["failed_records"] += 1 if ets_fails else 0
        v["sha_fingerprint"] ^= sha_prefix(content)
    expected = {"records": n, "rules": rules, "langs": per_lang,
                "exit_code": min(failed_tests, 255)}
    return rows, expected


def write_table(rows, path):
    """Write rows as a lang-partitioned parquet table; returns its bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    by_lang = {}
    for repo, p, commit, lang, content in rows:
        by_lang.setdefault(lang, []).append((repo, p, commit, content))
    for lang, part in sorted(by_lang.items()):
        d = os.path.join(path, f"lang={lang}")
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*part))
        pq.write_table(pa.table({"repo": list(cols[0]), "path": list(cols[1]),
                                 "commit": list(cols[2]),
                                 "content": list(cols[3])}),
                       os.path.join(d, "part-00000.parquet"))
    return tree_bytes(path)


def tree_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------------ service

# The open-loop mix is an assumption: no public description of pywcmp or
# WIS2 service traffic gives shares. So it is the simplest one: equal shares
# of the three POST kinds, plus one of each request the checker needs to see
# once per schedule (the two 400 cases and GET /processes).
SVC_POSTS = [("ets", 1),       # ETS, fail_on_schema_validation = false
             ("ets_gate", 1),  # ETS, fail_on_schema_validation = true
             ("kpi", 1)]
SVC_CHECKS = [("get", None),                   # GET /processes (no Spark)
              ("not_json", "fx:not-json.csv"),  # record is not JSON -> 400
              ("missing", None)]               # no record input -> 400
SPARK_KINDS = ("ets", "ets_gate", "kpi", "not_json")
FIXTURE_POOL = [
    "wcmp2-passing.json", "wcmp2-passing-test-centre-id.json",
    "wcmp2-failing.json", "wcmp2-failing-created-none.json",
    "wcmp2-failing-invalid-centre-id.json",
    "wcmp2-failing-invalid-geometry-range.json",
    "wcmp2-failing-invalid-identifier-empty.json",
    "wcmp2-failing-invalid-identifier-space.json",
    "wcmp2-failing-invalid-link-channel-wis2-topic.json",
]


def svc_pool(generated=7):
    """Distinct records the service is sent: the reference fixtures,
    `generated` records of the batch mix and the not-JSON fixture. The pool
    is the same for every seed (its expected answers are derived once per
    build); the seed drives the schedule and the mix drawn from it."""
    rng = random.Random(7919)
    pool = {f"fx:{name}": fixture(name) for name in FIXTURE_POOL}
    for i in range(generated):
        kind = rng.choice(list(MUTATIONS))
        pool[f"gen:{i}:{kind}"] = make_record(
            kind, f"svc.{i}.{rng.getrandbits(32):08x}")
    pool["fx:not-json.csv"] = fixture("not-json.csv")
    return pool


def svc_requests(rng, pool, count, mix):
    """`count` requests in the exact proportions of `mix`, each JSON pool
    record used equally often, in seeded random order:
    [(kind, record key or None)]."""
    json_keys = sorted(k for k in pool if k != "fx:not-json.csv")
    kinds, weights = zip(*mix)
    kinds = _exact_shares(rng, count, kinds, weights)
    records = iter(_exact_shares(
        rng, sum(k in ("ets", "ets_gate", "kpi") for k in kinds),
        json_keys, [1] * len(json_keys)))
    out = []
    for kind in kinds:
        if kind in ("ets", "ets_gate", "kpi"):
            out.append((kind, next(records)))
        elif kind == "not_json":
            out.append((kind, "fx:not-json.csv"))
        else:
            out.append((kind, None))
    return out


def svc_schedule(seed, pool, rate, count):
    """Open-loop schedule of `count` requests with Poisson arrivals at
    `rate` per second: [(offset_s, kind, key)]. The inter-arrival gaps are
    the `count` exponential quantiles in seeded random order, so every seed
    has the same gap distribution and only their order (how arrivals
    cluster) varies."""
    rng = random.Random(seed * 104729 + 2)
    gaps = [-math.log(1 - (i + 0.5) / count) / rate for i in range(count)]
    rng.shuffle(gaps)
    times = [sum(gaps[:i + 1]) for i in range(count)]
    reqs = svc_requests(rng, pool, count - len(SVC_CHECKS), SVC_POSTS)
    reqs += SVC_CHECKS
    rng.shuffle(reqs)
    return [(t, k, key) for t, (k, key) in zip(times, reqs)]


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]
