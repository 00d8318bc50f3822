"""Turns a raw run record (written by graftbench.Main) into checked metrics.

Pure functions over plain dicts, so the harness's own tests (test_metrics.py)
cover the tail rule, failure accounting and job attribution without Spark.
"""
import math
import os
import statistics

BATCH = "batch_sf0.001"
FAMILIES = ["vector", "dedup", "corpus", "text", "events", "tpch", "multimodal", "other"]
VERBS = ["load", "search", "search_filtered", "search_batch", "query", "upsert", "delete",
         "insert"]
WRITES = {"upsert", "delete", "insert"}
BATCH_QUERIES = 64  # queries per search_batch call (Vectors.BatchQueries)


def tail(samples):
    """The highest whole percentile with at least ten samples beyond it.

    Nearest-rank: percentile p is the value at rank ceil(p/100 * n); the
    samples beyond it are n - rank. Returns (p, value, n), or None when
    fewer than eleven samples leave no percentile with ten beyond it.
    """
    n = len(samples)
    if n <= 10:
        return None
    xs = sorted(samples)
    p = (100 * (n - 10)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1], n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def parse_tags(tags):
    """`op:x,phase:y,req:n` (Spark's joined job tags) -> dict."""
    out = {}
    for t in (tags or "").split(","):
        k, _, v = t.partition(":")
        if v:
            out[k] = v
    return out


SUBSET_STRIDE = 30


def subset(kinds):
    """The batch workload's fixed query list: within each family, in key
    order, every SUBSET_STRIDE-th query starting with the first."""
    fams = {}
    for k in sorted(kinds):
        fams.setdefault(kinds[k], []).append(k)
    return [k for f in sorted(fams) for k in fams[f][::SUBSET_STRIDE]]


def expected_from(runs):
    """Expected outputs from independent full-inventory runs: a query's
    fingerprint when every output agrees on it, else only its row count
    (when that agrees). Queries that failed or disagree on rows are left
    out. Also fixes the batch workload's query list."""
    seen = {}
    for r in runs:
        for o in r["ops"]:
            seen.setdefault(o["op"], []).append(o)
    queries = {}
    for k, os_ in seen.items():
        if not all(o["ok"] for o in os_):
            continue
        fps = {o["fp"] for o in os_}
        rows = {o["rows"] for o in os_}
        if len(fps) == 1:
            queries[k] = {"fp": fps.pop()}
        elif len(rows) == 1:
            queries[k] = {"rows": rows.pop()}
    kinds = {o["op"]: o["kind"] for r in runs for o in r["ops"]}
    return {"queries": queries, "workload": subset({k: kinds[k] for k in queries})}


def check_ops(record, expected):
    """Marks every op record with `good` (succeeded and verified) and
    returns the list of problems. A failed or mismatching op never counts
    as a timing."""
    problems = []
    want = expected.get("queries", {}) if record["workload"] == BATCH else {}
    for o in record["ops"]:
        good = bool(o.get("ok"))
        if not good:
            problems.append(f"{o['op']} (req {o['req']}): {o.get('err', 'failed')}")
        elif o["op"] in want:
            w = want[o["op"]]
            if "fp" in w and o["fp"] != w["fp"]:
                good = False
                problems.append(f"{o['op']}: fingerprint {o['fp']} != expected {w['fp']}")
            elif "rows" in w and o["rows"] != w["rows"]:
                good = False
                problems.append(f"{o['op']}: {o['rows']} rows != expected {w['rows']}")
        elif record["workload"] == BATCH:
            good = False
            problems.append(f"{o['op']}: no expected output recorded")
        o["good"] = good
    extra = record.get("extra", {})
    if record["workload"] != BATCH and not extra.get("live_ok", False):
        problems.append(f"index holds {extra.get('stats', {}).get('n_vectors')} live vectors, "
                        f"model {extra.get('live_vectors')}")
    if not record["ops"]:
        problems.append("no operation ran")
    return problems


def timed(record, traced=False):
    return [o for o in record["ops"] if o["pass"] >= 0 and o.get("traced", False) == traced]


def latencies(ops, verbs=None):
    return [o["ms"] for o in ops if o["good"] and (verbs is None or o["op"] in verbs)]


def setup_s(record):
    s = record["setup"]
    return s["session_s"] + s["warm_s"] + s["build_s"]


def quality(record, ops):
    """Batch: share of queries whose output matched. Vector workloads: mean
    recall@10 against exact search, one sample per answered query."""
    if record["workload"] == BATCH:
        return sum(o["good"] for o in ops) / max(len(ops), 1)
    num = den = 0.0
    for o in ops:
        if o["good"] and "recall" in o:
            w = o.get("queries", 1)
            num += o["recall"] * w
            den += w
    return num / den if den else 0.0


def end_to_end(record, ops):
    passes = [p["s"] for p in record["passes"] if not p["traced"]]
    return {
        "setup_s": (setup_s(record), "s"),
        "pass_s": (median(passes), "s"),
        "answer_quality": (quality(record, ops), "ratio"),
        "footprint_mb": (record["extra"]["footprint_bytes"] / 1e6, "MB"),
    }


def detail(record, ops):
    """The workload's named end-to-end figures, printed beside the gated ones."""
    w = record["workload"]
    n = len(ops)
    bad = sum(not o["good"] for o in record["ops"])
    extra = record["extra"]
    d = {
        "setup_s": (setup_s(record), "s"),
        "error_rate": (bad / max(len(record["ops"]), 1), "ratio"),
        "leaked_cached_rdds": (extra["persisted_after"] - extra["persisted_before"], "count"),
        "timed_ops": (n, "count"),
        "op_p50_ms": (median(latencies(ops)), "ms"),
    }

    def add_tail(name, xs, unit, scale=1.0):
        t = tail(xs)
        if t:
            d[name] = (t[1] * scale, unit)
            d[name + ".percentile"] = (t[0], "pct")
            d[name + ".samples"] = (t[2], "count")

    if w == BATCH:
        passes = [p["s"] for p in record["passes"] if not p["traced"]]
        q = latencies(ops)
        d["suite_s"] = (median(passes), "s")
        d["query_p50_s"] = (median(q) / 1e3, "s")
        add_tail("query_tail_s", q, "s", 1e-3)
    else:
        s = latencies(ops, {"search"})
        d["search_p50_ms"] = (median(s), "ms")
        add_tail("search_tail_ms", s, "ms")
        d["recall_at_10"] = (quality(record, [o for o in ops if o["op"] in
                                              ("search", "search_batch")]), "ratio")
        d["filtered_search_p50_ms"] = (median(latencies(ops, {"search_filtered"})), "ms")
        b = latencies(ops, {"search_batch"})
        d["batch_search_qps"] = (BATCH_QUERIES / (median(b) / 1e3) if b else 0.0, "1/s")
        d["lookup_p50_ms"] = (median(latencies(ops, {"query"})), "ms")
        wr = latencies(ops, WRITES)
        d["write_p50_ms"] = (median(wr), "ms")
        add_tail("write_tail_ms", wr, "ms")
        d["bytes_per_live_vector"] = (extra["footprint_bytes"] / max(extra["live_vectors"], 1), "B")
    return d


def covered_ms(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    cut = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def untagged_jobs(jobs):
    """Jobs the harness's request tags did not reach (e.g. jobs a pooled
    thread started without the caller's local properties)."""
    return sum(1 for j in jobs if "req" not in parse_tags(j["tags"]))


def per_layer(record, ops, data_dir):
    tr = record.get("trace") or {}
    jobs, stages, spans = tr.get("jobs", []), tr.get("stages", []), tr.get("spans", [])
    traced_passes = [p["s"] for p in record["passes"] if p["traced"]]
    npass = max(len(traced_passes), 1)
    wall = sum(traced_passes)
    cores = record["cores"]
    op_kind = {s["op"]: s["kind"] for s in spans}
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    # job spans by (request, phase) tag: the children of the harness's spans
    by_req = {}
    for j in jobs:
        t = parse_tags(j["tags"])
        if "req" in t and j["end"] >= 0:
            by_req.setdefault((t["req"], t.get("phase")), []).append((j["start"], j["end"]))

    # query layer (batch workload)
    batch = record["workload"] == BATCH
    for ph in ("construct", "action"):
        sp = [s for s in spans if s["phase"] == ph and batch]
        put(f"queries.{ph}_s", sum(s["end"] - s["start"] for s in sp) / 1e3 / npass, "s")
        put(f"queries.{ph}_jobs", sum(1 for j in jobs if batch and
                                      parse_tags(j["tags"]).get("phase") == ph) / npass, "count")
        drv = sum((s["end"] - s["start"]) - covered_ms(s["start"], s["end"],
                  by_req.get((str(s["req"]), ph), [])) for s in sp)
        put(f"queries.{ph}_driver_s", drv / 1e3 / npass, "s")

    # families (batch): wall from spans, task time and jobs from tags
    for f in FAMILIES:
        sp = [s for s in spans if batch and s["kind"] == f]
        st = [s for s in stages if batch and op_kind.get(parse_tags(s["tags"]).get("op")) == f]
        jb = [j for j in jobs if batch and op_kind.get(parse_tags(j["tags"]).get("op")) == f]
        put(f"family.{f}.wall_s", sum(s["end"] - s["start"] for s in sp) / 1e3 / npass, "s")
        put(f"family.{f}.task_s", sum(s["run_ms"] for s in st) / 1e3 / npass, "s")
        put(f"family.{f}.jobs", len(jb) / npass, "count")

    # Spark engine
    done = {s["id"] for s in stages}
    listed = {sid for j in jobs for sid in j["stages"]}
    task_s = sum(s["run_ms"] for s in stages) / 1e3
    put("spark.jobs", len(jobs) / npass, "count")
    put("spark.stages", len(stages) / npass, "count")
    put("spark.stages_skipped", len(listed - done) / npass, "count")
    put("spark.tasks", sum(s["tasks"] for s in stages) / npass, "count")
    put("spark.task_s", task_s / npass, "s")
    put("spark.task_cpu_s", sum(s["cpu_ns"] for s in stages) / 1e9 / npass, "s")
    put("spark.gc_s", sum(s["gc_ms"] for s in stages) / 1e3 / npass, "s")
    put("spark.busy_frac", task_s / (wall * cores) if wall else 0.0, "ratio")
    for key, name in (("shuffle_read", "shuffle_read_mb"), ("shuffle_write", "shuffle_write_mb"),
                      ("spill", "spill_mb"), ("input", "input_mb")):
        put(f"spark.{name}", sum(s[key] for s in stages) / 1e6 / npass, "MB")
    src = (dir_bytes(data_dir) if batch else record["extra"].get("footprint_bytes", 0))
    put("sources.read_amp", sum(s["input"] for s in stages) / npass / src if src else 0.0, "ratio")
    put("spark.failed_tasks", tr.get("failed_tasks", 0), "count")
    put("spark.failed_jobs", sum(1 for j in jobs if not j["ok"]), "count")
    put("spark.untagged_jobs", untagged_jobs(jobs) / npass, "count")

    # cache
    c = record["cache"]
    extra = record["extra"]
    put("cache.persists", c["persists"] / npass, "count")
    put("cache.mem_mb_peak", c["mem_peak"] / 1e6, "MB")
    put("cache.disk_mb_peak", c["disk_peak"] / 1e6, "MB")
    put("cache.leaked_rdds", extra["persisted_after"] - extra["persisted_before"], "count")

    # facade verbs: per-call medians (phases) and mean jobs per call
    traced = [o for o in ops if o["good"]]
    for v in VERBS:
        calls = [o for o in traced if o["op"] == v and not batch]
        reqs = {str(o["req"]) for o in calls}
        vjobs = [j for j in jobs if parse_tags(j["tags"]).get("req") in reqs]
        put(f"api.{v}.construct_ms", median([o["construct_ms"] for o in calls]), "ms")
        put(f"api.{v}.collect_ms", median([o["action_ms"] for o in calls]), "ms")
        put(f"api.{v}.jobs", len(vjobs) / len(calls) if calls else 0.0, "count")
        drv = []
        for o in calls:
            own = [s for s in spans if s["req"] == o["req"]]
            drv.append(sum((s["end"] - s["start"]) - covered_ms(
                s["start"], s["end"], by_req.get((str(o["req"]), s["phase"]), []))
                for s in own))
        put(f"api.{v}.driver_ms", median(drv), "ms")

    # index lifecycle
    st = extra.get("stats", {})
    put("index.files", extra.get("index_files", 0), "count")
    put("index.bytes", extra.get("footprint_bytes", 0), "B")
    put("index.tombstone_rows", st.get("n_tombstones", 0), "count")
    put("index.dead_fraction", st.get("dead_fraction", 0.0), "ratio")
    put("index.compactions", extra.get("compactions", 0), "count")

    s = record["setup"]
    put("setup.session_s", s["session_s"], "s")
    put("setup.warm_s", s["warm_s"], "s")
    put("setup.build_s", s["build_s"], "s")

    # trace overhead: traced over untraced, in the same run
    untraced = timed(record, traced=False)
    if batch:
        a = median([p["s"] for p in record["passes"] if not p["traced"]])
        b = median(traced_passes)
    else:
        # the untraced reference cycle against the same cycle traced: the
        # first as many searches of the traced pass
        a_s = latencies(untraced, {"search"})
        a = median(a_s)
        b = median(latencies(ops, {"search"})[:len(a_s)])
    put("trace.overhead", b / a if a else 0.0, "ratio")
    return m


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def evaluate(record, expected, trace, data_dir):
    problems = check_ops(record, expected)
    ops = timed(record, traced=bool(trace))
    failed = sum(not o["good"] for o in record["ops"])
    attempted = len(record["ops"])
    if trace:
        layer = per_layer(record, ops, data_dir)
        out = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        det = dict(layer)
    else:
        e2e = end_to_end(record, ops)
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        det = dict(e2e, **detail(record, ops))
    det["cores"] = (record["cores"], "count")
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
        "detail": det,
        "problems": problems,
        "trace": trace,
        "settings": record["settings"],
    }
