"""Metric derivations of the benchmark, kept free of I/O so they unit-test."""
from math import exp, log
from statistics import fmean, median


def percentile(xs, q):
    """The q-quantile (0..1) of xs, linear between closest ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(xs, q, min_beyond=10):
    """The q-quantile of xs, or None unless at least `min_beyond` samples lie
    strictly above it: a tail read from fewer samples is noise."""
    if not xs:
        return None
    p = percentile(xs, q)
    return p if sum(1 for x in xs if x > p) >= min_beyond else None


def covered(interval, others):
    """Length of the part of `interval` (start, end) that the union of the
    `others` intervals covers."""
    a, b = interval
    clipped = sorted((max(a, s), min(b, e)) for s, e in others if e > a and s < b)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def query_latencies(p):
    """Per-query latency (build + execute) of one pass, in seconds."""
    return [q["build_s"] + q["exec_s"] for q in p["queries"]]


def pass_seconds(p):
    return sum(query_latencies(p))


def end_to_end(out, setup_samples, mismatches):
    """End-to-end metrics of an untraced run.

    `out` is the harness result; `mismatches` the queries whose result
    fingerprint differs from the expected one (or could not be taken)."""
    passes = out["passes"]
    cold, warm = passes[0], passes[1:]
    lat = [x for p in warm for x in query_latencies(p)]
    executions = sum(len(p["queries"]) for p in passes)
    failed = sum(1 for p in passes for q in p["queries"] if not q["ok"])
    checks = len(out["fingerprints"])
    attempted = executions + checks
    return {
        "setup_s": median(setup_samples),
        "cold_pass_s": pass_seconds(cold),
        "pass_s": median([pass_seconds(p) for p in warm]),
        "query_geomean_s": exp(fmean(log(x) for x in lat)),
        "query_p50_s": median(lat),
        "query_p90_s": tail_percentile(lat, 0.9),
        "failed_frac": (failed + len(mismatches)) / attempted,
        "retained_heap_mb": out["retained_heap_mb"],
        "peak_rss_mb": out["vm_hwm_kb"] * 1024 / 1e6,
        "lake_disk_mb": out["lake_bytes"] / 1e6,
        "samples": len(lat),
        "warm_passes": len(warm),
        "attempted": attempted,
        "failed": failed + len(mismatches),
    }


def per_layer(out):
    """Per-layer metrics of a traced run.

    Counters are per traced warm pass (mean), except codegen and JIT, which
    are the cold pass's: warm passes hit the codegen cache. Spans give the
    build/execute split and the query's self time (query time no Spark job
    covers)."""
    passes = out["passes"]
    cold = passes[0]
    warm = passes[2:]  # the first warm pass is an untraced warm-up
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    n = len(traced)
    keys = sorted({k for p in traced for k in p["counters"]})
    m = {k: sum(p["counters"].get(k, 0.0) for p in traced) / n for k in keys}
    for k in ("plans.codegen_compile_s", "plans.codegen_compiles", "jvm.jit_compile_s"):
        m[k] = cold["counters"].get(k, 0.0)

    spans = out["spans"]
    traced_idx = {p["index"] for p in traced}
    by_query = {}
    for s in spans:
        if s["pass"] in traced_idx and s["name"] in ("build", "execute", "job"):
            by_query.setdefault(s["query"], []).append(s)
    build = exec_ = self_s = 0.0
    build_jobs = 0
    for s in spans:
        if s["pass"] not in traced_idx or not s["name"].startswith("query:"):
            continue
        kids = by_query.get(s["id"], [])
        jobs = [(j["start"], j["end"]) for j in kids if j["name"] == "job"]
        for k in kids:
            if k["name"] == "build":
                build += k["end"] - k["start"]
                build_jobs += sum(1 for js, _ in jobs if k["start"] <= js < k["end"])
            elif k["name"] == "execute":
                exec_ += k["end"] - k["start"]
        self_s += self_time((s["start"], s["end"]), jobs)
    m["queries.build_s"] = build / 1e3 / n
    m["queries.exec_s"] = exec_ / 1e3 / n
    m["queries.build_jobs"] = build_jobs / n
    m["queries.driver_self_s"] = self_s / 1e3 / n

    wall = sum(p["wall_s"] for p in traced) / n
    m["spark.core_busy_frac"] = m.get("spark.task_run_s", 0.0) / (wall * out["cpus"])
    m["jvm.heap_peak_mb"] = out["heap_peak_mb"]
    m["host.probe_s"] = min(out["probe_raw_s"][2:])
    m.update(out["sources"])
    m["trace.overhead_frac"] = (median([pass_seconds(p) for p in traced]) /
                                median([pass_seconds(p) for p in untraced]) - 1)
    return m

