#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload warehouse_corpus --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (perfbench/build.py), then runs the
workload's registry queries on one client thread in a local Spark session
with one core per CPU, over the tables in perfbench/data. It prints every
metric by name and unit, then, as the last line, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones and
writes the spans and counters to `.bench_run/trace-<workload>-<seed>.json`.
`--mint` stores the check pass's fingerprints as the expected outputs.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import derive  # noqa: E402
import workloads  # noqa: E402

SETUP_SAMPLES = 3  # the run's own JVM plus two set-up-only JVMs
HEAP = "2g"
# time a run may take beyond --seconds: set-ups, the cold pass, the minimum
# warm passes, the probe and the check
DEADLINE_MARGIN_S = 160
EXPECTED = os.path.join(HERE, "expected.json")
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm(classpath, tmp, mode, config):
    opts = [x for p in ADD_OPENS for x in ("--add-opens", p)]
    return (["java", "-XX:-UsePerfData"] + opts + [
        # no -Xms and no pre-touch: the heap grows as the run needs it, so
        # peak RSS follows the memory the queries touch
        "-XX:ReservedCodeCacheSize=1g", f"-Xmx{HEAP}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", build.classpath(*classpath), "perfbench.Harness", mode, config])


class Jvm:
    """One harness JVM in its own process group, timed to its READY line."""
    live = []

    def __init__(self, cmd, env, cwd, log_path):
        self.log = open(log_path, "ab")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
                                     stderr=self.log, start_new_session=True)
        Jvm.live.append(self)

    def ready(self):
        """Seconds from process start until the harness printed READY."""
        for line in self.proc.stdout:
            if line.strip() == b"READY":
                return time.monotonic() - self.t0
        raise RuntimeError("harness exited before it was ready")

    def wait(self, deadline):
        try:
            self.proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            code = self.proc.returncode
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness ran past the run's deadline")
        finally:
            self.stop()
        if code != 0:
            raise RuntimeError(f"harness exited with code {code}")

    def stop(self):
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()
        self.proc.stdout.close()
        self.log.close()
        if self in Jvm.live:
            Jvm.live.remove(self)


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def fmt(name, value, unit):
    return f"{name:<28} {value:>14.6f} {unit}" if value is not None else f"{name:<28} {'n/a':>14} {unit}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mint", action="store_true",
                    help="store this run's fingerprints as the expected outputs")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    classpath = build.build()
    deadline = time.monotonic() + a.seconds + DEADLINE_MARGIN_S
    cpus = len(os.sched_getaffinity(0))
    names = workloads.order(a.workload, a.seed)
    run_root = os.path.join(ROOT, ".bench_run")
    run_dir = fresh_dir(os.path.join(run_root, f"{a.workload}-{a.seed}-{os.getpid()}"))
    dirs = {k: fresh_dir(os.path.join(run_dir, k))
            for k in ("lake", "tmp", "local", "warehouse", "scratch")}
    fixtures = os.path.join(ROOT, "fixtures")
    env = dict(os.environ,
               SPARK_GRAFT_LAKE_DIR=dirs["lake"], SPARK_LOCAL_DIRS=dirs["local"],
               SPARK_GRAFT_REF_XLSX=os.path.join(
                   fixtures, "xlsx", "FinancialStatement-2024-I-ACES.xlsx"),
               SPARK_GRAFT_IMG_DIR=os.path.join(fixtures, "img"), TMPDIR=dirs["tmp"])
    out_path = os.path.join(run_dir, "out.json")
    config = os.path.join(run_dir, "config.json")
    json.dump({"cpus": cpus, "sf_dir": os.path.join(HERE, "data"), "queries": names,
               "seconds": a.seconds, "trace": bool(a.trace), "out": out_path,
               "lake_dir": dirs["lake"], "warehouse_dir": dirs["warehouse"],
               "scratch_dir": dirs["scratch"], "fixtures_dir": fixtures},
              open(config, "w"))
    log_path = os.path.join(run_dir, "harness.log")

    def start(mode):
        return Jvm(jvm(classpath, dirs["tmp"], mode, config), env, run_dir, log_path)

    try:
        setup = []
        for _ in range(SETUP_SAMPLES - 1):
            j = start("setup")
            setup.append(j.ready())
            j.stop()  # the sample ends at READY; its run dir is wiped anyway
        j = start("run")
        setup.append(j.ready())
        j.wait(deadline)
        out = json.load(open(out_path))
    except Exception as e:  # noqa: BLE001 - any harness failure ends the run
        log(f"{a.workload} seed {a.seed}: {e}; harness log: {log_path}")
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        return 1
    out["cpus"] = cpus

    fps = out["fingerprints"]
    if a.mint:
        expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
        bad = [n for n, f in fps.items() if "error" in f]
        if bad:
            log(f"not minting: {bad} failed")
            return 1
        expected.update(fps)
        json.dump(dict(sorted(expected.items())), open(EXPECTED, "w"), indent=1)
        log(f"minted {len(fps)} fingerprints into {EXPECTED}")
    expected = json.load(open(EXPECTED))
    mismatches = sorted(n for n in names if fps.get(n) != expected.get(n))
    for n in mismatches:
        log(f"output mismatch: {n}: got {fps.get(n)}, expected {expected.get(n)}")
    for p in out["passes"]:
        for q in p["queries"]:
            if not q["ok"]:
                log(f"pass {p['index']}: {q['name']} failed: {q['error']}")

    e2e = derive.end_to_end(out, setup, mismatches)
    print(f"workload {a.workload}  seed {a.seed}  nproc {cpus}  queries {len(names)}  "
          f"warm passes {e2e['warm_passes']}  latency samples n={e2e['samples']} "
          f"({len(names)} queries x {e2e['warm_passes']} passes)")
    print("order " + " ".join(names))
    print("setup samples " + " ".join(f"{x:.3f}" for x in setup) + " s")
    print("pass times " + " ".join(f"{derive.pass_seconds(p):.3f}" for p in out["passes"]) +
          " s (cold first)")
    print(fmt("host.probe_s", min(out["probe_raw_s"][2:]), "s"))
    units = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_geomean_s": "s",
             "query_p50_s": "s", "query_p90_s": "s", "failed_frac": "1",
             "retained_heap_mb": "MB", "peak_rss_mb": "MB", "lake_disk_mb": "MB"}
    for k, u in units.items():
        print(fmt(k, e2e[k], u))
    print(fmt("throughput", len(names) / e2e["pass_s"], "queries/s"))

    if a.trace:
        layer = derive.per_layer(out)
        trace_path = os.path.join(run_root, f"trace-{a.workload}-{a.seed}.json")
        json.dump({"workload": a.workload, "seed": a.seed, "nproc": cpus, "order": names,
                   "spans": out["spans"],
                   "counters": [{"pass": p["index"], "traced": p["traced"],
                                 "wall_s": p["wall_s"], "counters": p["counters"]}
                                for p in out["passes"]],
                   "metrics": layer}, open(trace_path, "w"))
        log(f"spans and counters written to {trace_path}")
        chosen = spec["per_layer"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in chosen}
        for m in chosen:
            print(fmt(m["name"], metrics[m["name"]]["value"], m["unit"]))
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": e2e["failed"] == 0,
                      "attempted": e2e["attempted"], "failed": e2e["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminated)
    try:
        sys.exit(main())
    finally:  # a killed or failed run leaves no JVM behind
        for j in list(Jvm.live):
            j.stop()
