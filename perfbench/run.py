#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload eth_jobs --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline) into the checkout; later
runs reuse the build while the sources are unchanged. A run generates
the seeded inputs, computes the expected outputs in plain Python,
starts one JVM (`perfbench.Harness`) directly with `java`, checks every
pass's outputs and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, BENCH)

import gen      # noqa: E402
import oracle   # noqa: E402

HEAP = "2g"
RUN_LIMIT_S = 170  # the whole run, build excluded
# as org.apache.spark.launcher.JavaModuleOptions gives them
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# input records per pass or round, for rows_per_s
INPUT_ROWS = {
    "eth_jobs": gen.SIZES["eth_jobs"]["transactions"] + gen.SIZES["eth_jobs"]["blocks"],
    "corpus_pipeline": gen.SIZES["corpus_pipeline"]["documents"],
    "gseg_upsert": gen.SIZES["gseg_upsert"]["feed"],
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

# ---------------------------------------------------------------- stats


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None with fewer than forty samples (where that
    percentile would be no tail)."""
    n = len(xs)
    if n < 40:
        return None
    q = 1 - 10 / n
    s = sorted(xs)
    return q, s[min(n - 1, int(q * n))]

# ---------------------------------------------------------------- build


def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "harness", "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "harness", "build.sbt"),
             os.path.join(BENCH, "harness", "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: no graft sources at the checkout root; run from a checkout")
    os.makedirs(STATE, exist_ok=True)
    stamp, cp_file = _source_stamp(), os.path.join(STATE, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness (sbt, offline)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export harness/Runtime/fullClasspath"],
                       cwd=os.path.join(BENCH, "harness"), env=env, capture_output=True,
                       text=True, timeout=840)
    with open(os.path.join(STATE, "build.log"), "w") as fh:
        fh.write(p.stdout + p.stderr)
    cps = [l for l in p.stdout.splitlines() if "perfbench/harness/target" in l and ":" in l]
    if p.returncode != 0 or not cps:
        raise SystemExit(f"perfbench: build failed, see {STATE}/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1].strip()}, fh)
    return cps[-1].strip()

# ----------------------------------------------------------- host state


def host_probe(mib=256):
    """Off-heap fresh-page probe: ms per GiB to allocate and touch new
    pages (a degraded host's page-fault path slows this many-fold)."""
    t0 = time.perf_counter()
    b = bytearray(mib << 20)
    b[::4096] = b"\x01" * (len(b) // 4096)
    ms = (time.perf_counter() - t0) * 1e3 * 1024 / mib
    del b
    state = "healthy" if ms <= 1500 else "elevated" if ms <= 6000 else "degraded"
    return round(ms, 1), state


def cpu_steal():
    """Seconds of CPU the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")

# --------------------------------------------------------------- inputs


def inputs(workload, seed):
    """Generated inputs and their expectations, cached per (workload,
    seed); older cached inputs of the workload are removed."""
    base = os.path.join(STATE, "data")
    size = hashlib.sha256(json.dumps(gen.SIZES[workload]).encode()).hexdigest()[:8]
    d = os.path.join(base, f"{workload}-{seed}-{size}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.GENERATORS[workload](seed, d)
        open(os.path.join(d, "done"), "w").close()
    for old in os.listdir(base):
        if old.startswith(workload + "-") and old != os.path.basename(d):
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    if workload == "eth_jobs":
        return d, oracle.expect_eth(d)
    if workload == "corpus_pipeline":
        e = oracle.expect_corpus(d)
        with open(os.path.join(d, "budget.txt"), "w") as fh:
            fh.write(str(e["budget"]))
        return d, e
    return d, oracle.GsegModel(d)

# -------------------------------------------------------------- metrics


def end_to_end(workload, r):
    it = median([p["wall_s"] for p in r["passes"][r["warm_up"]:]])
    return {"setup_s": r["setup_s"], "iter_s": it, "rows_per_s": INPUT_ROWS[workload] / it}


def per_layer(workload, r, names):
    """Per-layer metrics; a layer the workload never calls reads 0."""
    warm = r["passes"][r["warm_up"]:]
    m = {n: 0.0 for n in names}
    m["first_iter_s"] = r["passes"][0]["wall_s"]
    for k, v in r["layers"].items():
        if k in m:
            m[k] = v
    m["spark.gc_s"] = median([p["gc_s"] for p in warm])
    m["spark.compile_ms"] = r["passes"][0]["compile_ms"]
    if workload == "corpus_pipeline":
        m["SegManifest.table_mb"] = r["table_bytes"] / 1e6
        if m["Dedup.candidate_pairs"]:
            m["Dedup.pair_yield"] = m["Dedup.verified_pairs"] / m["Dedup.candidate_pairs"]
    if workload == "gseg_upsert":
        rounds = r["rounds"][r["warm_up"]:]
        m["SegDml.merge_s"] = median([x["merge_s"] for x in rounds])
        m["SegCdf.lag_s"] = median([x["lag_s"] for x in rounds])
        m["SegSource.read_ms"] = median([x["read_s"] * 1e3 for x in rounds])
        m["SegSource.files_rewritten"] = median([x["files_rewritten"] for x in rounds])
        m["SegCdf.changes"] = median([sum(x["changes"].values()) for x in rounds])
        m["SegManifest.written_mb"] = median([x["written_bytes"] / 1e6 for x in rounds])
        f = r["final"]
        m["SegSource.files_live"] = f["files_live"]
        m["SegManifest.table_mb"] = f["table_bytes"] / 1e6
        m["SegManifest.history_mb"] = f["dir_bytes"] / 1e6
    return m


def check(workload, expected, r, run_dir):
    """Failed operations, with reasons, over every pass of the run."""
    fails = []
    for i, _ in enumerate(r["passes"]):
        if workload == "eth_jobs":
            fails += oracle.check_eth(expected, f"{run_dir}/eth/pass{i}")
        elif workload == "corpus_pipeline":
            fails += oracle.check_corpus(expected, f"{run_dir}/corpus/pass{i}")
    if workload == "gseg_upsert":
        fails += oracle.check_gseg(expected, r["rounds"], r.get("final"))
    return fails

# ----------------------------------------------------------------- main


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath = build()
    started = time.time()
    probe_ms, host = host_probe()
    data, expected = inputs(a.workload, a.seed)
    run_dir = os.path.join(STATE, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dgraft.scratch.disk=1",
           "-cp", classpath, "perfbench.Harness", "--workload", a.workload,
           "--data", data, "--out", run_dir, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores)]
    with open(os.path.join(STATE, "jvm.log"), "w") as jlog:
        steal0, launched = cpu_steal(), time.time()
        p = subprocess.Popen(cmd + ["--launch-ns", str(time.time_ns())], cwd=ROOT,
                             stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the harness JVM ran out of time")
    steal = round(100 * (cpu_steal() - steal0) / (time.time() - launched) / cores, 1)
    if rc != 0:
        raise SystemExit(f"perfbench: the harness JVM failed ({rc}), see {STATE}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as fh:
        r = json.load(fh)
    fails = check(a.workload, expected, r, run_dir)
    for f in fails[:20]:
        log(f"FAILED {f}")
    attempted = len(r["passes"]) * r["ops_per_pass"]
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = (per_layer(a.workload, r, [m["name"] for m in declared]) if a.trace
              else end_to_end(a.workload, r))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "host_probe_ms_per_gib": probe_ms, "host_state": host, "steal_pct": steal,
              "passes": len(r["passes"]), "failed": len(fails),
              "walls_s": [p["wall_s"] for p in r["passes"]],
              "cold_steps_s": {s["name"]: s["s"] for s in r["passes"][0]["steps"]},
              "steps_s": {n: median([s["s"] for p in r["passes"][r["warm_up"]:] for s in p["steps"]
                                     if s["name"] == n])
                          for n in dict.fromkeys(s["name"] for s in r["passes"][0]["steps"])},
              "metrics": {k: v["value"] for k, v in metrics.items()},
              "when": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    with open(os.path.join(STATE, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"host_probe_ms_per_gib={probe_ms} host_state={host} steal_pct={steal} "
          f"passes={len(r['passes'])}")
    print(json.dumps({"correct": not fails,
                      "attempted": attempted, "failed": len(fails), "metrics": metrics}))


if __name__ == "__main__":
    main()
