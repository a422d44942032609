#!/usr/bin/env python3
"""Crawl-engine benchmark: builds the engine and the benchmark program from
source, runs one workload and prints its metrics.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --all --seed 1            # every workload + summary
    python3 perfbench/run.py --smoke                   # tiny sizes, name check

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics. See perfbench/README.md for what each workload and metric means.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
SCRATCH = os.path.join(BUILD, "work")
WORKLOADS = ["frontier_wave", "crawl_wide", "crawl_deep", "corpus_dedup"]
DEADLINE_S = 170.0  # a run must end within 180 s
BUILD_TIMEOUT_S = 850.0
CORES = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, so a changed source triggers a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "test", "scala", "graft", "sim", "ColaSimulator.scala"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def missing_sources():
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "src", "test", "scala", "graft", "sim", "ColaSimulator.scala")]
    return [p for p in need if not os.path.exists(p)]


def build():
    """Compiles engine + benchmark with sbt once per source state; returns the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (os.path.exists(stamp_file) and os.path.exists(cp_file)
                and open(stamp_file).read() == stamp):
            return open(cp_file).read().strip()
        log("building engine and benchmark with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "sbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = opts.strip()
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
               "export Runtime/fullClasspathAsJars"]
        p = run_child(cmd, cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S)
        if p is None or p[0] != 0:
            log("build failed:\n" + (p[1][-4000:] if p else "timed out"))
            sys.exit(3)
        cp = [l for l in p[1].splitlines() if ".jar" in l and not l.startswith("[")]
        if not cp:
            log("build printed no classpath")
            sys.exit(3)
        with open(cp_file, "w") as fh:
            fh.write(cp[-1].strip())
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        return cp[-1].strip()


def run_child(cmd, cwd, env, timeout):
    """Runs cmd in its own process group; returns (code, stdout) or None on
    timeout, after the whole group is stopped."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None
    if p.returncode != 0:
        sys.stderr.write(err[-6000:])
    return p.returncode, out


def jvm(classpath, workload, seed, seconds, trace, cores, size, deadline):
    """Runs one benchmark JVM pinned to `cores` CPUs; returns its result
    dict, or None when it failed or ran out of time. Checkpoint state and
    Spark's local dir live under SCRATCH (disk-backed, inside the checkout,
    unless --scratch moves them)."""
    work = os.path.join(SCRATCH, "%s-%d-%d" % (workload, os.getpid(), cores))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = "3g" if workload == "crawl_wide" else "2g"
    cmd = []
    if shutil.which("taskset") and (os.cpu_count() or 1) >= cores:
        cmd += ["taskset", "-c", "0-%d" % (cores - 1)]
    # a fixed, pre-touched heap with a fixed young generation: collections
    # then fall at the same allocation points on every run
    cmd += ["java", "-Xmx" + heap, "-Xms" + heap, "-Xmn512m", "-XX:+AlwaysPreTouch",
            "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:ActiveProcessorCount=%d" % cores,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--work", work, "--cache", os.path.join(BUILD, "refcache"),
            "--size", size]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    try:
        p = run_child(cmd, cwd=work, env=env, timeout=deadline - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if p is None:
        log("%s (local[%d]) timed out" % (workload, cores))
        return None
    for line in reversed(p[1].splitlines()):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    log("%s (local[%d]) printed no result" % (workload, cores))
    return None


def run_workload(classpath, workload, seed, seconds, trace, size):
    """Runs the workload's JVMs; returns their merged result, or None."""
    deadline = time.time() + DEADLINE_S
    if workload != "frontier_wave":
        r = jvm(classpath, workload, seed, seconds, trace, CORES, size, deadline)
        if r is None:
            return None
        return merge([r], r)
    # the 1-core JVM times a single wave: it supplies the scaling pair's
    # low end and the digest the 4-core schedule must match
    lo = jvm(classpath, workload, seed, 0, False, 1, size, deadline)
    hi = jvm(classpath, workload, seed, seconds, trace, CORES, size, deadline)
    if lo is None or hi is None:
        return None
    res = merge([lo, hi], hi)
    same = lo["info"].get("digest") == hi["info"].get("digest")
    res["checks"]["digest_equal_1_and_4_cores"] = same
    if not same:
        res["failed"] = res["attempted"]
    eff = hi["metrics"]["items_per_s"] / lo["metrics"]["items_per_s"] / CORES
    res["info"]["frontier_urls_per_s"] = hi["metrics"]["items_per_s"]
    res["info"]["scaling_eff_1to4"] = eff
    return res


def merge(results, main):
    return {"attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "checks": {k: v for r in results for k, v in r["checks"].items()},
            "metrics": dict(main["metrics"]), "layers": dict(main["layers"]),
            "info": dict(main["info"])}


# figures that apply to one workload only, reported in the per-layer set
SPECIFIC = {"frontier.urls_per_s": "frontier_urls_per_s",
            "frontier.scaling_eff_1to4": "scaling_eff_1to4",
            "crawl.urls_per_s": "crawl_urls_per_s",
            "crawl.resume_s": "resume_s",
            "wave.p90_s": "wave_s_p90",
            "corpus.docs_per_s": "corpus_docs_per_s"}


def layer_metrics(res, spec):
    layers = dict(res["layers"])
    for name, key in SPECIFIC.items():
        layers[name] = res["info"].get(key, 0.0)
    floor = layers.get("floor.empty_job_s", 0.0)
    flagged = sorted(k for k, v in layers.items()
                     if k.endswith("_s") and not k.startswith("floor.") and 0 < v < floor)
    layers["floor.flagged"] = float(len(flagged))
    res["info"]["below_floor"] = flagged
    out = {}
    for m in spec["per_layer"]:
        out[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def e2e_metrics(res, spec):
    return {m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]}


def remember(workload, res):
    os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
    with open(os.path.join(BUILD, "last", workload + ".json"), "w") as fh:
        json.dump(res["info"], fh)


def summary():
    """Prints the isolated wave and the engine side by side."""
    last = {}
    for w in WORKLOADS:
        p = os.path.join(BUILD, "last", w + ".json")
        if os.path.exists(p):
            last[w] = json.load(open(p))
    f = last.get("frontier_wave", {}).get("frontier_urls_per_s")
    for w in ("crawl_wide", "crawl_deep"):
        c = last.get(w, {}).get("crawl_urls_per_s")
        if f and c:
            print("summary (last full run of each): frontier_urls_per_s %.0f URL/s | %s"
                  " crawl_urls_per_s %.1f URL/s | isolated wave / engine = %.1fx" % (f, w, c, f / c))


def print_table(workload, res, metrics, trace):
    print("== %s: attempted %d, failed %d (failed_frac %.3f)" % (
        workload, res["attempted"], res["failed"], res["failed"] / max(res["attempted"], 1)))
    for k, v in sorted(res["checks"].items()):
        print("   check %-32s %s" % (k, "ok" if v else "FAILED"))
    for k, v in res["info"].items():
        if isinstance(v, (int, float)):
            print("   %-32s %.6g" % (k, v))
    below = set(res["info"].get("below_floor", []))
    for k, v in metrics.items():
        mark = "  (below noise floor)" if k in below else ""
        print("   %-32s %14.6g %s%s" % (k, v["value"], v["unit"], mark))
    attr = res["info"].get("attribution")
    if trace and attr:
        print("   job attribution per wave (engine module: jobs, busy s):")
        for layer, a in sorted(attr.items(), key=lambda x: -x[1]["busy_s_per_wave"]):
            print("     %-12s %7.2f jobs %8.3f s" % (layer, a["jobs_per_wave"], a["busy_s_per_wave"]))


def one(classpath, spec, workload, seed, seconds, trace, size, quiet=False):
    res = run_workload(classpath, workload, seed, seconds, trace, size)
    if res is None:
        return None
    metrics = layer_metrics(res, spec) if trace else e2e_metrics(res, spec)
    if size == "full":
        remember(workload, res)
    if trace:
        os.makedirs(os.path.join(BUILD, "layers"), exist_ok=True)
        with open(os.path.join(BUILD, "layers", workload + ".json"), "w") as fh:
            json.dump({"metrics": metrics, "info": res["info"]}, fh, indent=1)
    if not quiet:
        print_table(workload, res, metrics, trace)
    correct = res["failed"] == 0 and all(res["checks"].values())
    return {"correct": correct, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def smoke(classpath, spec):
    """Every workload at tiny size, traced and untraced; the printed metric
    names must be exactly those of BENCHMARK.json."""
    e2e = {m["name"] for m in spec["end_to_end"]}
    per = {m["name"] for m in spec["per_layer"]}
    ok = True
    for w in WORKLOADS:
        for trace in (False, True):
            out = one(classpath, spec, w, 1, 1, trace, "smoke", quiet=True)
            want = per if trace else e2e
            good = out is not None and out["correct"] and set(out["metrics"]) == want
            print("smoke %-14s trace=%d %s" % (w, trace, "ok" if good else "FAILED"))
            ok = ok and good
    print(json.dumps({"smoke_ok": ok}))
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--scratch", help="directory for checkpoint state and Spark's local dir "
                    "(default: .bench_build/work); e.g. /dev/shm to measure tmpfs state")
    a = ap.parse_args()
    if a.scratch:
        global SCRATCH
        SCRATCH = os.path.abspath(a.scratch)
    missing = missing_sources()
    if missing or not os.path.exists(SPEC):
        log("engine sources not found (%s); run from a full checkout" %
            ", ".join(os.path.relpath(p, ROOT) for p in missing or [SPEC]))
        sys.exit(2)
    spec = json.load(open(SPEC))
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    classpath = build()
    if a.smoke:
        sys.exit(0 if smoke(classpath, spec) else 1)
    if a.all:
        for w in WORKLOADS:
            print(json.dumps(one(classpath, spec, w, a.seed, seconds, bool(a.trace), "full")))
        summary()
        return
    if a.workload is None:
        ap.error("--workload, --all or --smoke is required")
    out = one(classpath, spec, a.workload, a.seed, seconds, bool(a.trace), "full")
    if out is None:
        log("no result for %s" % a.workload)
        sys.exit(1)
    summary()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
