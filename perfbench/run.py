#!/usr/bin/env python3
"""Benchmark of record for the graft CDC engine.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 12 --trace 0

Workloads:
  ingest_bulk  closed-loop WAL catch-up at local[4], then again at local[1]
  ingest_live  open-loop WAL release beside DSv2 point lookups and a change feed
  ops_suite    every graft.ops query, warm, on the committed sf0.1 tables

The first run in a checkout compiles the engine's sources together with the
benchmark (sbt, in perfbench/). Each workload runs in fresh JVMs that drive
the engine through its public API; this script assembles their results,
checks ops_suite results against DuckDB and recorded digests, and prints one
JSON object as the last line of stdout. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones (and writes spans under
.perfbench_out/). See perfbench/NOTES.md for what every metric means.

Extra flags for the self-test: `--scale tiny` and `--corrupt`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench.digest")
HEAP = "3g"


class BenchError(Exception):
    pass


def log(msg):
    print(msg, flush=True)


# ---------------------------------------------------------------- build ----

def source_digest():
    """Digest of every input of the benchmark build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found next to perfbench/; "
                         "run from the root of a full source checkout")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME must name a Spark 4 installation")
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log_path = os.path.join(HERE, "target", "build.log")
    t0 = time.time()
    with open(log_path, "w") as lf:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                      cwd=HERE, env=env, stdout=lf, timeout=840)
    if rc != 0 or not os.path.exists(JAR):
        tail = open(log_path).read()[-2000:]
        raise BenchError(f"benchmark build failed (rc={rc}):\n{tail}")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built {os.path.relpath(JAR, ROOT)} in {time.time() - t0:.1f}s")


def run_proc(cmd, cwd, env, stdout, timeout):
    """Run a child in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} timed out after {timeout}s")


# ------------------------------------------------------------------ JVM ----

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


RUN_LIMIT_S = 170        # one run, after the build, must end well within 180 s
DEADLINE = [None]


def jvm(mode, work, args, label):
    """One benchmark JVM; returns its parsed PERFBENCH_RESULT object."""
    timeout = DEADLINE[0] - time.time() - 8   # leave time for the check and clean-up
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = JAR + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = [java_bin()] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main", "--mode", mode, "--work", work]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log_path = os.path.join(OUT, f"{label}.log")
    out_path = os.path.join(work, f"{label}.stdout")
    t0 = time.time()
    with open(out_path, "w") as so, open(log_path, "w") as se:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=so, stderr=se, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{label} JVM timed out after {timeout}s (log: {log_path})")
    result = None
    for line in open(out_path):
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if rc != 0 or result is None:
        raise BenchError(f"{label} JVM failed (rc={rc}); log tail:\n" + open(log_path).read()[-3000:])
    aborted = [f for f in result["failures"] if " aborted: " in f]
    if aborted:
        raise BenchError(f"{label}: {aborted[0]} (log: {log_path})")
    for line in result["lines"]:
        log(f"  [{label}] {line}")
    for line in open(log_path):
        if line.startswith("[graft]"):   # the engine's own failure reports
            log(f"  [{label}] engine: {line.strip()}")
    log(f"  [{label}] JVM wall {time.time() - t0:.1f}s")
    return result


# ------------------------------------------------------------ workloads ----

# Rep counts are fixed by --seconds alone (not by measured times), so every
# run of a workload does the same work and sits at the same point of the JIT
# warm-up curve.
def bulk_reps(seconds):
    """timed local[4] catch-ups (~2.5 s each, plus ~2.5 s of set-up and checks)"""
    return max(4, round(seconds / 3))


def ops_passes(seconds):
    """warm passes over the suite of ~20 s each"""
    return max(1, round(seconds / 18))


def ingest_bulk(a, work):
    """local[4] catch-ups; the traced run adds the local[1] reference JVM."""
    tiny = a.scale == "tiny"
    common = {"seed": a.seed, "trace": a.trace, "events": 20000 if tiny else 500000,
              "corrupt": int(a.corrupt), "out": OUT}
    w4 = jvm("bulk", os.path.join(work, "w4"), dict(common, cores=4, seconds=a.seconds,
             **{"reps": bulk_reps(a.seconds), "run-id": f"{a.run_id}-w4"}), "ingest_bulk-w4")
    results = [w4]
    eps4 = statistics.median(w4["seqs"]["eps_samples"])
    e2e = {"setup_s": statistics.median(w4["seqs"]["setup_s_samples"]),
           "rate_per_s": eps4,
           "p50_ms": statistics.median(w4["seqs"]["epoch_p50_ms_samples"]),
           "p95_ms": statistics.median(w4["seqs"]["epoch_p95_ms_samples"])}
    layer = dict(w4["metrics"], ingest_eps=eps4)
    log(f"ingest_bulk: ingest_eps={eps4:.0f} write_amp={layer['write_amp']:.3f} "
        f"space_amp={layer['space_amp']:.3f}")
    if a.trace:
        w1 = jvm("bulk", os.path.join(work, "w1"), dict(common, cores=1, seconds=0, **{
            "reps": 1, "regen-per-rep": 0, "run-id": f"{a.run_id}-w1"}),
            "ingest_bulk-w1")
        results.append(w1)
        eps1 = statistics.median(w1["seqs"]["eps_samples"])
        layer.update(ingest_eps_w1=eps1, scaling_eff=eps4 / (4 * eps1))
        log(f"ingest_bulk: ingest_eps_w1={eps1:.0f} "
            f"scaling_eff={eps4 / (4 * eps1):.3f} (derived figure, not gated)")
    return e2e, layer, results, (0, [])


def ingest_live(a, work):
    r = jvm("live", os.path.join(work, "live"),
            {"seed": a.seed, "trace": a.trace, "seconds": a.seconds, "cores": 4,
             "tiny": int(a.scale == "tiny"), "corrupt": int(a.corrupt), "out": OUT,
             "run-id": a.run_id}, "ingest_live")
    m = r["metrics"]
    e2e = {"setup_s": statistics.median(r["seqs"]["setup_s_samples"]),
           "rate_per_s": m["lookups_per_s"],
           "p50_ms": m["fresh_p50_ms"],
           "p95_ms": m["fresh_p95_ms"]}
    log(f"ingest_live: fresh_p50_ms={m['fresh_p50_ms']:.1f} fresh_p95_ms={m['fresh_p95_ms']:.1f} "
        f"read_p50_ms={m['read_p50_ms']:.1f} read_p95_ms={m['read_p95_ms']:.1f} "
        f"write_amp={m['write_amp']:.3f} lookups_per_s={m['lookups_per_s']:.2f} "
        f"folds={m['fold.count']:.0f} busy_frac={m['stream.busy_frac']:.2f} "
        f"release_late_p95_ms={m['gen.release_late_p95_ms']:.0f}")
    return e2e, dict(m), [r], (0, [])


def ops_suite(a, work):
    import ops_check   # needs the repo's tools/ (and DuckDB), so only here
    sf = "sf0.001" if a.scale == "tiny" else "sf0.1"
    data = os.path.join("perfbench", "data", sf)   # relative: resolved from the checkout root
    out = os.path.join(work, "ops-out")
    r = jvm("ops", os.path.join(work, "ops"),
            {"seed": a.seed, "trace": a.trace, "seconds": a.seconds, "cores": 4,
             "data": data, "out": out, "reps": ops_passes(a.seconds), "spans": OUT,
             "run-id": a.run_id}, "ops_suite")
    checked, failures = ops_check.check(out, os.path.join(ROOT, data), sf,
                                        os.path.join(HERE, "expected_ops.json"), log)
    m = r["metrics"]
    e2e = {"setup_s": r["seqs"]["setup_s_samples"][0],
           "rate_per_s": m["queries_per_s"],
           "p50_ms": m["query_p50_ms"],
           "p95_ms": m["query_p95_ms"]}
    log(f"ops_suite: ops_total_s={m['ops_total_s']:.3f} passes={len(r['seqs']['pass_s_samples'])}")
    return e2e, dict(m), [r], (checked, failures)


WORKLOADS = {"ingest_bulk": ingest_bulk, "ingest_live": ingest_live, "ops_suite": ops_suite}


# ------------------------------------------------------------ reporting ----

def mount_of(path):
    """(mount point, fs type) holding path, from /proc/mounts when available."""
    path = os.path.realpath(path)
    best = ("?", "?")
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mp, fstype = parts[1], parts[2]
                if (path == mp or path.startswith(mp.rstrip("/") + "/")) and len(mp) >= len(best[0]):
                    best = (mp, fstype)
    except OSError:
        pass
    return best


def conditions(results):
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    info = results[0]["info"] if results else {}
    mp, fs = mount_of(WORK)
    return {"nproc": os.cpu_count(), "heap": f"-Xmx{HEAP}", "heap_max_mb": info.get("heap_max_mb"),
            "gc": info.get("gc"), "spark": info.get("spark_version"), "git_commit": commit,
            "source_digest": open(STAMP).read()[:16] if os.path.exists(STAMP) else None,
            # WAL, table, checkpoint, spark.local.dir and java.io.tmpdir all live here
            "work_fs": f"{fs} at {mp}"}


def spec(kind):
    """The metrics BENCHMARK.json lists under kind ("end_to_end" or "per_layer")."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    a.run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}"
    try:
        build()
        DEADLINE[0] = time.time() + RUN_LIMIT_S
        os.makedirs(OUT, exist_ok=True)
        work = os.path.join(WORK, a.run_id)
        shutil.rmtree(work, ignore_errors=True)
        try:
            e2e, layer, results, (checked, check_failures) = WORKLOADS[a.workload](a, work)
        finally:
            t0 = time.time()
            shutil.rmtree(work, ignore_errors=True)
            log(f"removed work dir in {time.time() - t0:.1f}s")
    except BenchError as e:
        print(f"perfbench: run aborted: {e!r}", file=sys.stderr)
        return 2

    attempted = sum(r["attempted"] for r in results) + checked
    failures = [f for r in results for f in r["failures"]]
    unexpected = [f for f in check_failures if not f.startswith("KNOWN ")]
    failed = len(failures) + len(check_failures)
    correct = not failures and not unexpected
    for f in failures + check_failures:
        log(f"named failure: {f}")
    layer["error_rate"] = failed / max(1, attempted)
    log(f"error_rate={failed}/{attempted}")
    log("conditions: " + json.dumps(conditions(results), sort_keys=True))

    # the tracing overhead compares against the untraced run of the same
    # seed and shape, so the two did the same work
    last_path = os.path.join(OUT, f"untraced-{a.workload}-{a.scale}-{a.seconds:g}s-s{a.seed}.json")
    if a.trace == 0:
        with open(last_path, "w") as f:
            json.dump(e2e, f)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec("end_to_end")}
    else:
        overhead = 0.0
        if os.path.exists(last_path):
            base = json.load(open(last_path))
            overhead = 100.0 * (base["rate_per_s"] - e2e["rate_per_s"]) / base["rate_per_s"]
            log(f"tracing overhead: rate_per_s {base['rate_per_s']:.4g} untraced -> "
                f"{e2e['rate_per_s']:.4g} traced ({overhead:+.1f}%), "
                f"p50_ms {base['p50_ms']:.4g} -> {e2e['p50_ms']:.4g}")
        else:
            log("tracing overhead: no untraced run of this workload and seed in this checkout")
        layer["trace.overhead_pct"] = overhead
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec("per_layer")}
        for n, m in sorted(metrics.items()):
            log(f"layer {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
