#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny scale (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that:
  * every workload runs, is correct, and prints every end-to-end metric of
    BENCHMARK.json (--trace 0) and every per-layer metric (--trace 1);
  * a table data file corrupted after the ingest makes the run fail
    (correct=false, failed>0) instead of being reported as a fast run;
  * a directory holding only BENCHMARK.json and perfbench/ makes run.py exit
    non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(*args, cwd=ROOT):
    # a live window needs about a dozen epochs for the 2 async folds it requires
    seconds = "6" if "ingest_live" in args else "3"
    cmd = [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", seconds, "--scale", "tiny"]
    p = subprocess.run(cmd + list(args), cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result(args):
    rc, lines, err = run(*args)
    assert rc == 0, f"{args}: exit {rc}\n{err[-2000:]}\n" + "\n".join(lines[-20:])
    r = json.loads(lines[-1])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1, r
    return r


def main():
    e2e = [m["name"] for m in SPEC["end_to_end"]]
    layer = [m["name"] for m in SPEC["per_layer"]]
    for w in SPEC["workloads"]:
        for trace, names in ((0, e2e), (1, layer)):
            r = result(["--workload", w["name"], "--trace", str(trace)])
            assert r["correct"], f"{w['name']} trace={trace}: not correct: {r}"
            missing = [n for n in names if n not in r["metrics"]]
            assert not missing, f"{w['name']} trace={trace}: missing {missing}"
            extra = [n for n in r["metrics"] if n not in names]
            assert not extra, f"{w['name']} trace={trace}: unexpected {extra}"
            for n in names:
                assert isinstance(r["metrics"][n]["value"], (int, float)), (n, r["metrics"][n])
            if trace == 0:
                zero = [n for n in names if r["metrics"][n]["value"] <= 0]
                assert not zero, f"{w['name']}: end-to-end metrics not positive: {zero}"
            print(f"ok {w['name']} trace={trace}: {len(names)} metrics, "
                  f"attempted={r['attempted']} failed={r['failed']}", flush=True)

    for w in ("ingest_bulk", "ingest_live"):
        r = result(["--workload", w, "--trace", "0", "--corrupt"])
        assert not r["correct"] and r["failed"] > 0, f"{w}: corruption not caught: {r}"
        print(f"ok {w} with a corrupted table file: correct=false failed={r['failed']}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/target", "project/project"))
    rc, lines, _ = run("--workload", "ingest_bulk", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0, "run.py succeeded without the engine sources"
    assert not (lines and lines[-1].startswith("{")), "run.py printed a result without the engine sources"
    print(f"ok bare directory: exit {rc}, no result", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
