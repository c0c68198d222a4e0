"""Correctness check of ops_suite results, run after the timed window.

Each query's result (written by the benchmark's cold pass) is compared with
DuckDB running the query's oracle SQL over the same parquet tables, rows and
columns in canonical order. Queries without an oracle are compared with a
recorded row count and an order-independent digest of their canonical rows
(expected_ops.json). A mismatch that equals a recorded known defect exactly
is reported as a named KNOWN failure; any other mismatch is a failure.

    python3 perfbench/ops_check.py <results_dir> <sf_dir> <sf_name> [--record]

`--record` rewrites the digests of the no-oracle queries for <sf_name>.
"""
import hashlib
import json
import os
import sys

# the tables and the canonical row form of the repo's DuckDB comparison
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import TABLES, canon  # noqa: E402


def digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def load_results(results_dir):
    import pandas as pd
    out = {}
    for name in sorted(os.listdir(results_dir)):
        if name.endswith(".parquet"):
            out[name[:-len(".parquet")]] = canon(pd.read_parquet(os.path.join(results_dir, name)))
    return out


def check(out_dir, sf_dir, sf_name, expected_path, log=print, record=False):
    """Returns (results checked, named failures); KNOWN ones are prefixed 'KNOWN '."""
    import duckdb
    results = load_results(os.path.join(out_dir, "results"))
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    expected = json.load(open(expected_path))
    exp = expected.setdefault(sf_name, {})
    known = expected.get("known_failures", {}).get(sf_name, {})
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = []
    n_oracle = n_digest = 0
    for name, got in sorted(results.items()):
        if name in oracles:
            n_oracle += 1
            want = canon(con.sql(oracles[name]).df())
            if want == got:
                continue
            wset, gset = set(want), set(got)
            diff = digest(sorted([("spark",) + r for r in got if r not in wset] +
                                 [("duckdb",) + r for r in want if r not in gset]))
            if name in known and known[name]["diff_sha256"] == diff:
                failures.append(f"KNOWN {name}: {known[name]['reason']}")
            else:
                failures.append(f"{name}: spark {len(got)} rows != duckdb {len(want)} rows "
                                f"(diff {diff[:12]})")
        else:
            n_digest += 1
            rec = {"rows": len(got), "sha256": digest(got)}
            if record:
                exp[name] = rec
            elif exp.get(name) != rec:
                failures.append(f"{name}: {rec['rows']} rows digest {rec['sha256'][:12]} "
                                f"!= recorded {exp.get(name)}")
    missing = sorted(set(oracles) - set(results))
    failures += [f"{n}: no result written" for n in missing]
    if record:
        with open(expected_path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    log(f"ops correctness: {n_oracle} vs DuckDB, {n_digest} vs recorded digests, "
        f"{len(failures)} named failures")
    return len(results), failures


if __name__ == "__main__":
    d, sf_dir, sf = sys.argv[1:4]
    _, fs = check(d, sf_dir, sf, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                           "expected_ops.json"), record="--record" in sys.argv)
    for f in fs:
        print(f)
