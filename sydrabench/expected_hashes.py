#!/usr/bin/env python3
"""Derive sydrabench/expected_hashes.json, the analytic workload's answers.

    python3 sydrabench/expected_hashes.py

For each headline query and each data set the benchmark reads (sf0.1, and
sf0.001 for --smoke), the expected hash is that of the query's DuckDB
oracle SQL over the same parquet tables, hashed as tools/oracle_check.py
does. Where the registry has no oracle, it is the hash of this build's own
result, marked "spark". Exits nonzero, writing nothing, if a Spark result
disagrees with its oracle.
"""
import json
import os
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.BENCH, "expected_hashes.json")


def main():
    cp = run.build()
    sys.path.insert(0, os.path.join(run.ROOT, "tools"))
    import duckdb
    from oracle_check import TABLES, table_hash
    oracle = json.loads(subprocess.run(
        ["java", "-cp", cp, "graft.perfbench.OracleSql"], cwd=run.ROOT, check=True,
        stdout=subprocess.PIPE, text=True).stdout.strip().splitlines()[-1])
    expected, bad = {}, []
    for scale, smoke in (("0.1", False), ("0.001", True)):
        sf = run.sf_dir(scale)
        tmp = os.path.join(run.TARGET, "tmp", f"expected-{scale}")
        results = os.path.join(tmp, "results")
        os.makedirs(results, exist_ok=True)
        try:
            argv = ["--workload", "analytic", "--seed", "1", "--seconds", "0.01", "--trace", "0",
                    "--sf-dir", sf, "--results-dir", results] + (["--smoke", "1"] if smoke else [])
            code, out, err = run.run_jvm(cp, [], tmp, argv)
            if code != 0:
                sys.stderr.write(err[-4000:])
                sys.exit(f"analytic run on sf{scale} exited {code}")
            got = run.result_hashes(results)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        rows = {}
        for name in sorted(oracle):
            if oracle[name] is None:
                rows[name] = {"hash": got[name], "source": "spark"}
                continue
            rel = con.sql(oracle[name])
            want = table_hash([d[0] for d in rel.description], rel.fetchall())
            rows[name] = {"hash": want, "source": "duckdb"}
            if got.get(name) != want:
                bad.append(f"sf{scale} {name}: spark {got.get(name)} != oracle {want}")
        expected[f"sf{scale}"] = rows
    if bad:
        sys.exit("\n".join(bad))
    with open(OUT, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
