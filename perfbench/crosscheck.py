#!/usr/bin/env python3
"""Re-pin the analytics digests and cross-check them against DuckDB.

    python3 perfbench/crosscheck.py

Runs every analytics query once on the committed testdata, writes each
result as parquet and its digest to perfbench/analytics_pins.tsv, then
compares the results that have oracle SQL with DuckDB 1.0 through the
repository's own correctness gate, tools/validate.py (which normalizes
and hashes both sides with tools/hashnorm.py). The verdict goes to
perfbench/results/analytics_crosscheck.json. Run it from the repository
root, and only when the query list or the engine's answers change.
"""
import json
import os
import shutil
import subprocess
import sys

import run

RESULTS = os.path.join(run.HERE, "results")


def main():
    cp = run.classpath()
    work = os.path.join(run.HERE, ".work", "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "results")
    testdata = os.path.join(run.HERE, "testdata", "sf0.01")
    cmd = ["java", run.JVM_OPTS, f"-Xmx{run.heap()}", f"-Djava.io.tmpdir={work}",
            f"-Dgraft.stage.dir={os.path.join(work, 'stage')}", "-cp", cp,
            "perfbench.Pin", testdata, os.path.join(run.HERE, "analytics_pins.tsv"), out]
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "pin.log"), "w") as log:
        subprocess.run(cmd, check=True, stdout=log, stderr=subprocess.STDOUT)
    report = os.path.join(work, "report.json")
    subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "validate.py"),
                    testdata, out, report], check=True)
    with open(report) as f:
        rep = json.load(f)
    with open(os.path.join(run.HERE, "analytics_pins.tsv")) as f:
        pins = dict(l.rstrip("\n").split("\t") for l in f if "\t" in l)
    verdict = {name.removesuffix(".parquet"): {
        "pin": pins.get(name.removesuffix(".parquet")),
        "duckdb_hash_match": r["hash_match"], "rows": r["spark_rows"], "err": r["err"]}
        for name, r in rep.items()}
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "analytics_crosscheck.json"), "w") as f:
        json.dump(verdict, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    bad = [n for n, v in verdict.items() if not v["duckdb_hash_match"]]
    print(f"{len(verdict) - len(bad)} of {len(verdict)} pins match DuckDB" +
          (f"; mismatched: {', '.join(bad)}" if bad else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
