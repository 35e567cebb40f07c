#!/usr/bin/env python3
"""Benchmark of the citation engine: one workload per invocation.

    python3 perfbench/run.py --workload {ingest,serve,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine and the
benchmark harness from source with sbt (offline) and caches the class
path under perfbench/.build; later runs start the JVM directly.

--trace 0 measures the end-to-end metrics with tracing off; --trace 1
records spans around every call into the engine's layers plus Spark
listener counts, and reports the per-layer metrics. Both lists are in
BENCHMARK.json. Each run prints one `workload.name value unit` line per
metric, then one JSON object as its last line. The full record goes to
perfbench/out/<workload>-seed<N>-trace<T>.json (spans: .spans.jsonl).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("ingest", "serve", "analytics")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Module opens Spark needs on JDK 17 (shared with build.sbt's tests).
JVM_OPTS = "@" + os.path.join(HERE, "jvm.opts")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half the machine's memory in whole GiB, between 2 and 8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def sources_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed since the cached build."""
    stamp = sources_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env["SBT_OPTS"] = opts
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            timeout=BUILD_TIMEOUT_S, text=True)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed, see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(args, cp, work, result, spans, log_path):
    n, mem = cores(), heap()
    cmd = ["java", JVM_OPTS, f"-Xmx{mem}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dgraft.stage.dir={os.path.join(work, 'stage')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(n), "--heap", mem, "--work", work,
            "--result", result, "--spans", spans,
            "--testdata", os.path.join(HERE, "testdata", "sf0.01"),
            "--pins", os.path.join(HERE, "analytics_pins.tsv"),
            "--corpus-scale", str(args.corpus_scale)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        cmd += ["--launch-ns", str(time.time_ns())]
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:  # timed out, or this script was stopped
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    # A stopped run still stops its JVM (see run_jvm's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus-scale", type=float, default=1,
                    help="multiplies the ingest corpus (for the 1x/2x check)")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    with open(spec_path) as f:
        spec = json.load(f)

    cp = classpath()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.corpus_scale != 1:
        tag += f"-x{args.corpus_scale}"
    result = os.path.join(OUT, tag + ".json")
    spans = os.path.join(OUT, tag + ".spans.jsonl")
    log_path = os.path.join(OUT, tag + ".log")
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    for p in (result, spans):
        if os.path.exists(p):
            os.remove(p)
    try:
        code = run_jvm(args, cp, work, result, spans, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"{args.workload} run {'timed out' if code is None else 'failed'}; log: {log_path}")

    with open(result) as f:
        rec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = rec["per_layer"] if args.trace else {
        k: v["value"] for k, v in rec["end_to_end"].items()}
    metrics, unmeasured = {}, []
    for m in wanted:
        v = got.get(m["name"])
        if v is None or not math.isfinite(v):
            if not args.trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            # a layer this workload does not exercise
            unmeasured.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    rec["reported"] = metrics
    rec["unmeasured"] = unmeasured
    with open(result, "w") as f:
        json.dump(rec, f, indent=1)

    w = args.workload
    print(f"{w}.cores {rec['cores']} count")
    print(f"{w}.heap_gib {rec['heap'].rstrip('g')} GiB")
    shown = {**rec["named"], **({} if args.trace else rec["end_to_end"])}
    for k, v in {**shown, **metrics}.items():
        print(f"{w}.{k} {v['value']} {v['unit']}")
    for e in rec["errors"][:5]:
        print(f"{w}.error {e[:400]}")
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
