#!/usr/bin/env python3
"""One-command close-of-round gate: every claim the round makes, produced
as one committed artifact directory so claims and artifacts cannot
drift (rounds 6-8 each lost time to exactly that — an sf1 table benched
on a pre-restructure tree, a protocol change stranding the committed
headline, a fix landing after its motivating measurement).

Runs, in order, against the CURRENT CLEAN TREE:
  1. `sbt test`                          -> sbt_test.log (must be green)
  2. full-suite correctness at sf0.01    -> correctness_sf0.01.json
  3. matched bench pair at sf0.1         -> bench_pair_sf0.1.json
  4. full-suite correctness at sf1       -> correctness_sf1.json
     (guarded oracle: per-statement kill budget; oracle timeouts are a
      reported category, not failures — see tools/validate.py)
  4b. traced perfbench serve run         -> serve-seed1-trace1.json
     (fails unless its last line says "correct": true)
  5. matched bench pair at sf1           -> bench_pair_sf1.json
  6. scale gate vs the committed baseline pair + ratio table
                                         -> scale_gate.log, scale_ratio_sf1.md
  7. light leak scan (generic categories)-> leakscan.json
  8. summary.json: tree SHA, per-step status, headline numbers

Usage:
  python3 tools/release_gate.py <round_tag> [--sf1 data/sf1]
      [--sf01 /root/testdata/sf0.01] [--sf01bench /root/testdata/sf0.1]
      [--baseline <committed sf1 pair>] [--skip step1,step4,...]

Wall-clock at local[32]: ~3h, dominated by the two sf1 suites. Steps
are idempotent; a re-run with --skip resumes after a fixed step.
"""
import sys, os, json, shutil, subprocess, argparse, re, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


def sh(cmd, log=None, env=None, check=True):
    print(f"[release-gate] $ {' '.join(cmd)}", flush=True)
    e = dict(os.environ)
    if env:
        e.update(env)
    with open(log, "w") if log else open(os.devnull, "w") as f:
        r = subprocess.run(cmd, cwd=REPO, stdout=f,
                           stderr=subprocess.STDOUT, env=e)
    if check and r.returncode != 0:
        raise SystemExit(f"[release-gate] FAILED ({r.returncode}): "
                         f"{' '.join(cmd)}" + (f" — see {log}" if log else ""))
    return r.returncode


def latest_baseline():
    cands = sorted(f for f in os.listdir(os.path.join(REPO, "artifacts"))
                   if re.fullmatch(r"bench_pair_r\d+[a-z]?_sf1\.json", f))
    return os.path.join(REPO, "artifacts", cands[-1]) if cands else None


def leak_scan(outfile):
    """Generic red-flag categories only — the authoritative LEAKCHECK is
    driver-side; this catches the obvious classes early (URLs, cloud
    buckets, key-shaped strings, non-public hostnames) without encoding
    any non-public pattern itself."""
    cats = {
        "cloud-bucket": r"(s3|gs|wasb|abfss?)://",
        "key-shaped": r"(api[_-]?key|secret[_-]?key|BEGIN [A-Z]+ PRIVATE)",
        "env-cred": r"os\.environ\[.?(AWS|GCP|AZURE|TOKEN|SECRET)",
    }
    hits = {k: [] for k in cats}
    hosts = {}  # informational: URL host inventory for human review

    def scan(p, rel):
        try:
            text = open(p, errors="ignore").read()
        except OSError:
            return
        for k, pat in cats.items():
            for m in re.finditer(pat, text):
                hits[k].append(f"{rel}: {m.group(0)[:80]}")
        for m in re.finditer(r"https?://([\w.-]+)", text):
            hosts[m.group(1)] = hosts.get(m.group(1), 0) + 1

    for root, _, files in os.walk(os.path.join(REPO, "src")):
        for fn in files:
            p = os.path.join(root, fn)
            scan(p, os.path.relpath(p, REPO))
    for fn in os.listdir(TOOLS):  # excluding this scanner's patterns
        p = os.path.join(TOOLS, fn)
        if os.path.isfile(p) and fn != "release_gate.py":
            scan(p, f"tools/{fn}")
    out = {"n_hits": sum(len(v) for v in hits.values()), "hits": hits,
           "url_hosts_info": dict(sorted(hosts.items(),
                                         key=lambda kv: -kv[1]))}
    json.dump(out, open(outfile, "w"), indent=1)
    return out["n_hits"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("round_tag")
    ap.add_argument("--sf01", default="/root/testdata/sf0.01")
    ap.add_argument("--sf01bench", default="/root/testdata/sf0.1")
    ap.add_argument("--sf1", default=os.path.join(REPO, "data/sf1"))
    ap.add_argument("--baseline", default=None)
    ap.add_argument("--budget", default="300")
    ap.add_argument("--skip", default="")
    ap.add_argument("--artdir", default=None,
                    help="working artifact dir; default target/release/"
                         "<round_tag> (gitignored) so the in-flight run "
                         "never dirties `git status` — the bench-pair "
                         "artifacts must record tree_dirty=false. Copy "
                         "the finished directory to artifacts/<tag> for "
                         "the commit.")
    a = ap.parse_args()
    skip = set(a.skip.split(",")) if a.skip else set()
    art = a.artdir or os.path.join(REPO, "target", "release", a.round_tag)
    os.makedirs(art, exist_ok=True)
    # Resume-friendly: a re-run with --skip merges into the existing
    # summary instead of erasing the completed steps' record.
    sumpath = os.path.join(art, "summary.json")
    summary = {"round": a.round_tag, "steps": {}, "started": time.time()}
    if os.path.exists(sumpath):
        prev = json.load(open(sumpath))
        summary["steps"] = prev.get("steps", {})
        summary["started"] = prev.get("started", summary["started"])
        # Identity fields describe the FIRST (measuring) run.
        for k in ("tree_sha", "resume_shas", "tree_note",
                  "scale_baseline", "scale_baseline_small"):
            if k in prev:
                summary[k] = prev[k]
        summary["resumed_at"] = time.time()

    # -- 0. clean tree ---------------------------------------------------
    dirty = subprocess.run(["git", "status", "--porcelain"], cwd=REPO,
                           capture_output=True, text=True).stdout.strip()
    if dirty:
        raise SystemExit("[release-gate] tree is dirty — commit first:\n"
                         + dirty)
    sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                         capture_output=True, text=True).stdout.strip()
    # The benched tree is the FIRST run's; a resume (tool fix + --skip)
    # must not overwrite it — record resume SHAs separately. A resume is
    # only valid if every measurement-affecting path is byte-identical
    # to the measuring tree: the merged summary would otherwise stamp
    # PASS over stale measurements (r09 relied on a hand-written
    # tree_note for this; now enforced). build.sbt/project/ are in the
    # pathspec because JVM config is measurement-affecting (r10 bumped
    # the default driver heap 8g->16g for perf).
    if "tree_sha" in summary and summary["tree_sha"] != sha:
        src_diff = subprocess.run(
            ["git", "diff", "--name-only", f"{summary['tree_sha']}..HEAD",
             "--", "src/", "build.sbt", "project/"], cwd=REPO,
            capture_output=True, text=True).stdout.strip()
        summary["resume_src_identical"] = not src_diff
        if src_diff:
            raise SystemExit(
                "[release-gate] resume refused: src/ changed since the "
                f"measuring tree {summary['tree_sha'][:12]}:\n{src_diff}\n"
                "Re-run the full gate (or drop --skip for measurement "
                "steps) so artifacts match HEAD.")
        summary.setdefault("resume_shas", []).append(sha)
    else:
        summary["tree_sha"] = sha
    print(f"[release-gate] tree {sha} clean; artifacts -> {art}")

    failed_steps = []

    def step(name, fn):
        if name in skip:
            # Preserve the previous run's record — a resume's --skip
            # means "don't re-run", not "forget the result".
            summary["steps"].setdefault(name, "skipped")
            print(f"[release-gate] == {name}: SKIPPED ==")
            return
        print(f"[release-gate] == {name} ==", flush=True)
        t0 = time.time()
        try:
            fn()
            summary["steps"][name] = f"ok ({time.time() - t0:.0f}s)"
        except SystemExit as e:
            # A red step must not ABORT the evidence run: later steps
            # are independent evidence (a failing correctness row says
            # nothing about the bench pair), and a 3h run that dies at
            # minute 90 leaves the round with no artifacts at all. The
            # failure is recorded, printed, and fails the gate at exit.
            summary["steps"][name] = f"FAILED ({e}; {time.time() - t0:.0f}s)"
            failed_steps.append(name)
            print(f"[release-gate] ** {name} FAILED — continuing: {e}")
        json.dump(summary, open(os.path.join(art, "summary.json"), "w"),
                  indent=1)

    # -- 1. scalatest ------------------------------------------------------
    step("step1_sbt_test", lambda: sh(
        ["sbt", "-batch", "test"], log=os.path.join(art, "sbt_test.log")))

    # -- 2. sf0.01 full-suite correctness ---------------------------------
    def sf001():
        out = "/tmp/rg_verify_sf001"
        sh(["rm", "-rf", out])
        sh(["sbt", "-batch", f"runMain graft.Verify {a.sf01} {out}"],
           log=os.path.join(art, "verify_sf0.01.log"))
        sh([sys.executable, os.path.join(TOOLS, "validate.py"), a.sf01,
            out, os.path.join(art, "correctness_sf0.01.json")],
           log=os.path.join(art, "validate_sf0.01.log"))
    step("step2_correctness_sf0.01", sf001)

    # -- 3. bench pair sf0.1 ----------------------------------------------
    step("step3_bench_pair_sf0.1", lambda: sh(
        [sys.executable, os.path.join(TOOLS, "bench_pair.py"),
         a.sf01bench, os.path.join(art, "bench_pair_sf0.1.json"),
         a.budget],
        log=os.path.join(art, "bench_pair_sf0.1.log")))

    # -- 4. sf1 full-suite correctness (guarded oracle) --------------------
    def sf1corr():
        out = "/tmp/rg_verify_sf1"
        sh(["rm", "-rf", out])
        sh(["sbt", "-batch", f"runMain graft.Verify {a.sf1} {out}"],
           log=os.path.join(art, "verify_sf1.log"))
        sh([sys.executable, os.path.join(TOOLS, "validate.py"), a.sf1,
            out, os.path.join(art, "correctness_sf1.json"), a.budget],
           log=os.path.join(art, "validate_sf1.log"))
    step("step4_correctness_sf1", sf1corr)

    # -- 4b. serving layer end-to-end ---------------------------------------
    # A traced serve run publishes the seeded corpus bucketed, digest-
    # checks all 11 ops against the unbucketed tables and checks the
    # resolved dense ids; its last line must report "correct": true.
    def serve():
        log = os.path.join(art, "serve.log")
        sh([sys.executable, os.path.join("perfbench", "run.py"),
            "--workload", "serve", "--seed", "1", "--seconds", "5",
            "--trace", "1"], log=log)
        with open(log) as f:
            last = [l for l in f.read().splitlines() if l.strip()][-1]
        if not json.loads(last).get("correct"):
            raise SystemExit(f"[release-gate] serve run not correct: {last}")
        shutil.copy(os.path.join(REPO, "perfbench", "out",
                                 "serve-seed1-trace1.json"), art)
    step("step4b_serve", serve)

    # -- 4c. GenData fidelity audit ------------------------------------------
    step("step4c_gendata_audit", lambda: sh(
        [sys.executable, os.path.join(TOOLS, "gendata_audit.py"),
         os.path.join(art, "gendata_audit.md"),
         os.path.join(art, "gendata_audit.json")],
        log=os.path.join(art, "gendata_audit.log")))

    # -- 5. bench pair sf1 --------------------------------------------------
    # Step3's artifact rides along so bench_pair can fresh-JVM-probe any
    # query whose in-suite growth approaches the scale-gate ceiling: the
    # gate must never fail on a suite-contaminated number (q151 r11)
    # without an isolated measurement committed in the same artifact.
    step("step5_bench_pair_sf1", lambda: sh(
        [sys.executable, os.path.join(TOOLS, "bench_pair.py"), a.sf1,
         os.path.join(art, "bench_pair_sf1.json"), a.budget,
         os.path.join(art, "bench_pair_sf0.1.json")],
        log=os.path.join(art, "bench_pair_sf1.log")))

    # -- 6. scale gate + ratio table ----------------------------------------
    def gate():
        baseline = a.baseline or latest_baseline()
        if not baseline:
            raise SystemExit("[release-gate] no committed sf1 baseline "
                             "pair found; pass --baseline")
        summary["scale_baseline"] = os.path.relpath(baseline, REPO)
        # The baseline round's own sf0.1 pair (same box as its sf1 run)
        # so baseline ratios are intra-box — see scale_gate.py's header.
        base_small = baseline.replace("_sf1", "_sf0.1")
        gate_cmd = [sys.executable, os.path.join(TOOLS, "scale_gate.py"),
                    baseline, os.path.join(art, "bench_pair_sf1.json"),
                    os.path.join(art, "bench_pair_sf0.1.json")]
        if os.path.exists(base_small) and base_small != baseline:
            gate_cmd += ["10", "0.15",
                         os.path.join(TOOLS, "adjudications.json"),
                         base_small]
            summary["scale_baseline_small"] = os.path.relpath(
                base_small, REPO)
        sh(gate_cmd, log=os.path.join(art, "scale_gate.log"))
        sh([sys.executable, os.path.join(TOOLS, "scale_ratio.py"),
            os.path.join(art, "bench_pair_sf0.1.json"),
            os.path.join(art, "bench_pair_sf1.json"), "10",
            os.path.join(art, "scale_ratio_sf1.md")],
           log=os.path.join(art, "scale_ratio.log"))
    step("step6_scale_gate", gate)

    # -- 6b. sf0.1 oracle-gap adjudication report ----------------------------
    step("step6b_oracle_gap", lambda: sh(
        [sys.executable, os.path.join(TOOLS, "oracle_gap_report.py"),
         os.path.join(art, "bench_pair_sf0.1.json"),
         os.path.join(art, "bench_pair_sf1.json")],
        log=os.path.join(art, "oracle_gap.log")))

    # -- 7. leak scan ---------------------------------------------------------
    def leaks():
        n = leak_scan(os.path.join(art, "leakscan.json"))
        summary["leak_hits"] = n
        if n:
            raise SystemExit(f"[release-gate] leak scan: {n} hits — "
                             f"see {art}/leakscan.json")
    step("step7_leak_scan", leaks)

    # -- 8. headline summary ---------------------------------------------------
    for name, f in [("sf0.1", "bench_pair_sf0.1.json"),
                    ("sf1", "bench_pair_sf1.json")]:
        p = os.path.join(art, f)
        if os.path.exists(p):
            d = json.load(open(p))
            summary[f"pair_{name}"] = {
                "ratio": d["spark_over_duckdb"],
                "spark_total": d["spark"]["total_sec"],
                "duckdb_total": d["duckdb"]["total_sec"],
                "common_n": d["common_n"],
                "duck_timeouts": d["duckdb"]["timeouts"]}
    summary["finished"] = time.time()
    summary["wall_sec"] = round(summary["finished"] - summary["started"])
    # A resumed run must not mask a still-red earlier step: the verdict
    # is computed over ALL recorded steps, not just this invocation's.
    still_red = [n for n, v in summary["steps"].items()
                 if str(v).startswith("FAILED")]
    summary["gate"] = "FAIL" if (failed_steps or still_red) else "PASS"
    json.dump(summary, open(os.path.join(art, "summary.json"), "w"),
              indent=1)
    print("[release-gate] DONE\n" + json.dumps(summary, indent=1))
    if failed_steps or still_red:
        raise SystemExit("[release-gate] FAILED steps: "
                         + ", ".join(sorted(set(failed_steps) | set(still_red))))


if __name__ == "__main__":
    main()
