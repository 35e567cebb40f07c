#!/usr/bin/env python3
"""Per-query scale-up ratio table from two bench artifacts (e.g. sf0.1 vs
sf1): reads the per-query maps, emits a markdown table sorted by ratio
desc plus a summary, and flags queries whose growth exceeds the linear
ceiling (data grew `factor`×, so time growing past `ceiling`× signals a
superlinear stage).

Usage:
  python3 tools/scale_ratio.py small.json big.json [factor=10] [out.md]

Accepts either a bench_pair.json (reads .spark.queries) or a
bench_detail.json (reads .detail).
"""
import sys, json


def qmap(path):
    d = json.load(open(path))
    if "spark" in d:
        return d["spark"]["queries"]
    if "detail" in d:
        return d["detail"]
    if "queries" in d:
        return d["queries"]
    raise SystemExit(f"{path}: no per-query map found")


def main():
    small_p, big_p = sys.argv[1], sys.argv[2]
    factor = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    out_p = sys.argv[4] if len(sys.argv) > 4 else None
    ceiling = factor * 1.2  # linear + 20% headroom
    small, big = qmap(small_p), qmap(big_p)
    common = sorted(set(small) & set(big))
    rows = []
    for n in common:
        s, b = small[n], big[n]
        # sub-0.15s small-side rows are pure scheduling floor; their
        # ratios are noise either way but still reported.
        ratio = b / max(s, 1e-9)
        rows.append((n, s, b, ratio))
    rows.sort(key=lambda r: -r[3])
    flagged = [r for r in rows if r[3] > ceiling and r[1] >= 0.15]
    tot_s = sum(r[1] for r in rows)
    tot_b = sum(r[2] for r in rows)
    lines = [
        f"# Scale-up ratio table: {small_p} -> {big_p}",
        "",
        f"- data factor: {factor}x; linear ceiling: {ceiling:.1f}x "
        "(applied to queries with a >=0.15s small-side time; sub-floor "
        "rows are scheduling noise)",
        f"- queries compared: {len(common)}",
        f"- total: {tot_s:.1f}s -> {tot_b:.1f}s "
        f"({tot_b / max(tot_s, 1e-9):.2f}x for {factor}x data)",
        f"- over-ceiling (material rows): {len(flagged)}"
        + (": " + ", ".join(r[0] for r in flagged) if flagged else ""),
        "",
        "| query | small s | big s | ratio |",
        "|---|---|---|---|",
    ]
    for n, s, b, r in rows:
        mark = " **> ceiling**" if (r > ceiling and s >= 0.15) else ""
        lines.append(f"| {n} | {s:.3f} | {b:.3f} | {r:.2f}x{mark} |")
    md = "\n".join(lines) + "\n"
    if out_p:
        open(out_p, "w").write(md)
        print(f"[scale-ratio] wrote {out_p}: {len(common)} queries, "
              f"{len(flagged)} over ceiling, total {tot_s:.1f}->{tot_b:.1f}s")
    else:
        print(md)


if __name__ == "__main__":
    main()
