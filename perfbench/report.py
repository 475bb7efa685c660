#!/usr/bin/env python3
"""Steadiness report and comparison over repeated benchmark runs.

    python3 perfbench/report.py steady --runs 10 --set base
        run every workload ten times (seeds 1..10, tracing off), keep each
        result in perfbench/results/sets/base/ and print, per workload and
        end-to-end metric, the median, the quartiles and the spread (Q3-Q1
        as a share of the median) against the metric's bound

    python3 perfbench/report.py summary perfbench/results/sets/base
        the same table for runs already made

    python3 perfbench/report.py diff perfbench/results/sets/base perfbench/results/sets/new
        compare two sets per workload and metric. A metric is "worse" when
        its median moved the wrong way by more than its bound, and
        "unresolved" when either set's spread exceeds the bound, unless
        every run of one set beats every run of the other.

With ``--runs 1`` the steady command is also the one command that prints
every end-to-end metric, with its unit, for each workload.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

EXTRA = ("failed_frac", "oracle_mismatches")


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load_set(set_dir: str) -> dict[str, list[dict]]:
    """``{workload: [result, ...]}`` ordered by seed."""
    out: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(set_dir, "*-t0.json"))):
        with open(path) as f:
            r = json.load(f)
        out.setdefault(r["workload"], []).append(r)
    for rs in out.values():
        rs.sort(key=lambda r: r["seed"])
    return out


def values(results: list[dict], metric: str) -> list[float]:
    return [r["e2e"][metric]["value"] for r in results]


def summary(set_dir: str) -> str:
    bench = load_benchmark()
    lines = []
    for wl, rs in load_set(set_dir).items():
        lines.append(f"\n## {wl} ({len(rs)} runs, seeds {[r['seed'] for r in rs]})\n")
        lines.append("| metric | unit | median | Q1 | Q3 | spread | bound | spread/bound |")
        lines.append("|---|---|---|---|---|---|---|---|")
        for m in bench["end_to_end"]:
            xs = values(rs, m["name"])
            q1, q2, q3 = stats.quartiles(xs)
            sp = stats.spread(xs)
            lines.append(
                f"| {m['name']} | {m['unit']} | {q2:.4f} | {q1:.4f} | {q3:.4f} "
                f"| {sp:.3f} | {m['bound']} | {sp / m['bound']:.2f} |"
            )
        for name in EXTRA:
            xs = values(rs, name)
            lines.append(f"| {name} | {rs[0]['e2e'][name]['unit']} | {stats.median(xs):.4f} | {min(xs):.4f} | {max(xs):.4f} | | | |")
        tail_pct = [r["e2e"]["query_tail_s"]["percentile"] for r in rs]
        n_lat = [r["e2e"]["query_tail_s"]["n"] for r in rs]
        n_pass = [r["e2e"]["pass_s"]["n"] for r in rs]
        lines.append(
            f"\nquery_tail_s percentile {min(tail_pct):.0f}-{max(tail_pct):.0f} over "
            f"{min(n_lat)}-{max(n_lat)} warm executions; pass_s and cpu_s are medians "
            f"of {min(n_pass)}-{max(n_pass)} warm passes; setup_s is the median of "
            f"{rs[0]['e2e']['setup_s']['n']} set-ups."
        )
    return "\n".join(lines)


def diff(base_dir: str, new_dir: str) -> str:
    bench = load_benchmark()
    base, new = load_set(base_dir), load_set(new_dir)
    lines = [
        "| workload | metric | base median | new median | change | base spread | new spread | bound | verdict |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for wl in sorted(set(base) & set(new)):
        for m in bench["end_to_end"]:
            a, b = values(base[wl], m["name"]), values(new[wl], m["name"])
            ma, mb = stats.median(a), stats.median(b)
            sign = 1 if m["better"] == "lower" else -1
            worse_by = sign * (mb - ma) / ma
            sa, sb = stats.spread(a), stats.spread(b)
            separated = (
                max(b) < min(a) or min(b) > max(a)
            )  # every run of one set beats every run of the other
            if worse_by > m["bound"]:
                verdict = "worse"
            elif max(sa, sb) > m["bound"] and not separated:
                verdict = "unresolved"
            elif worse_by < 0 and separated:
                verdict = "better"
            else:
                verdict = "within bound"
            lines.append(
                f"| {wl} | {m['name']} | {ma:.4f} | {mb:.4f} | {(mb - ma) / ma:+.1%} "
                f"| {sa:.3f} | {sb:.3f} | {m['bound']} | {verdict} |"
            )
    return "\n".join(lines)


def steady(args) -> str:
    bench = load_benchmark()
    set_dir = os.path.join(HERE, "results", "sets", args.set)
    os.makedirs(set_dir, exist_ok=True)
    for wl in [w["name"] for w in bench["workloads"]]:
        for seed in range(args.seed0, args.seed0 + args.runs):
            cmd = [
                sys.executable,
                os.path.join(HERE, "run.py"),
                "--workload", wl,
                "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]),
                "--trace", "0",
                "--results-dir", set_dir,
            ]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            print(f"{wl} seed {seed}: exit {r.returncode} {last}", flush=True)
            if r.returncode != 0:
                raise SystemExit(f"run failed: {' '.join(cmd)}")
    return summary(set_dir)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("steady")
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--seed0", type=int, default=1)
    s.add_argument("--set", default="steady")
    m = sub.add_parser("summary")
    m.add_argument("set_dir")
    d = sub.add_parser("diff")
    d.add_argument("base_dir")
    d.add_argument("new_dir")
    args = ap.parse_args(argv)
    if args.cmd == "steady":
        text = steady(args)
    elif args.cmd == "summary":
        text = summary(args.set_dir)
    else:
        text = diff(args.base_dir, args.new_dir)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
