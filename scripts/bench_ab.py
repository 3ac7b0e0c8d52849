"""Quiet-host A/B of two checkouts over the HEADLINE bench (VERDICT r5
worklist #2: settle the +14% drift between BENCH_r04 and BENCH_r05).

Runs scripts/bench_once.py alternately against side A and side B, N
rounds each, STRICTLY interleaved (A B A B ...) so slow host drift hits
both sides equally; reports per-query and total min-of-N for each side
plus the B/A ratio. Each round is a fresh process/JVM — nothing carries
between sides.

Usage: python scripts/bench_ab.py --a .worktrees/r4close --b . [--rounds 5]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(side_dir: str, sf_dir: str, once_script: str = "bench_once.py") -> dict[str, float]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.abspath(side_dir)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, once_script)],
        cwd=os.path.abspath(side_dir),
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("BENCH_ONCE "):
            return json.loads(line[len("BENCH_ONCE "):])
    raise RuntimeError(
        f"no BENCH_ONCE line from {side_dir}\nstdout:{proc.stdout[-2000:]}"
        f"\nstderr:{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="baseline checkout dir")
    ap.add_argument("--b", required=True, help="candidate checkout dir")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument(
        "--once-script",
        default="bench_once.py",
        help="alternative single-pass script in scripts/ printing a "
        "BENCH_ONCE line (e.g. one that times only the query family "
        "under test)",
    )
    args = ap.parse_args()

    runs: dict[str, list[dict[str, float]]] = {"a": [], "b": []}
    for i in range(args.rounds):
        # ABBA order: alternate which side runs FIRST each round. The
        # round-10 adjudication caught a systematic second-position
        # penalty on this host (~8% on the short headline queries —
        # byte-identical code read 1.31x against whichever side ran
        # second); strict ABAB never cancels it, alternation does. Use
        # an EVEN --rounds so both sides get each position equally.
        pair = (("a", args.a), ("b", args.b))
        if i % 2:
            pair = pair[::-1]
        for tag, side in pair:
            r = run_once(side, args.sf_dir, args.once_script)
            runs[tag].append(r)
            print(
                f"[ab] round {i + 1}/{args.rounds} side={tag} "
                f"total={round(sum(r.values()), 2)}s",
                file=sys.stderr,
                flush=True,
            )

    names = sorted(set(runs["a"][0]) & set(runs["b"][0]))
    head = [n for n in names if not n.startswith("x_")]
    extras = [n for n in names if n.startswith("x_")]
    mins = {
        tag: {n: min(r[n] for r in rs if n in r) for n in names}
        for tag, rs in runs.items()
    }
    result = {
        "rounds": args.rounds,
        "sf_dir": args.sf_dir,
        # totals stay HEADLINE-only for round-over-round comparability;
        # the x_* extras (pagerank/triangles/components/semantic/tpch)
        # are adjudicated per-query and as their own subtotal
        "a_total": round(sum(mins["a"][n] for n in head), 3),
        "b_total": round(sum(mins["b"][n] for n in head), 3),
        "a_extras_total": round(sum(mins["a"][n] for n in extras), 3),
        "b_extras_total": round(sum(mins["b"][n] for n in extras), 3),
        "per_query": {
            n: {
                "a": mins["a"][n],
                "b": mins["b"][n],
                "ratio": round(mins["b"][n] / mins["a"][n], 3) if mins["a"][n] else None,
            }
            for n in names
        },
    }
    result["total_ratio"] = round(result["b_total"] / result["a_total"], 3)
    if result["a_extras_total"]:
        result["extras_ratio"] = round(
            result["b_extras_total"] / result["a_extras_total"], 3
        )
    print(json.dumps(result))
    print("\n| query | A (s) | B (s) | B/A |")
    print("|---|---|---|---|")
    for n in names:
        p = result["per_query"][n]
        print(f"| {n} | {p['a']:.3f} | {p['b']:.3f} | {p['ratio']:.2f} |")
    print(
        f"| **total** | {result['a_total']:.3f} | {result['b_total']:.3f} "
        f"| {result['total_ratio']:.2f} |"
    )


if __name__ == "__main__":
    main()
