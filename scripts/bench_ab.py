"""Quiet-host A/B of two checkouts, interleaved in ABBA order.

Headline mode runs scripts/bench_once.py alternately against side A and
side B, N rounds each, and reports per-query and total min-of-N for each
side plus the B/A ratio.

``--perfbench WORKLOAD --seeds S1 S2 ...`` runs the CDC benchmark
(``perfbench/run.py --trace 0``) once per seed on each side instead, and
reports, for every end-to-end metric BENCHMARK.json declares, each side's
median and quartiles, how many pairs B won, and every pair whose B/A
ratio is worse than the metric's bound.

Either way the side that runs first alternates from one pair to the next
(a second run on this host is measurably slower, whichever side it is),
and each run is a fresh process/JVM — nothing carries between sides.

Usage:
    python scripts/bench_ab.py --a .worktrees/base --b . [--rounds 6]
    python scripts/bench_ab.py --a ../base --b . --perfbench steady_upsert \
        --seeds 101 102 103 104 105 106 107 108 109 110
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
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


def run_perfbench(side_dir: str, workload: str, seed: int, seconds: int) -> dict:
    """One ``perfbench/run.py --trace 0`` run in ``side_dir``: its JSON
    record (``correct``, ``failed``, ``metrics``)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.abspath(side_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=os.path.abspath(side_dir),
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"no perfbench record from {side_dir} (exit {proc.returncode})"
        f"\nstderr:{proc.stderr[-2000:]}"
    )


def perfbench_ab(a: str, b: str, workload: str, seeds: list[int]) -> dict:
    with open(os.path.join(a, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    pairs = []
    for i, seed in enumerate(seeds):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        rec = {}
        for tag in order:
            rec[tag] = run_perfbench(a if tag == "a" else b, workload, seed, seconds)
            print(
                f"[ab] pair {i + 1}/{len(seeds)} seed={seed} side={tag} "
                f"correct={rec[tag]['correct']} failed={rec[tag]['failed']}",
                file=sys.stderr,
                flush=True,
            )
        pairs.append({"seed": seed, "first": order[0], **rec})

    def quartiles(vals: list[float]) -> list[float]:
        if len(vals) < 2:
            return [vals[0]] * 3
        return statistics.quantiles(vals, n=4, method="inclusive")

    metrics = {}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        va = [p["a"]["metrics"][name]["value"] for p in pairs]
        vb = [p["b"]["metrics"][name]["value"] for p in pairs]
        ratios = [y / x if x else float("inf") for x, y in zip(va, vb)]
        limit = 1 + m["bound"] if lower else 1 - m["bound"]
        metrics[name] = {
            "better": m["better"],
            "bound": m["bound"],
            "a_q1_median_q3": quartiles(va),
            "b_q1_median_q3": quartiles(vb),
            "b_wins": sum((y < x) if lower else (y > x) for x, y in zip(va, vb)),
            "ratio_median": statistics.median(ratios),
            "over_bound": [
                {"seed": p["seed"], "ratio": r}
                for p, r in zip(pairs, ratios)
                if (r > limit if lower else r < limit)
            ],
        }
    return {
        "workload": workload,
        "seconds": seconds,
        "seeds": seeds,
        "all_correct": all(p[t]["correct"] and p[t]["failed"] == 0 for p in pairs for t in "ab"),
        "metrics": metrics,
        "pairs": pairs,
    }


def print_perfbench(result: dict) -> None:
    print(json.dumps(result))
    n = len(result["seeds"])
    print(f"\n{result['workload']}: {n} pairs, all correct: {result['all_correct']}")
    print("| metric | A q1 / median / q3 | B q1 / median / q3 | B wins | B/A median | over bound |")
    print("|---|---|---|---|---|---|")
    for name, m in result["metrics"].items():
        qa = " / ".join(f"{x:.3g}" for x in m["a_q1_median_q3"])
        qb = " / ".join(f"{x:.3g}" for x in m["b_q1_median_q3"])
        over = ", ".join(f"seed {o['seed']}: {o['ratio']:.2f}" for o in m["over_bound"]) or "-"
        print(f"| {name} | {qa} | {qb} | {m['b_wins']}/{n} | {m['ratio_median']:.3f} | {over} |")


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
    ap.add_argument("--perfbench", metavar="WORKLOAD", help="A/B one perfbench workload")
    ap.add_argument("--seeds", type=int, nargs="+", help="one perfbench pair per seed")
    args = ap.parse_args()

    if args.perfbench:
        if not args.seeds:
            ap.error("--perfbench needs --seeds")
        print_perfbench(perfbench_ab(args.a, args.b, args.perfbench, args.seeds))
        return

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
