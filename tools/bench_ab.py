#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a git revision against the working tree.

Exports the revision (``A``, default ``HEAD``) with ``git archive`` and
the working tree (``B``: tracked and untracked, not ignored, files) into
two directories of equal path length under a scratch root, because
table paths are stored in manifests and metadata and their length moves
``stored_bytes_per_input_byte``. Then, for each workload and each of N
pairs, runs

    python3 perfbench/run.py --workload W --seed S --seconds 10 --trace 0

in each checkout, alternating which side runs first, with seed
``--seed + i`` for pair i on both sides. Per workload and end-to-end
metric of ``BENCHMARK.json`` it prints each side's median and quartiles
and the pairs B wins (ties count for neither), then two verdicts:

- gain: B wins at least 9/10 of the pairs and the medians differ by
  more than the distance between A's quartiles;
- bound: B's median is no worse than A's by more than the metric's
  ``bound`` (a fraction of A's median). Where A's quartile spread is
  wider than the bound, the metric is ``unresolved`` unless every run of
  B beats every run of A.

A run whose last stdout line is not a result, or whose ops were not all
correct, is reported and left out of the pair. Every run's JSON result
is appended to ``<root>/runs.jsonl``. The tool reads ``BENCHMARK.json``
and ``perfbench/`` and changes neither.

Usage:
    python3 tools/bench_ab.py --root /tmp/ab --pairs 10 --seed 501 \\
        [--rev HEAD] [--workload commit_mix ...] [--seconds 10]
"""
from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str | None, dest: str) -> None:
    """Check out ``rev`` (None: the working tree) into the empty ``dest``."""
    os.makedirs(dest)
    if rev is not None:
        tar = subprocess.run(["git", "-C", REPO, "archive", rev], check=True, capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(tar)) as t:
            t.extractall(dest, filter="tar")
        return
    listed = subprocess.run(
        ["git", "-C", REPO, "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        check=True, capture_output=True,
    ).stdout.decode()
    for rel in filter(None, listed.split("\0")):
        src = os.path.join(REPO, rel)
        if not os.path.isfile(src):
            continue  # deleted in the working tree
        os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
        shutil.copy2(src, os.path.join(dest, rel))


def run(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One benchmark run: its result, or None when it gave none or failed an op."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = out.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print(f"  {checkout} seed {seed}: no result (exit {out.returncode})\n{out.stderr[-2000:]}", flush=True)
        return None
    if not result.get("correct"):
        print(f"  {checkout} seed {seed}: {result.get('failed')} of {result.get('attempted')} ops failed", flush=True)
        return None
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs[0],) * 3
    return q1, q2, q3


def verdicts(metric: dict, a: list[float], b: list[float]) -> tuple[str, str, str]:
    """(wins, gain verdict, bound verdict) of B against A for one metric."""
    lower = metric["better"] == "lower"

    def better(x, y):
        return x < y if lower else x > y

    wins = sum(better(y, x) for x, y in zip(a, b))
    (a1, am, a3), (_, bm, _) = quartiles(a), quartiles(b)
    gain = "yes" if wins >= 0.9 * len(a) and better(bm, am) and abs(bm - am) > a3 - a1 else "no"
    worse = (bm - am) if lower else (am - bm)
    bound = metric["bound"] * abs(am)
    if (a3 - a1) > bound and not all(better(y, x) for x in a for y in b):
        held = "unresolved"
    else:
        held = "held" if worse <= bound else "REGRESSED"
    return f"{wins}/{len(a)}", gain, held


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", required=True, help="scratch directory for the two checkouts")
    ap.add_argument("--rev", default="HEAD", help="the A side (default HEAD); B is the working tree")
    ap.add_argument("--workload", action="append", help="repeatable; default: every BENCHMARK.json workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench.get("run_seconds", 10)
    if args.pairs < 10:
        print("bench_ab: fewer than 10 pairs cannot show a gain", file=sys.stderr)
    sides = {"A": os.path.join(args.root, "a"), "B": os.path.join(args.root, "b")}  # equal lengths
    for side, rev in (("A", args.rev), ("B", None)):
        if os.path.exists(sides[side]):
            shutil.rmtree(sides[side])
        export(rev, sides[side])
    log = open(os.path.join(args.root, "runs.jsonl"), "a")
    for w in workloads:
        got = {"A": [], "B": []}
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            pair = {side: run(sides[side], w, seed, seconds) for side in order}
            for side, result in pair.items():
                log.write(json.dumps({"workload": w, "seed": seed, "side": side, "result": result}) + "\n")
            log.flush()
            if None in pair.values():
                continue
            for side in pair:
                got[side].append({k: v["value"] for k, v in pair[side]["metrics"].items()})
            print(f"{w} pair {i + 1} seed {seed} ({'/'.join(order)}): " + ", ".join(
                f"{m['name']} {got['A'][-1][m['name']]:.4g}->{got['B'][-1][m['name']]:.4g}"
                for m in bench["end_to_end"]
            ), flush=True)
        n = len(got["A"])
        print(f"\n{w}: {n} complete pairs")
        if not n:
            continue
        print(f"{'metric':<30}{'A median [q1, q3]':>30}{'B median [q1, q3]':>30}{'B wins':>8}{'gain':>6}{'bound':>12}")
        for m in bench["end_to_end"]:
            a = [r[m["name"]] for r in got["A"]]
            b = [r[m["name"]] for r in got["B"]]
            wins, gain, held = verdicts(m, a, b)
            qa, qb = quartiles(a), quartiles(b)
            print(
                f"{m['name']:<30}{f'{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]':>30}"
                f"{f'{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]':>30}{wins:>8}{gain:>6}{held:>12}"
            )
        print()


if __name__ == "__main__":
    main()
