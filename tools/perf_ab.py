"""Interleaved A/B of the repository benchmark: a parent revision against
the working tree.

    python3 tools/perf_ab.py --rev HEAD --workload daily_incremental --pairs 10

Exports ``--rev`` with ``git archive`` into a temporary directory (the
committed files only, like the benchmark's own checkout) and runs
``perfbench/run.py --workload W --seed N --seconds S --trace 0`` there and
in the working tree, one after the other, for ``--pairs`` pairs. The side
that runs first alternates from pair to pair, so a drift in host load
falls on both sides alike.

Prints every run's end-to-end metrics with its correctness and 1-min load
average at start, then per metric each side's median and quartiles, the
pairs the change won (ties count for neither side), and whether the gain
meets the claim rule: the change wins at least nine tenths of the pairs
and the medians differ by more than the parent's interquartile range. The
last stdout line is one JSON object with every run. Standard library only.
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
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> None:
    """Write the files committed at ``rev`` under ``dest``."""
    tar = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", rev],
        check=True,
        capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")


def run_once(tree: str, args: argparse.Namespace) -> dict:
    """One benchmark run in ``tree``: its result line, load and exit code."""
    cmd = [
        sys.executable,
        os.path.join("perfbench", "run.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    result: dict = {"returncode": proc.returncode, "correct": False, "metrics": {}}
    for line in proc.stdout.splitlines():
        if line.startswith("info "):
            result["loadavg_start"] = json.loads(line[5:])["loadavg_start"][0]
        elif line.startswith("{"):
            result.update(json.loads(line))
    if proc.returncode or not result["metrics"]:
        result["stderr_tail"] = proc.stderr[-2000:]
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], metric: str, lower_is_better: bool) -> dict:
    side = {
        s: [r["metrics"][metric]["value"] for r in runs if r["side"] == s and metric in r["metrics"]]
        for s in ("parent", "change")
    }
    pairs: dict[int, dict] = {}
    for r in runs:
        if metric in r["metrics"]:
            pairs.setdefault(r["pair"], {})[r["side"]] = r["metrics"][metric]["value"]
    complete = [p for p in pairs.values() if len(p) == 2]
    wins = sum(
        (p["change"] < p["parent"]) if lower_is_better else (p["change"] > p["parent"])
        for p in complete
    )
    out = {"pairs": len(complete), "change_wins": wins}
    if not (side["parent"] and side["change"]):
        return out
    for s, xs in side.items():
        q1, med, q3 = quartiles(xs)
        out[s] = {"median": med, "q1": q1, "q3": q3, "min": min(xs), "max": max(xs)}
    parent_iqr = out["parent"]["q3"] - out["parent"]["q1"]
    gain = out["parent"]["median"] - out["change"]["median"]
    if not lower_is_better:
        gain = -gain
    out["gain"] = gain
    out["parent_iqr"] = parent_iqr
    out["claim_holds"] = bool(complete) and wins >= 0.9 * len(complete) and gain > parent_iqr
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", default="HEAD", help="parent revision (default HEAD)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = {m["name"]: m["better"] == "lower" for m in json.load(f)["end_to_end"]}
    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    trees = {"parent": os.path.join(tmp, "parent"), "change": ROOT}
    runs: list[dict] = []
    try:
        export(args.rev, trees["parent"])
        for pair in range(args.pairs):
            order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_once(trees[side], args)
                r.update(pair=pair, side=side, first=order[0])
                runs.append(r)
                vals = " ".join(
                    f"{m}={r['metrics'][m]['value']:.2f}" for m in e2e if m in r["metrics"]
                )
                print(
                    f"pair {pair} {side:<6} first={order[0]:<6} {vals} "
                    f"correct={r['correct']} failed={r.get('failed')} "
                    f"load={r.get('loadavg_start', float('nan')):.2f}",
                    flush=True,
                )
                if "stderr_tail" in r:
                    print(r["stderr_tail"], file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    summary = {m: summarize(runs, m, lower) for m, lower in e2e.items()}
    for m, s in summary.items():
        if "parent" not in s:
            print(f"{m}: no complete runs")
            continue
        p, c = s["parent"], s["change"]
        print(
            f"{m}: parent median {p['median']:.2f} (q1 {p['q1']:.2f}, q3 {p['q3']:.2f}) "
            f"change median {c['median']:.2f} (q1 {c['q1']:.2f}, q3 {c['q3']:.2f}); "
            f"change won {s['change_wins']}/{s['pairs']} pairs; gain {s['gain']:.2f} "
            f"vs parent IQR {s['parent_iqr']:.2f}; claim {'holds' if s['claim_holds'] else 'not met'}"
        )
    print(json.dumps({"workload": args.workload, "rev": args.rev, "runs": runs, "summary": summary}))
    return 0 if all(r["correct"] and not r["returncode"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
