"""Bench regression gate: compare a bench.py result line against the
committed round baseline (BENCH_r02.json — the first green driver bench,
30.215 s total at sf0.1 / local[32]).

A query REGRESSES when it is both >RATIO× slower than baseline and more
than MIN_ABS seconds slower — the absolute floor keeps sub-second queries'
scheduler jitter from tripping the ratio.

Usage:
    python bench.py | python tools/benchgate.py            # gate a live run
    python tools/benchgate.py BENCH_r03.json               # gate a recorded run
Exit 1 iff any query regresses.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_PATH = os.path.join(REPO, "BENCH_r02.json")
RATIO = 1.5
# Absolute floor: host-ambient noise measured at up to ~20% uniform swing
# across the whole 70+-query set on this box (identical code, minutes
# apart); 0.5 s keeps sub-second queries' jitter from tripping the ratio
# while still catching any real blowup (the smallest true regressions we
# have caught — 10x-class plan bugs — clear this floor by an order of
# magnitude).
MIN_ABS = 0.5  # seconds

# r11 measurement fix (see OPTIMIZATION_r11.md "Measurement fix"): before
# r11, bench.py's timed runs 2+ silently re-read the warmup's persisted
# blocks through Spark's CacheManager, so persist-heavy queries' r02
# baselines time a CACHED run, not a compute-from-parquet run. Comparing
# honest (clearCache-per-run) times against those numbers is
# apples-to-oranges for exactly the queries where the bias was material.
# These two are the only r02-baselined queries whose first honest quiet
# measurement (plans/r11/BENCH_inherited_honest.json, taken at the
# pre-optimization r11 HEAD — still a proper "before" for this round's
# work) exceeds their r02 number by >25%; their baseline is REBASED to
# that honest before-value. Everything else keeps its r02 baseline.
HONEST_REBASED = {
    "dedup_semantic_survivors": 1.064,  # r02 0.686 timed the cached run
    "similarity_ivf_topk": 0.842,  # r02 0.615 timed the cached run
}
# sha256 of the committed BENCH_r02.json bytes those overrides correct
R02_SHA256 = "fb1354a98d170f9964d7ad2cb19bf67b3e73676aeec17d76183fe2c97922ba71"


def load_baseline(path: str = BASELINE_PATH) -> dict:
    """Load the gate baseline.  HONEST_REBASED applies ONLY to the
    BENCH_r02.json artifact it was measured against (r11 ADVICE #1),
    recognised by its content hash, not its file name: a refreshed
    baseline is already honest-methodology, and silently overriding two
    of its values with these stale constants would mask real
    regressions."""
    with open(path, "rb") as f:
        raw = f.read()
    baseline = load_bench_json(raw.decode())
    if hashlib.sha256(raw).hexdigest() == R02_SHA256:
        qs = dict(baseline.get("queries", {}))
        qs.update({k: v for k, v in HONEST_REBASED.items() if k in qs})
        baseline = {**baseline, "queries": qs}
    return baseline


def load_bench_json(text: str) -> dict:
    """Parse a bench result out of (a) bench.py's noisy stdout, (b) a bare
    result file, or (c) the driver's BENCH_r{N}.json wrapper, whose
    ``parsed`` field holds the bench line.  When the result is bench.py's
    compact summary line (slowest-10 only, ``detail`` pointing at
    BENCH_DETAIL.json), the full per-query dict is merged in from the
    detail file so the gate covers every query."""
    doc = None
    try:
        parsed = json.loads(text)
        if isinstance(parsed, dict):
            if "queries" in parsed:
                doc = parsed
            elif isinstance(parsed.get("parsed"), dict):
                doc = parsed["parsed"]
    except json.JSONDecodeError:
        pass
    if doc is None:
        for line in reversed(text.strip().splitlines()):
            line = line.strip()
            if line.startswith("{") and line.endswith("}"):
                doc = json.loads(line)
                break
    if doc is None:
        raise ValueError("no bench JSON found in input")
    detail = doc.get("detail")
    if detail:
        detail_path = detail if os.path.isabs(detail) else os.path.join(REPO, detail)
        if os.path.exists(detail_path):
            with open(detail_path) as f:
                full = json.load(f)
            if full.get("value") == doc.get("value"):  # same run
                doc = {**doc, "queries": full.get("queries", doc.get("queries", {}))}
    return doc


def compare(
    current: dict,
    baseline: dict,
    ratio: float = RATIO,
    min_abs: float = MIN_ABS,
) -> list[tuple[str, float, float]]:
    """[(query, baseline_sec, current_sec)] for every regressed query."""
    regressions = []
    for name, base_t in baseline.get("queries", {}).items():
        cur_t = current.get("queries", {}).get(name)
        if cur_t is None:
            continue  # query renamed/removed; coverage is the judge's job
        if cur_t > base_t * ratio and cur_t - base_t > min_abs:
            regressions.append((name, base_t, cur_t))
    return regressions


def main() -> int:
    if len(sys.argv) > 1:
        with open(sys.argv[1]) as f:
            current = load_bench_json(f.read())
    else:
        current = load_bench_json(sys.stdin.read())
    baseline = load_baseline()
    regs = compare(current, baseline)
    total_base = baseline.get("value")
    total_cur = current.get("value")
    # bench-list length is self-reporting so a README/suite drift is
    # visible in every gate run (VERDICT r7 #6)
    print(
        f"benchgate: {len(current.get('queries') or {})} timed queries "
        f"({len(baseline.get('queries') or {})} in baseline)"
    )
    print(f"benchgate: total {total_cur}s vs baseline {total_base}s")
    for name, b, c in regs:
        print(f"REGRESSION {name}: {b}s -> {c}s ({c / b:.2f}x)")
    if not regs:
        print("benchgate: no per-query regressions")
    return 1 if regs else 0


if __name__ == "__main__":
    sys.exit(main())
