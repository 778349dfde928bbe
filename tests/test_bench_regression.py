"""Bench regression gate (VERDICT r2 #7): the headline bench must not
regress >1.5x per-query against the committed round baseline
(BENCH_r02.json). Runs bench.py end-to-end at sf0.1 in a subprocess so
the measurement matches what the driver records."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_bench(tmp_path):
    # --out to a temp path: a suite run must NEVER touch the repo's
    # BENCH_DETAIL.run.json / BENCH_DETAIL.json (r6 verdict #2 — an
    # in-suite bench run destroyed the driver's committed round detail)
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "bench.py"),
            "--out",
            str(tmp_path / "bench_detail.json"),
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=1200,
        check=True,
    )
    return out.stdout


@pytest.mark.slow
def test_bench_no_regressions_vs_round_baseline(tmp_path):
    sys.path.insert(0, REPO)
    from tools.benchgate import compare, load_baseline, load_bench_json

    baseline = load_baseline()
    # looser thresholds than the standalone benchgate CLI (1.5x/0.3s):
    # inside the suite the bench subprocess shares the machine with the
    # suite's own live Spark JVM, which adds scheduler-contention jitter
    regs = compare(
        load_bench_json(_run_bench(tmp_path)), baseline, ratio=2.0, min_abs=0.75
    )
    if regs:
        # one retry: a regression must REPRODUCE to fail the gate, else it
        # was a transient scheduling blip on the shared box
        regs2 = compare(
            load_bench_json(_run_bench(tmp_path)), baseline, ratio=2.0, min_abs=0.75
        )
        flagged2 = {q for q, _, _ in regs2}
        regs = [r for r in regs if r[0] in flagged2]
    assert not regs, f"reproduced bench regressions vs BENCH_r02: {regs}"


def test_suite_never_touches_committed_bench_detail():
    """Regression guard for r6 verdict #2: bench.py's default detail
    output must NOT be the committed BENCH_DETAIL.json artifact (a pytest
    run once silently overwrote the driver's round detail)."""
    src = open(os.path.join(REPO, "bench.py")).read()
    # the committed artifact may be READ (r10: the ambient self-verify
    # compares against the committed quiet baseline) but must never be
    # the default WRITE target
    for line in src.splitlines():
        if '"BENCH_DETAIL.json"' in line:
            assert "committed" in line, (
                "BENCH_DETAIL.json referenced outside the read-only "
                f"baseline load: {line.strip()}"
            )
    assert 'json.dump' in src and '"BENCH_DETAIL.run.json"' in src
    with open(os.path.join(REPO, ".gitignore")) as f:
        assert "BENCH_DETAIL.run.json" in f.read()


def test_r02_rebase_is_keyed_on_content_not_file_name(tmp_path):
    """HONEST_REBASED corrects the committed r02 artifact only: a renamed
    byte-identical copy is still rebased, and an edited file that kept
    the name BENCH_r02.json is taken at face value."""
    sys.path.insert(0, REPO)
    from tools.benchgate import HONEST_REBASED, load_baseline

    r02 = os.path.join(REPO, "BENCH_r02.json")
    renamed = tmp_path / "baseline.json"
    shutil.copyfile(r02, renamed)
    qs = load_baseline(str(renamed))["queries"]
    assert {k: qs[k] for k in HONEST_REBASED} == HONEST_REBASED

    with open(r02) as f:
        doc = json.load(f)
    raw = doc["parsed"]["queries"]
    raw["q1_pricing_summary"] += 1.0
    (tmp_path / "edited").mkdir()
    edited = tmp_path / "edited" / "BENCH_r02.json"
    edited.write_text(json.dumps(doc))
    qs = load_baseline(str(edited))["queries"]
    for k, rebased in HONEST_REBASED.items():
        assert qs[k] == raw[k] != rebased
