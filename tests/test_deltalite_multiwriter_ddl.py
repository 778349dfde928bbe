"""Multi-writer fuzz, widened op alphabet (VERDICT r9 #5): the protocol
verbs most likely to race wrong — RESTORE racing appends, shallow CLONE
taken mid-mutation, schema evolution (append-new-column) racing plain
appends, CHECK-constraint ADD racing violating appends, and VACUUM
racing live writers and time-travel readers.

Semantics differ per arena, so unlike test_deltalite_multiwriter's
per-writer serial models, the universal invariants here are the
semantics-independent ones (shared ``_verify_chain``): contiguous
version chain, every version replays, protocol monotone, active files
exist, change feed telescopes to the final state — plus one arena-
specific invariant each (clone == some source version; evolved column
present and null-filled; no committed constraint violation; VACUUM
never eats a live writer's rows — the grace_ms regression).

Schedule count scales with SPARK_GRAFT_FUZZ_SCHEDULES like the base
fuzz (proof runs use 20+ per arena).
"""

from __future__ import annotations

import pytest

# DDL fuzz arena: multi-minute by design — slow tier (r11 VERDICT #2);
# the default `pytest tests/` deselects it so the driver-visible
# suite completes in minutes.  Full sweep: pytest tests/ -m ''
pytestmark = pytest.mark.slow

import os
import random
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import test_deltalite_multiwriter as mw  # noqa: E402
from dbt_spark_models_spark.sources import deltalite  # noqa: E402

N_SCHEDULES = int(os.environ.get("SPARK_GRAFT_FUZZ_SCHEDULES", "1"))
SEED_BASE = int(os.environ.get("SPARK_GRAFT_FUZZ_SEED_BASE", "0"))
_retry = mw._retry


def _seed_table(spark, tdir):
    path = os.path.join(tdir, "t")
    deltalite.write(
        spark,
        spark.createDataFrame([(-1, "seed")], "k int, v string"),
        path,
        "overwrite",
    )
    return path


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema).coalesce(1)


def _run_threads(targets):
    errors: list[BaseException] = []

    def wrap(fn):
        def go():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

        return go

    threads = [threading.Thread(target=wrap(t)) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[0]


def test_restore_races_appends(spark):
    """RESTORE is a whole-table rollback, so per-writer models cannot
    hold; what must: every restore commits against a consistent snapshot
    (put-if-absent, retried), the chain replays, and the change feed —
    which surfaces the rollback as deletes+inserts — telescopes to the
    final state."""
    for schedule in range(N_SCHEDULES):
        rng = random.Random(SEED_BASE + schedule)
        with tempfile.TemporaryDirectory(prefix="dlmw-restore-") as tdir:
            path = _seed_table(spark, tdir)

            def appender(wid):
                def go():
                    r = random.Random(SEED_BASE * 31 + schedule * 7 + wid)
                    for i in range(5):
                        rows = [(wid * 100 + i, r.choice("abcdef"))]
                        _retry(
                            lambda rr=rows: deltalite.write(
                                spark, _df(spark, rr), path, "append"
                            )
                        )

                return go

            def restorer():
                for _ in range(2):
                    time.sleep(rng.uniform(0.05, 0.3))
                    vs = deltalite._list_versions(path)
                    target = rng.choice(vs)
                    _retry(lambda t=target: deltalite.restore(spark, path, t))

            _run_threads([appender(w) for w in range(3)] + [restorer])
            final = mw._verify_chain(spark, path)
            # value vocabulary: every surviving row was written by a writer
            assert all(
                v[0] in "abcdef" or v[0] == "seed" for v in final.values()
            )


def test_clone_mid_mutation(spark):
    """A shallow clone taken while writers mutate the source must be a
    readable table whose active file set equals the SOURCE's at exactly
    one committed version (replay reads only committed log files, so a
    clone can never observe a torn snapshot)."""
    for schedule in range(N_SCHEDULES):
        with tempfile.TemporaryDirectory(prefix="dlmw-clone-") as tdir:
            path = _seed_table(spark, tdir)
            clones: list[str] = []

            def writer(wid):
                def go():
                    mw._writer_ops(
                        spark, path, wid, SEED_BASE + schedule, n_ops=4
                    )

                return go

            def cloner():
                r = random.Random(SEED_BASE + schedule + 977)
                for i in range(3):
                    time.sleep(r.uniform(0.02, 0.25))
                    dst = os.path.join(tdir, f"clone{i}")
                    deltalite.clone(spark, path, dst)
                    clones.append(dst)

            _run_threads([writer(w) for w in range(2)] + [cloner])

            def abs_active(p, version=None):
                st = deltalite._replay_state(p, version)
                return {
                    a if os.path.isabs(a) else os.path.join(os.path.abspath(p), a)
                    for a in st["active"]
                }

            src_versions = deltalite._list_versions(path)
            src_sets = {v: abs_active(path, v) for v in src_versions}
            for dst in clones:
                got = abs_active(dst)
                matches = [v for v, s in src_sets.items() if s == got]
                assert matches, f"clone {dst} matches no source version"
                v = matches[-1]
                assert (
                    deltalite.read(spark, dst).count()
                    == deltalite.read(spark, path, version=v).count()
                )


def test_schema_evolution_races_appends(spark):
    """One writer appends batches carrying a NEW column (additive
    evolution: one metadata commit, zero rewrites) while two others
    append the old shape. Final schema must carry the column, old-shape
    rows must null-fill it, and no writer's rows are lost."""
    for schedule in range(N_SCHEDULES):
        with tempfile.TemporaryDirectory(prefix="dlmw-evo-") as tdir:
            path = _seed_table(spark, tdir)
            wide_keys: list[int] = []

            def plain(wid):
                def go():
                    r = random.Random(SEED_BASE + schedule * 13 + wid)
                    for i in range(5):
                        rows = [(wid * 100 + i, r.choice("abc"))]
                        _retry(
                            lambda rr=rows: deltalite.write(
                                spark, _df(spark, rr), path, "append"
                            )
                        )

                return go

            def evolver():
                for i in range(4):
                    k = 900 + schedule * 10 + i
                    rows = [(k, "w", i)]
                    _retry(
                        lambda rr=rows: deltalite.write(
                            spark,
                            _df(spark, rr, "k int, v string, extra int"),
                            path,
                            "append",
                        )
                    )
                    wide_keys.append(k)

            _run_threads([plain(0), plain(1), evolver])
            final = mw._verify_chain(spark, path, value_cols=("v", "extra"))
            assert "extra" in deltalite.read(spark, path).columns
            for k, (v, extra) in final.items():
                if k in wide_keys:
                    assert extra is not None and v == "w"
                else:
                    assert extra is None, f"old-shape row {k} gained extra"


def test_constraint_add_races_appends(spark):
    """ADD CONSTRAINT validates the snapshot then commits metadata with
    put-if-absent — a concurrent append forces revalidation on retry.
    Once committed, every writer's next batch is checked before ITS
    commit: post-constraint violating appends must be refused loudly and
    leave no trace."""
    for schedule in range(N_SCHEDULES):
        with tempfile.TemporaryDirectory(prefix="dlmw-cons-") as tdir:
            path = _seed_table(spark, tdir)
            landed = threading.Event()
            refusals: list[int] = []

            def writer(wid):
                def go():
                    r = random.Random(SEED_BASE + schedule * 17 + wid)
                    for i in range(6):
                        if landed.is_set() and i == 4:
                            # violating append AFTER the constraint:
                            # must raise, never commit
                            try:
                                _retry(
                                    lambda: deltalite.write(
                                        spark,
                                        _df(spark, [(wid * 100 + 99, "zz")]),
                                        path,
                                        "append",
                                    )
                                )
                            except ValueError:
                                refusals.append(wid)
                            else:
                                raise AssertionError(
                                    "violating append committed"
                                )
                            continue
                        rows = [(wid * 100 + i, r.choice("abc"))]
                        _retry(
                            lambda rr=rows: deltalite.write(
                                spark, _df(spark, rr), path, "append"
                            )
                        )

                return go

            def constrainer():
                time.sleep(0.05)
                _retry(
                    lambda: deltalite.add_check_constraint(
                        spark, path, "no_zz", "v <> 'zz'"
                    )
                )
                landed.set()

            _run_threads([writer(0), writer(1), constrainer])
            final = mw._verify_chain(spark, path)
            assert all(v[0] != "zz" for v in final.values())
            cfg = deltalite._replay_state(path)["meta"]["configuration"]
            assert cfg.get("delta.constraints.no_zz") == "v <> 'zz'"
            assert len(refusals) == 2, refusals


def test_vacuum_races_writers_and_readers(spark):
    """VACUUM with a retention horizon runs WHILE writers append/optimize
    and readers time-travel. The grace window must keep it from eating a
    live writer's just-moved uncommitted files (no lost rows — the
    regression for vacuum grace_ms); reads at the latest version always
    succeed; reads past the horizon may fail but only LOUDLY (missing
    file), never with wrong data."""
    for schedule in range(N_SCHEDULES):
        with tempfile.TemporaryDirectory(prefix="dlmw-vac-") as tdir:
            path = _seed_table(spark, tdir)
            stop = threading.Event()
            models: dict[int, dict] = {}

            def writer(wid):
                def go():
                    r = random.Random(SEED_BASE + schedule * 23 + wid)
                    model = {}
                    for i in range(6):
                        rows = [(wid * 100 + i, r.choice("abc"))]
                        _retry(
                            lambda rr=rows: deltalite.write(
                                spark, _df(spark, rr), path, "append"
                            )
                        )
                        model.update(rows)
                        if i % 3 == 2:
                            _retry(lambda: deltalite.optimize(spark, path))
                    models[wid] = model

                return go

            def maintainer():
                while not stop.is_set():
                    time.sleep(0.1)
                    _retry(lambda: deltalite.vacuum(path, retain_versions=2))

            def reader():
                r = random.Random(SEED_BASE + schedule + 555)
                while not stop.is_set():
                    vs = deltalite._list_versions(path)
                    deltalite.read(spark, path).count()  # latest: must work
                    old = r.choice(vs)
                    try:
                        deltalite.read(spark, path, version=old).count()
                    except Exception:  # noqa: BLE001
                        # past the retention horizon: loud failure is the
                        # documented trade — never wrong data
                        assert old < max(vs) - 1
                    time.sleep(0.05)

            ws = [writer(w) for w in range(2)]
            aux = [threading.Thread(target=maintainer), threading.Thread(target=reader)]
            for t in aux:
                t.start()
            try:
                _run_threads(ws)
            finally:
                stop.set()
                for t in aux:
                    t.join()
            final = mw._verify_chain(spark, path, check_files=False)
            flat = {k: v[0] for k, v in final.items()}
            for wid, model in models.items():
                got = {
                    k: v
                    for k, v in flat.items()
                    if wid * 100 <= k <= wid * 100 + 99
                }
                assert got == model, (
                    f"vacuum ate writer {wid}'s rows: {got} != {model}"
                )


def test_vacuum_grace_unit(spark, tmp_path):
    """Deterministic core of the in-flight-writer protection: a fresh
    never-committed file survives the default grace; the same file aged
    past the grace is garbage; a COMMITTED file that fell out of the
    retention horizon goes regardless of age."""
    path = str(tmp_path / "t")
    deltalite.write(spark, _df(spark, [(1, "a")]), path, "overwrite")
    v0_files = set(deltalite._replay_state(path)["active"])
    # fabricate an in-flight writer's file: moved into place, no commit
    src = os.path.join(path, sorted(v0_files)[0])
    inflight = os.path.join(path, "part-inflight.parquet")
    import shutil

    shutil.copyfile(src, inflight)
    assert deltalite.vacuum(path) == []  # fresh: protected by grace
    old = time.time() - 3600
    os.utime(inflight, (old, old))
    assert deltalite.vacuum(path) == ["part-inflight.parquet"]  # aged: garbage
    # committed file outside the retention horizon: age-independent
    deltalite.write(spark, _df(spark, [(2, "b")]), path, "overwrite")
    removed = deltalite.vacuum(path, retain_versions=0)
    assert set(removed) == v0_files


# --- r11 (VERDICT r10 #6): separate-JVM arena + crash-recovery --------------

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ddl_ops(spark, path, wid, seed, n_ops=6):
    """One writer's random walk over the WIDENED op alphabet — the
    process-arena twin of the per-op thread tests above. Every op is
    retried through the put-if-absent race like a production job would.
    Returns the count of ops performed (the universal invariants are
    verified by the parent; per-writer models can't hold under
    RESTORE)."""
    r = random.Random(seed * 1009 + wid)
    done = 0
    for i in range(n_ops):
        op = r.choice(
            ("append", "append", "optimize", "restore", "evolve", "vacuum")
        )
        try:
            if op == "append":
                rows = [(wid * 1000 + i, r.choice("abcdef"))]
                _retry(
                    lambda rr=rows: deltalite.write(
                        spark, _df(spark, rr), path, "append"
                    )
                )
            elif op == "optimize":
                _retry(lambda: deltalite.optimize(spark, path))
            elif op == "restore":
                vs = deltalite._list_versions(path)
                target = r.choice(vs[-3:])  # stay near the head
                _retry(lambda t=target: deltalite.restore(spark, path, t))
            elif op == "evolve":
                rows = [(wid * 1000 + i, r.choice("abcdef"), wid)]
                _retry(
                    lambda rr=rows: deltalite.write(
                        spark,
                        _df(spark, rr, f"k int, v string, w{wid} int"),
                        path,
                        "append",
                    )
                )
            else:  # vacuum with a horizon, default grace protects peers
                _retry(lambda: deltalite.vacuum(path, retain_versions=3))
            done += 1
        except ValueError:
            # semantic refusals under concurrent DDL (e.g. appending an
            # old schema shape after a peer's restore) are legal outcomes
            # of the race — correctness is the parent's chain verify
            continue
    return done


_DDL_CHILD = r"""
import sys, json
sys.path.insert(0, {repo!r})
sys.path.insert(0, {repo!r} + "/tests")
import tempfile
from dbt_spark_models_spark.session import get_spark
import test_deltalite_multiwriter_ddl as ddl
spark = get_spark("dlmw-ddl-child",
                  extra_conf={{"spark.sql.warehouse.dir":
                               tempfile.mkdtemp(prefix="wh-dlmw-ddl-")}})
n = ddl._ddl_ops(spark, {path!r}, {wid}, {seed}, n_ops=5)
print("DONE " + json.dumps(n), flush=True)
spark.stop()
"""


def test_ddl_process_arena(spark):
    """Three separate JVMs race the widened DDL alphabet (appends,
    OPTIMIZE, RESTORE, schema evolution, VACUUM-with-horizon) on one
    table — the literal multi-job deployment. Universal invariants:
    contiguous chain, every surviving version replays, protocol
    monotone, the LATEST snapshot's files all exist and read clean."""
    import subprocess

    for schedule in range(N_SCHEDULES):
        with tempfile.TemporaryDirectory(prefix="dlmw-ddlproc-") as tdir:
            path = _seed_table(spark, tdir)
            procs = [
                subprocess.Popen(
                    [
                        sys.executable,
                        "-c",
                        _DDL_CHILD.format(
                            repo=REPO,
                            path=path,
                            wid=w,
                            seed=SEED_BASE + schedule,
                        ),
                    ],
                    stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT,
                    text=True,
                    cwd=REPO,
                )
                for w in range(3)
            ]
            outs = [p.communicate(timeout=480)[0] for p in procs]
            for p, out in zip(procs, outs):
                assert p.returncode == 0, out[-3000:]
                assert any(ln.startswith("DONE ") for ln in out.splitlines()), (
                    out[-3000:]
                )
            # vacuum may legitimately have dropped pre-horizon snapshot
            # files; the latest snapshot must be fully present
            mw._verify_chain(spark, path, check_files=False)
            active = deltalite._replay_state(path)["active"]
            for rel in active:
                assert os.path.exists(os.path.join(path, rel)), rel
            deltalite.read(spark, path).count()


_STAGE_CHILD = r"""
import sys, time
sys.path.insert(0, {repo!r})
import tempfile
from dbt_spark_models_spark.session import get_spark
from dbt_spark_models_spark.sources import deltalite
spark = get_spark("dlmw-stage-child",
                  extra_conf={{"spark.sql.warehouse.dir":
                               tempfile.mkdtemp(prefix="wh-dlmw-stage-")}})
df = spark.createDataFrame([({marker}, "staged")], "k int, v string").coalesce(1)
adds = deltalite._write_data_files(df, {path!r})
print("STAGED " + adds[0]["path"], flush=True)
time.sleep(600)  # killed by the parent before any commit
"""


def test_writer_killed_after_staging(spark):
    """Crash-recovery schedule (VERDICT r10 #6): a writer is SIGKILLed
    after moving its data files into the table but before winning a
    commit — the exact window the vacuum grace protects. Proof
    obligations: concurrent committed rows are never lost, the orphaned
    staged file is invisible to readers, a default-grace vacuum leaves
    it alone (it could still be an in-flight writer), and an aged orphan
    is eventually reclaimed as true garbage."""
    import signal
    import subprocess

    for schedule in range(N_SCHEDULES):
        with tempfile.TemporaryDirectory(prefix="dlmw-kill-") as tdir:
            path = _seed_table(spark, tdir)
            child = subprocess.Popen(
                [
                    sys.executable,
                    "-c",
                    _STAGE_CHILD.format(repo=REPO, path=path, marker=999_999),
                ],
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                text=True,
                cwd=REPO,
            )
            staged_rel = None
            try:
                for line in child.stdout:
                    if line.startswith("STAGED "):
                        staged_rel = line.split(" ", 1)[1].strip()
                        break
                assert staged_rel, "child never staged"
                child.send_signal(signal.SIGKILL)
            finally:
                child.kill()
                child.wait(timeout=60)
            assert os.path.exists(os.path.join(path, staged_rel))

            # concurrent writers commit THROUGH the crash window
            models: dict[int, dict] = {}

            def writer(wid):
                def go():
                    r = random.Random(SEED_BASE + schedule * 13 + wid)
                    model = {}
                    for i in range(4):
                        rows = [(wid * 100 + i, r.choice("xyz"))]
                        _retry(
                            lambda rr=rows: deltalite.write(
                                spark, _df(spark, rr), path, "append"
                            )
                        )
                        model.update(rows)
                    models[wid] = model

                return go

            _run_threads([writer(w) for w in range(2)])

            # the orphan is invisible and grace-protected while fresh
            rows = {
                r.k: r.v for r in deltalite.read(spark, path).collect()
            }
            assert 999_999 not in rows
            removed = deltalite.vacuum(path, retain_versions=2)
            assert staged_rel not in removed, "grace failed: ate in-flight file"
            assert os.path.exists(os.path.join(path, staged_rel))
            # aged past the grace it is true garbage and is reclaimed
            orphan_abs = os.path.join(path, staged_rel)
            old = time.time() - 3600
            os.utime(orphan_abs, (old, old))
            removed = deltalite.vacuum(path, retain_versions=2)
            assert staged_rel in removed
            assert not os.path.exists(orphan_abs)
            # no committed row lost anywhere in the schedule
            final = mw._verify_chain(spark, path, check_files=False)
            flat = {k: v[0] for k, v in final.items()}
            for wid, model in models.items():
                got = {
                    k: v
                    for k, v in flat.items()
                    if wid * 100 <= k <= wid * 100 + 99
                }
                assert got == model, (wid, got, model)
