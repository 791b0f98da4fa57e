#!/usr/bin/env python3
"""Two-PROCESS concurrent curate_run stress (VERDICT r9 ask #2): the
lease discipline's unit tests fake foreign owners in one process; this
drives the ACTUAL scenario it exists for — two real OS processes, each
with its own SparkSession, racing the same work_dir + shared digest
catalog.

Leg 1 — scheduler double-fire: writer A acquires the run-level leases
and blocks inside its first stage until released; writer B fires
against the same work_dir/catalog while A is live. B must refuse
LOUDLY (LeaseHeldError), A must complete normally, and the catalog
must equal the single-writer reference — no duplicate registration,
no partial mix.

Leg 2 — ttl takeover: A runs with a short ttl and blocks inside its
first stage; B fires after the ttl expires, takes the stale leases
over and completes the run. A, once released, must get LeaseLostError
from renew() at its next stage boundary and ABORT (never reaching
register), leaving exactly B's single registration in the catalog.

Usage::

    python tools/concurrent_curate_stress.py [n_docs]   # default 200k
    # internal: --child ... (the writer-process entry)

Prints ``CONCSTRESS_DOUBLEFIRE {...}`` and ``CONCSTRESS_TAKEOVER
{...}`` JSON lines; asserts inline. The pytest twin
(tests/test_pipeline.py::test_concurrent_curate_runs_two_processes)
drives the same child entry at a smaller n.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: cap on every wait for a writer process: its run, and a blocked
#: writer's wait for its release file
TIMEOUT_S = 900


def child_main(argv: list[str]) -> int:
    """One writer process: curate_run over --src into --work with the
    shared --cat digest catalog, lease_ttl=--ttl. With --release, the
    FIRST computed stage (the module global ``curate`` that curate_run
    calls, monkeypatched) blocks until that file exists: the long
    stage both races need, lasting exactly until the parent has seen
    the other writer finish. Prints CHILD_OK or
    CHILD_ERR:<ExceptionName> as its last line."""
    opts = dict(a.split("=", 1) for a in argv if "=" in a)
    release = opts.get("--release")

    import pond_spark.pipeline as P
    from pond_spark.pipeline import CurationConfig, curate_run
    from pond_spark.session import get_spark

    if release:
        orig = P.curate
        state = {"done": False}

        def blocked_curate(*a, **kw):
            if not state["done"]:
                state["done"] = True
                if not _wait_for(release, TIMEOUT_S):
                    raise TimeoutError(f"never released: {release}")
            return orig(*a, **kw)

        P.curate = blocked_curate

    spark = get_spark(
        f"conc_writer_{os.getpid()}",
        master=opts.get("--master", "local[8]"),
        shuffle_partitions=8,
    )
    try:
        curate_run(
            spark,
            opts["--src"],
            opts["--work"],
            # min_words=5: the synth docs are 12 words (the default 20
            # would quality-drop the whole corpus)
            CurationConfig(stages=("quality", "exact_dedup"), min_words=5),
            digest_catalog_path=opts["--cat"],
            lease_ttl=int(opts.get("--ttl", "3600")),
        )
        print("CHILD_OK")
        return 0
    except Exception as e:  # noqa: BLE001 — the class name IS the result
        print(f"CHILD_ERR:{type(e).__name__}")
        return 3
    finally:
        spark.stop()


def _spawn(src, work, cat, ttl, release=None):
    return subprocess.Popen(
        [
            sys.executable, os.path.abspath(__file__), "--child",
            f"--src={src}", f"--work={work}", f"--cat={cat}",
            f"--ttl={ttl}",
        ] + ([f"--release={release}"] if release else []),
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )


def _wait_for(path: str, timeout_s: float) -> bool:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if os.path.exists(path):
            return True
        time.sleep(0.25)
    return False


def run_legs(n: int, spark=None, verbose: bool = True) -> dict:
    """Both legs; returns the report dict (also used by the pytest
    twin). ``spark`` is the PARENT session used only to build the
    corpus and count results. In each leg writer A stays blocked in
    its first stage until writer B has exited."""
    from pond_spark.session import get_spark
    from tools.pipeline_stress import _synth_pipeline_docs

    spark = spark or get_spark("conc_stress_parent", master="local[8]",
                               shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="pond_conc_")
    blocked = []  # writers waiting on a release file, killed on failure
    report: dict = {"n_docs": n}
    try:
        src = os.path.join(root, "docs")
        _synth_pipeline_docs(spark, n).coalesce(4).write.parquet(src)

        # single-writer reference
        ref_cat = os.path.join(root, "ref_cat")
        rc = _spawn(src, os.path.join(root, "ref_work"), ref_cat, 3600)
        out, _ = rc.communicate(timeout=TIMEOUT_S)
        assert "CHILD_OK" in out, out
        ref_rows = spark.read.parquet(ref_cat).count()
        ref_distinct = (
            spark.read.parquet(ref_cat).select("content_sha").distinct().count()
        )

        # ---- leg 1: double-fire — B must refuse while A is live
        work1, cat1 = os.path.join(root, "w1"), os.path.join(root, "c1")
        release1 = os.path.join(root, "release1")
        a = _spawn(src, work1, cat1, ttl=3600, release=release1)
        blocked.append(a)
        assert _wait_for(work1 + ".lease.json", 120), "A never acquired"
        b = _spawn(src, work1, cat1, ttl=3600)
        b_out, _ = b.communicate(timeout=TIMEOUT_S)
        open(release1, "w").close()
        a_out, _ = a.communicate(timeout=TIMEOUT_S)
        leg1 = {
            "a": a_out.strip().splitlines()[-1],
            "b": b_out.strip().splitlines()[-1],
            "catalog_rows": spark.read.parquet(cat1).count(),
            "ref_rows": ref_rows,
        }
        report["doublefire"] = leg1
        if verbose:
            print("CONCSTRESS_DOUBLEFIRE " + json.dumps(leg1))
        assert leg1["b"] == "CHILD_ERR:LeaseHeldError", leg1
        assert leg1["a"] == "CHILD_OK", leg1
        assert leg1["catalog_rows"] == ref_rows, leg1
        assert not os.path.exists(work1 + ".lease.json")  # released

        # ---- leg 2: ttl takeover — B takes the stale lease over and
        # completes; A aborts at its next renew, never registering
        work2, cat2 = os.path.join(root, "w2"), os.path.join(root, "c2")
        release2 = os.path.join(root, "release2")
        a = _spawn(src, work2, cat2, ttl=2, release=release2)
        blocked.append(a)
        # A renews at every stage boundary, so the ttl clock restarts
        # when its catalog_gate stage lands — wait for THAT, then let
        # the ttl lapse while A is blocked inside its quality stage
        # (curate() is first called for quality)
        assert _wait_for(
            os.path.join(work2, "stage_00_catalog_gate", "_SUCCESS"), 300
        ), "A never finished its gate stage"
        time.sleep(4)  # ttl=2 lapses
        b = _spawn(src, work2, cat2, ttl=2)
        b_out, _ = b.communicate(timeout=TIMEOUT_S)
        open(release2, "w").close()
        a_out, _ = a.communicate(timeout=TIMEOUT_S)
        leg2 = {
            "a": a_out.strip().splitlines()[-1],
            "b": b_out.strip().splitlines()[-1],
            "catalog_rows": spark.read.parquet(cat2).count(),
            "catalog_distinct": spark.read.parquet(cat2)
            .select("content_sha").distinct().count(),
            "ref_rows": ref_rows,
        }
        report["takeover"] = leg2
        if verbose:
            print("CONCSTRESS_TAKEOVER " + json.dumps(leg2))
        assert leg2["b"] == "CHILD_OK", leg2
        assert leg2["a"] == "CHILD_ERR:LeaseLostError", leg2
        # exactly one registration: B's. A aborted before register, so
        # rows == the single-writer reference and digests are unique
        assert leg2["catalog_rows"] == ref_rows, leg2
        assert leg2["catalog_distinct"] == ref_distinct, leg2
        return report
    finally:
        for p in blocked:
            if p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    if "--child" in sys.argv:
        return child_main(sys.argv[2:])
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 200_000
    run_legs(n)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
