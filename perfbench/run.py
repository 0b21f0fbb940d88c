"""Extraction benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload job_heavy --seed 1 --seconds 10 --trace 0

Prints a detail line (per-sample timings with the host-load audit),
then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer ledger. Workloads, metrics and their meaning are in
README.md. Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def confine_to_work_dir() -> None:
    """Point every temp/scratch location of this process, its children
    and the Spark JVM at the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    # -XX:-UsePerfData: no /tmp/hsperfdata_* file from either JVM (the
    # spark-submit launcher and the Spark JVM)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'spark-warehouse')} "
        f"--driver-java-options '{jvm_opts}' pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that
    ``end_descendants`` can wait for processes whose parent ended first,
    such as Spark's Python daemon and its workers once the JVM is gone."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    import probes

    table = probes.proc_table()
    return [p for p in probes.subtree(table, os.getpid()) if p != os.getpid()]


def end_descendants(grace_s: float = 10.0) -> None:
    """Wait until every process this run started has ended and is
    reaped. Stragglers get SIGTERM after ``grace_s`` and SIGKILL after
    twice that."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # started by the spawn pool
    t0 = time.monotonic()
    signalled = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left, so no descendants either
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != signalled:
            for pid in _descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled = sig
        time.sleep(0.02)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["job_heavy", "stream_base", "serve_batch16"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--docs", type=int, default=None, help="override the workload's input size (self-test)")
    ap.add_argument(
        "--corrupt-golden", action="store_true", help="alter one golden text (self-test of the gate)"
    )
    ap.add_argument(
        "--corrupt-reference",
        action="store_true",
        help="check the goldens against an empty reference (self-test of the gate)",
    )
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    if not os.path.isdir(os.path.join(ROOT, "paddleocr_spark")):
        print(f"error: no paddleocr_spark package next to {HERE}", file=sys.stderr)
        return 2
    confine_to_work_dir()
    sys.path[:0] = [ROOT]
    # a SIGTERM runs the clean-up below too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()
    try:
        return _run(args)
    finally:
        end_descendants()


def _run(args: argparse.Namespace) -> int:
    import workloads

    s = workloads.Settings(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work_dir=WORK,
        root=ROOT,
        docs=args.docs,
        corrupt_golden=args.corrupt_golden,
        corrupt_reference=args.corrupt_reference,
    )
    result, detail = workloads.WORKLOADS[args.workload](s)
    print(json.dumps(dict(detail=detail)))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
