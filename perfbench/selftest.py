"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload in BENCHMARK.json at a tiny size, untraced and
traced, and checks that the correctness gate passes (``failed == 0``)
and that exactly the metrics BENCHMARK.json names are printed, with
its units. Then runs each workload with one golden text corrupted, and
once more checked against an empty reference.json, and checks that the
gate fails both times, so it is shown not to be vacuous. Exits non-zero
on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = {"job_heavy": 500, "stream_base": 500, "serve_batch16": 500}
# ledger entries that must be non-zero, to show each workload's layers
# are actually read
LAYER_PROBES = {
    "job_heavy": ["core.extract_page_us", "operators.py_run_s", "plans.extract_write_s",
                  "plans.shuffle_mb", "sources.scan_mb", "session.python_cpu_s"],
    "stream_base": ["core.extract_page_us", "operators.py_run_s", "sources.warehouse_files",
                    "streaming.batches", "session.jvm_cpu_s"],
    "serve_batch16": ["core.extract_page_us", "serving.latency_p99_ms", "serving.core_ms_per_req",
                      "serving.req_kb", "session.python_cpu_s", "session.peak_rss_mb"],
}


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "0", "--seconds", "1",
        "--trace", str(trace), "--docs", str(TINY_DOCS[workload]), *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = _run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {name: m["unit"] for name, m in r["metrics"].items()}
            _check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                   f"{w} trace={trace}: gate passes ({r['attempted']} docs attempted)")
            _check(got == want, f"{w} trace={trace}: prints exactly the {key} metrics")
            if trace:
                zero = [n for n in LAYER_PROBES[w] if not r["metrics"][n]["value"]]
                _check(not zero, f"{w}: its layers are read (zero: {zero})")
        r = _run(w, 0, "--corrupt-golden")
        _check(not r["correct"] and r["failed"] > 0,
               f"{w}: a corrupted golden fails the gate ({r['failed']}/{r['attempted']})")
        r = _run(w, 0, "--corrupt-reference")
        _check(not r["correct"] and r["failed"] == r["attempted"],
               f"{w}: goldens the reference does not vouch for fail the gate "
               f"({r['failed']}/{r['attempted']})")


if __name__ == "__main__":
    main()
