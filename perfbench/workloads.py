"""The three benchmark workloads and the metrics they report.

Each workload function takes a ``Settings`` and returns
``(result, detail)``: ``result`` is the one-line JSON object the
benchmark prints last, ``detail`` the per-sample audit printed before it.

Workloads (why each was chosen: README.md):

- ``job_heavy``: ``plans.run_extract_job`` (fused mode) over heavy pages.
- ``stream_base``: ``streaming.ingest.extract_pages_stream_warehouse``
  draining a landing dir of base pages into a fresh warehouse table.
- ``serve_batch16``: one closed-loop client POSTing 16 base pages per
  request to the serving endpoint, run as its own process.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from urllib.error import URLError
from urllib.request import urlopen

import inputs
import probes

MB = 1e6

# (name, unit): every run with --trace 0 prints exactly these.
END_TO_END = [
    ("docs_per_s", "1/s"),
    ("cpu_ms_per_doc", "ms"),
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
]

# (name, unit): every run with --trace 1 prints exactly these. A layer
# a workload does not run through reads 0.
PER_LAYER = [
    ("core.extract_page_us", "us"),
    ("core.tokenize_us", "us"),
    ("core.tokenize_share", "ratio"),
    ("core.ceiling_docs_per_s", "1/s"),
    ("core.ceiling_pct", "%"),
    ("operators.py_run_s", "s"),
    ("operators.py_start_s", "s"),
    ("operators.py_init_s", "s"),
    ("operators.arrow_sent_mb", "MB"),
    ("operators.arrow_recv_mb", "MB"),
    ("operators.task_max_over_median", "ratio"),
    ("plans.plan_parts_s", "s"),
    ("plans.extract_write_s", "s"),
    ("plans.lineage_s", "s"),
    ("plans.shuffle_mb", "MB"),
    ("plans.shuffle_write_s", "s"),
    ("plans.shuffle_read_mb", "MB"),
    ("plans.output_files", "count"),
    ("plans.output_mb", "MB"),
    ("plans.part_rows_max_over_mean", "ratio"),
    ("sources.scan_s", "s"),
    ("sources.scan_mb", "MB"),
    ("sources.warehouse_snapshots", "count"),
    ("sources.warehouse_files", "count"),
    ("sources.warehouse_mb", "MB"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_s", "s"),
    ("streaming.trigger_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("serving.latency_p99_ms", "ms"),
    ("serving.core_ms_per_req", "ms"),
    ("serving.overhead_ms_per_req", "ms"),
    ("serving.req_kb", "kB"),
    ("serving.resp_kb", "kB"),
    ("session.cpu_util", "ratio"),
    ("session.jvm_cpu_s", "s"),
    ("session.python_cpu_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("bench.trace_overhead_pct", "%"),
]

# Docs per rep (Spark workloads) or distinct pages cycled (serving).
# Multiples of inputs.CHUNK.
DOCS = {"job_heavy": 32000, "stream_base": 10000, "serve_batch16": 2000}
PROFILE = {"job_heavy": "heavy", "stream_base": "base", "serve_batch16": "base"}
# Spark warm-up: a rep over the first quarter of the input files. It
# boots the Python workers and counts in setup_s.
SPARK_WARMUP_REPS = 1
# Fewest measured reps; each figure is the median over them. The first
# full reps after the warm-up are still slow while the JVM's JIT warms: a
# drain takes about six reps to get within a few percent of its steady
# time. The median over seven reps sits at the same place on that curve
# in every run, where the fastest rep follows single outliers.
SPARK_MIN_REPS = {"job_heavy": 2, "stream_base": 7}
# A traced run compares traced and untraced reps after the first
# SETTLE_REPS, which are still slow.
SETTLE_REPS = 2
# Logical partitions per core and salt of job_heavy (bench.py's headline
# plan). Its fixed cost per job is what a production-size job pays in
# share of its wall time: README.md, "Sizing job_heavy".
JOB_PARTS_PER_CORE = 2
JOB_SALT = 4
SERVE_SETUPS = 9
SERVE_WARMUP_REQS = 20
SERVE_BATCH = 16
# The loop is timed in windows of SERVE_WINDOW requests, at least
# SERVE_MIN_WINDOWS of them; the figures come from the fastest half,
# >= 1000 requests, so p99 has >= 10 samples beyond it.
SERVE_WINDOW = 250
SERVE_MIN_WINDOWS = 8
CORE_SAMPLE = 200
CORE_PASSES = 5


@dataclasses.dataclass
class Settings:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work_dir: str
    root: str
    docs: int | None = None
    corrupt_golden: bool = False
    corrupt_reference: bool = False

    @property
    def n_docs(self) -> int:
        return self.docs or DOCS[self.workload]

    @property
    def cores(self) -> int:
        return len(os.sched_getaffinity(0))


def _inputs(s: Settings) -> tuple[str, dict[str, str | None]]:
    d, golden = inputs.ensure_inputs(
        s.work_dir, s.root, PROFILE[s.workload], s.n_docs, s.seed, min(4, s.cores),
        tamper_reference=s.corrupt_reference,
    )
    if s.corrupt_golden:
        url = min(golden)
        golden[url] = (golden[url] or "") + "\x00corrupted"
    return d, golden


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _p99(xs) -> float:
    """Nearest-rank 99th percentile (the slowest sample below 100)."""
    xs = sorted(xs)
    return xs[max(0, -(-99 * len(xs) // 100) - 1)] if xs else 0.0


def _core_timing(pages: list[dict], cores_for_ceiling: int) -> dict:
    """Single-thread us/doc of extract_page and tokenize_page over a
    fixed sample of the workload's pages; median of several passes."""
    from paddleocr_spark.config import DEFAULT
    from paddleocr_spark.core.oracle import extract_page
    from paddleocr_spark.core.tokenizer import tokenize_page

    sample = pages[:CORE_SAMPLE]
    ext, tok = [], []
    for _ in range(CORE_PASSES):
        t = time.perf_counter()
        for p in sample:
            extract_page(p["url"], p["html"], p["lang"], DEFAULT)
        ext.append((time.perf_counter() - t) / len(sample) * 1e6)
        t = time.perf_counter()
        for p in sample:
            tokenize_page(p["html"], DEFAULT)
        tok.append((time.perf_counter() - t) / len(sample) * 1e6)
    e, k = _median(ext), _median(tok)
    return {
        "core.extract_page_us": e,
        "core.tokenize_us": k,
        "core.tokenize_share": k / e,
        "core.ceiling_docs_per_s": cores_for_ceiling * 1e6 / e,
    }


def _result(s: Settings, attempted: int, failed: int, e2e: dict, layers: dict) -> dict:
    specs = PER_LAYER if s.trace else END_TO_END
    values = layers if s.trace else e2e
    return dict(
        correct=failed == 0,
        attempted=attempted,
        failed=failed,
        metrics={n: dict(value=float(values.get(n, 0.0)), unit=u) for n, u in specs},
    )


def _overhead_pct(rates: list[float], traced: list[bool]) -> float:
    plain = _median(r for r, t in zip(rates, traced) if not t)
    with_trace = _median(r for r, t in zip(rates, traced) if t)
    return (plain / with_trace - 1.0) * 100.0 if plain and with_trace else 0.0


# ---- Spark workloads ----------------------------------------------------


def _spark_layers(nodes: list) -> dict:
    """Per-layer values from the SQL nodes of one traced rep. Python
    and Exchange nodes count only in executions that ran a Python stage
    (the extraction pass), so the job's lineage aggregation does not.
    Scans count when they read the ``html`` column: the scan that feeds
    extraction, not the job's url-only planning scan or output re-reads
    (a stream's micro-batch files are read in their own execution)."""
    py_names = ("MapInPandas", "ArrowEvalPython")
    py_execs = {eid for eid, name, _, _ in nodes if name in py_names}
    out: dict[str, float] = {}
    spread = []

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for eid, name, desc, m in nodes:
        if name.startswith("Scan parquet") and "html:binary" in desc:
            add("sources.scan_s", m.get("scan time", (0.0,))[0])
            add("sources.scan_mb", m.get("size of files read", (0.0,))[0] / MB)
        if eid not in py_execs:
            continue
        if name in py_names:
            run = m.get("time to run Python workers", (0.0, None, None))
            add("operators.py_run_s", run[0])
            add("operators.py_start_s", m.get("time to start Python workers", (0.0,))[0])
            add("operators.py_init_s", m.get("time to initialize Python workers", (0.0,))[0])
            add("operators.arrow_sent_mb", m.get("data sent to Python workers", (0.0,))[0] / MB)
            add("operators.arrow_recv_mb", m.get("data returned from Python workers", (0.0,))[0] / MB)
            if run[1]:
                spread.append((run[0], run[2] / run[1]))
        elif name == "Exchange":
            add("plans.shuffle_mb", m.get("shuffle bytes written", (0.0,))[0] / MB)
            add("plans.shuffle_write_s", m.get("shuffle write time", (0.0,))[0])
            read = m.get("local bytes read", (0.0,))[0] + m.get("remote bytes read", (0.0,))[0]
            add("plans.shuffle_read_mb", read / MB)
    if spread:
        out["operators.task_max_over_median"] = max(spread)[1]
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring _/. metadata files."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _job_rep(spark, ctx: dict, rep_dir: str) -> dict:
    from paddleocr_spark.plans.job import run_extract_job

    return run_extract_job(
        spark, ctx["pages_dir"], rep_dir, n_partitions=ctx["n_partitions"], salt=JOB_SALT
    )


def _failures(golden: dict, table) -> int:
    """Gate over an Arrow table with ``url`` and ``extracted_text``."""
    urls, texts = table.column("url").to_pylist(), table.column("extracted_text").to_pylist()
    return inputs.count_failures(golden, zip(urls, texts))


def _job_verify(spark, rep_dir: str, golden: dict) -> int:
    import pyarrow.parquet as pq

    out = pq.read_table(os.path.join(rep_dir, "extracted"), columns=["url", "extracted_text"])
    return _failures(golden, out)


def _job_layers(rep_dir: str, stats: dict) -> dict:
    import pyarrow.parquet as pq

    out = {f"plans.{k}": stats["timings"][k] for k in ("plan_parts_s", "extract_write_s", "lineage_s")}
    n, size = _dir_stats(os.path.join(rep_dir, "extracted"))
    out["plans.output_files"] = n
    out["plans.output_mb"] = size / MB
    rows = pq.read_table(os.path.join(rep_dir, "lineage"), columns=["row_count"]).column(0).to_pylist()
    out["plans.part_rows_max_over_mean"] = max(rows) / (sum(rows) / len(rows))
    return out


def _stream_rep(spark, ctx: dict, rep_dir: str) -> dict:
    from paddleocr_spark.streaming.ingest import extract_pages_stream_warehouse

    extract_pages_stream_warehouse(
        spark, ctx["pages_dir"], os.path.join(rep_dir, "table"), os.path.join(rep_dir, "ckpt")
    )
    return {}


def _stream_verify(spark, rep_dir: str, golden: dict) -> int:
    from paddleocr_spark.sources import warehouse as W

    out = W.read_table(spark, os.path.join(rep_dir, "table")).select("url", "extracted_text")
    return _failures(golden, out.toArrow())


def _stream_layers(rep_dir: str, stats: dict) -> dict:
    from paddleocr_spark.sources import warehouse as W

    table = os.path.join(rep_dir, "table")
    n, size = _dir_stats(table)
    return {
        "sources.warehouse_snapshots": len(W.snapshots(table)),
        "sources.warehouse_files": n,
        "sources.warehouse_mb": size / MB,
    }


# streaming progress durationMs key -> ledger metric
_PROGRESS_KEYS = (
    ("addBatch", "streaming.add_batch_s"),
    ("triggerExecution", "streaming.trigger_s"),
    ("walCommit", "streaming.wal_commit_s"),
)

_SPARK = {
    "job_heavy": (_job_rep, _job_verify, _job_layers),
    "stream_base": (_stream_rep, _stream_verify, _stream_layers),
}


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it. The
    JVM exits when its stdin closes; its Python workers end with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_spark(s: Settings) -> tuple[dict, dict]:
    rep_fn, verify_fn, layers_fn = _SPARK[s.workload]
    t_start = time.monotonic()
    input_dir, golden = _inputs(s)
    inputs_s = time.monotonic() - t_start
    pages_dir = os.path.join(input_dir, "pages")
    ctx = dict(n_partitions=JOB_PARTS_PER_CORE * s.cores)
    layers: dict[str, list[float]] = {}
    if s.trace:
        core = _core_timing(inputs.load_pages(input_dir, "warmup"), s.cores)
    reps_root = os.path.join(s.work_dir, "reps", s.workload)
    shutil.rmtree(reps_root, ignore_errors=True)

    jvm = {}
    with probes.RssPeak(lambda: jvm.get("pid") if s.trace else None) as rss:
        t0 = time.monotonic()
        from paddleocr_spark.session import get_spark

        spark = get_spark(app_name="perfbench", master=f"local[{s.cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        jvm["pid"] = probes.spark_jvm_pid()
        try:
            sql = probes.SqlMetrics(spark) if s.trace else None
            before_warmup = sql.last_id() if s.trace else None
            for k in range(SPARK_WARMUP_REPS):
                rep_fn(spark, dict(ctx, pages_dir=os.path.join(input_dir, "warmup")),
                       os.path.join(reps_root, f"warmup{k}"))
            setup_s = time.monotonic() - t0
            if s.trace:
                # Python workers start and initialize in the cold warm-up
                # rep; later reps reuse them, so these two describe setup
                sql.drain()
                cold = _spark_layers(sql.nodes_since(before_warmup))
            ctx["pages_dir"] = pages_dir
            meter = probes.LoadMeter()
            walls, cpu_ms, traced_flags, samples = [], [], [], []
            attempted = failed = 0
            measured = verify_s = 0.0
            # a traced run traces every other rep and compares settled
            # reps only (see SETTLE_REPS)
            min_reps = SPARK_MIN_REPS[s.workload] + (SETTLE_REPS if s.trace else 0)
            while measured < s.seconds or len(walls) < min_reps:
                i = len(walls)
                traced = s.trace and i % 2 == 1
                rep_dir = os.path.join(reps_root, f"rep{i}")
                listener = None
                if traced:
                    last_id = sql.last_id()
                    if s.workload == "stream_base":
                        listener = probes.make_progress_listener()
                        spark.streams.addListener(listener)
                meter.start()
                cpu0 = probes.tree_cpu(jvm["pid"])
                t = time.monotonic()
                stats = rep_fn(spark, ctx, rep_dir)
                wall = time.monotonic() - t
                cpu1 = probes.tree_cpu(jvm["pid"])
                load = meter.stop()
                jvm_cpu, py_cpu = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
                if traced:
                    sql.drain()  # the status store fills from the listener bus
                    rep_layers = _spark_layers(sql.nodes_since(last_id))
                    rep_layers.update(layers_fn(rep_dir, stats))
                    rep_layers["session.jvm_cpu_s"] = jvm_cpu
                    rep_layers["session.python_cpu_s"] = py_cpu
                    rep_layers["session.cpu_util"] = (jvm_cpu + py_cpu) / (wall * s.cores)
                    if listener is not None:
                        listener.terminated.wait(30)  # events arrive asynchronously
                        spark.streams.removeListener(listener)
                        durs = listener.durations
                        rep_layers["streaming.batches"] = len(durs)
                        for key, name in _PROGRESS_KEYS:
                            rep_layers[name] = sum(d.get(key, 0) for d in durs) / 1e3
                    for key, v in rep_layers.items():
                        layers.setdefault(key, []).append(v)
                t = time.monotonic()
                n_failed = verify_fn(spark, rep_dir, golden)
                verify_s += time.monotonic() - t
                shutil.rmtree(rep_dir, ignore_errors=True)
                attempted += len(golden)
                failed += n_failed
                walls.append(wall)
                cpu_ms.append((jvm_cpu + py_cpu) * 1e3 / len(golden))
                traced_flags.append(traced)
                measured += wall
                samples.append(
                    dict(wall_s=round(wall, 4), docs=len(golden), failed=n_failed, traced=traced, **load)
                )
        finally:
            t = time.monotonic()
            _stop_spark(spark)
            stop_s = time.monotonic() - t
    shutil.rmtree(reps_root, ignore_errors=True)

    # A rep is one job or one drain, so the latency is the median rep's
    # wall time: docs per rep / docs_per_s, derived rather than independent.
    mid = _median(walls)
    rates = [len(golden) / w for w in walls]
    e2e = {
        "docs_per_s": len(golden) / mid,
        "cpu_ms_per_doc": _median(cpu_ms),
        "setup_s": setup_s,
        "latency_p50_ms": mid * 1e3,
    }
    ledger = {k: _median(v) for k, v in layers.items()}
    if s.trace:
        for key in ("operators.py_start_s", "operators.py_init_s"):
            ledger[key] = cold.get(key, 0.0)
        ledger.update(core)
        ledger["core.ceiling_pct"] = 100.0 * _median(
            r for r, t in zip(rates, traced_flags) if t
        ) / core["core.ceiling_docs_per_s"]
        ledger["bench.trace_overhead_pct"] = _overhead_pct(
            rates[SETTLE_REPS:], traced_flags[SETTLE_REPS:]
        )
        ledger["session.peak_rss_mb"] = rss.peak_kb * 1024 / MB
    detail = dict(workload=s.workload, seed=s.seed, docs_per_rep=len(golden), cores=s.cores,
                  reps=len(walls), samples=samples,
                  phase_s=dict(inputs=round(inputs_s, 3), setup=round(setup_s, 3),
                               verify=round(verify_s, 3), stop=round(stop_s, 3)))
    return _result(s, attempted, failed, e2e, ledger), detail


# ---- serving ------------------------------------------------------------


def _start_server(s: Settings) -> tuple[subprocess.Popen, str]:
    env = dict(os.environ, PYTHONUNBUFFERED="1")
    proc = subprocess.Popen(
        [sys.executable, "-m", "paddleocr_spark.serving", "--port", "0"],
        cwd=s.root, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    line = proc.stdout.readline()  # "serving on http://host:port"
    if not line.startswith("serving on "):
        _stop_server(proc)
        raise RuntimeError(f"server did not start: {line!r}")
    base = line.split()[-1]
    deadline = time.monotonic() + 30
    while True:
        try:
            with urlopen(base + "/health", timeout=5) as r:
                if r.status == 200:
                    return proc, base
        except (URLError, ConnectionError):
            if time.monotonic() > deadline:
                _stop_server(proc)
                raise
            time.sleep(0.01)


def _stop_server(proc: subprocess.Popen) -> None:
    proc.terminate()
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    proc.stdout.close()


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    raise RuntimeError("no VmHWM")


def _wire_kb(batch: list[dict]) -> float:
    """Request body size, encoded as serving.server.predict encodes it."""
    import base64

    wire = [
        dict(url=p["url"], html=base64.b64encode(p["html"]).decode("ascii"), lang=p["lang"])
        for p in batch
    ]
    return len(json.dumps(dict(pages=wire)).encode("utf-8")) / 1e3


def run_serve(s: Settings) -> tuple[dict, dict]:
    from paddleocr_spark.serving.server import predict

    pages_dir, golden = _inputs(s)
    pages = inputs.load_pages(pages_dir)
    batches = [pages[i : i + SERVE_BATCH] for i in range(0, len(pages), SERVE_BATCH)]
    if s.trace:
        core = _core_timing(pages, 1)  # one server process, one GIL

    setups = []
    proc = None
    try:
        for k in range(SERVE_SETUPS):
            if proc is not None:
                _stop_server(proc)
            t0 = time.monotonic()
            proc, base = _start_server(s)
            endpoint = base + "/predict/extract_system"
            for j in range(SERVE_WARMUP_REQS):
                predict(endpoint, batches[j % len(batches)])
            setups.append(time.monotonic() - t0)

        # Closed loop in windows of SERVE_WINDOW requests, each timed on
        # its own; /proc is read between windows, outside their clocks.
        lat, replies, spans, windows = [], [], [], []
        attempted, trace_s = 0, 0.0
        t_start = time.monotonic()
        while time.monotonic() - t_start < s.seconds or len(windows) < SERVE_MIN_WINDOWS:
            meter = probes.LoadMeter()
            meter.start()
            cpu0 = probes.tree_cpu(proc.pid)
            w_lat, w_trace = [], 0.0
            t_window = time.perf_counter()
            for _ in range(SERVE_WINDOW):
                i = len(lat)
                traced = s.trace and i % 2 == 1
                batch = batches[i % len(batches)]
                t = time.perf_counter()
                resp = predict(endpoint, batch)
                dt = time.perf_counter() - t
                lat.append(dt)
                w_lat.append(dt)
                replies.append(resp)
                attempted += len(batch)
                if traced:
                    t = time.perf_counter()
                    core_ms = sum(r.get("elapse_ms", 0.0) for r in resp["results"])
                    resp_kb = len(json.dumps(resp)) / 1e3
                    spans.append((core_ms, dt * 1e3 - core_ms, _wire_kb(batch), resp_kb))
                    w_trace += time.perf_counter() - t
            wall = time.perf_counter() - t_window - w_trace
            cpu1 = probes.tree_cpu(proc.pid)
            trace_s += w_trace
            windows.append(dict(
                wall_s=wall, cpu_s=(cpu1[0] + cpu1[1]) - (cpu0[0] + cpu0[1]),
                p50_ms=_median(w_lat) * 1e3, p99_ms=_p99(w_lat) * 1e3,
                trace_s=w_trace, **meter.stop(), lat=w_lat,
            ))
        elapsed = time.monotonic() - t_start
        peak = _peak_rss_mb(proc.pid)
    finally:
        if proc is not None:
            _stop_server(proc)

    failed = 0
    for i, resp in enumerate(replies):
        batch = batches[i % len(batches)]
        want = {p["url"]: golden[p["url"]] for p in batch}
        rows = ((r.get("url"), None if "error" in r else r.get("extracted_text")) for r in resp["results"])
        failed += inputs.count_failures(want, rows)
    # The figures come from the least disturbed half of the loop: noise
    # from other tenants of the host only ever slows requests down.
    kept = sorted(windows, key=lambda w: w["wall_s"])[: len(windows) // 2]
    kept_lat = [x for w in kept for x in w["lat"]]
    kept_docs = len(kept_lat) * SERVE_BATCH
    e2e = {
        "docs_per_s": kept_docs / sum(w["wall_s"] for w in kept),
        "cpu_ms_per_doc": sum(w["cpu_s"] for w in kept) * 1e3 / kept_docs,
        "setup_s": _median(setups),
        "latency_p50_ms": _median(kept_lat) * 1e3,
    }
    server_cpu = sum(w["cpu_s"] for w in windows)
    ledger: dict[str, float] = {}
    if s.trace:
        window_s = sum(w["wall_s"] for w in windows)
        ledger.update(core)
        ledger["core.ceiling_pct"] = 100.0 * e2e["docs_per_s"] / core["core.ceiling_docs_per_s"]
        ledger["serving.latency_p99_ms"] = _p99(kept_lat) * 1e3
        for k, name in enumerate(("core_ms_per_req", "overhead_ms_per_req", "req_kb", "resp_kb")):
            ledger[f"serving.{name}"] = _median(sp[k] for sp in spans)
        ledger["session.python_cpu_s"] = server_cpu
        ledger["session.cpu_util"] = server_cpu / (window_s * s.cores)
        ledger["session.peak_rss_mb"] = peak
        # the bookkeeping of traced requests is the only work tracing adds
        ledger["bench.trace_overhead_pct"] = 100.0 * trace_s / window_s
    for w in windows:
        del w["lat"]
        w.update((k, round(w[k], 4)) for k in ("wall_s", "cpu_s", "p50_ms", "p99_ms", "trace_s"))
    detail = dict(workload=s.workload, seed=s.seed, batch=SERVE_BATCH, cores=s.cores,
                  setup_samples_s=[round(x, 4) for x in setups], requests=len(lat),
                  elapsed_s=round(elapsed, 4), windows=windows)
    return _result(s, attempted, failed, e2e, ledger), detail


WORKLOADS = {"job_heavy": run_spark, "stream_base": run_spark, "serve_batch16": run_serve}
