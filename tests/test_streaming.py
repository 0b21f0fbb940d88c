"""Batch/stream parity: the same transformations under readStream must
produce the same results, and streaming extraction stays byte-identical
to the golden oracle."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.streaming.events import (
    hourly_agg,
    run_extract_stream,
    run_hourly_stream,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(tmp_path):
    d = str(tmp_path / "events_in")
    os.makedirs(d)
    shutil.copy(f"{SF_DIR}/events.parquet", d)
    return d


def test_hourly_stream_matches_batch(spark, events_dir):
    got = run_hourly_stream(spark, events_dir, "t_hourly")
    want = hourly_agg(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_extract_stream_byte_identical(spark, smoke_dir, tmp_path):
    d = str(tmp_path / "pages_in")
    os.makedirs(d)
    shutil.copy(os.path.join(smoke_dir, "pages.parquet"), d)
    got = run_extract_stream(spark, d, "t_extract")
    golden = spark.read.parquet(os.path.join(smoke_dir, "golden.parquet"))
    j = got.alias("o").join(golden.alias("g"), "url")
    n = j.count()
    n_eq = j.filter(F.col("o.extracted_text") == F.col("g.extracted_text")).count()
    assert n == golden.count() == n_eq and n > 0


def test_stateful_sessionize_matches_batch(spark, events_dir):
    """applyInPandasWithState sessionizer == the batch window query."""
    import paddleocr_spark.queries as Q
    from paddleocr_spark.streaming.sessions import sessionize_stream

    got_df = sessionize_stream(spark, events_dir, "t_sessions")
    # update mode: last emitted row per user is the final state
    got = {}
    for r in got_df.collect():
        got[r["user_id"]] = (r["n_sessions"], r["n_events"])
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in Q.q_events_sessionize(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_dedup_first_seen_keys(spark, events_dir):
    """Watermarked dropDuplicates under readStream: the emitted key set
    equals the batch distinct key set (first-seen-wins semantics)."""
    from paddleocr_spark.streaming.dedup import run_dedup_stream

    got = run_dedup_stream(spark, events_dir, "t_dedup")
    got_keys = {(r["user_id"], r["event_type"]) for r in got.collect()}
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want_keys = {
        (r["user_id"], r["event_type"])
        for r in batch.select("user_id", "event_type").distinct().collect()
    }
    assert got_keys == want_keys and len(want_keys) > 0
    # exactly one row per key
    assert got.count() == len(want_keys)


def test_stateful_run_collapse_matches_batch(spark, events_dir):
    """applyInPandasWithState run collapse == the batch CTC-analog
    window query (n_runs + longest_run per user)."""
    import paddleocr_spark.queries as Q
    from paddleocr_spark.streaming.runs import run_collapse_stream

    got_df = run_collapse_stream(spark, events_dir, "t_runs")
    got = {}
    for r in got_df.collect():  # final state = max-n_runs row per user
        k = r["user_id"]
        if k not in got or r["n_runs"] > got[k][0]:
            got[k] = (r["n_runs"], r["longest_run"])
    want = {
        r["user_id"]: (r["n_runs"], r["longest_run"])
        for r in Q.q_events_run_collapse(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def test_filesink_checkpoint_incremental_exactly_once(spark, smoke_dir, tmp_path):
    """Restart with the same checkpoint processes only NEW input files;
    rows are appended exactly once (streaming twin of the batch
    anti-join resume)."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    from paddleocr_spark.streaming.events import run_extract_stream_filesink

    src = tmp_path / "pages_in"
    out = str(tmp_path / "extracted_out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    shutil.copy(os.path.join(smoke_dir, "pages.parquet"), src / "batch0.parquet")

    run_extract_stream_filesink(spark, str(src), out, ckpt)
    n1 = spark.read.parquet(out).count()
    golden_n = spark.read.parquet(os.path.join(smoke_dir, "golden.parquet")).count()
    assert n1 == golden_n > 0

    # restart with NO new input: nothing reprocessed
    run_extract_stream_filesink(spark, str(src), out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # add one new page file; only it is processed
    t = pq.read_table(str(src / "batch0.parquet"))
    one = t.slice(0, 3)
    urls = one.column("url").to_pylist()
    new_urls = pa.array([u + "?recrawl=1" for u in urls])
    one = one.set_column(t.schema.get_field_index("url"), "url", new_urls)
    pq.write_table(one, str(src / "batch1.parquet"))

    run_extract_stream_filesink(spark, str(src), out, ckpt)
    final = spark.read.parquet(out)
    assert final.count() == n1 + 3
    assert final.select("url").distinct().count() == n1 + 3


def test_hourly_append_mode_emits_only_closed_windows(spark, tmp_path):
    """Append mode + watermark: every emitted window row is (a) final —
    value-identical to the batch aggregate — and (b) closed, i.e. its
    end precedes max(ts) - watermark. Input split into two files so the
    watermark advances between micro-batches."""
    import pyarrow.parquet as pq
    from datetime import timedelta

    from paddleocr_spark.streaming.events import run_hourly_stream_append, hourly_agg

    src = tmp_path / "ev_in"
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    order = t.column("ts").to_pandas().sort_values().index
    half = len(order) // 2
    pq.write_table(t.take(list(order[:half])), str(src / "f0.parquet"))
    pq.write_table(t.take(list(order[half:])), str(src / "f1.parquet"))

    out = str(tmp_path / "hourly_out")
    run_hourly_stream_append(spark, str(src), out, str(tmp_path / "ck"))

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got, "no closed windows emitted"

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in hourly_agg(batch).collect()
    }
    # (a) finality: every emitted row equals the batch aggregate
    for k, v in got.items():
        assert want[k] == v, k
    # (b) closedness: emitted window end <= max_ts - 2h + 1h window
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    from datetime import datetime

    for ws, _et in got:
        start = datetime.strptime(ws, "%Y-%m-%d %H:%M:%S")
        assert start <= cutoff


def test_run_collapse_multibatch_boundary(spark, tmp_path):
    """Regression: a run completed entirely in an earlier micro-batch
    must survive into longest_run when the next batch starts a
    DIFFERENT run (batch1=[A,A,A,A,A], batch2=[B] => longest_run=5,
    not 1). maxFilesPerTrigger=1 makes each file its own micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from paddleocr_spark.streaming.runs import run_collapse_stream

    src = tmp_path / "runs_in"
    os.makedirs(src)

    def events_file(path, rows, mtime):
        ids, tss, types = zip(*rows)
        t = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [datetime(2024, 1, 1, 0, 0, s) for s in tss],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(types, pa.string()),
                "value": pa.array([0.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(t, str(path))
        os.utime(path, (mtime, mtime))

    events_file(src / "f0.parquet", [(i, i, "A") for i in range(5)], 1_000_000)
    events_file(src / "f1.parquet", [(10, 10, "B")], 1_000_100)

    got = run_collapse_stream(
        spark, str(src), "t_runs_boundary", max_files_per_trigger=1
    )
    # update mode: the final state per user is the row with max n_runs
    # (monotone across batches; robust to memory-sink row order)
    final = {}
    for r in got.collect():
        k = r["user_id"]
        if k not in final or r["n_runs"] > final[k][0]:
            final[k] = (r["n_runs"], r["longest_run"])
    assert final == {1: (2, 5)}


def test_run_collapse_multibatch_parity(spark, tmp_path):
    """Full-data parity with the batch twin when the stream is split
    into 3 ts-ordered micro-batches (many users' longest runs complete
    before the final batch)."""
    import pyarrow.parquet as pq

    import paddleocr_spark.queries as Q
    from paddleocr_spark.streaming.runs import run_collapse_stream

    src = tmp_path / "runs_split"
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    import pandas as pd  # noqa: F401

    order = (
        t.select(["ts", "event_id"])
        .to_pandas()
        .sort_values(["ts", "event_id"])
        .index
    )
    third = len(order) // 3
    for i, sl in enumerate(
        [order[:third], order[third : 2 * third], order[2 * third :]]
    ):
        p = src / f"f{i}.parquet"
        pq.write_table(t.take(list(sl)), str(p))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))

    got_df = run_collapse_stream(
        spark, str(src), "t_runs_multibatch", max_files_per_trigger=1
    )
    got = {}
    for r in got_df.collect():  # final state = max-n_runs row per user
        k = r["user_id"]
        if k not in got or r["n_runs"] > got[k][0]:
            got[k] = (r["n_runs"], r["longest_run"])
    want = {
        r["user_id"]: (r["n_runs"], r["longest_run"])
        for r in Q.q_events_run_collapse(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def test_session_window_stream_emits_final_closed_sessions(spark, tmp_path):
    """Native F.session_window under readStream (append + watermark):
    every emitted session is final — identical to the batch
    session_window aggregate — and at least one session closes when
    the input is split so the watermark advances between batches."""
    import pyarrow.parquet as pq

    from paddleocr_spark.streaming.sessions import (
        session_window_batch,
        session_window_stream,
    )

    src = tmp_path / "sw_in"
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    order = (
        t.select(["ts", "event_id"]).to_pandas().sort_values(["ts", "event_id"]).index
    )
    half = len(order) // 2
    for i, sl in enumerate([order[:half], order[half:]]):
        p = src / f"f{i}.parquet"
        pq.write_table(t.take(list(sl)), str(p))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))

    out = str(tmp_path / "sw_out")
    session_window_stream(spark, str(src), out, str(tmp_path / "sw_ck"))

    got = {
        (r["session_start"], r["session_end"], r["user_id"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got, "no closed sessions emitted"
    want = {
        (r["session_start"], r["session_end"], r["user_id"]): r["n_events"]
        for r in session_window_batch(
            spark.read.parquet(f"{SF_DIR}/events.parquet")
        ).collect()
    }
    for k, v in got.items():
        assert want[k] == v, k


def test_warehouse_ingest_exactly_once(spark, smoke_dir, tmp_path):
    """foreachBatch ingest into the snapshot warehouse: one snapshot
    per micro-batch; a checkpoint restart with no new input commits
    nothing; a replayed batch id is skipped (idempotent)."""
    from paddleocr_spark.sources import warehouse as W
    from paddleocr_spark.streaming.ingest import (
        committed_batch_ids,
        ingest_pages_stream,
    )

    src = tmp_path / "ing_in"
    tbl = str(tmp_path / "ing_tbl")
    ckpt = str(tmp_path / "ing_ck")
    os.makedirs(src)
    shutil.copy(os.path.join(smoke_dir, "pages.parquet"), src / "b0.parquet")

    ingest_pages_stream(spark, str(src), tbl, ckpt)
    n1 = W.read_table(spark, tbl).count()
    n_pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet")).count()
    assert n1 == n_pages > 0
    snaps1 = len(W.snapshots(tbl))

    # restart, no new input: nothing recommitted
    ingest_pages_stream(spark, str(src), tbl, ckpt)
    assert W.read_table(spark, tbl).count() == n1
    assert len(W.snapshots(tbl)) == snaps1

    # an at-least-once replay of an already-committed batch id: the
    # guard refuses the commit and the snapshot head does not move
    from paddleocr_spark.streaming.ingest import idempotent_append

    bid = max(committed_batch_ids(tbl))
    before = W.current_snapshot_id(tbl)
    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    assert idempotent_append(pages, bid, tbl) is False
    assert W.current_snapshot_id(tbl) == before

    # a genuinely new file lands in exactly one new snapshot
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pq.read_table(str(src / "b0.parquet")).slice(0, 5)
    urls = pa.array([u + "?v2" for u in t.column("url").to_pylist()])
    t = t.set_column(t.schema.get_field_index("url"), "url", urls)
    pq.write_table(t, str(src / "b1.parquet"))
    ingest_pages_stream(spark, str(src), tbl, ckpt)
    assert W.read_table(spark, tbl).count() == n1 + 5
    assert len(W.snapshots(tbl)) == snaps1 + 1


def test_streaming_extract_into_warehouse_byte_identical(spark, smoke_dir, tmp_path):
    """Streaming extraction committing warehouse snapshots: the drained
    table equals the oracle goldens on every extraction column (text,
    spans, block counts), and a restart with no new input commits
    nothing (exactly-once)."""
    from paddleocr_spark.sources import warehouse as W
    from paddleocr_spark.streaming.ingest import extract_pages_stream_warehouse

    src = tmp_path / "xin"
    tbl = str(tmp_path / "xtbl")
    ckpt = str(tmp_path / "xck")
    os.makedirs(src)
    shutil.copy(os.path.join(smoke_dir, "pages.parquet"), src / "b0.parquet")

    cols = ["url", "extracted_text", "spans", "n_blocks_detected", "n_blocks_kept"]
    extract_pages_stream_warehouse(spark, str(src), tbl, ckpt)
    got = W.read_table(spark, tbl).select(cols)
    want = spark.read.parquet(os.path.join(smoke_dir, "golden.parquet")).select(cols)
    n = want.count()
    assert got.count() == n
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    snaps = len(W.snapshots(tbl))

    extract_pages_stream_warehouse(spark, str(src), tbl, ckpt)
    assert len(W.snapshots(tbl)) == snaps
    assert W.read_table(spark, tbl).count() == n


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Stream-static broadcast decontamination == the batch oracle-
    checked query, with maxFilesPerTrigger=1 over 4 files so the
    complete-mode collect_set state accumulates across micro-batches."""
    import paddleocr_spark.queries as Q
    from paddleocr_spark.queries_curation import gram_hashes
    from paddleocr_spark.streaming.decontaminate import run_decontaminate_stream
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = str(tmp_path / "docs_in")
    docs.filter(F.col("doc_id") % 97 != 0).repartition(4).write.parquet(src)

    bench = (
        gram_hashes(
            docs.filter((F.col("doc_id") % 97 == 0) & (F.size(F.split("text", " ")) >= 5))
        )
        .select("h")
        .distinct()
    )
    got_df = run_decontaminate_stream(
        spark, src, bench, "t_decon", max_files_per_trigger=1
    )
    got = {r["doc_id"]: r["n_shared"] for r in got_df.collect()}
    want = {
        r["doc_id"]: r["n_shared"]
        for r in Q.QUERIES["decontaminate"](spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def test_linkgraph_stream_matches_batch_multibatch(spark, tmp_path):
    """Incremental host-edge counts: two files drained one per
    micro-batch equal a batch host_edges over the same rows — including
    absolute cross-host links and relative links resolved to the page's
    own host."""
    import datetime as dt

    from paddleocr_spark.streaming.linkgraph import host_edges, run_linkgraph_stream

    ts = dt.datetime(2024, 1, 1)

    def page(url, body):
        html = f'<html><body>{body}</body></html>'.encode()
        return (url, ts, html, "", "en")

    rows1 = [
        page("https://a.example/p/1",
             '<a href="https://b.example/x">b</a><a href="/local">l</a>'),
        page("https://b.example/p/2", '<a href="https://a.example/">a</a>'),
    ]
    rows2 = [
        page("https://a.example/p/3",
             '<a href="https://b.example/y">b</a><a href="https://b.example/z">b</a>'),
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    in_dir = str(tmp_path / "pages_stream")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    streamed = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in run_linkgraph_stream(
            spark, in_dir, "lg_parity", max_files_per_trigger=1
        ).collect()
    }
    batch = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_edges(spark.read.parquet(in_dir)).collect()
    }
    assert streamed == batch
    assert batch[("a.example", "b.example")] == 3  # 1 + 2 across batches
    assert batch[("a.example", "a.example")] == 1  # relative link -> own host
    assert batch[("b.example", "a.example")] == 1


def test_recrawl_stream_upserts_exactly_once(spark, smoke_dir, tmp_path):
    """Recrawl ingestion: micro-batches replace-by-key. Two landing
    files processed as separate micro-batches (maxFilesPerTrigger=1):
    a base crawl, then a recrawl of a url subset with changed content.
    The table converges to ONE live version per url (recrawled urls
    show the new content), restarts commit nothing, and time travel
    still reads the pre-recrawl state."""
    from paddleocr_spark.sources import warehouse as W
    from paddleocr_spark.streaming.ingest import ingest_recrawl_stream

    src = tmp_path / "rc_in"
    tbl = str(tmp_path / "rc_tbl")
    ckpt = str(tmp_path / "rc_ck")
    os.makedirs(src)

    def land(df, name: str) -> None:
        # the file stream source lists only top-level files in src, so
        # stage each crawl as a single parquet FILE, not a directory
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.copy(stage / part, src / name)

    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    base = pages.limit(40).cache()
    land(base, "crawl0.parquet")

    some = [r["url"] for r in base.select("url").limit(6).collect()]
    recrawl = (
        base.filter(F.col("url").isin(some))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 1 day"))
        .withColumn("lang", F.lit("xx"))
    )
    land(recrawl, "crawl1.parquet")

    ingest_recrawl_stream(spark, str(src), tbl, ckpt, max_files_per_trigger=1)

    cur = W.read_table(spark, tbl)
    assert cur.count() == 40
    assert cur.select("url").distinct().count() == 40
    assert cur.filter(F.col("lang") == "xx").count() == 6
    snaps = W.snapshots(tbl)
    first_append = snaps[0]["snapshot_id"]

    # restart with no new input: nothing recommitted
    n_snaps = len(snaps)
    ingest_recrawl_stream(spark, str(src), tbl, ckpt, max_files_per_trigger=1)
    assert len(W.snapshots(tbl)) == n_snaps
    assert W.read_table(spark, tbl).count() == 40

    # time travel to the first crawl's snapshot: pre-recrawl state
    old = W.read_table(spark, tbl, first_append)
    assert old.count() == 40
    assert old.filter(F.col("lang") == "xx").count() == 0
    base.unpersist()


def test_lm_gate_stream_matches_batch_multibatch(spark, tmp_path):
    """Streaming bigram-LM scoring == the batch oracle-checked query:
    the LM is trained once (static side), the document stream drains
    one file per micro-batch over 4 files, and the appended scores are
    value-identical to q_bigram_logprob — demonstrating the
    zero-cross-batch-state claim (per-doc scores are batch-local)."""
    import paddleocr_spark.queries as Q
    from paddleocr_spark.queries_curation import bigram_lm_tables
    from paddleocr_spark.streaming.lm_gate import run_lm_gate_stream
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = str(tmp_path / "docs_in")
    docs.repartition(4).write.parquet(src)

    uni, bi, total = bigram_lm_tables(docs.filter(F.col("doc_id") % 2 == 0))
    got_df = run_lm_gate_stream(
        spark,
        src,
        uni,
        bi,
        total,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    got = {r["doc_id"]: (r["mean_nll"], r["n_bigrams"]) for r in got_df.collect()}
    want = {
        r["doc_id"]: (r["mean_nll"], r["n_bigrams"])
        for r in Q.QUERIES["bigram_logprob"](spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def _frontier_page(url, body):
    import datetime as dt

    html = f"<html><body>{body}</body></html>".encode()
    return (url, dt.datetime(2024, 1, 1), html, "", "en")


_FRONTIER_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def test_frontier_stream_matches_batch_and_consumes_discoveries(spark, tmp_path):
    """Incremental frontier: after draining file-per-batch, the store
    equals the batch truth (all link targets minus all crawled keys);
    a url discovered in batch 1 then crawled in batch 2 has left the
    frontier; first_seen_batch records the discovering batch."""
    from paddleocr_spark.streaming.frontier import (
        batch_frontier,
        read_frontier,
        run_frontier_stream,
    )

    rows1 = [
        _frontier_page(
            "https://a.example/p1",
            '<a href="https://b.example/next">n</a><a href="/rel">r</a>',
        ),
    ]
    # b.example/next gets CRAWLED in batch 2 (consuming the discovery),
    # and batch 2 discovers a brand-new target
    rows2 = [
        _frontier_page(
            "https://b.example/next", '<a href="https://c.example/deep">d</a>'
        ),
    ]
    in_dir = str(tmp_path / "pages")
    spark.createDataFrame(rows1, _FRONTIER_SCHEMA).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, _FRONTIER_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    store = str(tmp_path / "store")
    run_frontier_stream(
        spark, in_dir, store,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    got = {
        (r["host"], r["path"]): r["first_seen_batch"]
        for r in read_frontier(spark, store).collect()
    }
    want = {
        (r["host"], r["path"])
        for r in batch_frontier(spark.read.parquet(in_dir)).collect()
    }
    assert set(got) == want
    assert ("b.example", "/next") not in got          # discovered, then crawled
    assert ("c.example", "/deep") in got              # batch-2 discovery
    assert ("a.example", "/rel") in got               # relative link -> page host
    # /rel was referenced in the first micro-batch; /deep in a later one
    assert got[("a.example", "/rel")] < got[("c.example", "/deep")]


def test_frontier_stream_redrain_is_noop(spark, tmp_path):
    """Re-running the drained stream with the same checkpoint appends
    nothing: store row counts are unchanged (exactly-once on replay)."""
    from paddleocr_spark.streaming.frontier import read_frontier, run_frontier_stream

    in_dir = str(tmp_path / "pages")
    spark.createDataFrame(
        [_frontier_page("https://a.example/p1", '<a href="https://b.example/x">x</a>')],
        _FRONTIER_SCHEMA,
    ).coalesce(1).write.parquet(in_dir)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    run_frontier_stream(spark, in_dir, store, checkpoint_dir=ckpt)
    before = read_frontier(spark, store).count()
    known_before = spark.read.parquet(f"{store}/known").count()
    run_frontier_stream(spark, in_dir, store, checkpoint_dir=ckpt)
    assert read_frontier(spark, store).count() == before
    assert spark.read.parquet(f"{store}/known").count() == known_before


def test_frontier_job_surface_and_noop_rerun(spark, tmp_path):
    """jobs/frontier.py end-to-end: first run builds the stores and
    reports sizes; a rerun with nothing new landed is a no-op; landing
    one more file folds in incrementally."""
    import json as _json

    from jobs.frontier import main as frontier_main

    in_dir = str(tmp_path / "landing")
    spark.createDataFrame(
        [_frontier_page("https://a.example/p1", '<a href="https://b.example/x">x</a>')],
        _FRONTIER_SCHEMA,
    ).coalesce(1).write.parquet(in_dir)
    store = str(tmp_path / "store")

    import contextlib
    import io

    def run():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert frontier_main(["--pages", in_dir, "--store", store]) == 0
        return _json.loads(buf.getvalue().strip().splitlines()[-1])

    s1 = run()
    assert s1["n_known"] == 1 and s1["n_frontier"] == 1
    assert s1["top_hosts"] == {"b.example": 1}
    s2 = run()  # nothing new landed
    assert (s2["n_known"], s2["n_frontier"]) == (1, 1)
    # land the discovered page: it leaves the frontier, adds a new link
    spark.createDataFrame(
        [_frontier_page("https://b.example/x", '<a href="https://c.example/y">y</a>')],
        _FRONTIER_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    s3 = run()
    assert s3["n_known"] == 2
    assert s3["top_hosts"] == {"c.example": 1}


def _events_file(path, rows, mtime, user_id=1):
    """(event_id, second, type) rows -> one events parquet file with a
    pinned mtime so maxFilesPerTrigger=1 gives a deterministic batch
    order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from datetime import timedelta

    ids, tss, types = zip(*rows)
    base = datetime(2024, 1, 1)
    t = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [base + timedelta(seconds=s) for s in tss], pa.timestamp("us")
            ),
            "user_id": pa.array([user_id] * len(rows), pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(t, str(path))
    os.utime(path, (mtime, mtime))


def test_sessionize_out_of_order_cross_batch_exact(spark, tmp_path):
    """A late-but-delivered event that BRIDGES two already-counted
    sessions must merge them — the interval-merge state is exact under
    out-of-order arrival (a counter+last-seen state would report 2
    sessions and a regressed frontier; the batch answer is 1)."""
    from paddleocr_spark.streaming.sessions import sessionize_stream

    src = tmp_path / "sess_ooo"
    os.makedirs(src)
    # batch 1: t=0 and t=2000s -> gap 2000s > 1800s -> 2 sessions
    _events_file(src / "f0.parquet", [(1, 0, "A"), (2, 2000, "A")], 1_000_000)
    # batch 2: late t=1000s bridges them -> gaps 1000s each -> 1 session
    _events_file(src / "f1.parquet", [(3, 1000, "A")], 1_000_100)

    got = sessionize_stream(
        spark, str(src), "t_sess_ooo", max_files_per_trigger=1
    )
    rows = sorted(
        (r["n_sessions"], r["n_events"]) for r in got.collect()
    )
    # update-mode emissions: after batch 1 (2 sessions, 2 events),
    # after batch 2 the bridge MERGES them (1 session, 3 events)
    assert rows[-1] == (2, 2) and rows[0] == (1, 3)


def test_run_collapse_late_events_dropped_and_counted(spark, tmp_path):
    """Run decomposition is sequence-order-dependent; an event ordered
    before the folded frontier is dropped AND counted (n_late), never
    silently mis-folded (module order contract)."""
    from paddleocr_spark.streaming.runs import run_collapse_stream

    src = tmp_path / "runs_late"
    os.makedirs(src)
    _events_file(src / "f0.parquet", [(i, i, "A") for i in range(5)], 1_000_000)
    _events_file(src / "f1.parquet", [(99, 2, "B")], 1_000_100)  # late

    got = run_collapse_stream(
        spark, str(src), "t_runs_late", max_files_per_trigger=1
    )
    final = {}
    for r in got.collect():
        k = r["user_id"]
        if k not in final or r["n_late"] >= final[k][2]:
            final[k] = (r["n_runs"], r["longest_run"], r["n_late"])
    assert final[1] == (1, 5, 1)
