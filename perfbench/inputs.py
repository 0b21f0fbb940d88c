"""Seeded benchmark inputs and the correctness gate.

Inputs are synthetic pages from ``sources.pages.gen_page`` and their
goldens from ``core.oracle.extract_page``. Each profile has a fixed pool
of pages, indices ``[0, POOL[profile])``, stored as parquet files of
``CHUNK`` pages each. The seed picks which chunks a run uses, so the
same seed always yields the same bytes. The pool is generated once per
checkout and cached under this benchmark's own work dir, keyed by a
fingerprint of the program sources that make pages and goldens, never
under the repo's shared ``.data/pages``.

The goldens are made by the code under test, so on their own they would
agree with it whatever it does. ``reference.json`` pins them: it holds
a digest of every chunk (all page columns plus golden texts), written
from the commit that defined the benchmark. Every run checks the chunks
it uses against it; a page whose chunk differs has no trusted golden
and counts as failed in every rep. A change that is meant to alter
extraction output regenerates the reference
(``python3 perfbench/inputs.py --write-reference``), and the diff shows.

Generation runs in a spawn pool. Spawned workers re-import the main
module, so every entry point that reaches ``ensure_inputs`` must guard
its code with ``if __name__ == "__main__"``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import multiprocessing as mp
import os
import random
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE = os.path.join(HERE, "reference.json")
POOL = {"heavy": 96_000, "base": 64_000}
CHUNK = 500
# the program sources that decide page bytes and golden texts
FINGERPRINT_GLOBS = (
    "paddleocr_spark/config.py",
    "paddleocr_spark/core/*.py",
    "paddleocr_spark/sources/pages.py",
)

GOLDEN_SCHEMA = pa.schema([("url", pa.string()), ("extracted_text", pa.string())])


def _chunk_file(pool_dir: str, kind: str, k: int) -> str:
    return os.path.join(pool_dir, kind, f"chunk-{k:04d}.parquet")


def _gen_chunk(args: tuple[str, int, str]) -> None:
    from paddleocr_spark.config import DEFAULT
    from paddleocr_spark.core.oracle import extract_page
    from paddleocr_spark.sources.pages import PAGES_SCHEMA, gen_page

    pool_dir, k, profile = args
    pages = [gen_page(i, profile) for i in range(k * CHUNK, (k + 1) * CHUNK)]
    golden = [
        dict(
            url=p["url"],
            extracted_text=extract_page(p["url"], p["html"], p["lang"], DEFAULT).extracted_text,
        )
        for p in pages
    ]
    pq.write_table(pa.Table.from_pylist(pages, schema=PAGES_SCHEMA), _chunk_file(pool_dir, "pages", k))
    pq.write_table(pa.Table.from_pylist(golden, schema=GOLDEN_SCHEMA), _chunk_file(pool_dir, "golden", k))


def _fingerprint(root: str) -> str:
    h = hashlib.sha256()
    for pattern in FINGERPRINT_GLOBS:
        for path in sorted(glob.glob(os.path.join(root, pattern))):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:12]


def _digest(*tables: pa.Table) -> str:
    """Digest of the values of every column, from the Arrow buffers."""
    h = hashlib.sha256()
    for table in tables:
        for name in table.column_names:
            arr = table.column(name).combine_chunks()
            h.update(f"{name}:{arr.type}:{len(arr)}:{arr.null_count};".encode())
            bufs = arr.buffers()
            if pa.types.is_binary(arr.type) or pa.types.is_string(arr.type):
                off = np.frombuffer(bufs[1], np.int32)[arr.offset : arr.offset + len(arr) + 1]
                h.update((off - off[0]).tobytes())
                h.update(memoryview(bufs[2])[off[0] : off[-1]])
            else:  # fixed width
                w = arr.type.bit_width // 8
                h.update(memoryview(bufs[1])[arr.offset * w : (arr.offset + len(arr)) * w])
    return h.hexdigest()[:16]


def _chunk_digest(pool_dir: str, k: int) -> tuple[str, pa.Table]:
    golden = pq.read_table(_chunk_file(pool_dir, "golden", k))
    return _digest(pq.read_table(_chunk_file(pool_dir, "pages", k)), golden), golden


def _pool(work_dir: str, root: str, profile: str, workers: int) -> str:
    """Generate (once) the profile's pool as ``pages/chunk-K.parquet``
    plus ``golden/chunk-K.parquet``; returns its dir."""
    out = os.path.join(work_dir, "pool", f"{profile}-n{POOL[profile]}-{_fingerprint(root)}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    for stale in glob.glob(os.path.join(work_dir, "pool", f"{profile}-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(os.path.join(tmp, "pages"))
    os.makedirs(os.path.join(tmp, "golden"))
    jobs = [(tmp, k, profile) for k in range(POOL[profile] // CHUNK)]
    if workers > 1:
        with mp.get_context("spawn").Pool(workers) as pool:
            pool.map(_gen_chunk, jobs)
    else:
        for j in jobs:
            _gen_chunk(j)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.rename(tmp, out)
    return out


def ensure_inputs(
    work_dir: str,
    root: str,
    profile: str,
    n: int,
    seed: int,
    workers: int,
    tamper_reference: bool = False,
) -> tuple[str, dict[str, str | None]]:
    """Lay out the seed's ``n`` pool pages (``n / CHUNK`` chunks) as
    parquet files under ``<dir>/pages/``, the first quarter of them also
    under ``<dir>/warmup/``; returns ``(<dir>, goldens by url)``. A page
    whose chunk the reference does not vouch for (none does if
    ``tamper_reference``: the self-test of this check) has golden
    ``None``."""
    if n % CHUNK:
        raise ValueError(f"input size {n} is not a multiple of {CHUNK}")
    pool_dir = _pool(work_dir, root, profile, workers)
    with open(REFERENCE) as fh:
        reference = [] if tamper_reference else json.load(fh)[profile]
    k = n // CHUNK
    chunks = sorted(random.Random(seed).sample(range(POOL[profile] // CHUNK), k))

    out = os.path.join(work_dir, "inputs", profile)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "pages"))
    os.makedirs(os.path.join(out, "warmup"))
    goldens: dict[str, str | None] = {}
    for j, c in enumerate(chunks):
        digest, golden = _chunk_digest(pool_dir, c)
        trusted = c < len(reference) and digest == reference[c]
        texts = golden.column("extracted_text").to_pylist()
        for url, text in zip(golden.column("url").to_pylist(), texts):
            goldens[url] = text if trusted else None
        for sub in ("pages", "warmup") if j < max(1, k // 4) else ("pages",):
            os.link(_chunk_file(pool_dir, "pages", c), os.path.join(out, sub, f"part-{j:04d}.parquet"))
    return out, goldens


def load_pages(input_dir: str, sub: str = "pages") -> list[dict]:
    files = sorted(glob.glob(os.path.join(input_dir, sub, "*.parquet")))
    return pa.concat_tables(pq.read_table(f) for f in files).to_pylist()


def count_failures(golden: dict[str, str | None], rows) -> int:
    """Docs that are missing, errored, extra (unknown or repeated url)
    or not byte-identical to their golden text. ``rows`` yields
    ``(url, extracted_text)``; a ``None`` text marks a per-page error,
    a ``None`` golden a page the reference does not vouch for."""
    seen: set[str] = set()
    failed = 0
    for url, text in rows:
        if url in seen or url not in golden:
            failed += 1  # extra
            continue
        seen.add(url)
        if text is None or golden[url] is None or text != golden[url]:
            failed += 1  # errored, untrusted golden, or not byte-identical
    return failed + (len(golden) - len(seen))  # plus missing


def write_reference(work_dir: str, root: str, workers: int) -> None:
    """Regenerate every pool from the current code and record its chunk
    digests in reference.json."""
    ref = {}
    for profile in POOL:
        d = _pool(work_dir, root, profile, workers)
        ref[profile] = [_chunk_digest(d, k)[0] for k in range(POOL[profile] // CHUNK)]
    with open(REFERENCE, "w") as fh:
        json.dump(ref, fh, indent=0)
        fh.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--write-reference"]:
        sys.exit("usage: python3 perfbench/inputs.py --write-reference")
    import run

    run.confine_to_work_dir()
    sys.path[:0] = [run.ROOT]
    write_reference(run.WORK, run.ROOT, min(4, len(os.sched_getaffinity(0))))
