"""Adversarial pages: the pipeline must never crash and must stay a
pure function of the row — garbage bytes, invalid UTF-8, unclosed tags,
empty payloads, nested weirdness. Mirrors the tokenizer's
errors='replace' decode contract (core/tokenizer.tokenize_page)."""

from __future__ import annotations

import pytest

from paddleocr_spark.core.oracle import extract_page
from paddleocr_spark.core.tokenizer import tokenize_page
from paddleocr_spark.operators.extract import extract, extract_fused

CASES = [
    ("empty", b""),
    ("not html", b"just some plain text, no tags at all"),
    ("invalid utf8", b"<p>\xff\xfe\x80 broken bytes \xf0</p>"),
    ("unclosed", b"<html><body><p>never closed"),
    ("mismatched", b"<p>one</li></p><li>two"),
    ("nested same tag", b"<div class='layout'><p>a</p><div><p>b</p></div></div>"),
    ("null bytes", b"<p>a\x00b</p>"),
    ("huge attr", b'<p data-bbox="1,2,3">bad bbox arity</p>'),
    ("only tags", b"<p></p><li></li><nav></nav>"),
    ("cr lf soup", b"<p>\r\n\r\n a \x0b b </p>"),
    ("null html", None),
]


@pytest.mark.parametrize("name,payload", CASES, ids=[c[0] for c in CASES])
def test_oracle_never_crashes(name, payload):
    blocks = tokenize_page(payload)
    assert isinstance(blocks, list)
    r = extract_page("u", payload, "en")
    assert isinstance(r.extracted_text, str)


@pytest.mark.parametrize("fn", [extract, extract_fused], ids=lambda f: f.__name__)
def test_spark_matches_oracle_on_malformed(spark, fn):
    rows = [(f"u{i}", "en", p) for i, (_, p) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "url string, lang string, html binary")
    got = {r["url"]: r for r in fn(df).collect()}
    assert len(got) == len(CASES)
    for i, (_, p) in enumerate(CASES):
        want = extract_page(f"u{i}", p, "en")
        r = got[f"u{i}"]
        assert r["extracted_text"] == want.extracted_text, f"case {i} diverged"
        assert r["n_blocks_detected"] == want.n_blocks_detected, f"case {i}"
        assert r["n_blocks_kept"] == want.n_blocks_kept, f"case {i}"
