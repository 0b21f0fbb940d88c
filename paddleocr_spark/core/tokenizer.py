"""Stage-1 tokenizer: raw HTML bytes -> ordered candidate block records.

This is the DOM/byte-stream analog of the reference's detect stage
(TextDetector, tools/infer/predict_det.py:36-395 + DBPostProcess,
ppocr/postprocess/db_postprocess.py:227-256): it turns one raw page into
a flat, reading-ordered array of candidate content blocks with the
integer features (text_len, link_text_len, offsets) that the scoring /
thresholding stages consume.

Branches (SURVEY.md §2.9 / §3.3):
- main: top-level blocks in document order; giant blocks are chunk-split
  with boundary rollback (strip-split analog, predict_det.py:296-395 +
  slice_generator tools/infer/utility.py:695-732).
- layout: ``<div class="layout" data-pagew="W">`` sections; children are
  fragment-merged (merge_fragmented analog, utility.py:735-790), members
  ordered by sorted_boxes (predict_system.py:160-182), regions ordered by
  the sorted_layout_boxes column state machine (recovery_to_doc.py:85-153).
- table: ``<table>`` blocks; cells + stray ``<span data-bbox>`` fragments
  matched and re-assembled to an HTML string (TableMatch analog,
  ppstructure/table/matcher.py:57-146).

Everything is a pure function of the page bytes: offsets are char
offsets into the UTF-8-decoded document, all features are ints.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from paddleocr_spark.config import DEFAULT, PipelineConfig, WS_CLASS
from paddleocr_spark.core.geometry import merge_fragmented, sorted_boxes, sorted_layout_boxes
from paddleocr_spark.core.table import assemble_table
from paddleocr_spark.core.text import normalize_ws

BLOCK_TAGS = "p|h1|h2|h3|li|blockquote|pre|nav|header|footer|aside|ul|table|div"
_TOP_RE = re.compile(
    r"<(" + BLOCK_TAGS + r")((?:\s[^>]*)?)>(.*?)</\1>", re.DOTALL
)
_TAG_RE = re.compile(r"<[^>]+>")
_A_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.DOTALL)
_BBOX_RE = re.compile(r'data-bbox="(-?\d+),(-?\d+),(-?\d+),(-?\d+)"')
_PAGEW_RE = re.compile(r'data-pagew="(\d+)"')
_TD_RE = re.compile(r'<td([^>]*)>(.*?)</td>', re.DOTALL)
_TR_RE = re.compile(r"<tr(?:\s[^>]*)?>(.*?)</tr>", re.DOTALL)
_SPAN_RE = re.compile(r"<span([^>]*)>(.*?)</span>", re.DOTALL)
_WS_SEARCH = re.compile(WS_CLASS)
# nested block-level elements inside a top-level match (the part a
# strict-membership 'slow' score excludes, db_postprocess.py:206-225)
# — the same pattern as the top-level scan, one compiled object
_NESTED_BLOCK_RE = _TOP_RE
# opt-in prefilters (preprocess_image analog, paddleocr.py:717-723)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_STRUCK_RE = re.compile(r"<(del|s)\b[^>]*>.*?</\1>", re.DOTALL)
_WS_RUN_RE = re.compile(WS_CLASS + "+")


def prefilter_doc(doc: str, cfg: PipelineConfig) -> str:
    """The reference's preprocess_image chain (alpha_to_color -> inv ->
    bin, paddleocr.py:717-723) re-expressed on the decoded byte stream.
    Runs at the head of the per-document parse, so the Spark UDF and
    the pure-Python oracle share this single implementation."""
    if cfg.prefilter_alpha:
        doc = _COMMENT_RE.sub("", doc)
    if cfg.prefilter_inv:
        doc = _STRUCK_RE.sub("", doc)
    if cfg.prefilter_bin:
        doc = _WS_RUN_RE.sub(" ", doc)
    return doc


@dataclass
class Block:
    block_id: int       # emission order == reading order
    tag: str
    depth: int          # 1 top-level, 2 layout child
    start: int          # char offset into decoded html (inclusive)
    end: int            # char offset (exclusive)
    text: str           # normalized visible text (table: assembled html)
    text_len: int       # RAW visible char count (pre-normalization)
    link_text_len: int  # raw chars inside <a> anchors
    branch: str         # 'main' | 'layout' | 'table'
    layout: str         # '' | 'single' | 'double'
    parent_id: int      # first-chunk block_id for split chunks, else own id
    own_text_len: int = 0   # visible chars EXCLUDING nested block elements
    own_link_len: int = 0   # anchor chars excluding nested block elements


def _visible(inner: str) -> str:
    # tag-free fast path (exact): no "<" => the sub is a no-op
    return inner if "<" not in inner else _TAG_RE.sub("", inner)


def _link_len(inner: str) -> int:
    # anchor-free fast path (exact): the findall needs "<a" to match
    if "<a" not in inner:
        return 0
    # most anchor bodies carry no nested tags: length without the sub
    return sum(
        (len(m) if "<" not in m else len(_TAG_RE.sub("", m)))
        for m in _A_RE.findall(inner)
    )


def _bbox(attrs: str):
    m = _BBOX_RE.search(attrs)
    if not m:
        return None
    return tuple(int(g) for g in m.groups())


def _chunk_cuts(raw: str, cfg: PipelineConfig) -> list[tuple[int, int]]:
    """Split positions for a giant raw-text block.

    Cut at the last whitespace within ``chunk_min_bound`` chars before the
    hard limit; if none, hard-cut (MIN_BOUND_DISTANCE rollback analog,
    predict_det.py:330-346). Returns (start, end) char ranges.
    """
    cuts = []
    pos = 0
    n = len(raw)
    while pos < n and len(cuts) < cfg.max_slices - 1:
        if n - pos <= cfg.chunk_limit:
            cuts.append((pos, n))
            return cuts
        target = pos + cfg.chunk_limit
        cut = -1
        lo = max(pos + 1, target - cfg.chunk_min_bound)
        for i in range(target, lo - 1, -1):
            if _WS_SEARCH.match(raw[i - 1]):
                cut = i
                break
        if cut == -1:
            cut = target
        cuts.append((pos, cut))
        pos = cut
    if pos < n:
        cuts.append((pos, n))  # max_slices guard: last slice takes the rest
    return cuts


def _parse_table(inner: str):
    """-> (structure_tokens, cell_boxes, ocr_boxes, ocr_texts, raw_len)."""
    tokens = ["<table>"]
    cell_boxes: list = []
    cell_texts = []
    td_ranges: list[tuple[int, int]] = []  # absolute spans within inner
    raw_len = 0
    for tr in _TR_RE.finditer(inner):
        tokens.append("<tr>")
        for td in _TD_RE.finditer(tr.group(1)):
            tokens.append("<td></td>")
            cell_boxes.append(_bbox(td.group(1)))  # None when bbox-less
            cell_texts.append(normalize_ws(_visible(td.group(2))))
            raw_len += len(_visible(td.group(2)))
            td_ranges.append(
                (tr.start(1) + td.start(), tr.start(1) + td.end())
            )
        tokens.append("</tr>")
    tokens.append("</table>")
    # Plain web tables carry no geometry at all; synthesize one distinct
    # box per cell so each cell self-matches 1:1 and its text survives
    # into the assembled html ((0,0,0,0) defaults all failed the
    # y-filter, silently dropping every cell's text while text_len
    # still counted it). Tables with SOME real bboxes keep the old
    # degenerate default for the bbox-less minority.
    if cell_boxes and all(b is None for b in cell_boxes):
        cell_boxes = [
            (0, 10 * i + 1, 100, 10 * i + 9) for i in range(len(cell_boxes))
        ]
    else:
        cell_boxes = [b or (0, 0, 0, 0) for b in cell_boxes]
    # The cells' own text always plays the OCR role (the reference OCRs
    # the whole page once, ppstructure/predict_system.py:126-137, so cell
    # content is among the det boxes), plus any stray fragments —
    # fragments OUTSIDE the cells only: a bbox span inside a <td> is
    # already counted as that cell's text, and matching it again
    # duplicated the text in the assembled html and inflated raw_len.
    ocr_boxes = list(cell_boxes)
    ocr_texts = list(cell_texts)
    for sp in _SPAN_RE.finditer(inner):
        box = _bbox(sp.group(1))
        if box is None:
            continue
        if any(s <= sp.start() < e for s, e in td_ranges):
            continue
        ocr_boxes.append(box)
        ocr_texts.append(normalize_ws(_visible(sp.group(2))))
        raw_len += len(_visible(sp.group(2)))
    return tokens, cell_boxes, ocr_boxes, ocr_texts, raw_len


# anchored to a <meta ...> tag and guarded against 'accept-charset'
# (form markup) — a bare 'charset=' match would mis-fire on legacy
# form attributes or query strings inside the first 1KB and decode a
# genuine UTF-8 page as Latin-1 (silent corruption)
_CHARSET_RE = re.compile(
    rb"<meta[^>]{0,200}?(?<!-)charset\s*=\s*[\"']?([A-Za-z0-9_-]{1,32})",
    re.IGNORECASE,
)

# declared label (lowercased) -> python codec; only the Latin-1 family
# dispatches away from utf-8 (cp1252 differs from latin-1 in 0x80-0x9F,
# so windows-1252 must NOT alias to iso-8859-1)
_CHARSET_CODECS = {
    "iso-8859-1": "latin-1",
    "latin-1": "latin-1",
    "latin1": "latin-1",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
}


def decode_page(html: bytes | None, cfg: PipelineConfig = DEFAULT) -> str:
    """bytes -> str at the page boundary. Default: utf-8 with
    errors='replace' (never a crash on crawl garbage). A NULL payload
    (``html`` is nullable in the pages schema) is an empty page: text
    "", 0 blocks, the row kept — the one rule every caller (oracle,
    both Spark paths, serving) inherits. With
    ``cfg.charset_sniff``, a `charset=` declaration of the Latin-1
    family inside the first 1024 bytes switches the codec — the
    check_and_read/img_decode format-dispatch role (ppocr/utils/
    utility.py:108-140) applied to text encodings. utf-8/unknown/no
    declaration keep the default path, so UTF-8 corpora are
    byte-identical with the flag on or off."""
    if html is None:
        return ""
    if cfg.charset_sniff:
        m = _CHARSET_RE.search(html[:1024])
        if m:
            codec = _CHARSET_CODECS.get(m.group(1).decode("ascii").lower())
            if codec:
                # latin-1/cp1252 decode total for all byte values bar
                # five cp1252 holes — errors='replace' keeps it total
                return html.decode(codec, errors="replace")
    return html.decode("utf-8", errors="replace")


def tokenize_page(html: bytes | None, cfg: PipelineConfig = DEFAULT) -> list[Block]:
    """Parse one page into reading-ordered candidate blocks."""
    doc = prefilter_doc(decode_page(html, cfg), cfg)
    out: list[Block] = []
    layout_pages = 0

    pad = cfg.unclip_pad
    doc_len = len(doc)

    def emit(tag, depth, start, end, text, text_len, link_len, branch,
             layout="", own_text_len=None, own_link_len=None):
        if pad:
            # unclip/expand analog: widen the span, clip to the doc
            start = max(0, start - pad)
            end = min(doc_len, end + pad)
        bid = len(out)
        out.append(
            Block(
                bid, tag, depth, start, end, text, text_len, link_len,
                branch, layout, bid,
                text_len if own_text_len is None else own_text_len,
                link_len if own_link_len is None else own_link_len,
            )
        )
        return bid

    slow_score = cfg.score_mode == "slow"
    chunk_limit = cfg.chunk_limit
    for m in _TOP_RE.finditer(doc):
        tag, attrs, inner = m.group(1, 2, 3)
        start, end = m.start(), m.end()

        if tag == "div" and "layout" in attrs:
            # page_num PDF page-limit analog (paddleocr.py:710-713):
            # each layout section is one "page" of the document
            layout_pages += 1
            if cfg.page_num and layout_pages > cfg.page_num:
                continue
            pw = _PAGEW_RE.search(attrs)
            page_w = int(pw.group(1)) if pw else 1000
            kids = []
            for km in _TOP_RE.finditer(inner):
                box = _bbox(km.group(2))
                if box is None:
                    continue
                kvis = _visible(km.group(3))
                kids.append(
                    dict(
                        tag=km.group(1),
                        box=box,
                        text=normalize_ws(kvis),
                        text_len=len(kvis),
                        link_len=_link_len(km.group(3)),
                        abs_start=m.start(3) + km.start(),
                        abs_end=m.start(3) + km.end(),
                    )
                )
            if not kids:
                continue
            merged = merge_fragmented(
                [k["box"] for k in kids], cfg.merge_x_threshold, cfg.merge_y_threshold
            )
            regions = []
            for mbox, members in merged:
                # members ordered by sorted_boxes (reading order in-region)
                member_boxes = [kids[i]["box"] for i in members]
                order = sorted_boxes(member_boxes)
                mem = [kids[members[i]] for i in order]
                regions.append(
                    dict(
                        box=mbox,
                        tag=mem[0]["tag"],
                        start=min(k["abs_start"] for k in mem),
                        end=max(k["abs_end"] for k in mem),
                        text=" ".join(k["text"] for k in mem if k["text"] != ""),
                        text_len=sum(k["text_len"] for k in mem),
                        link_len=sum(k["link_len"] for k in mem),
                    )
                )
            order, labels = sorted_layout_boxes([r["box"] for r in regions], page_w)
            for pos_i, ridx in enumerate(order):
                r = regions[ridx]
                emit(
                    r["tag"], 2, r["start"], r["end"], r["text"],
                    r["text_len"], r["link_len"], "layout", labels[pos_i],
                )
            continue

        if tag == "table":
            tokens, cell_boxes, ocr_boxes, ocr_texts, raw_len = _parse_table(inner)
            html_out = assemble_table(cell_boxes, tokens, ocr_boxes, ocr_texts)
            emit(tag, 1, start, end, html_out, raw_len, 0, "table")
            continue

        raw_vis = _visible(inner)
        link_len = _link_len(inner)
        if len(raw_vis) > chunk_limit and link_len == 0:
            parent = len(out)
            # chunk cuts are indices into the TAG-STRIPPED text; the
            # Block contract says start/end are offsets into the
            # decoded document, so map each visible index back to its
            # raw position — without this, any tag inside the giant
            # block shifted every later chunk's span onto the wrong
            # document range
            if "<" in inner:
                vis_to_raw: list[int] | None = []
                pos = 0
                for mt in _TAG_RE.finditer(inner):
                    vis_to_raw.extend(range(pos, mt.start()))
                    pos = mt.end()
                vis_to_raw.extend(range(pos, len(inner)))
            else:
                vis_to_raw = None
            for ci, (cs, ce) in enumerate(_chunk_cuts(raw_vis, cfg)):
                if vis_to_raw is None:
                    rs, re_ = cs, ce
                else:
                    rs = vis_to_raw[cs]
                    re_ = (vis_to_raw[ce - 1] + 1) if ce > cs else rs
                bid = emit(
                    tag, 1, m.start(3) + rs, m.start(3) + re_,
                    normalize_ws(raw_vis[cs:ce]), ce - cs, 0, "main",
                )
                out[bid].parent_id = parent
            continue

        # strict-membership features: chars belonging to the element
        # itself, with nested block elements stripped. Computed only
        # when slow scoring asks for them (~13% of tokenizer CPU on
        # heavy pages); fast mode uses the subtree counters, so the
        # own_* fields just mirror them there.
        if slow_score:
            own_inner = _NESTED_BLOCK_RE.sub("", inner)
            own_text_len = len(_visible(own_inner))
            own_link_len = _link_len(own_inner)
        else:
            own_text_len = own_link_len = None
        emit(
            tag, 1, start, end, normalize_ws(raw_vis), len(raw_vis), link_len,
            "main",
            own_text_len=own_text_len,
            own_link_len=own_link_len,
        )

    return out
