"""Per-document extraction state machine (pure Python, Arrow-batch friendly).

This module is the single source of truth for the engine's extraction
semantics. :func:`extract_document_rows` runs on executors inside the
``mapInArrow`` generators of ``operators/extract.py``, which transpose
its element rows straight into Arrow columns. The dict views over it
(:func:`extract_document_cols`, :func:`extract_document`) are the
golden-fixture oracle in the test suite — the same state machine, so
pipeline and oracle cannot drift.

Input: one document = ordered list of span dicts
    {kind, text, media_ref, offset}
with kind ∈ {heading, text, table_row, image, code, html, page_marker}
(the north-rule input shape, BASELINE.json ``input_hint``).

Output: ordered extracted elements, as rows in
``schema.ELEMENT_COLUMNS`` order or as dicts keyed by those names, with
kind ∈ {heading, text, table, image, code}; equality tuple is
(kind, text, media_ref, offset-order) per the north rule.

Reference semantics re-implemented here (citations into the read-only
reference checkout):

* blank-line paragraph flush — markdown_extractor.py:280-310,317-319
* page markers ``<!-- page: N -->`` — markdown_extractor.py:373-379
* heading numbering + auto counters — markdown_extractor.py:335-357
* section hierarchy stack — golden fixture
  src/test_fixtures/BHT_CV32A65X_expected.json (plain heading text
  entries, truncated at the heading's level; the checked-in
  SectionHierarchy import is dangling, see SURVEY.md §7.4)
* markdown table parse — markdown_extractor.py:143-177
* markdown image parse — markdown_extractor.py:180-197
* code fences — markdown_extractor.py:524-562
* md5 section ids — markdown_extractor.py:79-82,298
* multi-page table merge — improved_table_merger.py:28-185,187-254
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional

from .codemeta import extract_code_metadata
from .schema import ELEMENT_COLUMNS
from .textproc import clean_title, html_to_text, md5_hex, ocr_normalize, token_count

Span = Dict[str, Any]
# one extracted element: a list in ELEMENT_COLUMNS order
Row = List[Any]

_COL = {c: i for i, c in enumerate(ELEMENT_COLUMNS)}
_KIND, _TEXT, _OFFSET = _COL["kind"], _COL["text"], _COL["offset"]
_TOKENS, _SECTION_ID = _COL["token_count"], _COL["section_id"]
_HEADERS, _ROWS = _COL["table_headers"], _COL["table_rows"]
_MULTI_PAGE, _PAGE_RANGE = _COL["is_multi_page"], _COL["page_range"]

HEADING_RE = re.compile(r"^(#{1,6})\s*(.*)$", re.DOTALL)
PAGE_RE = re.compile(r"<!--\s*page:\s*(\d+)\s*-->")
IMAGE_RE = re.compile(r"!\[(.*?)\]\((.*?)\)")
TABLE_LINE_RE = re.compile(r"\|.*\|")
SEPARATOR_CELL_RE = re.compile(r"[-: ]+")


# ---------------------------------------------------------------------------
# markdown micro-parsers
# ---------------------------------------------------------------------------


def parse_markdown_table(content: str) -> Optional[Dict[str, Any]]:
    """Markdown ``|...|`` block → {headers, rows}.

    Mirrors markdown_extractor.py:143-177: header cells are non-empty
    trimmed cells of line 1; line 2 must be all ``[-: ]+`` separator
    cells; data rows are kept only when their cell count equals the
    header count.
    """
    lines = [ln.strip() for ln in content.strip().split("\n") if ln.strip()]
    if len(lines) < 2:
        return None
    headers = [h.strip() for h in lines[0].strip("|").split("|") if h.strip()]
    if not headers:
        return None
    separator = lines[1].strip("|").split("|")
    # PREFIX match on purpose: the reference validates separators with
    # re.match(r"[-: ]+", ...) (markdown_extractor.py:163), so a second
    # row whose cells merely START with -/:/space (e.g. "| -1 | -2 |")
    # is consumed as a separator there too — parity over intuition.
    if not all(SEPARATOR_CELL_RE.match(s.strip()) for s in separator):
        return None
    rows = []
    for line in lines[2:]:
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) == len(headers):
            rows.append(cells)
    return {"headers": headers, "rows": rows}


def render_markdown_table(headers: List[str], rows: List[List[str]]) -> str:
    """Canonical text form of a table span (engine-defined).

    The reference keeps the raw source lines as ``content``
    (markdown_extractor.py:446,501) but mutates only ``data`` on merge
    (improved_table_merger.py:225); we canonicalize so that merged and
    unmerged tables share one text form that round-trips through
    :func:`parse_markdown_table`.
    """
    out = ["| " + " | ".join(headers) + " |"]
    out.append("|" + "|".join(" --- " for _ in headers) + "|")
    for r in rows:
        out.append("| " + " | ".join(r) + " |")
    return "\n".join(out)


def parse_markdown_image(content: str) -> Optional[Dict[str, str]]:
    """``![alt](src)`` → {alt, src}; markdown_extractor.py:180-197."""
    m = IMAGE_RE.match(content.strip())
    if not m:
        return None
    return {"alt": m.group(1).strip(), "src": m.group(2).strip()}


# ---------------------------------------------------------------------------
# table-merge predicates (improved_table_merger.py)
# ---------------------------------------------------------------------------


def has_matching_headers(
    h1: List[str], h2: List[str], similarity_threshold: float = 0.7
) -> bool:
    """Header-match score ≥ threshold; improved_table_merger.py:28-65.

    score = (exact + 0.5·partial) / n over positionally zipped,
    lowercased+trimmed headers; count mismatch → False; partial =
    one-contains-the-other (and not equal).
    """
    if len(h1) != len(h2) or not h1:
        return False
    n1 = [h.strip().lower() for h in h1]
    n2 = [h.strip().lower() for h in h2]
    exact = sum(1 for a, b in zip(n1, n2) if a == b)
    partial = sum(
        1 for a, b in zip(n1, n2) if a and b and a != b and (a in b or b in a)
    )
    return (exact + 0.5 * partial) / len(h1) >= similarity_threshold


def _header_match(d1: List[List[str]], d2: List[List[str]]) -> Optional[bool]:
    """Whether two tables' header rows match; None when either table is
    empty or their column counts differ (such tables never merge)."""
    if not d1 or not d2 or len(d1[0]) != len(d2[0]):
        return None
    return has_matching_headers(d1[0], d2[0])


def _similarity(match: Optional[bool]) -> float:
    return 0.0 if match is None else 0.9 if match else 0.3


def table_similarity(t1: Dict[str, Any], t2: Dict[str, Any]) -> float:
    """improved_table_merger.py:67-121 (bbox-free variant).

    Column-count mismatch → 0.0; header match → 0.9 else 0.3. Our
    corpus carries no bboxes, so the score is the header component
    alone (the reference averages in bbox x-alignment when present).
    """
    return _similarity(
        _header_match(t1.get("data") or [], t2.get("data") or [])
    )


STRATEGY_THRESHOLDS = {
    # improved_table_merger.py:303 + marker_processor.py:66
    "conservative": 0.8,
    "default": 0.7,
    "aggressive": 0.6,
    "none": 2.0,  # unreachable → never merge
}


def merge_multi_page_tables(
    tables: List[Dict[str, Any]], similarity_threshold: float = 0.7
) -> List[Dict[str, Any]]:
    """Fold page-ordered tables, merging consecutive-page lookalikes.

    Mirrors improved_table_merger.py:187-254 including the quirk that a
    merged table keeps its *first* page number, so chains longer than
    two pages do not fully collapse.
    """
    if not tables:
        return []
    out = [dict(tables[0])]
    for cur in tables[1:]:
        last = out[-1]
        merged = None
        if cur.get("page", 0) == last.get("page", 0) + 1:
            # improved_table_merger.py:146-185 — one header match serves
            # the score and the header-row drop; never merge on a
            # column-count mismatch
            match = _header_match(
                last.get("data") or [], cur.get("data") or []
            )
            if _similarity(match) >= similarity_threshold:
                d1, d2 = last["data"], cur["data"]
                if not d1 or not d2:
                    merged = d1 or d2
                elif match is not None:
                    merged = d1 + d2[1 if match else 0:]
        if merged is None:
            out.append(dict(cur))
            continue
        last["data"] = merged
        last["is_multi_page"] = True
        start = str(last.get("page", 0))
        if last.get("page_range"):
            parts = last["page_range"].split("-")
            if len(parts) > 1:
                start = parts[0]
        last["page_range"] = f"{start}-{cur.get('page', 0)}"
    return out


# ---------------------------------------------------------------------------
# the extraction state machine
# ---------------------------------------------------------------------------


def _make_element(
    kind: str,
    text: str,
    media_ref: str,
    page: int,
    level: int,
    section_path: List[str],
    table: Optional[Dict[str, Any]] = None,
    code: Optional[Dict[str, Any]] = None,
) -> Row:
    """One element row in ``schema.ELEMENT_COLUMNS`` order.

    ``offset``, ``token_count`` and ``section_id`` are placeholders: the
    final pass of :func:`extract_document_rows` fills them once per
    element that survives the table merge.

    ``section_path`` is stored by reference, not copied: the state
    machine never mutates the current path list in place (the heading
    branch rebinds a freshly built list), so sharing is safe and saves
    one list copy per element on the hot path.

    code_metadata contract (markdown_extractor.py:627-636; the
    {language, length, functions} shape is pinned by the reference's
    own fixture, context7 markdown_extractor.py:719). length = len(text)
    by construction, so only language and the function structs need
    columns.
    """
    return [
        kind,
        text,
        media_ref,
        -1,  # offset
        page,
        level,
        0,  # token_count
        section_path,
        "",  # section_id
        table["headers"] if table else None,
        table["rows"] if table else None,
        False,  # is_multi_page
        None,  # page_range
        code["language"] if code else None,
        code["functions"] if code else None,
    ]


def extract_document(
    spans: List[Span], merge_strategy: str = "default"
) -> List[Dict[str, Any]]:
    """One document's ordered input spans → ordered extracted elements.

    Output order is input (offset) order — the reference's
    tables-first reordering (context7/pdf_to_json_converter.py:262-269)
    contradicts its own golden fixture and is documented as a repo
    quirk we do not inherit (SURVEY.md §7.4).
    """
    return extract_document_cols(
        [s.get("kind") for s in spans],
        [s.get("text") for s in spans],
        [s.get("media_ref") for s in spans],
        [s.get("offset") or 0 for s in spans],
        merge_strategy,
    )


def extract_document_cols(
    kinds: List[Optional[str]],
    texts: List[Optional[str]],
    media_refs: List[Optional[str]],
    offsets: List[Optional[int]],
    merge_strategy: str = "default",
) -> List[Dict[str, Any]]:
    """Columnar entry point: four parallel lists instead of per-span
    dicts, one element dict per extracted element. A dict view over
    :func:`extract_document_rows`, so there is still exactly ONE
    implementation of the extraction state machine.
    """
    return [
        dict(zip(ELEMENT_COLUMNS, row))
        for row in extract_document_rows(
            kinds, texts, media_refs, offsets, merge_strategy
        )
    ]


def extract_document_rows(
    kinds: List[Optional[str]],
    texts: List[Optional[str]],
    media_refs: List[Optional[str]],
    offsets: List[Optional[int]],
    merge_strategy: str = "default",
) -> List[Row]:
    """The extraction state machine: four parallel span lists → one row
    (a list in ``schema.ELEMENT_COLUMNS`` order) per extracted element,
    in element order. This is the form the Arrow emitter transposes
    into columns (``operators/extract.py``).
    """
    threshold = STRATEGY_THRESHOLDS[merge_strategy]
    # null offsets are legal (SPAN_STRUCT.offset is nullable; JSON
    # sources may omit it) — treat as 0 so ordering stays total.
    # `None in list` is a C-level scan, so the common all-present case
    # skips the rebuild entirely.
    if None in offsets:
        offsets = [o if o is not None else 0 for o in offsets]
    elements: List[Row] = []
    tables: List[Dict[str, Any]] = []  # merge-pass inputs, page-ascending
    section_path: List[str] = []
    current_page = 1
    text_buf: List[str] = []
    table_buf: List[str] = []
    table_page = 1

    def flush_text() -> None:
        # markdown_extractor.py:280-310 — join buffered lines, strip,
        # drop empty results.
        nonlocal text_buf
        if text_buf:
            content = "\n".join(text_buf).strip()
            if content:
                elements.append(
                    _make_element("text", content, "", current_page, 0, section_path)
                )
            text_buf = []

    def flush_table() -> None:
        # markdown_extractor.py:445-519 — parse accumulated |...| lines;
        # unparseable runs are dropped (the reference only appends when
        # parse_markdown_table returns truthy, :448).
        nonlocal table_buf
        if table_buf:
            content = "\n".join(table_buf)
            parsed = parse_markdown_table(content)
            if parsed:
                el = _make_element(
                    "table",
                    render_markdown_table(parsed["headers"], parsed["rows"]),
                    "",
                    table_page,
                    0,
                    section_path,
                    table=parsed,
                )
                elements.append(el)
                data = [parsed["headers"]] + parsed["rows"]
                tables.append({"el": el, "page": table_page, "data": data})
            table_buf = []

    # Input is almost always already offset-ordered (parquet preserves
    # the writer's span order); Timsort makes the sortedness probe O(n)
    # and the sorted fast path iterates the columns directly with no
    # per-span index indirection. Ties keep input order either way
    # (sorted() is stable).
    if sorted(offsets) == list(offsets):
        span_iter = zip(kinds, texts, media_refs)
    else:
        order = sorted(range(len(offsets)), key=offsets.__getitem__)
        span_iter = ((kinds[i], texts[i], media_refs[i]) for i in order)

    for kind, text, media_ref in span_iter:
        kind = kind or ""
        text = text or ""

        # dispatch most-common kind first; the `if buf:` guards skip
        # the flush-function call entirely when the buffer is empty
        # (the overwhelmingly common case — measured ~10% of kernel
        # time was no-op flush calls).
        if kind == "text":
            if table_buf:
                flush_table()
            if not text.strip():
                # blank line → paragraph break (markdown_extractor.py:317-319)
                if text_buf:
                    flush_text()
            else:
                text_buf.append(text)
            continue

        if kind == "heading":
            if text_buf:
                flush_text()
            if table_buf:
                flush_table()
            hm = HEADING_RE.match(text.strip())
            level = len(hm.group(1)) if hm else 1
            raw_title = (hm.group(2) if hm else text).strip()
            # numbered headings (markdown_extractor.py:338-343) keep
            # their number as part of the displayed text per the golden
            # fixture; the reference's auto section counters (:344-357)
            # feed only metadata we deliberately exclude (docs/PARITY.md)
            display = clean_title(raw_title, to_ascii=True)
            # stack semantics per the golden fixture: truncate to the
            # parent levels, then push this heading's display text.
            section_path = section_path[: level - 1] + [display]
            elements.append(
                _make_element("heading", display, "", current_page, level, section_path)
            )
            continue

        if kind == "table_row":
            if text_buf:
                flush_text()
            if not table_buf:
                table_page = current_page
            table_buf.append(text)
            continue

        if kind == "page_marker":
            if text_buf:
                flush_text()
            if table_buf:
                flush_table()
            m = PAGE_RE.match(text.strip())
            if m:
                current_page = int(m.group(1))
            continue

        if kind == "image":
            if text_buf:
                flush_text()
            if table_buf:
                flush_table()
            content = text.strip()
            parsed = parse_markdown_image(content)
            ref = (media_ref or "") or (parsed["src"] if parsed else "")
            elements.append(
                _make_element("image", content, ref, current_page, 0, section_path)
            )
            continue

        if kind == "code":
            if text_buf:
                flush_text()
            if table_buf:
                flush_table()
            content = text.strip()  # token.content.strip(), :526
            if content:
                elements.append(
                    _make_element(
                        "code",
                        content,
                        "",
                        current_page,
                        0,
                        section_path,
                        code=extract_code_metadata(content),
                    )
                )
            continue

        if kind == "html":
            if text_buf:
                flush_text()
            if table_buf:
                flush_table()
            stripped = html_to_text(text)
            if stripped:
                elements.append(
                    _make_element("text", stripped, "", current_page, 0, section_path)
                )
            continue

        if kind == "ocr":
            # S11: OCR spans are normalized (de-hyphenation, ligature
            # fold, line-break join — textproc.ocr_normalize) and then
            # take the ordinary text path, so consecutive ocr/text
            # spans paragraph-merge identically. ONE deliberate
            # divergence from the text path: an OCR span that
            # normalizes to EMPTY is dropped without flushing the
            # paragraph buffer — a blank OCR region is scanner noise,
            # not an author's blank line, so it must not split a
            # paragraph the way a blank text span does
            # (tests/test_text_analyzer.py pins this).
            if table_buf:
                flush_table()
            cleaned = ocr_normalize(text)
            if cleaned:
                text_buf.append(cleaned)
            continue

        # unknown kinds pass through as text lines (forward compat);
        # flush any open table first — buffering text under an open
        # table would emit it AHEAD of earlier table rows, breaking
        # offset-order equality
        if table_buf:
            flush_table()
        text_buf.append(text)

    if text_buf:
        flush_text()
    if table_buf:
        flush_table()

    # multi-page table merge pass (tables only, in document order —
    # already page-ascending because pages only advance forward). Only a
    # merged (is_multi_page) table changes; the tables folded into it
    # are dropped from the output.
    final = elements
    if tables:
        merged = merge_multi_page_tables(tables, threshold)
        for t in merged:
            if t.get("is_multi_page"):
                el = t["el"]
                el[_HEADERS] = t["data"][0]
                el[_ROWS] = t["data"][1:]
                el[_TEXT] = render_markdown_table(el[_HEADERS], el[_ROWS])
                el[_MULTI_PAGE] = True
                el[_PAGE_RANGE] = t["page_range"]
        if len(merged) < len(tables):
            keep = {id(t["el"]) for t in merged}
            final = [e for e in elements if e[_KIND] != "table" or id(e) in keep]
    # the per-element fields that depend on the final text, computed
    # once per surviving element
    for i, el in enumerate(final):
        text = el[_TEXT]
        el[_OFFSET] = i
        el[_TOKENS] = token_count(text)
        el[_SECTION_ID] = md5_hex(text)
    return final
