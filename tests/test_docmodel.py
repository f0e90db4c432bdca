"""Golden-fixture unit tests for the pure-Python document model.

Cases lifted from the reference's embedded EXPECTED_RESULTS blocks
(FIXTURES.md §3); citations per case.
"""

import json
import os

import pytest

from pdf_extractor_spark.docmodel import (
    STRATEGY_THRESHOLDS,
    extract_document,
    extract_document_cols,
    extract_document_rows,
    has_matching_headers,
    merge_multi_page_tables,
    parse_markdown_image,
    parse_markdown_table,
    render_markdown_table,
    table_similarity,
)
from pdf_extractor_spark.geometry import calculate_iou
from pdf_extractor_spark.parsers import (
    extract_metadata,
    parse_structured_text,
    parse_table_data,
)
from pdf_extractor_spark.schema import ELEMENT_COLUMNS
from pdf_extractor_spark.textproc import clean_title, html_to_text, md5_hex, token_count


def spans(*items):
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(items)
    ]


# --- markdown micro-parsers (markdown_extractor.py:143-197) ---------------


def test_parse_markdown_table_basic():
    content = "| A | B |\n|---|---|\n| 1 | 2 |\n| 3 | 4 |"
    t = parse_markdown_table(content)
    assert t == {"headers": ["A", "B"], "rows": [["1", "2"], ["3", "4"]]}


def test_parse_markdown_table_rejects_bad_separator():
    assert parse_markdown_table("| A | B |\n| x | y |\n| 1 | 2 |") is None


def test_parse_markdown_table_drops_mismatched_rows():
    # markdown_extractor.py:167-172 keeps only rows with len == headers
    t = parse_markdown_table("| A | B |\n|---|---|\n| 1 | 2 | 3 |\n| 4 | 5 |")
    assert t["rows"] == [["4", "5"]]


def test_parse_markdown_image():
    assert parse_markdown_image("![alt text](path/img.png)") == {
        "alt": "alt text",
        "src": "path/img.png",
    }
    assert parse_markdown_image("not an image") is None


# --- parsers.py cases (parsers.py:222-236, 341-388) ------------------------


def test_parse_structured_text_block_sequence():
    # the reference's scanner emits a code block per fence *line* and
    # keeps fence contents as paragraph lines (parsers.py:81-96); its
    # own fixture sequence [heading, paragraph, heading, code,
    # paragraph] (parsers.py:222-236) reflects exactly that.
    text = "# Title\n\nA paragraph line.\n\n## Sub\n```python\nx=1\n```\nTail text."
    blocks = parse_structured_text(text)
    kinds = [b["type"] for b in blocks]
    assert kinds[:4] == ["heading", "paragraph", "heading", "code"]
    assert kinds == [
        "heading", "paragraph", "heading", "code", "paragraph", "code", "paragraph",
    ]
    assert blocks[0]["metadata"]["level"] == 1
    assert blocks[2]["metadata"]["level"] == 2
    assert blocks[3]["metadata"]["language"] == "python"


def test_parse_table_data_pads_and_truncates():
    t = parse_table_data([["A", "B", "C"], ["1", "2"], ["1", "2", "3", "4"]])
    assert t["headers"] == ["A", "B", "C"]
    assert t["rows"] == [["1", "2", ""], ["1", "2", "3"]]


def test_extract_metadata():
    text = "Title: Test Document\nAuthor: Jane\nDate: 2024-01-01\nVersion: 1.2\n"
    md = extract_metadata(text)
    assert md["title"] == "Test Document"
    assert md["author"] == "Jane"
    assert md["date"] == "2024-01-01"
    assert md["version"] == "1.2"


# --- IoU kernel (utils.py:86-104 embedded fixture) --------------------------


def test_iou_fixture_values():
    assert abs(calculate_iou([0, 0, 2, 2], [1, 1, 3, 3]) - 1 / 7) < 1e-9
    assert calculate_iou([0, 0, 1, 1], [2, 2, 3, 3]) == 0.0
    assert calculate_iou([0, 0, 2, 2], [0, 0, 2, 2]) == 1.0


# --- header matching / merge (improved_table_merger.py) ---------------------


def test_header_exact_and_partial_match():
    assert has_matching_headers(["Signal", "IO"], ["Signal", "IO"])
    # partial matches count 0.5: "Signal Name" vs "Signal", "I/O" vs "IO"
    # → aggressive threshold merges, conservative does not
    h1, h2 = ["Signal Name", "Type"], ["Signal", "Type"]
    assert has_matching_headers(h1, h2, 0.6)
    assert not has_matching_headers(h1, h2, 0.8)
    assert not has_matching_headers(["A"], ["A", "B"])


def test_similarity_bands():
    # marker_processor.py:380-389: identical > 0.9 band is approximated
    # by the header component 0.9; different < 0.7
    same = {"data": [["A", "B"], ["1", "2"]]}
    diff = {"data": [["X", "Y"], ["1", "2"]]}
    colmismatch = {"data": [["A"], ["1"]]}
    assert table_similarity(same, same) >= 0.9
    assert table_similarity(same, diff) < 0.7
    assert table_similarity(same, colmismatch) == 0.0


def test_merge_three_tables_to_two():
    # improved_table_merger.py:381-388: 3 tables → 2; merged rows=4
    # (header + 3 data rows), page_range "1-2", is_multi_page
    t1 = {"page": 1, "data": [["H1", "H2"], ["a", "b"], ["c", "d"]]}
    t2 = {"page": 2, "data": [["H1", "H2"], ["e", "f"]]}
    t3 = {"page": 3, "data": [["X", "Y", "Z"], ["1", "2", "3"]]}
    out = merge_multi_page_tables([t1, t2, t3], 0.7)
    assert len(out) == 2
    assert out[0]["is_multi_page"] is True
    assert out[0]["page_range"] == "1-2"
    assert len(out[0]["data"]) == 4  # merged rows=4 incl. single header
    assert out[1]["data"][0] == ["X", "Y", "Z"]


def test_merge_chain_keeps_first_page_quirk():
    # reference quirk: merged table keeps its first page, so page 3
    # cannot chain onto a 1-2 merge (improved_table_merger.py:136,225)
    mk = lambda p: {"page": p, "data": [["H"], [f"r{p}"]]}
    out = merge_multi_page_tables([mk(1), mk(2), mk(3)], 0.7)
    assert len(out) == 2
    assert out[0]["page_range"] == "1-2"


def test_merge_strategies():
    # improved_table_merger.py:391-412: conservative merges exact
    # headers; aggressive also merges fuzzy headers; none merges nothing
    exact = [
        {"page": 1, "data": [["Signal", "IO"], ["a", "b"]]},
        {"page": 2, "data": [["Signal", "IO"], ["c", "d"]]},
    ]
    fuzzy = [
        {"page": 1, "data": [["Signal Name", "I/O"], ["a", "b"]]},
        {"page": 2, "data": [["Signal", "IO"], ["c", "d"]]},
    ]
    assert len(merge_multi_page_tables(exact, 0.8)) == 1  # conservative
    assert len(merge_multi_page_tables(fuzzy, 0.8)) == 2  # conservative: no
    assert len(merge_multi_page_tables(fuzzy, 0.6)) == 2  # col header sim 0.3|0.9 only
    assert len(merge_multi_page_tables(exact, 2.0)) == 2  # none
    # at ≤ 0.3 same-width tables with different headers merge and keep
    # the continuation's header row; a column-count mismatch never merges
    other = [
        {"page": 1, "data": [["Signal", "IO"], ["a", "b"]]},
        {"page": 2, "data": [["Name", "Dir"], ["c", "d"]]},
        {"page": 3, "data": [["Name", "Dir", "Type"], ["e", "f", "g"]]},
    ]
    for threshold in (0.3, 0.0):
        merged = merge_multi_page_tables(other, threshold)
        assert [t["data"] for t in merged] == [
            [["Signal", "IO"], ["a", "b"], ["Name", "Dir"], ["c", "d"]],
            other[2]["data"],
        ]
        assert merged[0]["page_range"] == "1-2"


# --- text utils --------------------------------------------------------------


def test_clean_title():
    assert clean_title("  Café \x00Control  ") == "Café Control"
    assert clean_title("Café", to_ascii=True) == "Cafe"
    assert clean_title("\x00\x01") == "Unnamed Section"


def test_html_to_text_strips_boilerplate():
    html = (
        "<html><head><style>p{}</style></head><body><nav>menu</nav>"
        "<h1>Head</h1><p>Body &amp; text.</p><script>x</script>"
        "<footer>foot</footer></body></html>"
    )
    out = html_to_text(html)
    assert "menu" not in out and "foot" not in out and "x" not in out.split()
    assert "Head" in out and "Body & text." in out


# --- full document state machine --------------------------------------------


def test_golden_bht_like_document():
    """12 elements: 2 heading, 9 text, 1 table (5 headers × 5 rows) in
    document order — the BHT_CV32A65X_expected.json shape."""
    table_rows = [
        ["clk_i", "in", "Subsystem Clock", "SUBSYSTEM", "logic"],
        ["rst_ni", "in", "Reset", "SUBSYSTEM", "logic"],
        ["vpc_i", "in", "Virtual PC", "CACHE", "logic"],
        ["bht_update_i", "in", "Update", "EXECUTE", "bht_update_t"],
        ["bht_prediction_o", "out", "Prediction", "FRONTEND", "bht_t"],
    ]
    tbl = ["| " + " | ".join(["Signal", "IO", "Description", "Connection", "Type"]) + " |",
           "|---|---|---|---|---|"] + ["| " + " | ".join(r) + " |" for r in table_rows]
    doc = spans(
        ("heading", "# 4.1.5.4. BHT (Branch History Table) submodule", ""),
        ("text", "BHT is implemented as a memory.", ""),
        ("text", "", ""),
        ("text", "When a branch instruction is resolved.", ""),
        ("text", "", ""),
        ("text", "The BHT is not updated immediately.", ""),
        ("text", "", ""),
        ("text", "Instead it waits.", ""),
        ("text", "", ""),
        ("text", "As a result of this.", ""),
        *[("table_row", ln, "") for ln in tbl],
        ("page_marker", "<!-- page: 2 -->", ""),
        ("text", "The following table describes signals.", ""),
        ("text", "", ""),
        ("text", "More prose.", ""),
        ("text", "", ""),
        ("text", "Even more prose.", ""),
        ("heading", "## State Diagram", ""),
        ("text", "The state diagram shows transitions.", ""),
    )
    out = extract_document(doc)
    kinds = [e["kind"] for e in out]
    assert len(out) == 12
    assert kinds.count("heading") == 2
    assert kinds.count("text") == 9
    assert kinds.count("table") == 1
    tbl_el = next(e for e in out if e["kind"] == "table")
    assert len(tbl_el["table_headers"]) == 5
    assert len(tbl_el["table_rows"]) == 5
    # section hierarchy: stack truncation per golden fixture
    assert out[0]["section_path"] == ["4.1.5.4. BHT (Branch History Table) submodule"]
    last = out[-1]
    assert last["section_path"] == [
        "4.1.5.4. BHT (Branch History Table) submodule",
        "State Diagram",
    ]
    # offsets are dense document order
    assert [e["offset"] for e in out] == list(range(12))
    # md5 section ids (markdown_extractor.py:79-82,298)
    assert out[1]["section_id"] == md5_hex(out[1]["text"])


def test_multipage_merge_inside_document():
    hdr = ["Signal", "IO"]
    t1 = ["| Signal | IO |", "|---|---|", "| a | in |"]
    t2 = ["| Signal | IO |", "|---|---|", "| b | out |"]
    doc = spans(
        ("heading", "# Doc", ""),
        *[("table_row", ln, "") for ln in t1],
        ("page_marker", "<!-- page: 2 -->", ""),
        *[("table_row", ln, "") for ln in t2],
    )
    out = extract_document(doc)
    tables = [e for e in out if e["kind"] == "table"]
    assert len(tables) == 1
    assert tables[0]["is_multi_page"] and tables[0]["page_range"] == "1-2"
    assert tables[0]["table_rows"] == [["a", "in"], ["b", "out"]]
    assert tables[0]["text"] == render_markdown_table(hdr, [["a", "in"], ["b", "out"]])


def test_same_page_tables_do_not_merge():
    t = ["| Signal | IO |", "|---|---|", "| a | in |"]
    doc = spans(
        *[("table_row", ln, "") for ln in t],
        ("text", "separator prose", ""),
        *[("table_row", ln, "") for ln in t],
    )
    out = extract_document(doc)
    assert len([e for e in out if e["kind"] == "table"]) == 2


def test_page_markers_and_images_and_code():
    doc = spans(
        ("heading", "# T", ""),
        ("image", "![fig](a.png)", "s3://m/a.png"),
        ("page_marker", "<!-- page: 7 -->", ""),
        ("code", "print('x')\n", ""),
        ("html", "<p>Hello <b>world</b>!</p><script>bad()</script>", ""),
    )
    out = extract_document(doc)
    img = next(e for e in out if e["kind"] == "image")
    assert img["media_ref"] == "s3://m/a.png" and img["page"] == 1
    code = next(e for e in out if e["kind"] == "code")
    assert code["text"] == "print('x')" and code["page"] == 7
    html_text = next(e for e in out if e["kind"] == "text")
    assert "Hello world !" in html_text["text"] or "Hello" in html_text["text"]
    assert "bad()" not in html_text["text"]


def test_auto_numbering_resets_deeper_levels():
    doc = spans(
        ("heading", "# Alpha", ""),
        ("heading", "## Beta", ""),
        ("heading", "## Gamma", ""),
        ("heading", "# Delta", ""),
        ("heading", "## Epsilon", ""),
    )
    out = extract_document(doc)
    assert out[-1]["section_path"] == ["Delta", "Epsilon"]
    assert [e["level"] for e in out] == [1, 2, 2, 1, 2]


def test_unparseable_table_run_dropped():
    doc = spans(
        ("table_row", "| only one line |", ""),
        ("text", "after", ""),
    )
    out = extract_document(doc)
    assert [e["kind"] for e in out] == ["text"]


def test_unknown_kind_flushes_open_table_buffer():
    """An unknown-kind span between table rows must not emit its text
    AHEAD of the earlier table rows (offset-order invariant)."""
    from pdf_extractor_spark.docmodel import extract_document

    spans = [
        {"kind": "table_row", "text": "| A | B |", "media_ref": "", "offset": 0},
        {"kind": "table_row", "text": "|---|---|", "media_ref": "", "offset": 1},
        {"kind": "table_row", "text": "| 1 | 2 |", "media_ref": "", "offset": 2},
        {"kind": "mystery", "text": "interloper", "media_ref": "", "offset": 3},
        {"kind": "text", "text": "", "media_ref": "", "offset": 4},
    ]
    els = extract_document(spans)
    kinds = [e["kind"] for e in els]
    assert kinds == ["table", "text"]  # table (rows 0-2) BEFORE the text
    assert els[1]["text"] == "interloper"


def test_separator_prefix_match_mirrors_reference():
    """Reference parity (markdown_extractor.py:163 uses a PREFIX
    re.match): a second row starting with '-' is consumed as separator."""
    from pdf_extractor_spark.docmodel import parse_markdown_table

    t = parse_markdown_table("| x | y |\n| -1 | -2 |\n| 3 | 4 |")
    assert t == {"headers": ["x", "y"], "rows": [["3", "4"]]}


# ---------------------------------------------------------------------------
# S11 — OCR-kind normalization golden cases
# ---------------------------------------------------------------------------


def test_ocr_spans_normalized_and_paragraph_merged():
    from pdf_extractor_spark.docmodel import extract_document

    spans = [
        {"kind": "ocr", "text": "The exam-\nple ﬁnds “rules”", "media_ref": "", "offset": 0},
        {"kind": "text", "text": "plain continuation", "media_ref": "", "offset": 1},
    ]
    els = extract_document(spans)
    assert len(els) == 1  # ocr + text merge into one paragraph
    assert els[0]["kind"] == "text"
    assert els[0]["text"] == 'The example finds "rules"\nplain continuation'


def test_ocr_golden_cases():
    from pdf_extractor_spark.textproc import ocr_normalize

    # hyphenated line break joins only lowercase continuations
    assert ocr_normalize("exam-\nple") == "example"
    assert ocr_normalize("UPPER-\nCase") == "UPPER- Case"
    # ligatures, dashes, curly quotes fold to ascii
    assert ocr_normalize("ﬁre ﬂow — ‘q’") == "fire flow - 'q'"
    # intra-paragraph line breaks and runs collapse
    assert ocr_normalize("a\n b\t\tc  d") == "a b c d"
    # blank-only input normalizes to empty (and the extraction path
    # drops the span entirely)
    assert ocr_normalize(" \n ") == ""
    from pdf_extractor_spark.docmodel import extract_document

    only_blank = [{"kind": "ocr", "text": " \n ", "media_ref": "", "offset": 0}]
    assert extract_document(only_blank) == []


def test_ocr_flushes_open_table_before_buffering():
    from pdf_extractor_spark.docmodel import extract_document

    spans = [
        {"kind": "table_row", "text": "| A | B |", "media_ref": "", "offset": 0},
        {"kind": "table_row", "text": "|---|---|", "media_ref": "", "offset": 1},
        {"kind": "table_row", "text": "| 1 | 2 |", "media_ref": "", "offset": 2},
        {"kind": "ocr", "text": "after ta-\nble", "media_ref": "", "offset": 3},
    ]
    els = extract_document(spans)
    assert [e["kind"] for e in els] == ["table", "text"]
    assert els[1]["text"] == "after table"


# --- row form: the state machine's own output ----------------------------


def _three_page_table_chain():
    def table(row):
        return [("table_row", ln, "") for ln in
                ("| Signal | IO |", "|---|---|", f"| {row} | in |")]

    return spans(
        ("heading", "# Chain", ""),
        *table("a"),
        ("page_marker", "<!-- page: 2 -->", ""),
        *table("b"),
        ("page_marker", "<!-- page: 3 -->", ""),
        *table("c"),
        ("text", "after the chain", ""),
    )


def _golden_and_chain_docs():
    path = os.path.join(os.path.dirname(__file__), "fixtures", "golden_docs.json")
    with open(path) as f:
        golden = json.load(f)
    return [d["spans"] for d in golden.values()] + [_three_page_table_chain()]


@pytest.mark.parametrize("strategy", sorted(STRATEGY_THRESHOLDS))
def test_row_form_is_the_dict_view(strategy):
    """extract_document_cols is dict(zip(ELEMENT_COLUMNS, row)) of
    extract_document_rows, element for element; token_count and
    section_id describe each element's final text, merged multi-page
    tables included."""
    for doc in _golden_and_chain_docs():
        cols = (
            [s["kind"] for s in doc],
            [s["text"] for s in doc],
            [s["media_ref"] for s in doc],
            [s["offset"] for s in doc],
        )
        rows = extract_document_rows(*cols, strategy)
        dicts = extract_document_cols(*cols, strategy)
        assert all(len(r) == len(ELEMENT_COLUMNS) for r in rows)
        assert dicts == [dict(zip(ELEMENT_COLUMNS, r)) for r in rows]
        for el in dicts:
            assert el["token_count"] == token_count(el["text"])
            assert el["section_id"] == md5_hex(el["text"])


def test_three_page_chain_rows():
    """The page-1 and page-2 tables merge into one multi-page row (the
    page-2 row is dropped), page 3 stays apart (first-page quirk), and
    offsets are renumbered over the surviving rows."""
    doc = _three_page_table_chain()
    merged = extract_document(doc)
    assert [e["kind"] for e in merged] == ["heading", "table", "table", "text"]
    assert [e["offset"] for e in merged] == [0, 1, 2, 3]
    first, last = merged[1], merged[2]
    assert first["is_multi_page"] and first["page_range"] == "1-2"
    assert first["table_rows"] == [["a", "in"], ["b", "in"]]
    assert first["text"] == render_markdown_table(["Signal", "IO"], first["table_rows"])
    assert first["token_count"] == token_count(first["text"])
    assert not last["is_multi_page"] and last["page_range"] is None
    assert last["page"] == 3 and last["table_rows"] == [["c", "in"]]
    unmerged = extract_document(doc, "none")
    assert [e["kind"] for e in unmerged].count("table") == 3
    assert not any(e["is_multi_page"] for e in unmerged)
