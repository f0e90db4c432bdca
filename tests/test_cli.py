"""Driver-CLI surface (python -m pdf_extractor_spark) — the SURVEY
§3.1/§3.2 spark-submit shape of the reference's typer CLI."""

import json
import os


def test_cli_convert_md_dir(spark, tmp_path, capsys):
    from pdf_extractor_spark.__main__ import main

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.md").write_text("# Title A\n\nBody text here.\n")
    (src / "b.md").write_text("## Sub B\n\n| h1 | h2 |\n|---|---|\n| 1 | 2 |\n")
    out = str(tmp_path / "elements")
    jdir = str(tmp_path / "json")
    rc = main([
        "convert", "--input", str(src), "--output", out,
        "--json-dir", jdir, "--format", "md",
    ])
    assert rc == 0
    flat = spark.read.parquet(out)
    kinds = {r["kind"] for r in flat.select("kind").distinct().collect()}
    assert "heading" in kinds
    ids = {r["doc_id"] for r in flat.select("doc_id").distinct().collect()}
    assert ids == {"a.md", "b.md"}
    # JSON sink: one object per doc with the ordered element list
    lines = []
    for f in os.listdir(jdir):
        if f.startswith("part-"):
            with open(os.path.join(jdir, f)) as fh:
                lines += [json.loads(l) for l in fh if l.strip()]
    assert {d["doc_id"] for d in lines} == {"a.md", "b.md"}
    assert all("out_spans" in d for d in lines)



def _json_lines(path):
    lines = []
    for f in os.listdir(path):
        if f.startswith("part-"):
            with open(os.path.join(path, f), encoding="utf-8") as fh:
                lines += [l.rstrip("\n") for l in fh if l.strip()]
    return sorted(lines)


def test_cli_convert_json_sink_matches_nested_path(spark, tmp_path):
    """--json-dir is built from the written flat output, yet writes
    exactly what the doc-level path writes, including the line of a
    doc that extracts to nothing."""
    from pdf_extractor_spark.__main__ import main
    from pdf_extractor_spark.operators.extract import extract_spans
    from pdf_extractor_spark.sources import read_text_docs, write_docs_json

    src = tmp_path / "docs"
    (src / "sub").mkdir(parents=True)
    (src / "blank.md").write_text("\n\n")
    (src / "latin.md").write_bytes("# Caf\xe9\n\nna\xefve text\n".encode("latin-1"))
    (src / "sub" / "c.md").write_text("## Sub\n\n| h1 | h2 |\n|---|---|\n| 1 | 2 |\n")
    jdir = str(tmp_path / "json")
    rc = main([
        "convert", "--input", str(src), "--output", str(tmp_path / "elements"),
        "--json-dir", jdir,
    ])
    assert rc == 0
    ref = str(tmp_path / "json_ref")
    write_docs_json(extract_spans(read_text_docs(spark, str(src))), ref)
    got = _json_lines(jdir)
    assert got == _json_lines(ref)
    assert '{"doc_id":"blank.md","out_spans":[]}' in got
    assert {json.loads(l)["doc_id"] for l in got} == {"blank.md", "latin.md", "sub/c.md"}


def test_cli_convert_pdf_dir(spark, tmp_path):
    """--format pdf: the flat output equals extract_elements over
    read_pdf_docs on the same two-page PDFs."""
    from pdf_extractor_spark.__main__ import main
    from pdf_extractor_spark.operators.extract import extract_elements
    from pdf_extractor_spark.sources import read_pdf_docs
    from tests.test_pdf_and_detect import MD_PAGE1, MD_PAGE2, make_pdf

    src = tmp_path / "pdfs"
    src.mkdir()
    (src / "x.pdf").write_bytes(make_pdf([MD_PAGE1, MD_PAGE2]))
    (src / "y.pdf").write_bytes(make_pdf([MD_PAGE2, MD_PAGE1]))
    out = str(tmp_path / "elements")
    rc = main(["convert", "--input", str(src), "--output", out, "--format", "pdf"])
    assert rc == 0
    got = spark.read.parquet(out)
    expect = extract_elements(read_pdf_docs(spark, str(src)))
    assert got.columns == expect.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    assert {r["doc_id"] for r in got.select("doc_id").distinct().collect()} == {
        "x.pdf", "y.pdf"}
    assert got.where("page = 2").count() > 0


def _many_files(spark, tmp_path):
    """33 tiny files per core: more than the default split packing (at
    most 32 small files per split) fits in one split per core."""
    src = tmp_path / "many"
    src.mkdir()
    for i in range(33 * spark.sparkContext.defaultParallelism):
        (src / f"d{i:04d}.md").write_text(f"# Doc {i}\n\ntext {i}\n")
    return src


def _printed_count(capsys) -> int:
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert line.startswith("convert: ") and " elements -> " in line, line
    return int(line.split()[1])


def test_cli_convert_is_one_job_in_one_wave(spark, tmp_path, capsys, count_jobs):
    """convert runs one Spark job (the write), with at most one scan
    task per core, and prints the element count the write observed."""
    from pdf_extractor_spark.__main__ import main

    src, out = _many_files(spark, tmp_path), tmp_path / "elements"
    rcs = []
    n_jobs = count_jobs(
        lambda: rcs.append(main(["convert", "--input", str(src), "--output", str(out)]))
    )
    assert rcs == [0]
    assert n_jobs == 1
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert 1 <= len(parts) <= spark.sparkContext.defaultParallelism, parts
    assert _printed_count(capsys) == spark.read.parquet(str(out)).count() > 0


def test_cli_convert_json_dir_job_count(spark, tmp_path, count_jobs):
    """--json-dir runs the convert write plus the JSON write's 3 jobs,
    and writes the lines of the doc-level path."""
    from pdf_extractor_spark.__main__ import main
    from pdf_extractor_spark.operators.extract import extract_spans
    from pdf_extractor_spark.sources import read_text_docs, write_docs_json

    src, jdir = _many_files(spark, tmp_path), str(tmp_path / "json")
    n_jobs = count_jobs(lambda: main([
        "convert", "--input", str(src), "--output", str(tmp_path / "elements"),
        "--json-dir", jdir,
    ]))
    assert n_jobs == 4
    ref = str(tmp_path / "json_ref")
    write_docs_json(extract_spans(read_text_docs(spark, str(src))), ref)
    assert _json_lines(jdir) == _json_lines(ref)


def test_cli_convert_no_input_files(spark, tmp_path, capsys):
    """An empty directory, or one where no file matches the glob,
    converts to 0 elements in a parquet output with FLAT_SCHEMA's
    columns."""
    from pdf_extractor_spark.__main__ import main
    from pdf_extractor_spark.schema import FLAT_SCHEMA

    empty = tmp_path / "empty"
    empty.mkdir()
    no_match = tmp_path / "no_match"
    no_match.mkdir()
    (no_match / "notes.txt").write_text("# not markdown\n")
    for src in (empty, no_match):
        out = str(tmp_path / f"out_{src.name}")
        assert main(["convert", "--input", str(src), "--output", out]) == 0
        assert _printed_count(capsys) == 0
        got = spark.read.parquet(out)
        assert got.count() == 0
        assert got.columns == FLAT_SCHEMA.names


def test_cli_convert_mixed_tree_matches_per_file_kernel(spark, tmp_path, capsys):
    """A skewed tree through the capped scan: one file ~500x the others,
    invalid UTF-8, an empty file and a nested file. Every file's flat
    rows equal extract_document(text_to_spans(bytes)) under its relative
    path, so no file is dropped or repeated."""
    from pdf_extractor_spark.__main__ import main
    from pdf_extractor_spark.docmodel import extract_document
    from pdf_extractor_spark.sources import text_to_spans

    src = tmp_path / "mixed"
    (src / "sub").mkdir(parents=True)
    small = "# Doc {i}\n\ntext {i}\n\n| a | b |\n| {i} | 2 |\n"
    for i in range(12):
        (src / f"d{i:02d}.md").write_text(small.format(i=i))
    (src / "big.md").write_text(
        "".join(f"## Part {i}\n\nline {i} of the big file\n" for i in range(800))
    )
    (src / "bad_utf8.md").write_bytes(b"# Caf\xe9 \xff\xfe\n\nna\xefve \x80 text\n")
    (src / "empty.md").write_bytes(b"")
    (src / "sub" / "nested.md").write_text(small.format(i="nested"))
    assert (src / "big.md").stat().st_size > 400 * (src / "d00.md").stat().st_size

    out = str(tmp_path / "elements")
    assert main(["convert", "--input", str(src), "--output", out]) == 0
    got: dict = {}
    for row in spark.read.parquet(out).collect():
        el = row.asDict(recursive=True)
        got.setdefault(el.pop("doc_id"), []).append(el)
    for els in got.values():
        els.sort(key=lambda el: el["offset"])
    expect = {}
    for path in sorted(src.rglob("*.md")):
        els = extract_document(text_to_spans(path.read_bytes()))
        if els:
            expect[path.relative_to(src).as_posix()] = els
    assert {"big.md", "bad_utf8.md", "sub/nested.md"} <= set(expect)
    assert got == expect
    assert _printed_count(capsys) == sum(map(len, expect.values()))


def test_cli_search_bm25(spark, capsys):
    from pdf_extractor_spark.__main__ import main

    rc = main([
        "search", "--sf-dir", "/root/testdata/sf0.001",
        "--type", "bm25", "--query", "the data", "--top-n", "5",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "search[bm25]:" in out
    assert "doc_id=" in out and "bm25=" in out


def test_cli_quality_gate(spark, tmp_path, capsys):
    """The quality-gate subcommand drains an inbox through the
    streaming gate with the bloom bitset built from --bloom-sf-dir and
    reports the routed count."""
    from pdf_extractor_spark.__main__ import main

    sf_dir = "/root/testdata/sf0.001"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "gated")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.where("doc_id < 60").write.mode("append").parquet(inbox)
    rc = main([
        "quality-gate", "--input", inbox, "--output", out,
        "--checkpoint", ckpt, "--bloom-sf-dir", sf_dir,
    ])
    assert rc == 0
    assert "quality-gate: 60 docs routed" in capsys.readouterr().out
    got = spark.read.parquet(out)
    assert got.count() == 60
    assert "verdict" in got.columns


def test_cli_graph_add_list_delete(spark, tmp_path, capsys):
    """graph add/list/delete over a real keyed edge store — the
    reference's cli_extensions.py:30-170 verbs in spark-submit shape."""
    from pdf_extractor_spark.__main__ import main

    store = str(tmp_path / "edges")
    rationale = "these two documents cover the same subsystem in depth"
    rc = main([
        "graph", "add", "doc_a", "doc_b", "--store", store,
        "--type", "SIMILAR", "--rationale", rationale, "--confidence", "2",
    ])
    assert rc == 0
    assert "Relationship created successfully" in capsys.readouterr().out

    rc = main(["graph", "list", "doc_a", "--store", store])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Relationships for document doc_a (1 found):" in out
    assert "doc_a --[SIMILAR (2)]-> doc_b" in out
    assert "Rationale: " + rationale[:50] in out

    # json format + direction filter: INBOUND on doc_b sees the edge,
    # INBOUND on doc_a does not
    rc = main(["graph", "list", "doc_b", "--store", store,
               "--direction", "INBOUND", "--format", "json"])
    assert rc == 0
    rels = json.loads(capsys.readouterr().out)
    assert len(rels) == 1 and rels[0]["type"] == "SIMILAR"
    rc = main(["graph", "list", "doc_a", "--store", store,
               "--direction", "INBOUND"])
    assert rc == 0
    assert "(0 found)" in capsys.readouterr().out

    rc = main(["graph", "delete", "doc_a", "doc_b", "--store", store])
    assert rc == 0
    assert "deleted successfully" in capsys.readouterr().out
    rc = main(["graph", "list", "doc_a", "--store", store])
    assert rc == 0
    assert "No relationships found" in capsys.readouterr().out


def test_cli_graph_add_rejects_short_strategic_rationale(spark, tmp_path, capsys):
    from pdf_extractor_spark.__main__ import main

    rc = main([
        "graph", "add", "a", "b", "--store", str(tmp_path / "e2"),
        "--rationale", "too short", "--strategic",
    ])
    assert rc == 1
    assert "Error:" in capsys.readouterr().out


def test_cli_graph_evaluate_and_suggest(spark, capsys):
    from pdf_extractor_spark.__main__ import main

    rc = main(["graph", "evaluate-need", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Relationship need score: " in out
    assert "Search results count: " in out

    rc = main(["graph", "suggest", "--sf-dir", "/root/testdata/sf0.001",
               "--limit", "3"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "potential relationships:" in out


def test_cli_messages_delete_conversation(spark, tmp_path, capsys):
    """delete-conversation = ONE predicate DELETE WHERE commit
    (crud.py:474-515 semantics incl. the empty-conversation no-op)."""
    from pdf_extractor_spark.__main__ import main
    from pdf_extractor_spark.lineage import init_store, read_output

    store = str(tmp_path / "messages")
    rows = spark.createDataFrame(
        [(f"m{i}", 0, "conv1" if i % 2 == 0 else "conv2", f"msg {i}")
         for i in range(6)],
        "doc_id string, offset int, conversation_id string, content string",
    )
    init_store(spark, store, rows, n_buckets=4)

    rc = main(["messages", "delete-conversation", "conv1", "--store", store])
    assert rc == 0
    assert "Conversation conv1 deleted (3 messages)" in capsys.readouterr().out
    left = read_output(spark, store).select("conversation_id").distinct().collect()
    assert {r["conversation_id"] for r in left} == {"conv2"}

    # idempotent: a missing conversation is a successful no-op
    rc = main(["messages", "delete-conversation", "conv1", "--store", store])
    assert rc == 0
    assert "(0 messages)" in capsys.readouterr().out
    assert read_output(spark, store).count() == 3
