"""spark-submit driver CLI — the engine's answer to the reference's
typer CLI (`cli.py:396-495` convert, `search_cli.py`) per SURVEY.md
§3.1/§3.2 ("Spark shape: not a service; spark-submit --py-files driver").

Subcommands mirror the reference's verbs on the distributed pipeline:

  convert       directory of md/txt (or text-layer PDFs) → extracted
                element parquet, optional JSON-lines sink (S13)
  search        unified search dispatch (bm25 / bm25_stemmed /
                semantic / hybrid / tag) over an SF dir, rendered like
                main_usage.py:92-119's result log
  quality-gate  streaming Gopher + bloom ingestion gate over a
                document inbox (availableNow drain)

Usage: ``python -m pdf_extractor_spark <cmd> ...`` (or spark-submit
with the package zip on --py-files; session.get_spark ships it).
"""

from __future__ import annotations

import argparse
import sys


def _cmd_convert(args) -> int:
    """Files → flat element parquet in one Spark job: the write, whose
    one scan runs in one wave of at most one Python task per core, one
    part file each (``sources.binary_files``). A task in a reused
    Python worker costs about 2 ms of worker CPU outside the UDF
    (``zipgate`` keeps the per-task import-cache invalidation from
    re-reading pyspark.zip, and ``gcfreeze`` keeps the per-task full
    collection off the worker's long-lived heap). The element count
    comes from an ``Observation`` on the write itself, exact on any
    output path, so nothing is read back to count it. ``--json-dir`` reads the written
    rows with ``FLAT_SCHEMA``, so no read infers a schema."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .operators.extract import extract_files, nested_from_flat
    from .schema import FLAT_SCHEMA
    from .session import get_spark
    from .sources import file_doc_ids, pdf_to_spans, text_to_spans, write_docs_json

    spark = get_spark("pdf_extractor_spark.convert", master=args.master)
    if args.format == "pdf":
        glob, to_spans = args.glob or "*.pdf", pdf_to_spans
    else:
        glob, to_spans = args.glob or "*.md", text_to_spans
    flat = extract_files(spark, args.input, glob, to_spans, args.merge_strategy)
    obs = Observation()
    flat.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        args.output
    )
    if args.json_dir:
        written = spark.read.schema(FLAT_SCHEMA).parquet(args.output)
        docs = file_doc_ids(spark, args.input, glob)
        write_docs_json(nested_from_flat(written, docs), args.json_dir)
    print(f"convert: {obs.get['n']} elements -> {args.output}")
    return 0


def _cmd_search(args) -> int:
    from .analytics.search_api import unified_search
    from .session import get_spark

    spark = get_spark("pdf_extractor_spark.search", master=args.master)
    df = unified_search(
        spark,
        args.sf_dir,
        search_type=args.type,
        query=args.query,
        top_n=args.top_n,
    )
    rows = df.limit(args.top_n).collect()
    # main_usage.py:92-119-style result log: rank, score-ish field, id
    print(f"search[{args.type}]: {len(rows)} results")
    for i, r in enumerate(rows, 1):
        d = r.asDict()
        key = next(
            (k for k in ("doc_id", "vec_id", "term", "o_orderkey") if k in d),
            list(d)[0],
        )
        score = next(
            (
                f"{k}={d[k]}"
                for k in ("bm25", "score", "rrf_score", "cosine", "similarity_score")
                if k in d and d[k] is not None
            ),
            "",
        )
        print(f"  {i}. {key}={d[key]} {score}".rstrip())
    return 0


def _cmd_quality_gate(args) -> int:
    from .session import get_spark
    from .streaming import stream_quality_gate

    spark = get_spark("pdf_extractor_spark.quality_gate", master=args.master)
    bits = None
    if args.bloom_sf_dir:
        from .analytics.curation import bloom_bench_bits

        bits = bloom_bench_bits(spark, args.bloom_sf_dir)
    stream_quality_gate(
        spark, args.input, args.output, args.checkpoint, bench_bits=bits
    )
    n = spark.read.parquet(args.output).count()
    print(f"quality-gate: {n} docs routed -> {args.output}")
    return 0


def _cmd_graph(args) -> int:
    """Relationship CRUD + agent-decision verbs over the keyed edge
    store — the reference's ``graph`` typer sub-app
    (cli_extensions.py:30-242 add/list/delete/evaluate-need/suggest/
    query), spark-submit shape. One deliberate divergence: ``delete``
    addresses the edge by (from, to) pair — the store's natural key —
    instead of an opaque edge ``_key`` (ours is derived from the pair,
    operators/relationships.py _edge_key)."""
    from pyspark.sql import functions as F

    from .session import get_spark

    spark = get_spark("pdf_extractor_spark.graph", master=args.master)

    if args.graph_cmd == "add":
        from .operators.relationships import add_relationships

        edges = spark.createDataFrame(
            [(args.from_key, args.to_key, args.type, args.rationale,
              args.confidence)],
            "from_id string, to_id string, rel_type string, "
            "rationale string, confidence_score int",
        )
        try:
            add_relationships(spark, args.store, edges, strategic=args.strategic)
        except ValueError as e:
            print(f"Error: {e}")
            return 1
        print("Relationship created successfully")
        return 0

    if args.graph_cmd == "list":
        import json as _json

        from .operators.relationships import get_relationships, relationships_of

        try:
            full = get_relationships(spark, args.store)
        except FileNotFoundError:
            # store exists but every bucket is empty (all edges deleted)
            # or was never initialized — same render as "no edges"
            print(f"Relationships for document {args.doc_key} (0 found):")
            print("  No relationships found")
            return 0
        edges = full.select(
            F.col("from_id").alias("_from"),
            F.col("to_id").alias("_to"),
            F.col("rel_type").alias("type"),
            "rationale",
            "confidence_score",
        )
        rels = relationships_of(
            edges, args.doc_key, direction=args.direction
        ).orderBy("_from", "_to").collect()
        if args.format == "json":
            print(_json.dumps([r.asDict() for r in rels], indent=2))
            return 0
        # cli_extensions.py:130-142 table rendering
        print(f"Relationships for document {args.doc_key} ({len(rels)} found):")
        if not rels:
            print("  No relationships found")
            return 0
        for i, rel in enumerate(rels, 1):
            print(
                f"  {i}. {rel['_from']} --[{rel['type']} "
                f"({rel['confidence_score']})]-> {rel['_to']}"
            )
            print(f"     Rationale: {(rel['rationale'] or '')[:50]}...")
        return 0

    if args.graph_cmd == "delete":
        from .operators.relationships import delete_relationships

        pairs = spark.createDataFrame(
            [(args.from_key, args.to_key)], "from_id string, to_id string"
        )
        delete_relationships(spark, args.store, pairs)
        print(
            f"Relationship {args.from_key}->{args.to_key} deleted successfully"
        )
        return 0

    if args.graph_cmd == "evaluate-need":
        from .analytics.solve import relationship_need_score

        row = relationship_need_score(spark, args.sf_dir).first()
        # cli_extensions.py:180-183 rendering (our score is 0..1)
        print(f"Relationship need score: {row['need_score']}")
        print(f"Search results count: {row['n_results']}")
        return 0

    if args.graph_cmd == "suggest":
        from .analytics.solve import relationship_candidates

        rows = relationship_candidates(spark, args.sf_dir).collect()
        print(f"Found {len(rows)} potential relationships:")
        for i, s in enumerate(rows[: args.limit], 1):
            print(
                f"  {i}. {s['from_doc_id']} --[{s['suggested_type']} "
                f"({s['score']:.2f})]-> {s['to_doc_id']}"
            )
        return 0

    if args.graph_cmd == "query":
        from .analytics.solve import solve_query_escalation

        rows = solve_query_escalation(
            spark, args.sf_dir, use_relationships=not args.no_relationships
        ).collect()
        print(f"Query results (count: {len(rows)}):")
        for i, r in enumerate(rows, 1):
            d = r.asDict()
            if d.get("strategy") == "graph_traversal":
                print(
                    f"  {i}. {d['doc_id']} (via {d.get('rel_type')} "
                    f"from {d.get('seed_doc_id')})"
                )
            else:
                print(f"  {i}. {d['doc_id']} ({d.get('strategy')})")
        return 0

    raise AssertionError(f"unknown graph cmd {args.graph_cmd}")


def _cmd_lessons(args) -> int:
    """Lessons-learned CRUD — the reference's lessons typer CLI
    (``arangodb/lessons_cli.py:164-419`` add/get/list/update/delete)
    over the keyed lessons store (operators/lessons.py). Interactive
    divergences, disclosed: the ``update --add-lesson-item`` prompt
    loop becomes five ``--item-*`` flags, and ``delete``'s typer
    confirm becomes ``--yes`` (without it the command prints the
    reference's 'Deletion cancelled.' and exits 0)."""
    import json as _json

    from .operators.lessons import (
        add_lesson,
        delete_lesson,
        get_lesson,
        list_lessons,
        update_lesson,
    )
    from .session import get_spark

    spark = get_spark("pdf_extractor_spark.lessons", master=args.master)

    def _fmt(data) -> None:
        print(_json.dumps(data, indent=2 if args.pretty else None))

    if args.lessons_cmd == "add":
        data = {
            "problem": args.problem,
            "solution": args.solution,
            "project": args.project,
            "module": args.module,
            "tags": [t.strip() for t in args.tags.split(",")] if args.tags else [],
            "author": args.author,
            "lessons": [],
        }
        if args.key:
            data["_key"] = args.key
        if args.date:
            data["created_date"] = args.date
        try:
            result = add_lesson(spark, args.store, data)
        except ValueError as e:
            print(f"Error: Invalid lesson data: {e}")
            return 1
        print(f"Successfully added lesson with key: {result['_key']}")
        _fmt(result)
        return 0

    if args.lessons_cmd == "get":
        lesson = get_lesson(spark, args.store, args.key)
        if lesson is None:
            print(f"Error: Lesson not found with key: {args.key}")
            return 1
        _fmt(lesson)
        return 0

    if args.lessons_cmd == "list":
        tags = (
            [t.strip() for t in args.tags.split(",")] if args.tags else None
        )
        lessons = list_lessons(
            spark, args.store, tags=tags, project=args.project,
            limit=args.limit,
        )
        if not lessons:
            if tags or args.project:
                print("No lessons found matching the filter criteria.")
            else:
                print("No lessons found in the database.")
            return 0
        _fmt(lessons)
        return 0

    if args.lessons_cmd == "update":
        updates = {}
        if args.problem:
            updates["problem"] = args.problem
        if args.solution:
            updates["solution"] = args.solution
        if args.tags:
            updates["tags"] = [t.strip() for t in args.tags.split(",")]
        item_vals = [
            args.item_category, args.item_title, args.item_description,
            args.item_details, args.item_benefit,
        ]
        new_item = None
        if any(item_vals):
            new_item = {
                "category": args.item_category,
                "title": args.item_title,
                "description": args.item_description,
                "details": args.item_details,
                "benefit": args.item_benefit,
            }
        if not updates and new_item is None:
            print("No updates provided. Use --help to see available options.")
            return 0
        try:
            result = update_lesson(
                spark, args.store, args.key, updates, new_item=new_item
            )
        except ValueError as e:
            print(f"Error: Invalid lesson item: {e}")
            return 1
        if result is None:
            print(f"Error: Lesson not found with key: {args.key}")
            return 1
        print(f"Successfully updated lesson: {args.key}")
        _fmt(result)
        return 0

    if args.lessons_cmd == "delete":
        if not args.yes:
            print("Deletion cancelled.")
            return 0
        if delete_lesson(spark, args.store, args.key):
            print(f"Successfully deleted lesson: {args.key}")
            return 0
        print(f"Error: Lesson not found with key: {args.key}")
        return 1

    raise AssertionError(f"unknown lessons cmd {args.lessons_cmd}")


def _cmd_messages(args) -> int:
    """Message-history maintenance — the reference's
    ``message-history delete-conversation`` (cli_extensions.py:300-340
    → crud.py:474-515 delete_conversation: remove every message of one
    conversation). Here the conversation lives in a keyed store and
    the bulk removal is ONE predicate-driven DELETE WHERE commit
    instead of the reference's per-key loop; deleting a conversation
    with no messages succeeds (reference returns True on empty)."""
    from pyspark.sql import functions as F

    from .lineage import delete_where, read_output
    from .session import get_spark

    spark = get_spark("pdf_extractor_spark.messages", master=args.master)
    if args.messages_cmd == "delete-conversation":
        cond = F.col("conversation_id") == args.conversation_id
        n_before = read_output(spark, args.store).filter(cond).count()
        if n_before:
            delete_where(spark, args.store, cond)
        print(
            f"Conversation {args.conversation_id} deleted "
            f"({n_before} messages)"
        )
        return 0
    raise AssertionError(f"unknown messages cmd {args.messages_cmd}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pdf_extractor_spark")
    p.add_argument("--master", default=None, help="spark master override")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("convert", help="extract a directory of documents")
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--format", choices=["md", "pdf"], default="md")
    c.add_argument("--glob", default=None)
    c.add_argument("--json-dir", default=None)
    c.add_argument("--merge-strategy", default="default")
    c.set_defaults(fn=_cmd_convert)

    s = sub.add_parser("search", help="unified search over an SF dir")
    s.add_argument("--sf-dir", required=True)
    s.add_argument(
        "--type",
        default="hybrid",
        help="bm25|bm25_stemmed|semantic|hybrid|tag (unknown → hybrid)",
    )
    s.add_argument("--query", default=None)
    s.add_argument("--top-n", type=int, default=10)
    s.set_defaults(fn=_cmd_search)

    g = sub.add_parser("quality-gate", help="streaming ingestion gate")
    g.add_argument("--input", required=True)
    g.add_argument("--output", required=True)
    g.add_argument("--checkpoint", required=True)
    g.add_argument(
        "--bloom-sf-dir",
        default=None,
        help="SF dir whose benchmark slice builds the decon bitset",
    )
    g.set_defaults(fn=_cmd_quality_gate)

    gr = sub.add_parser("graph", help="relationship CRUD + agent decisions")
    gsub = gr.add_subparsers(dest="graph_cmd", required=True)

    ga = gsub.add_parser("add", help="add a relationship edge")
    ga.add_argument("from_key")
    ga.add_argument("to_key")
    ga.add_argument("--store", required=True, help="edge store dir")
    ga.add_argument("--type", "-t", default="SIMILAR")
    ga.add_argument("--rationale", "-r", default="")
    ga.add_argument("--confidence", "-c", type=int, default=3)
    ga.add_argument("--strategic", action="store_true",
                    help="apply the agent path's stricter rationale bar")
    ga.set_defaults(fn=_cmd_graph)

    gl = gsub.add_parser("list", help="list relationships for a document")
    gl.add_argument("doc_key")
    gl.add_argument("--store", required=True)
    gl.add_argument("--direction", "-d", default="ANY",
                    help="INBOUND, OUTBOUND, ANY")
    gl.add_argument("--format", "-f", default="table",
                    help="table or json")
    gl.set_defaults(fn=_cmd_graph)

    gd = gsub.add_parser("delete", help="delete a relationship edge")
    gd.add_argument("from_key")
    gd.add_argument("to_key")
    gd.add_argument("--store", required=True)
    gd.set_defaults(fn=_cmd_graph)

    ge = gsub.add_parser("evaluate-need",
                         help="relationship-need score for the solve query")
    ge.add_argument("--sf-dir", required=True)
    ge.set_defaults(fn=_cmd_graph)

    gs = gsub.add_parser("suggest", help="suggest potential relationships")
    gs.add_argument("--sf-dir", required=True)
    gs.add_argument("--limit", "-n", type=int, default=5)
    gs.set_defaults(fn=_cmd_graph)

    gq = gsub.add_parser("query", help="relationship-aware escalation query")
    gq.add_argument("--sf-dir", required=True)
    gq.add_argument("--no-relationships", action="store_true")
    gq.set_defaults(fn=_cmd_graph)

    ls = sub.add_parser("lessons", help="lessons-learned CRUD")
    lsub = ls.add_subparsers(dest="lessons_cmd", required=True)

    la = lsub.add_parser("add", help="add a lesson learned")
    la.add_argument("--store", required=True, help="lessons store dir")
    la.add_argument("--problem", required=True)
    la.add_argument("--solution", required=True)
    la.add_argument("--project", required=True)
    la.add_argument("--module", required=True)
    la.add_argument("--tags", default="", help="comma-separated tags")
    # default carried from the reference CLI (lessons_cli.py:171)
    la.add_argument("--author", default="Claude")
    la.add_argument("--key", default=None, help="custom key (optional)")
    la.add_argument("--date", default=None,
                    help="created_date override (YYYY-MM-DD)")
    la.add_argument("--pretty", action=argparse.BooleanOptionalAction, default=True)
    la.set_defaults(fn=_cmd_lessons)

    lg = lsub.add_parser("get", help="retrieve a lesson by key")
    lg.add_argument("key")
    lg.add_argument("--store", required=True)
    lg.add_argument("--pretty", action=argparse.BooleanOptionalAction, default=True)
    lg.set_defaults(fn=_cmd_lessons)

    ll = lsub.add_parser("list", help="list lessons with filters")
    ll.add_argument("--store", required=True)
    ll.add_argument("--tags", default=None, help="comma-separated filter")
    ll.add_argument("--project", default=None)
    ll.add_argument("--limit", type=int, default=20)
    ll.add_argument("--pretty", action=argparse.BooleanOptionalAction, default=True)
    ll.set_defaults(fn=_cmd_lessons)

    lu = lsub.add_parser("update", help="update a lesson")
    lu.add_argument("key")
    lu.add_argument("--store", required=True)
    lu.add_argument("--problem", default=None)
    lu.add_argument("--solution", default=None)
    lu.add_argument("--tags", default=None)
    lu.add_argument("--item-category", default=None)
    lu.add_argument("--item-title", default=None)
    lu.add_argument("--item-description", default=None)
    lu.add_argument("--item-details", default=None)
    lu.add_argument("--item-benefit", default=None)
    lu.add_argument("--pretty", action=argparse.BooleanOptionalAction, default=True)
    lu.set_defaults(fn=_cmd_lessons)

    ld = lsub.add_parser("delete", help="delete a lesson")
    ld.add_argument("key")
    ld.add_argument("--store", required=True)
    ld.add_argument("--yes", action="store_true",
                    help="confirm deletion (typer-confirm stand-in)")
    ld.set_defaults(fn=_cmd_lessons)

    ms = sub.add_parser("messages", help="message-history maintenance")
    msub = ms.add_subparsers(dest="messages_cmd", required=True)
    md = msub.add_parser("delete-conversation",
                         help="remove every message of one conversation")
    md.add_argument("conversation_id")
    md.add_argument("--store", required=True, help="message store dir")
    md.set_defaults(fn=_cmd_messages)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
