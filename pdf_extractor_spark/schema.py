"""Typed schemas for the engine (SURVEY.md §1.4 mapping table).

The reference's dynamic dict-of-dicts document model
(type_definitions.py:37-60, ensure_required_fields at
context7/pdf_to_json_converter.py:169-188) becomes fixed Spark
StructTypes with nullable metadata fields.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# north-rule input shape (BASELINE.json input_hint)
SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

# extracted output span: equality tuple (kind, text, media_ref, offset)
# + metadata (FIXTURES.md §2; reference element dict fields at
# markdown_extractor.py:289-304,415-430,495-513,539-557)
OUT_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("page", IntegerType()),
        StructField("level", IntegerType()),
        StructField("token_count", IntegerType()),
        StructField("section_path", ArrayType(StringType())),
        StructField("section_id", StringType()),
        StructField("table_headers", ArrayType(StringType())),
        StructField("table_rows", ArrayType(ArrayType(StringType()))),
        StructField("is_multi_page", BooleanType()),
        StructField("page_range", StringType()),
        # code_metadata (tree-sitter stand-in): language + function
        # signatures for code elements, null otherwise
        # (markdown_extractor.py:627-636; codemeta.py)
        StructField("code_language", StringType()),
        StructField(
            "code_functions",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType()),
                        StructField("params", ArrayType(StringType())),
                    ]
                )
            ),
        ),
    ]
)

# element columns shared by the nested struct and the flat row schema
ELEMENT_COLUMNS = tuple(f.name for f in OUT_SPAN_STRUCT.fields)

# flat one-row-per-element schema (performance path: no nested array
# construction; doc_id + the element fields inline)
FLAT_SCHEMA = StructType(
    [StructField("doc_id", StringType(), False), *OUT_SPAN_STRUCT.fields]
)

# The lineage manifest is a JSON file keyed by bucket id, written by
# lineage._commit_lineage — entries carry status/row_count/bytes/
# wall_ms/run_id plus version/path after a MERGE rewrite. There is
# deliberately NO DataFrame schema for it here: an earlier
# LINEAGE_SCHEMA struct drifted from the real manifest shape and was
# removed (the manifest is the single source of truth).
