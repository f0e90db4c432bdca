"""Lessons-learned collection on the keyed store.

Re-expresses the reference's lessons CRUD
(``arangodb/lessons_crud.py:46-113`` add, ``:116-166`` get,
``:169-230`` update, ``:233-283`` delete) and the list query of its
CLI (``arangodb/lessons_cli.py:238-297``: tag-intersection + project
filters, created_date DESC sort, LIMIT) over the ``lineage.py`` keyed
store — the same collection-on-a-store shape as
``operators/relationships.py``.

Mapping:

* ArangoDB ``_key``                → store ``doc_id`` (string key),
  ``offset = 0`` (the MERGE key pair);
* ``lesson_<uuid4[:8]>`` auto-key  → ``lesson_<md5(fields)[:8]>``
  (disclosed deterministic stand-in — uuid4 is unreproducible by
  design; shape preserved, but two lessons with identical
  problem/solution/project/module now share a key);
* document insert                  → one copy-on-write MERGE commit
  (init_store on first write), so snapshots / time travel / vacuum
  work on the lessons collection for free; an insert on an existing
  key raises ValueError (the reference's duplicate-_key error)
  instead of overwriting;
* ``collection.get``               → :func:`lineage.point_lookup`
  (bucket pruning + clustered row-group skipping);
* AQL list query                   → one filtered scan; the
  reference's ``SORT created_date DESC`` alone is unstable under
  ties, so ``doc_id ASC`` breaks them deterministically (same policy
  as the constant-sort traversal quirk, docs/PARITY.md);
* the OpenAI embedding call        → the validated ``embed_text``
  assembly only (analytics.search_api.lesson_add_validate grades the
  identical string quirks: present-but-None → 'None', present-but-
  empty keeps its '' → double space).

Required-field validation mirrors the reference exactly: [problem,
solution] checked IN ORDER, first failure raises ValueError with the
reference's message. Lesson items (update --add-lesson-item) carry
the LessonItem fields (category/title/description/details/benefit),
all required non-empty; items are stored JSON-encoded in the
``lessons`` array column.
"""

from __future__ import annotations

import hashlib
import json
from datetime import date
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lineage import (
    delete_elements,
    init_store,
    point_lookup,
    read_lineage,
    read_output,
    upsert_elements,
)

REQUIRED_FIELDS = ("problem", "solution")
EMBED_FIELDS = ("problem", "solution", "context", "example")
ITEM_FIELDS = ("category", "title", "description", "details", "benefit")

_LESSON_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("problem", T.StringType()),
        T.StructField("solution", T.StringType()),
        T.StructField("project", T.StringType()),
        T.StructField("module", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("author", T.StringType()),
        T.StructField("lessons", T.ArrayType(T.StringType())),
        T.StructField("created_date", T.StringType()),
        T.StructField("embed_text", T.StringType()),
    ]
)

_PUBLIC_COLS = [f.name for f in _LESSON_SCHEMA.fields if f.name != "offset"]


def _auto_key(data: Dict[str, Any]) -> str:
    basis = "|".join(
        str(data.get(f, "")) for f in ("problem", "solution", "project", "module")
    )
    return "lesson_" + hashlib.md5(basis.encode()).hexdigest()[:8]


def _embed_text(data: Dict[str, Any]) -> str:
    # the reference's join quirks verbatim (lessons_crud.py:90-96):
    # present-but-None contributes 'None', present-but-'' keeps its
    # empty slot (double space in the join)
    return " ".join(
        str(data.get(f, "")) for f in EMBED_FIELDS if f in data
    )


def _validate(data: Dict[str, Any]) -> None:
    for field in REQUIRED_FIELDS:
        if field not in data or not data[field]:
            raise ValueError(
                f"Required field '{field}' is missing or empty in lesson data"
            )


def validate_lesson_item(item: Dict[str, Any]) -> None:
    for field in ITEM_FIELDS:
        if not item.get(field):
            raise ValueError(
                f"Required field '{field}' is missing or empty in lesson item"
            )


def _row(data: Dict[str, Any]) -> tuple:
    return (
        data["_key"],
        0,
        data.get("problem"),
        data.get("solution"),
        data.get("project"),
        data.get("module"),
        list(data.get("tags") or []),
        data.get("author"),
        list(data.get("lessons") or []),
        data.get("created_date"),
        data.get("embed_text"),
    )


def _store_exists(store_dir: str) -> bool:
    return bool(read_lineage(store_dir))


def _commit(spark: SparkSession, store_dir: str, data: Dict[str, Any]) -> None:
    df = spark.createDataFrame([_row(data)], _LESSON_SCHEMA)
    if _store_exists(store_dir):
        upsert_elements(spark, store_dir, df)
    else:
        init_store(spark, store_dir, df)


def _to_dict(row) -> Dict[str, Any]:
    d = row.asDict()
    d["_key"] = d.pop("doc_id")
    d.pop("offset", None)
    d.pop("bucket", None)
    return d


def add_lesson(
    spark: SparkSession, store_dir: str, data: Dict[str, Any]
) -> Dict[str, Any]:
    """Insert one lesson; returns the committed document (with _key).
    ValueError on missing required fields, first failure wins —
    lessons_crud.py:68-72 semantics and message. ValueError too when
    the key is already taken (a custom key, or the content-derived auto
    key of an identical lesson): the reference's insert raises on a
    duplicate _key, so an add never overwrites — only
    :func:`update_lesson` changes a stored lesson."""
    _validate(data)
    data = dict(data)
    if "_key" not in data:
        data["_key"] = _auto_key(data)
    if get_lesson(spark, store_dir, data["_key"]) is not None:
        raise ValueError(f"Lesson with key '{data['_key']}' already exists")
    if "created_date" not in data:
        data["created_date"] = date.today().strftime("%Y-%m-%d")
    data["embed_text"] = _embed_text(data)
    _commit(spark, store_dir, data)
    return get_lesson(spark, store_dir, data["_key"])


def get_lesson(
    spark: SparkSession, store_dir: str, key: str
) -> Optional[Dict[str, Any]]:
    """Point read by key — collection.get analog; None when absent."""
    if not _store_exists(store_dir):
        return None
    try:
        rows = point_lookup(spark, store_dir, [key]).collect()
    except FileNotFoundError:
        # store committed but every bucket empty (all lessons deleted)
        return None
    return _to_dict(rows[0]) if rows else None


def list_lessons(
    spark: SparkSession,
    store_dir: str,
    tags: Optional[List[str]] = None,
    project: Optional[str] = None,
    limit: int = 20,
) -> List[Dict[str, Any]]:
    """The CLI list query (lessons_cli.py:256-277): optional
    tag-intersection and project filters, created_date DESC (doc_id
    tiebreak), LIMIT."""
    if not _store_exists(store_dir):
        return []
    try:
        df: DataFrame = read_output(spark, store_dir)
    except FileNotFoundError:
        return []
    if tags:
        df = df.filter(
            F.size(
                F.array_intersect(
                    F.col("tags"), F.array(*[F.lit(t) for t in tags])
                )
            )
            > 0
        )
    if project:
        df = df.filter(F.col("project") == project)
    rows = (
        df.orderBy(F.desc("created_date"), F.asc("doc_id"))
        .limit(limit)
        .collect()
    )
    return [_to_dict(r) for r in rows]


def update_lesson(
    spark: SparkSession,
    store_dir: str,
    key: str,
    updates: Dict[str, Any],
    new_item: Optional[Dict[str, Any]] = None,
) -> Optional[Dict[str, Any]]:
    """Read-modify-MERGE update; returns the updated document, or None
    when the key is absent (the CLI renders that as its error path).
    A new lesson item is validated first (all ITEM_FIELDS non-empty)
    and appended to the ``lessons`` array JSON-encoded."""
    existing = get_lesson(spark, store_dir, key)
    if existing is None:
        return None
    if new_item is not None:
        validate_lesson_item(new_item)
    merged = dict(existing)
    merged.update(
        {k: v for k, v in updates.items() if k in _PUBLIC_COLS and k != "_key"}
    )
    if new_item is not None:
        merged["lessons"] = list(merged.get("lessons") or []) + [
            json.dumps(new_item, sort_keys=True)
        ]
    merged["_key"] = key
    merged["embed_text"] = _embed_text(merged)
    _commit(spark, store_dir, merged)
    return get_lesson(spark, store_dir, key)


def delete_lesson(spark: SparkSession, store_dir: str, key: str) -> bool:
    """Keyed delete; False when the key is absent (the reference
    checks existence first — lessons_cli.py:390-394)."""
    if get_lesson(spark, store_dir, key) is None:
        return False
    keys = spark.createDataFrame(
        [(key, 0)],
        T.StructType(
            [
                T.StructField("doc_id", T.StringType()),
                T.StructField("offset", T.IntegerType()),
            ]
        ),
    )
    delete_elements(spark, store_dir, keys)
    return True
