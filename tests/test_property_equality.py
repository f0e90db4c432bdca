"""Property-based pipeline↔oracle equality over randomized span docs."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.docmodel import extract_document
from pdf_extractor_spark.operators.extract import extract_elements
from pdf_extractor_spark.schema import DOCS_SCHEMA

TEXT_POOL = [
    "# Heading",
    "## 4.1.5.4. Numbered deep",
    "### Deep três – ünïcode",
    "plain sentence one.",
    "another line",
    "",
    "   ",
    "| A | B |",
    "|---|---|",
    "| 1 | 2 |",
    "| 1 | 2 | 3 |",
    "![alt](pic.png)",
    "<!-- page: 3 -->",
    "<div>html &amp; stuff</div>",
    "def f():\n    return 1",
    "control\x00char\x07s",
    "col | pipe but not table",
]

span_st = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(
            ["heading", "text", "table_row", "image", "code", "html",
             "page_marker", "mystery"]
        ),
        "text": st.one_of(st.sampled_from(TEXT_POOL), st.none()),
        "media_ref": st.one_of(st.none(), st.just("s3://m/x.png")),
    }
)


@st.composite
def doc_st(draw):
    spans = draw(st.lists(span_st, min_size=0, max_size=25))
    # shuffled offsets: the pipeline must re-establish document order
    order = draw(st.permutations(list(range(len(spans)))))
    return [
        {**s, "offset": order[i]} for i, s in enumerate(spans)
    ]


def tuples(els):
    return [(e["kind"], e["text"], e["media_ref"], e["offset"]) for e in els]


@settings(max_examples=80, deadline=None)
@given(doc_st())
def test_oracle_invariants(spans):
    els = extract_document(spans)
    # output offsets are contiguous document order
    assert [e["offset"] for e in els] == list(range(len(els)))
    # deterministic
    assert tuples(extract_document(spans)) == tuples(els)
    # only output kinds appear
    assert {e["kind"] for e in els} <= {"heading", "text", "table", "image", "code"}
    # every element carries a fingerprint over its exact text
    import hashlib

    for e in els:
        assert e["section_id"] == hashlib.md5(e["text"].encode()).hexdigest()


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_st(), min_size=1, max_size=6))
def test_spark_pipeline_matches_oracle(spark, docs):
    rows = [
        {"doc_id": f"p-{i}", "spans": spans} for i, spans in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    got: dict = {}
    for r in extract_elements(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["kind"], r["text"], r["media_ref"], r["offset"])
        )
    for row in rows:
        expect = tuples(extract_document(row["spans"]))
        actual = sorted(got.get(row["doc_id"], []), key=lambda t: t[3])
        assert actual == expect, row["doc_id"]
