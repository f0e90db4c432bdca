"""Fused synthesis+extraction (R5 flagship increment) — byte-identical
to the unfused two-stage pipeline on every column, megas included."""

SF = "/root/testdata/sf0.001"


def _rows(df):
    import json

    cols = sorted(df.columns)

    def canon(v):
        if isinstance(v, (list, tuple)):
            return [canon(x) for x in v]
        if hasattr(v, "asDict"):
            return {k: canon(x) for k, x in v.asDict().items()}
        return v

    return sorted(
        json.dumps([canon(r.asDict()[c]) for c in cols]) for r in df.collect()
    )


def test_fused_equals_unfused_full_rows(spark):
    from pdf_extractor_spark.analytics.extraction_queries import (
        fused_extracted_flat,
        spans_corpus_from_documents,
    )
    from pdf_extractor_spark.operators.extract import extract_elements

    fused = fused_extracted_flat(spark, SF)
    unfused = extract_elements(spans_corpus_from_documents(spark, SF))
    a, b = _rows(fused), _rows(unfused)
    assert len(a) == len(b) > 0
    assert a == b


def test_fused_covers_mega_id_slice(spark):
    """The mega-id docs extract inline in the fused pass like every
    other doc: the fused output covers them."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.analytics.extraction_queries import (
        fused_extracted_flat,
    )

    flat = fused_extracted_flat(spark, SF)
    mega_ids = {
        r["doc_id"]
        for r in flat.select("doc_id")
        .where(F.regexp_replace("doc_id", "doc-", "").cast("long") % 50 == 49)
        .distinct()
        .collect()
    }
    assert len(mega_ids) > 0  # sf0.001 has 500 docs → 10 mega ids
