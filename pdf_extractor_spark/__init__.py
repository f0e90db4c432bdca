"""pdf_extractor_spark — a PySpark-native main-content extraction engine.

Brand-new engine (NOT a port) with the query and data-processing
capabilities of the reference repo ``grahama1970/pdf_extractor``:

* ordered (kind, text, media_ref, offset) span extraction per document
  over tables of interleaved text + media spans, executed as Arrow-
  vectorized pandas UDFs (zero per-row Python);
* multi-page table detection and merging, IoU spatial validation joins;
* query layer: tag / keyword / fuzzy search, reciprocal-rank fusion;
* training-data pipeline ops: exact + MinHash-LSH + SimHash dedup,
  embedding ANN, language id, quality scoring, fingerprinting;
* per-partition lineage / checkpoint tables for idempotent resume.

Reference behaviors are cited in docstrings as ``path:line`` into the
(read-only) reference checkout; all code here is written from scratch
against the public PySpark API.
"""

import sys as _sys

__version__ = "0.1.0"

# Inside a Python worker, Spark has loaded pyspark.core.files and set
# this flag before any UDF (and so this package) is unpickled.
if (
    "pyspark.core.files" in _sys.modules
    and _sys.modules["pyspark.core.files"].SparkFiles._is_running_on_worker
):
    from .gcfreeze import freeze_after_first_collect
    from .zipgate import gate_zip_invalidation

    gate_zip_invalidation()
    freeze_after_first_collect()
