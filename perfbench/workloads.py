"""The workloads. Each calls the package's public functions only.

A workload object is built on a live session and exposes:

* ``stage()``      — make this run's inputs in a fresh directory (set-up;
                     repeated, the median counts in ``setup_s``);
* ``warmup``       — fixed count of untimed ops run before timing;
* ``op(i)``        — one op; returns its item count. The wall and CPU
                     of this call are what the metrics report;
* ``check(i)``     — untimed correctness check of op ``i``; False on
                     mismatch;
* ``probe_docs()`` and ``probe_text_dir()`` — this workload's docs as
                     a (doc_id, spans) parquet dir and as markdown files,
                     the inputs of the traced run's layer probes.

:meth:`Workload.layers` measures every layer on the workload's own
inputs, so a layer that the timed op does not call still reads a
measured value there (its prediction is "no change").
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

from harness import (
    Digest,
    SqlStatus,
    median,
    oracle_rows,
    plan_counts,
    spark_digest,
)


# docs with at least this many spans take the skew path in extract_flat
MEGA_THRESHOLD = 2000


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class _Kernel:
    """In-process oracle: ``docmodel.extract_document_cols`` with its
    own thread CPU time accumulated (docmodel.kernel_* metrics)."""

    def __init__(self) -> None:
        from pdf_extractor_spark.docmodel import extract_document_cols

        self._fn = extract_document_cols
        self.cpu_s = 0.0
        self.docs = 0

    def __call__(self, *args):
        t0 = time.thread_time()
        out = self._fn(*args)
        self.cpu_s += time.thread_time() - t0
        self.docs += 1
        return out

    def us_per_doc(self) -> float:
        return 1e6 * self.cpu_s / self.docs if self.docs else 0.0


class Workload:
    warmup = 0
    item = "item"

    def __init__(self, spark, work: str, seed: int, tracer, nproc: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.nproc = tracer, nproc
        self.kernel = _Kernel()
        self.status = SqlStatus(spark)
        self.op_execs: dict[int, list[dict]] = {}
        self.probe_checks: list[bool] = []  # correctness of traced probes

    def _stage_dir(self, name: str) -> str:
        return _fresh(os.path.join(self.work, name))

    def layers(self, op_cpu: float, docs_per_op: float) -> dict:
        """Per-layer metrics of a traced run (``op_cpu``: median op CPU)."""
        from pyspark.sql import functions as F

        from pdf_extractor_spark.operators.extract import (
            extract_elements,
            extract_spans,
            extracted_flat,
        )
        from pdf_extractor_spark.sources import read_text_docs

        spark = self.spark
        docs = spark.read.parquet(self.probe_docs())
        text_dir = self.probe_text_dir()
        flat_path = os.path.join(self.work, "flat_probe")
        extracted_flat(extract_spans(docs)).write.mode("overwrite").parquet(flat_path)
        n = F.size("spans")

        def flat(part):
            return extract_elements(part, mega_span_threshold=MEGA_THRESHOLD)

        probes = {
            "extract.small_s": lambda: spark_digest(flat(docs.filter(n < MEGA_THRESHOLD))),
            "extract.mega_s": lambda: spark_digest(flat(docs.filter(n >= MEGA_THRESHOLD))),
            "sources.read_s": lambda: _noop(read_text_docs(spark, text_dir)),
            "convert.extract_s": lambda: _noop(extracted_flat(extract_spans(docs))),
            "convert.write_s": lambda: spark.read.parquet(flat_path).write.mode(
                "overwrite").parquet(os.path.join(self.work, "write_probe")),
        }
        out = {}
        for name, fn in probes.items():
            t0 = time.perf_counter()
            with self.tracer.span(name[:-2]):
                fn()
            out[name] = time.perf_counter() - t0
        counts = [plan_counts(ex) for ex in self.op_execs.values()]
        for name, key in (("extract.arrow_bytes_in", "arrow_bytes_in"),
                          ("extract.arrow_bytes_out", "arrow_bytes_out"),
                          ("extract.shuffle_bytes", "shuffle_bytes"),
                          ("extract.python_nodes", "python_nodes"),
                          ("sources.file_scans", "binary_file_scans"),
                          ("convert.udf_evals", "arrow_eval_nodes")):
            out[name] = median([c[key] for c in counts])
        out.update(StoreProbe(self).run())
        self._oracle()
        kernel_s = self.kernel.us_per_doc() * 1e-6 * docs_per_op
        out["docmodel.kernel_us_per_doc"] = self.kernel.us_per_doc()
        out["docmodel.kernel_share"] = kernel_s / op_cpu if op_cpu else 0.0
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _corpus_oracle(lo: int, hi: int, every: int, factor: int) -> tuple:
    """Oracle digest of generated docs [lo, hi) plus the kernel's CPU
    seconds (run by :meth:`ExtractFlat._oracle` in a worker process)."""
    from pdf_extractor_spark.corpus import make_doc_spans

    kernel, d = _Kernel(), Digest()
    for i in range(lo, hi):
        for row in oracle_rows(f"doc-{i:07d}", make_doc_spans(i, every, factor), kernel):
            d.add(row)
    return (*d.as_tuple(), kernel.cpu_s)


# ---------------------------------------------------------------------------
# extract_flat: staged parquet corpus → extract_elements → digest sink
# ---------------------------------------------------------------------------


class ExtractFlat(Workload):
    """The paper's docs/s headline on the flat path, with a mega-doc
    minority that sends about 30% of spans down the skew path."""

    N_DOCS = 8000
    MEGA_EVERY = 200
    MEGA_FACTOR = 100
    warmup = 3
    item = "doc"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.base = 10_000 * (self.seed % 1000)
        self.digests: dict[int, tuple] = {}
        self.n_stages = 0

    def stage(self) -> None:
        from pdf_extractor_spark.corpus import make_doc_spans
        from pdf_extractor_spark.schema import DOCS_SCHEMA

        every, factor = self.MEGA_EVERY, self.MEGA_FACTOR

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                ids = pdf["id"].tolist()
                yield pd.DataFrame({
                    "doc_id": [f"doc-{i:07d}" for i in ids],
                    "spans": [make_doc_spans(i, every, factor) for i in ids],
                })

        self.n_stages += 1
        path = self._stage_dir(f"corpus{self.n_stages}")
        (
            self.spark.range(self.base, self.base + self.N_DOCS, numPartitions=self.nproc)
            .mapInPandas(gen, schema=DOCS_SCHEMA)
            .write.mode("overwrite").parquet(path)
        )
        self.corpus = path

    def _flat(self, docs):
        from pdf_extractor_spark.operators.extract import extract_elements

        return extract_elements(docs, mega_span_threshold=MEGA_THRESHOLD)

    def op(self, i: int):
        t = self.tracer
        if t.enabled:
            before = self.status.last_id()
        with t.span("extract.build"):
            flat = self._flat(self.spark.read.parquet(self.corpus))
        with t.span("extract.run"):
            self.digests[i] = spark_digest(flat)
        if t.enabled:
            self.op_execs[i] = self.status.since(before)
        return self.N_DOCS

    def _oracle(self) -> tuple:
        """Digest the kernel gives for the corpus, computed in nproc
        worker processes over doc-id chunks."""
        if not hasattr(self, "_expected"):
            step = -(-self.N_DOCS // self.nproc)
            code = ("import json, sys; from workloads import _corpus_oracle; "
                    "print(json.dumps(_corpus_oracle(*map(int, sys.argv[1:]))))")
            env = dict(os.environ, PYTHONPATH=os.pathsep.join(sys.path))
            procs = [
                subprocess.Popen(
                    [sys.executable, "-c", code, str(lo),
                     str(min(lo + step, self.base + self.N_DOCS)),
                     str(self.MEGA_EVERY), str(self.MEGA_FACTOR)],
                    stdout=subprocess.PIPE, env=env)
                for lo in range(self.base, self.base + self.N_DOCS, step)
            ]
            parts = []
            for p in procs:
                out, _ = p.communicate()
                if p.returncode != 0:
                    raise RuntimeError(f"oracle worker exited {p.returncode}")
                parts.append(json.loads(out))
            self._expected = tuple(sum(p[k] for p in parts) for k in range(3))
            self.kernel.cpu_s += sum(p[3] for p in parts)
            self.kernel.docs += self.N_DOCS
        return self._expected

    def check(self, i: int) -> bool:
        return self.digests.get(i) == self._oracle()

    def probe_docs(self) -> str:
        return self.corpus

    def probe_text_dir(self) -> str:
        """The first 256 corpus docs as markdown files."""
        from pdf_extractor_spark.corpus import make_doc_spans

        path = self._stage_dir("text_probe")
        for i in range(self.base, self.base + 256):
            with open(os.path.join(path, f"doc-{i:07d}.md"), "w") as f:
                f.write(render_markdown(make_doc_spans(i, self.MEGA_EVERY, self.MEGA_FACTOR)))
        return path


# ---------------------------------------------------------------------------
# convert_files: markdown directory → `python -m pdf_extractor_spark convert`
# ---------------------------------------------------------------------------


def render_markdown(spans: list[dict]) -> str:
    """A generated document as a markdown file: one line per span,
    code spans inside fences."""
    lines = []
    for s in spans:
        if s["kind"] == "code":
            lines.append("```python\n" + s["text"].rstrip("\n") + "\n```")
        else:
            lines.append(s["text"])
    return "\n".join(lines) + "\n"


class ConvertFiles(Workload):
    """The CLI `convert` path: binaryFile scan → decode/classify →
    nested extract UDF → posexplode → parquet, called in-process."""

    N_FILES = 256  # 8 equal scan partitions of 32 files
    warmup = 3
    item = "file"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.base = 10_000 * (self.seed % 1000)
        self.n_stages = 0

    def stage(self) -> None:
        from pdf_extractor_spark.corpus import make_doc_spans

        self.n_stages += 1
        path = self._stage_dir(f"inbox{self.n_stages}")
        for i in range(self.base, self.base + self.N_FILES):
            with open(os.path.join(path, f"doc-{i:07d}.md"), "w") as f:
                f.write(render_markdown(make_doc_spans(i)))
        self.inbox = path

    def _convert(self, out: str) -> None:
        from pdf_extractor_spark.__main__ import main

        # the CLI reports on stdout; keep stdout for the result line
        with contextlib.redirect_stdout(sys.stderr):
            rc = main(["convert", "--input", self.inbox, "--output", out])
        if rc != 0:
            raise RuntimeError(f"convert exited {rc}")

    def op(self, i: int):
        t = self.tracer
        out = os.path.join(self.work, f"out{i}")
        if t.enabled:
            before = self.status.last_id()
        with t.span("convert.main"):
            self._convert(out)
        if t.enabled:
            self.op_execs[i] = self.status.since(before)
        return self.N_FILES

    def check(self, i: int) -> bool:
        out = os.path.join(self.work, f"out{i}")
        got = spark_digest(self.spark.read.parquet(out))
        shutil.rmtree(out, ignore_errors=True)
        return got == self._oracle()

    def _oracle(self) -> tuple:
        if not hasattr(self, "_expected"):
            from pdf_extractor_spark.sources import lines_to_spans

            d = Digest()
            for name in sorted(os.listdir(self.inbox)):
                with open(os.path.join(self.inbox, name), encoding="utf-8") as f:
                    spans = lines_to_spans(f.read())
                for row in oracle_rows(name, spans, self.kernel):
                    d.add(row)
            self._expected = d.as_tuple()
        return self._expected

    def probe_docs(self) -> str:
        """The inbox decoded by ``read_text_docs``, staged to parquet."""
        from pdf_extractor_spark.sources import read_text_docs

        path = os.path.join(self.work, "docs_probe")
        read_text_docs(self.spark, self.inbox).write.mode("overwrite").parquet(path)
        return path

    def probe_text_dir(self) -> str:
        return self.inbox


# ---------------------------------------------------------------------------
# store probe (traced runs): CDC waves into the lineage store
# ---------------------------------------------------------------------------


class StoreProbe:
    """The lineage and streaming layers, measured in every traced run.
    A bucketed store is built with
    ``lineage.run_with_lineage`` (per-bucket commits, as
    ``scripts/run_pipeline.py`` does). Then write waves of changed, new,
    shrunk and twice-delivered docs are drained by
    ``streaming.stream_extract_merge``, and each wave is read back with
    ``lineage.point_lookup`` calls on the keys it touched."""

    N_BASE = 200
    N_BUCKETS = 4
    WAVES = 2
    PER_KIND = 2  # docs per kind in a wave: changed, new, shrunk, twice
    PER_LOOKUP = 2  # keys per point_lookup call

    def __init__(self, wl: "Workload") -> None:
        self.spark, self.tracer, self.kernel = wl.spark, wl.tracer, wl.kernel
        self.checks = wl.probe_checks  # one entry per read-back
        self.root = _fresh(os.path.join(wl.work, "store_probe"))
        self.base = 10_000 * (wl.seed % 1000) + 9000
        self.rng = random.Random(wl.seed)

    def run(self) -> dict:
        from pdf_extractor_spark.corpus import make_doc_spans
        from pdf_extractor_spark.lineage import read_lineage, run_with_lineage
        from pdf_extractor_spark.schema import DOCS_SCHEMA
        from pdf_extractor_spark.streaming import stream_extract_merge

        self.current = {f"doc-{i:07d}": make_doc_spans(i)
                        for i in range(self.base, self.base + self.N_BASE)}
        base = os.path.join(self.root, "base.parquet")
        _write_docs_parquet(base, list(self.current.items()))
        self.store = os.path.join(self.root, "store")
        inbox = _fresh(os.path.join(self.root, "inbox"))
        ckpt = os.path.join(self.root, "ckpt")
        self.next_new = self.base + self.N_BASE
        t0 = time.perf_counter()
        with self.tracer.span("lineage.ingest"):
            run_with_lineage(self.spark, self.spark.read.schema(DOCS_SCHEMA).parquet(base),
                             self.store, n_buckets=self.N_BUCKETS, run_id="base")
        ingest_s = time.perf_counter() - t0
        deltas = []
        for wave in range(self.WAVES):
            touched = self._deliver(inbox, wave)
            before = read_lineage(self.store)
            with self.tracer.span("streaming.wave"):
                stream_extract_merge(self.spark, inbox, self.store, ckpt)
            deltas.append(self._delta(before, read_lineage(self.store), touched))
            self.checks.append(self._read_back(touched))
        merge_s = self._merge_alone(touched)
        return {
            "lineage.ingest_s": ingest_s,
            "streaming.wave_s": median(self.tracer.durations("streaming.wave")),
            "lineage.merge_s": merge_s,
            "lineage.buckets_rewritten": median([x["buckets"] for x in deltas]),
            "lineage.bytes_rewritten": median([x["bytes"] for x in deltas]),
            "lineage.write_amp": median([x["rows"] / x["changed_rows"] for x in deltas]),
            "lineage.lookup_s": median(self.tracer.durations("lineage.lookup")),
        }

    def _deliver(self, inbox: str, wave: int) -> list[str]:
        """Write one wave into the inbox; returns the touched doc ids."""
        from pdf_extractor_spark.corpus import make_doc_spans

        rng, k = self.rng, self.PER_KIND
        existing = rng.sample(sorted(self.current), 3 * k)
        changed, shrunk, twice = existing[:k], existing[k:2 * k], existing[2 * k:]
        new = [f"doc-{n:07d}" for n in range(self.next_new, self.next_new + k)]
        self.next_new += k

        def fresh_content() -> list[dict]:
            return make_doc_spans(rng.randrange(10**8, 2 * 10**8))

        first = [(d, fresh_content()) for d in changed + new]
        first += [(d, self.current[d][: len(self.current[d]) // 2]) for d in shrunk]
        # twice-delivered: an older version here, a newer one in a second file
        first += [(d, fresh_content()) for d in twice]
        newer = [(d, fresh_content()) for d in twice]
        now = time.time()
        for j, docs in enumerate((first, newer)):
            path = os.path.join(inbox, f"wave{wave:05d}_{j}.parquet")
            _write_docs_parquet(path, docs)
            ts = now + 0.05 * j  # the newer file must have the later mtime
            os.utime(path, (ts, ts))
        for d, spans in first + newer:
            self.current[d] = spans
        return changed + new + shrunk + twice

    def _read_back(self, touched: list[str]) -> bool:
        """Point-look-up every touched key; True when the store returns
        exactly the kernel's rows for the latest delivered versions
        (so shrunk docs' stale tails are gone)."""
        from pdf_extractor_spark.lineage import point_lookup

        got = []
        for k in range(0, len(touched), self.PER_LOOKUP):
            with self.tracer.span("lineage.lookup"):
                got += [tuple(r) for r in point_lookup(
                    self.spark, self.store, touched[k:k + self.PER_LOOKUP]
                ).select("doc_id", "offset", "kind", "text", "media_ref").collect()]
        expected = [r for d in touched for r in oracle_rows(d, self.current[d], self.kernel)]
        return sorted(got, key=repr) == sorted(expected, key=repr)

    def _delta(self, before: dict, after: dict, touched: list[str]) -> dict:
        from pdf_extractor_spark.lineage import META_KEY

        changed = [b for b, e in after.items()
                   if b != META_KEY and e.get("version") != before.get(b, {}).get("version")]
        return {
            "buckets": len(changed),
            "bytes": sum(after[b].get("bytes", 0) for b in changed),
            "rows": sum(after[b].get("row_count", 0) for b in changed),
            "changed_rows": sum(
                len(oracle_rows(d, self.current[d], self.kernel)) for d in touched),
        }

    def _merge_alone(self, touched: list[str]) -> float:
        """``merge_elements`` by itself: re-upsert the last wave's rows,
        extracted beforehand (the store content does not change)."""
        from pdf_extractor_spark.lineage import merge_elements
        from pdf_extractor_spark.operators.extract import extract_elements
        from pdf_extractor_spark.schema import DOCS_SCHEMA

        path = os.path.join(self.root, "merge_probe")
        _write_docs_parquet(path + ".parquet", [(d, self.current[d]) for d in touched])
        docs = self.spark.read.schema(DOCS_SCHEMA).parquet(path + ".parquet")
        extract_elements(docs).write.parquet(path)
        ups = self.spark.read.parquet(path)
        t0 = time.perf_counter()
        with self.tracer.span("lineage.merge"):
            merge_elements(self.spark, self.store, updates=ups)
        return time.perf_counter() - t0


def _write_docs_parquet(path: str, docs: list[tuple[str, list[dict]]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.string()),
        "spans": pa.array([s for _, s in docs], pa.list_(span_t)),
    }), path)


WORKLOADS = {
    "extract_flat": ExtractFlat,
    "convert_files": ConvertFiles,
}
