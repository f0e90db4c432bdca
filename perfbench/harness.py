"""Measurement plumbing shared by the workloads.

Nothing here imports pyspark or the package under test, so the
process-tree readers and the tracer can be loaded before the session
starts. Everything reads Linux ``/proc``; the benchmark runs only there.
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import time
from contextlib import contextmanager

_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process tree: CPU, peak RSS, host steal
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after "(comm)"; comm may hold spaces or parentheses
    return s[s.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of ``root`` and every live descendant."""
    children: dict[int, list[tuple[int, list[str]]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            r = _stat_fields(int(d))
            if r is not None:
                children.setdefault(int(r[1]), []).append((int(d), r))
    root = root or os.getpid()
    top = _stat_fields(root)
    if top is None:
        return []
    out, stack = [], [(root, top)]
    while stack:
        pid, r = stack.pop()
        out.append((pid, r))
        stack.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    r = _stat_fields(pid)
    return r is not None and r[0] != "Z"


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree: every live process
    (this Python process, the JVM, the Python daemon and its workers)
    plus the children each of them has reaped (cutime/cstime)."""
    ticks = sum(
        int(r[11]) + int(r[12]) + int(r[13]) + int(r[14])
        for _, r in process_tree(root)
    )
    return ticks / _TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Summed VmHWM (peak resident set) over the live process tree."""
    kb = 0
    for pid, _ in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TCK


class StealMeter:
    """Host CPU steal share between construction and :meth:`pct`."""

    def __init__(self) -> None:
        self._t0 = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)

    def pct(self) -> float:
        steal, total = self._read()
        d = total - self._t0[1]
        return 100.0 * (steal - self._t0[0]) / d if d else 0.0


# ---------------------------------------------------------------------------
# tracing: spans from the benchmark's own files, around each layer call
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` costs one branch.

    A span is (id, name, parent, op, start, end); ``op`` is the id of
    the timed op the span belongs to (None during set-up and probes).
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# ---------------------------------------------------------------------------
# correctness: an order-independent digest of the equality columns
# ---------------------------------------------------------------------------

DIGEST_COLS = ("doc_id", "offset", "kind", "text", "media_ref")
_SEP = "\x1f"
_NULL = "\x00"


def row_key(values) -> str:
    return _SEP.join(_NULL if v is None else str(v) for v in values)


class Digest:
    """Row count plus two sums of 32-bit slices of md5(row): equal
    multisets of rows give equal digests in any order."""

    __slots__ = ("n", "lo", "hi")

    def __init__(self, n: int = 0, lo: int = 0, hi: int = 0) -> None:
        self.n, self.lo, self.hi = n, lo, hi

    def add(self, values) -> None:
        h = hashlib.md5(row_key(values).encode("utf-8")).hexdigest()
        self.n += 1
        self.lo += int(h[:8], 16)
        self.hi += int(h[8:16], 16)

    def as_tuple(self) -> tuple[int, int, int]:
        return (self.n, self.lo, self.hi)


def spark_digest(df) -> tuple[int, int, int]:
    """The same digest computed by Spark over ``df``: one aggregate
    that consumes every row of the plan (the workload's sink)."""
    from pyspark.sql import functions as F

    key = F.concat_ws(
        _SEP,
        *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in DIGEST_COLS],
    )
    h = F.md5(key)

    def part(a: int) -> F.Column:
        return F.sum(F.conv(F.substring(h, a, 8), 16, 10).cast("long"))

    r = df.select(F.count(F.lit(1)).alias("n"), part(1).alias("lo"), part(9).alias("hi")).collect()[0]
    return (int(r["n"]), int(r["lo"] or 0), int(r["hi"] or 0))


def oracle_rows(doc_id: str, spans: list[dict], kernel) -> list[tuple]:
    """Equality-column tuples the kernel gives for one document."""
    els = kernel(
        [s["kind"] for s in spans],
        [s["text"] for s in spans],
        [s["media_ref"] for s in spans],
        [s["offset"] for s in spans],
        "default",
    )
    return [(doc_id, e["offset"], e["kind"], e["text"], e["media_ref"]) for e in els]


# ---------------------------------------------------------------------------
# Spark's SQL status store (works with spark.ui.enabled=false)
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_RE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string → bytes, seconds or a plain count.
    Aggregated metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM_RE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SqlStatus:
    """Reads finished SQL executions from the session's status store."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        ex = self._store.executionsList()
        n = ex.size()
        return max((ex.apply(i).executionId() for i in range(n)), default=-1)

    def since(self, after_id: int, wait_s: float = 5.0) -> list[dict]:
        """Node names and metric totals of every execution with id >
        ``after_id``, waiting for the listener to record their ends."""
        deadline = time.monotonic() + wait_s
        while True:
            ex = self._store.executionsList()
            items = [ex.apply(i) for i in range(ex.size())]
            items = [e for e in items if e.executionId() > after_id]
            if all(e.completionTime().isDefined() for e in items) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        return [self._execution(e.executionId()) for e in items]

    def _execution(self, eid: int) -> dict:
        vals = {}
        it = self._store.executionMetrics(eid).iterator()
        while it.hasNext():
            t = it.next()
            vals[t._1()] = t._2()
        nodes = []
        all_nodes = self._store.planGraph(eid).allNodes()
        for i in range(all_nodes.size()):
            nd = all_nodes.apply(i)
            ms = nd.metrics()
            metrics = {}
            for j in range(ms.size()):
                pm = ms.apply(j)
                v = vals.get(pm.accumulatorId())
                if v is not None:
                    metrics[pm.name()] = metrics.get(pm.name(), 0.0) + parse_metric(v)
            nodes.append({"name": nd.name().strip(), "metrics": metrics})
        return {"id": eid, "nodes": nodes}


PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "FlatMapGroupsInPandas", "BatchEvalPython")


def plan_counts(executions: list[dict]) -> dict[str, float]:
    """Counters summed over executions: Python nodes, Arrow bytes
    to/from Python workers, shuffle bytes, scans, Arrow UDF nodes."""
    out = {"python_nodes": 0, "arrow_bytes_in": 0.0, "arrow_bytes_out": 0.0,
           "shuffle_bytes": 0.0, "binary_file_scans": 0, "arrow_eval_nodes": 0}
    for ex in executions:
        for nd in ex["nodes"]:
            name, m = nd["name"], nd["metrics"]
            if any(name.startswith(p) for p in PYTHON_NODES):
                out["python_nodes"] += 1
            if name.startswith("ArrowEvalPython"):
                out["arrow_eval_nodes"] += 1
            if name.startswith("Scan binaryFile"):
                out["binary_file_scans"] += 1
            out["arrow_bytes_in"] += m.get("data sent to Python workers", 0.0)
            out["arrow_bytes_out"] += m.get("data returned from Python workers", 0.0)
            out["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
