"""Ratchet on copy-pasted code in the package.

The window method (ROADMAP, "Duplicated code"): strip every line of
every ``.py`` file under ``pdf_extractor_spark/``, slide an 8-line
window over each file, and keep the windows that hold at least 6
non-comment lines. A line is duplicated when it sits in a kept window
whose exact text occurs more than once anywhere in the package. The
ceilings below are the counts reached once the repeated query families
of ``similarity.py``/``dedup.py``, ``relational.py``, ``textstats.py``,
``graphalgo.py`` and ``quality_rules.py`` and the availableNow tails of
``streaming.py`` were folded into shared builders (a private Spark
builder and a private oracle SQL fragment per family), and the
rep-status join of the text and vector ingest became one helper; a
change that copies those blocks back fails here.
"""

from collections import defaultdict
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "pdf_extractor_spark"
WINDOW = 8
MIN_CODE_LINES = 6

CEILINGS = {
    "analytics/similarity.py": 52,
    "analytics/dedup.py": 0,
    "analytics/relational.py": 0,
    "analytics/textstats.py": 0,
    "analytics/graphalgo.py": 0,
    "analytics/quality_rules.py": 0,
    "streaming.py": 0,
    "lineage.py": 0,
}


def duplicated_lines(root: Path) -> dict[str, int]:
    """Relative path → number of lines that sit in a repeated window."""
    seen = defaultdict(list)
    for path in sorted(root.rglob("*.py")):
        lines = [ln.strip() for ln in path.read_text().splitlines()]
        rel = path.relative_to(root).as_posix()
        for i in range(len(lines) - WINDOW + 1):
            win = tuple(lines[i:i + WINDOW])
            code = sum(1 for ln in win if ln and not ln.startswith("#"))
            if code >= MIN_CODE_LINES:
                seen[win].append((rel, i))
    dup = defaultdict(set)
    for locs in seen.values():
        if len(locs) > 1:
            for rel, i in locs:
                dup[rel].update(range(i, i + WINDOW))
    return {rel: len(idx) for rel, idx in dup.items()}


def test_window_method_counts_a_copied_block(tmp_path):
    block = "\n".join(f"x{i} = {i}" for i in range(10)) + "\n"
    (tmp_path / "a.py").write_text("# header\n" + block)
    (tmp_path / "b.py").write_text(block + "y = 0\n")
    (tmp_path / "c.py").write_text("\n".join(["# note"] * 12) + "\n")
    assert duplicated_lines(tmp_path) == {"a.py": 10, "b.py": 10}


def test_duplicate_lines_stay_under_ceilings():
    counts = duplicated_lines(PACKAGE)
    over = {
        rel: (counts.get(rel, 0), ceiling)
        for rel, ceiling in CEILINGS.items()
        if counts.get(rel, 0) > ceiling
    }
    assert not over, f"duplicated lines (count, ceiling): {over}"
