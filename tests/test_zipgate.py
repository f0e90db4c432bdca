"""The stat-gated zip invalidation (``pdf_extractor_spark.zipgate``),
run in a subprocess so this test process keeps the stdlib zipimporter."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    archive = sys.argv[1]
    sys.path.insert(0, archive)
    import m1
    from pdf_extractor_spark.zipgate import gate_zip_invalidation

    gate_zip_invalidation()
    gate_zip_invalidation()  # a second install must not wrap the first
    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stdlib_read(path)

    zipimport._read_directory = counting_read
    importlib.invalidate_caches()
    print("unchanged", len(reads))

    with zipfile.ZipFile(archive + ".new", "w") as zf:
        zf.writestr("m1.py", "X = 1\\n")
        zf.writestr("m2.py", "Y = 2\\n")
    os.replace(archive + ".new", archive)
    importlib.invalidate_caches()
    import m2
    print("rewritten", len(reads), m2.Y)

    os.remove(archive)
    importlib.invalidate_caches()
    print("removed", len(reads))
    """
)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the gate installs nothing on 3.13+")
def test_gate_reads_only_changed_archives(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m1.py", "X = 1\n")
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, str(script), archive],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split("\n")[:3] == [
        "unchanged 0",  # the unchanged archive is not re-read
        "rewritten 1 2",  # only the rewritten archive, and m2 imports
        "removed 2",  # a removed archive is tried once, without raising
    ]
