"""Shipping the package zip to executors (``session.ensure_pyfiles``)."""

import os
import tempfile

from pdf_extractor_spark import session


def test_ensure_pyfiles_adds_the_zip_once(spark, monkeypatch):
    """A session whose Python includes already hold the content-addressed
    zip gets no ``addPyFile``; one without it gets exactly one."""
    sc = spark.sparkContext
    added = []
    monkeypatch.setattr(sc, "addPyFile", added.append)
    session.ensure_pyfiles(spark)
    assert added == []

    monkeypatch.setattr(sc, "_python_includes", [])
    session.ensure_pyfiles(spark)
    assert added == [session._package_zip()]


def test_package_zip_is_rebuilt_when_gone(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    session._build_package_zip.cache_clear()
    try:
        first = session._package_zip()
        assert os.path.dirname(first) == str(tmp_path)
        with open(first, "rb") as fh:
            data = fh.read()
        os.remove(first)
        assert session._package_zip() == first
        with open(first, "rb") as fh:
            assert fh.read() == data
    finally:
        session._build_package_zip.cache_clear()
