"""Shipping the package to executors: a failure must surface where it
happens, not later as an executor ModuleNotFoundError."""

import types

import pytest

from fuzzspark import session


class _StubContext:
    def __init__(self, error=None):
        self.error = error
        self.added = []

    def addPyFile(self, path):
        if self.error is not None:
            raise self.error
        self.added.append(path)


def _stub_spark(sc):
    return types.SimpleNamespace(sparkContext=sc)


def test_package_zip_error_propagates(monkeypatch):
    def fail(dest_dir=None):
        raise OSError("no space left on device")

    monkeypatch.setattr(session, "package_zip", fail)
    sc = _StubContext()
    with pytest.raises(OSError, match="no space"):
        session._ship_package(_stub_spark(sc))
    assert sc.added == []
    assert not getattr(sc, "_fuzzspark_shipped", False)


def test_add_py_file_error_propagates(monkeypatch, tmp_path):
    monkeypatch.setattr(session, "package_zip",
                        lambda dest_dir=None: str(tmp_path / "pkg.zip"))
    sc = _StubContext(RuntimeError("File pkg.zip does not exist"))
    with pytest.raises(RuntimeError, match="does not exist"):
        session._ship_package(_stub_spark(sc))


def test_zip_already_on_the_context_is_tolerated(monkeypatch, tmp_path):
    """A same-named zip from another path (say, spark-submit --py-files)
    keeps serving the executors."""
    monkeypatch.setattr(session, "package_zip",
                        lambda dest_dir=None: str(tmp_path / "pkg.zip"))
    sc = _StubContext(RuntimeError(
        "File /tmp/spark-1/userFiles-2/pkg.zip exists and does not match "
        "contents of file:/elsewhere/pkg.zip"))
    session._ship_package(_stub_spark(sc))
    assert sc._fuzzspark_shipped
