"""The resident store (``sources.tables.resident``), without Spark: one
build per ``(frame, key)`` under racing first calls, nested builds, a
failed build retried, and the finalizer that unpersists a collected
frame's DataFrames (its tolerance of a stopped session is
``tests/test_caches.py::test_resident_finalizer_tolerates_stopped_session``).
Plus a check over the package's source that the store stays the one
identity memo."""

from __future__ import annotations

import ast
import gc
import pathlib
import sys
import threading
import time

import pytest
from pyspark.sql import DataFrame

from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T

PACKAGE = pathlib.Path(T.__file__).resolve().parents[1]


class Frame:
    """A stand-in for a table frame: hashable by identity, weakly
    referenceable."""


class Cached(DataFrame):
    """A DataFrame that records its unpersist calls."""

    def __new__(cls, calls):
        return object.__new__(cls)

    def __init__(self, calls):
        self.calls = calls

    def unpersist(self, blocking=False):
        self.calls.append(self)


def test_racing_first_calls_build_once():
    """Eight threads (more than the cores) race the first calls on fresh
    frames and keys: each ``(frame, key)`` is built once, and every
    caller gets that one value."""
    frames = [Frame() for _ in range(20)]
    builds: list = []
    start = threading.Barrier(8)

    def build(frame, key):
        builds.append((id(frame), key))
        time.sleep(0.001)  # the other callers arrive while this one builds
        return (frame, key)

    got: list = []

    def call():
        start.wait()
        for frame in frames:
            for key in ("a", "b", ("c", 1)):
                got.append(T.resident(frame, key, lambda: build(frame, key)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == len(set(builds)) == 60
    assert len(got) == 8 * 60
    for value in got:  # the one value built for its (frame, key)
        frame, key = value
        assert T.resident(frame, key, pytest.fail) is value


def test_nested_builds():
    """A build may read another key of the same frame, as the top-k index
    reads the shingle sets and IVF-PQ the trained book and the codes."""
    frame = Frame()
    book = T.resident(
        frame,
        "outer",
        lambda: ("outer", T.resident(frame, "inner", lambda: ["book"])),
    )
    assert book == ("outer", ["book"])
    assert T.resident(frame, "inner", pytest.fail) is book[1]
    assert T.resident(frame, "outer", pytest.fail) is book


def test_failed_build_is_retried():
    frame, calls = Frame(), []

    def build():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        return "built"

    with pytest.raises(RuntimeError, match="first build fails"):
        T.resident(frame, "k", build)
    assert "k" not in T._resident_store[frame].values  # stored nothing
    assert T.resident(frame, "k", build) == "built"
    assert T.resident(frame, "k", build) == "built"
    assert len(calls) == 2


def test_finalizer_unpersists_frames_in_tuples():
    """When the frame is collected, every DataFrame among its values is
    unpersisted, also inside a tuple; other values are left alone."""
    calls: list = []
    frame = Frame()
    sets = Cached(calls)
    codes = Cached(calls)
    T.resident(frame, "sets", lambda: sets)
    T.resident(frame, "codes", lambda: (["books"], codes))
    T.resident(frame, "target", lambda: 4)
    del frame
    gc.collect()
    assert sorted(map(id, calls)) == sorted([id(sets), id(codes)])


def _calls(node, name: str) -> list:
    """The calls of ``name`` (a plain or an attribute call) under ``node``."""
    return [
        n for n in ast.walk(node)
        if isinstance(n, ast.Call) and name in (
            getattr(n.func, "id", None), getattr(n.func, "attr", None)
        )
    ]


def test_one_identity_memo():
    """The package keeps table-derived state in one store: no module
    outside ``sources/tables.py`` builds a ``WeakKeyDictionary`` at module
    level, and ``table_fingerprint`` is called only by ``load_table``,
    whose frame is the one invalidation rule."""
    weak, fingerprints = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            is_def = isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef))
            if not is_def:  # a function's local dict is no memo
                weak += [f"{rel}:{c.lineno}" for c in _calls(stmt, "WeakKeyDictionary")]
            fingerprints += [
                (rel, stmt.name if is_def else None)
                for _ in _calls(stmt, "table_fingerprint")
            ]
    assert all(w.startswith("sources/tables.py:") for w in weak), weak
    assert fingerprints == [("sources/tables.py", "load_table")]
