"""The stat-keyed ``zipimporter.invalidate_caches`` installed by
``import lance_trino_spark`` (``zipimport_cache``): an unchanged archive
is never re-read, a changed one is re-read once for all its importers, a
deleted one behaves as with the stock method, and on CPython >= 3.13
(whose method is already lazy) nothing is replaced.

The semantic cases run in a fresh interpreter each, so ``sys.path``,
``sys.path_importer_cache`` and ``zipimport._zip_directory_cache`` of the
test session stay untouched."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: case, work dir, "patched" | "stock". Builds zpkg.zip holding a
# package with a subpackage, imports from it (one zipimporter per path
# entry: the archive, zpkg/, zpkg/sub/), counts zipimport._read_directory
# calls and prints one JSON object.
_CHILD = textwrap.dedent('''
    import importlib, json, os, sys, zipfile, zipimport

    case, work, mode = sys.argv[1:4]
    archive = os.path.join(work, "zpkg.zip")
    stock = zipimport.zipimporter.invalidate_caches


    def write_zip(extra=()):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/sub/__init__.py", "")
            z.writestr("zpkg/sub/a.py", "X = 1")
            z.writestr("zpkg/sub/unused.py", "X = 2")
            for name in extra:
                z.writestr(f"zpkg/sub/{name}.py", "X = 3")


    def importable(name):
        try:
            importlib.import_module(name)
            return True
        except ImportError:
            return False


    reads = []
    real_read = zipimport._read_directory


    def counting_read(path):
        reads.append(path)
        return real_read(path)


    if case == "version_gate":
        sys.version_info = (3, 13, 0, "final", 0)
        import lance_trino_spark
        print(json.dumps({
            "replaced": zipimport.zipimporter.invalidate_caches is not stock}))
        sys.exit(0)

    write_zip()
    sys.path.insert(0, archive)
    import zpkg.sub.a
    zipimport._read_directory = counting_read
    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter)
                 and v.archive == archive]
    importlib.invalidate_caches()
    out = {"importers": len(importers), "stock_reads": len(reads)}
    if mode == "patched":
        import lance_trino_spark
        out["replaced"] = zipimport.zipimporter.invalidate_caches is not stock
        importlib.invalidate_caches()
        out["first_reads"] = len(reads) - out["stock_reads"]
    del reads[:]

    if case == "unchanged":
        for _ in range(3):
            importlib.invalidate_caches()
        out["reads"] = len(reads)
        out["importable"] = importable("zpkg.sub.unused")
    elif case == "rewritten":
        write_zip(extra=("added",))
        out["stale_importable"] = importable("zpkg.sub.added")
        importlib.invalidate_caches()
        out["reads"] = len(reads)
        out["importable"] = importable("zpkg.sub.added")
    elif case == "deleted":
        os.remove(archive)
        importlib.invalidate_caches()
        out["reads"] = len(reads)
        out["cached"] = archive in zipimport._zip_directory_cache
        out["files"] = sorted(len(v._files) for v in importers)
        out["importable"] = importable("zpkg.sub.unused")
    print(json.dumps(out))
''')


def _child(tmp_path, case: str, mode: str = "patched") -> dict:
    work = tmp_path / mode
    work.mkdir()
    env = dict(os.environ, PYTHONPATH=REPO, PYTHONDONTWRITEBYTECODE="1")
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, case, str(work), mode],
        capture_output=True, text=True, env=env, timeout=120)
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1])


eager_only = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from CPython 3.13 on")


@eager_only
def test_unchanged_archive_is_not_reread(tmp_path):
    out = _child(tmp_path, "unchanged")
    # the stock method re-reads once per importer; that is the cost
    assert out["importers"] >= 3
    assert out["stock_reads"] == out["importers"]
    assert out["replaced"]
    # the first stat-keyed call reads once for all importers, then never
    assert out["first_reads"] == 1
    assert out["reads"] == 0
    assert out["importable"]


@eager_only
def test_rewritten_archive_is_reread_once(tmp_path):
    out = _child(tmp_path, "rewritten")
    assert not out["stale_importable"]
    assert out["reads"] == 1
    assert out["importable"]


@eager_only
def test_deleted_archive_behaves_as_stock(tmp_path):
    patched = _child(tmp_path, "deleted", "patched")
    stock = _child(tmp_path, "deleted", "stock")
    for out in (patched, stock):
        assert not out["cached"]
        assert set(out["files"]) == {0}
        assert not out["importable"]
    keys = ("reads", "cached", "files", "importable")
    assert {k: patched[k] for k in keys} == {k: stock[k] for k in keys}


def test_nothing_is_replaced_where_the_method_is_lazy(tmp_path):
    assert _child(tmp_path, "version_gate") == {"replaced": False}


def _worker_probe(batches):
    """mapInArrow body: what a worker's importlib.invalidate_caches()
    costs in directory reads of the pyspark.zip it imports pyspark from,
    once this package is imported there."""
    import importlib
    import zipimport

    import pyarrow as pa

    import lance_trino_spark  # noqa: F401 — as every worker-side function

    for _ in batches:
        pass
    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter)
                 and os.path.basename(v.archive) == "pyspark.zip"]
    importlib.invalidate_caches()
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    zipimport._read_directory = counting_read
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real_read
    yield pa.RecordBatch.from_pydict(
        {"importers": [len(importers)], "reads": [len(reads)]})


@eager_only
def test_python_workers_stop_rereading_pyspark_zip(spark):
    rows = (spark.range(2, numPartitions=2)
            .mapInArrow(_worker_probe, "importers long, reads long")
            .collect())
    assert len(rows) == 2
    if not all(r.importers for r in rows):
        pytest.skip("the Python workers do not import pyspark from a zip")
    assert [r.reads for r in rows] == [0, 0]
