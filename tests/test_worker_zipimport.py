"""The stat-gated ``zipimporter.invalidate_caches`` (``sketchlib/_worker.py``).

PySpark calls ``importlib.invalidate_caches()`` before every task; the
gate must skip the directory re-reads of unchanged archives and nothing
else.  The unit cases run in subprocesses so this pytest process keeps
the stdlib method; they count directory reads by wrapping
``zipimport._read_directory``.  The Spark cases look from inside a
worker."""

import json
import os
import subprocess
import sys
import uuid
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = f"""
import importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, {REPO!r})
reads = []
_read = zipimport._read_directory
def _counting(archive):
    reads.append(archive)
    return _read(archive)
zipimport._read_directory = _counting
def write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
def zip_importers(archive=None):
    return [v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
            and archive in (None, v.archive)]
"""


def _run(code: str) -> dict:
    """Run ``code`` after the prelude in a fresh interpreter; it prints
    one JSON object as its last line."""
    r = subprocess.run([sys.executable, "-c", _PRELUDE + code], cwd=REPO,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def _pyspark_zip() -> str:
    import pyspark

    for home in (os.environ.get("SPARK_HOME"), os.path.dirname(pyspark.__file__)):
        path = os.path.join(home or "", "python", "lib", "pyspark.zip")
        if home and os.path.exists(path):
            return path
    pytest.skip("no pyspark.zip next to the installed pyspark")


def test_plain_import_leaves_stdlib_method():
    out = _run("""
stock = zipimport.zipimporter.invalidate_caches
import sketchlib, sketchlib.agg
print(json.dumps({"stock": zipimport.zipimporter.invalidate_caches is stock,
                  "loaded": "sketchlib._worker" in sys.modules}))
""")
    assert out == {"stock": True, "loaded": False}


def test_worker_unchanged_pyspark_zip_reads_nothing():
    pz = _pyspark_zip()
    out = _run(f"""
sys.path.insert(0, {pz!r})
import pyspark.worker
import sketchlib
from sketchlib import _worker
importlib.reload(sketchlib)  # installing twice is harmless
gated = zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches
archives = {{v.archive for v in zip_importers()}}
del reads[:]  # the imports read each archive once
importlib.invalidate_caches()  # first gated call: one read per archive
first = len(reads)
del reads[:]
importlib.invalidate_caches()
print(json.dumps({{"gated": gated, "importers": len(zip_importers({pz!r})),
                  "archives": len(archives), "first": first, "warm": len(reads),
                  "rereads": _worker.rereads}}))
""")
    assert out["gated"]
    assert out["importers"] >= 2  # a worker holds one per pyspark package path
    assert out["first"] == out["archives"] == out["rereads"]
    assert out["warm"] == 0


def test_rewritten_zip_read_once_and_new_module_imports(tmp_path):
    z = str(tmp_path / "late.zip")
    out = _run(f"""
from sketchlib import _worker
_worker.install()
z = {z!r}
base = {{"pkg/__init__.py": "", "pkg/a.py": "A = 1\\n", "top_a.py": "A = 1\\n"}}
write_zip(z, base)
sys.path.insert(0, z)
import top_a, pkg.a
importlib.invalidate_caches()
write_zip(z, {{**base, "pkg/b.py": "B = 2\\n", "top_b.py": "B = 2\\n"}})
del reads[:]
importlib.invalidate_caches()
rewrite_reads = reads.count(z)
import top_b, pkg.b
del reads[:]
importlib.invalidate_caches()
print(json.dumps({{"importers": len(zip_importers(z)), "rewrite_reads": rewrite_reads,
                  "after_reads": len(reads), "b": [top_b.B, pkg.b.B]}}))
""")
    assert out["importers"] == 2  # late.zip and late.zip/pkg/
    assert out["rewrite_reads"] == 1  # one read shared by both importers
    assert out["after_reads"] == 0
    assert out["b"] == [2, 2]


@pytest.mark.parametrize("gated", [False, True], ids=["stdlib", "gated"])
def test_deleted_zip_behaves_as_stdlib(tmp_path, gated):
    z = str(tmp_path / "gone.zip")
    out = _run(f"""
from sketchlib import _worker
if {gated!r}:
    _worker.install()
z = {z!r}
write_zip(z, {{"top_a.py": "A = 1\\n"}})
sys.path.insert(0, z)
import top_a
importlib.invalidate_caches()
os.remove(z)
importlib.invalidate_caches()
print(json.dumps({{"files": len(sys.path_importer_cache[z]._files),
                  "cached": z in zipimport._zip_directory_cache}}))
""")
    assert out == {"files": 0, "cached": False}


def _reporter():
    """mapInArrow body reporting this worker's pid, whether the gate is
    installed and its re-read counter (importing sketchlib installs the
    gate).  A closure, so it pickles by value."""

    def report(batches):
        import os
        import zipimport

        import pyarrow as pa

        from sketchlib import _worker

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "gated": [zipimport.zipimporter.invalidate_caches
                      is _worker._invalidate_caches],
            "rereads": [_worker.rereads]})

    return report


def test_warm_worker_tasks_reread_nothing(spark):
    """Task 1 in a worker installs the gate, task 2 stamps each archive,
    and from task 3 on the counter must not move."""
    one, report = spark.range(1, numPartitions=1), _reporter()
    seen: dict = {}
    for _ in range(16):
        (row,) = one.mapInArrow(
            report, "pid long, gated boolean, rereads long").collect()
        assert row["gated"]
        seen.setdefault(row["pid"], []).append(row["rereads"])
        if max(map(len, seen.values())) >= 4:
            break
    runs = [r for r in seen.values() if len(r) >= 3]
    assert runs, seen
    for r in runs:
        assert len(set(r[1:])) == 1, seen  # the warm tasks re-read nothing


def test_add_py_file_module_imports_in_later_task(spark, tmp_path):
    """A zip shipped with addPyFile after the workers are warm must import
    in the next task: the contract PySpark's per-task invalidation serves."""
    def warm(batches):
        import sketchlib  # noqa: F401  (installs the gate, where there is one)

        yield from batches

    spark.range(4, numPartitions=2).mapInArrow(warm, "id long").collect()
    name = f"late_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def use(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [value] * b.num_rows})

    rows = spark.range(4, numPartitions=2).mapInArrow(use, "v long").collect()
    assert [r["v"] for r in rows] == [42] * 4
