"""The zip re-read guard that ``import hg64spark`` installs in a PySpark
worker (``hg64spark._guard_zip_rereads``).  Every check counts calls or
compares objects; none times anything.  Functions shipped to workers are
nested so that they travel by value and import only what they name."""

import json
import zipimport

import pyarrow as pa

import hg64spark
from hg64spark import agg


def _in_workers(spark, fn, n=1):
    """Run ``fn()`` in ``n`` Python worker tasks of a ``mapInArrow`` stage,
    the operator kind the library runs; returns the JSON results."""

    def task(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"out": json.dumps(fn())}])

    rows = spark.range(n, numPartitions=n).mapInArrow(task, "out string").collect()
    return [json.loads(r["out"]) for r in rows]


def test_library_operator_installs_guard_for_later_tasks(spark):
    """After a library operator has run, a later task that does not import
    hg64spark itself finds the guard in every worker that loaded the
    library, and only there."""

    def probe():
        import sys
        import zipimport

        guard = getattr(zipimport.zipimporter.invalidate_caches, "_hg64spark_guard", False)
        return ["hg64spark" in sys.modules, guard]

    df = spark.range(4000).selectExpr("id % 7 as g", "id as v").repartition(4)
    seen = []
    for _ in range(3):
        agg.hg64_agg(df, "v", ["g"], method="arrow").collect()
        seen += _in_workers(spark, probe, n=4)
        if any(loaded for loaded, _ in seen):
            break
    assert all(loaded == guard for loaded, guard in seen), seen
    assert any(guard for _, guard in seen), seen


def test_unchanged_archive_is_not_reread(spark):
    """In a worker, once each zipimporter has recorded its archive's state,
    ``importlib.invalidate_caches()`` reads no zip directory, and keeps
    every zipimporter entry."""

    def run():
        import importlib
        import sys
        import zipimport

        import hg64spark  # noqa: F401

        importlib.invalidate_caches()
        before = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        after = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        return [len(reads), before, after]

    ((reads, before, after),) = _in_workers(spark, run)
    assert reads == 0
    assert before and sorted(after) == sorted(before)
    assert any("pyspark.zip" in p for p in before)


def test_rewritten_zip_is_reread(spark, tmp_path):
    """A zip on ``sys.path`` that is rewritten with a new module is re-read
    by the next ``invalidate_caches()`` and the new module imports; while
    it is unchanged it is not re-read."""
    path = str(tmp_path / "mods.zip")

    def run():
        import importlib
        import os
        import sys
        import uuid
        import zipfile
        import zipimport

        import hg64spark  # noqa: F401

        a, b = (f"hg64probe_{uuid.uuid4().hex}" for _ in range(2))

        def write(names):
            with zipfile.ZipFile(path + ".tmp", "w") as z:
                for name in names:
                    z.writestr(f"{name}.py", f"NAME = {name!r}\n")
            os.replace(path + ".tmp", path)

        reads = []
        read_directory = zipimport._read_directory

        def invalidate():
            del reads[:]
            zipimport._read_directory = lambda ar: reads.append(ar) or read_directory(ar)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read_directory
            return reads.count(path)

        write([a])
        sys.path.insert(0, path)
        try:
            first = importlib.import_module(a).NAME == a
            counts = [invalidate(), invalidate()]  # records the state, then skips
            write([a, b])
            counts.append(invalidate())
            second = importlib.import_module(b).NAME == b
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop(a, None)
            sys.modules.pop(b, None)
        return [first, second, counts]

    ((first, second, counts),) = _in_workers(spark, run)
    assert first and second
    assert counts == [1, 0, 1]


def test_pyspark_submodule_first_imported_after_guard_imports(spark):
    """A ``pyspark`` sub-module that a worker first imports after the guard
    is installed, and after its caches were invalidated, still imports from
    ``pyspark.zip``."""

    def run():
        import importlib
        import sys

        import hg64spark  # noqa: F401

        importlib.invalidate_caches()
        candidates = [
            "pyspark.statcounter",
            "pyspark.rddsampler",
            "pyspark.mllib.common",
            "pyspark.ml.linalg",
            "pyspark.streaming.util",
        ]
        name = next(m for m in candidates if m not in sys.modules)
        mod = importlib.import_module(name)
        return [name, type(mod.__loader__).__name__, mod.__file__]

    ((name, loader, file),) = _in_workers(spark, run)
    assert loader == "zipimporter", (name, loader)
    assert "pyspark.zip" in file, (name, file)


def test_file_finder_entries_untouched(spark):
    """The guard changes only zipimporters: the ``FileFinder`` entries stay
    the same objects, are still invalidated, and their method is
    CPython's own."""

    def run():
        import importlib
        import importlib.machinery
        import sys

        import hg64spark  # noqa: F401

        finder = importlib.machinery.FileFinder
        before = {k: id(v) for k, v in sys.path_importer_cache.items() if isinstance(v, finder)}
        importlib.invalidate_caches()
        after = {k: v for k, v in sys.path_importer_cache.items() if isinstance(v, finder)}
        return [
            before == {k: id(v) for k, v in after.items()},
            len(after),
            all(v._path_mtime == -1 for v in after.values()),
            hasattr(finder.invalidate_caches, "_hg64spark_guard"),
        ]

    ((same, n, invalidated, patched),) = _in_workers(spark, run)
    assert same and n > 0 and invalidated and not patched


def test_install_twice_wraps_once(spark):
    """A second install in a worker leaves the one wrapper in place."""

    def run():
        import zipimport

        import hg64spark

        first = zipimport.zipimporter.invalidate_caches
        hg64spark._guard_zip_rereads()
        return [getattr(first, "_hg64spark_guard", False), zipimport.zipimporter.invalidate_caches is first]

    ((guarded, same),) = _in_workers(spark, run)
    assert guarded and same


def test_driver_zipimporter_unpatched():
    """On the driver (no ``TaskContext``) neither the import nor an explicit
    install patches ``zipimporter``."""
    original = zipimport.zipimporter.invalidate_caches
    hg64spark._guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not hasattr(original, "_hg64spark_guard")
