"""Python-worker tuning in parquet4seastar_spark._alloc: the stat-keyed
zipimport cache invalidation (see the module docstring)."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: the wrapper patches zipimport process-wide,
# and the spy below must not leak into the pytest process.
SEMANTICS = textwrap.dedent(
    """
    import importlib, os, sys, tempfile, zipfile, zipimport

    stdlib = zipimport.zipimporter.invalidate_caches
    from parquet4seastar_spark import _alloc

    if sys.version_info >= (3, 13):
        assert _alloc.tune_zipimport() is False
        assert zipimport.zipimporter.invalidate_caches is stdlib
        print("STDLIB-UNTOUCHED")
        sys.exit(0)

    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper is _alloc._stat_keyed_invalidate
    assert _alloc.tune_zipimport() is True
    assert zipimport.zipimporter.invalidate_caches is wrapper  # never wrapped twice

    archive = os.path.join(tempfile.mkdtemp(), "mods.zip")

    def write(names):
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(n + ".py", "NAME = %r\\n" % n)

    write(["a"])
    sys.path.insert(0, archive)
    import a
    assert a.NAME == "a"

    # a changed archive (size and mtime move) is still re-read
    before = os.stat(archive)
    write(["a", "b"])
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    import b
    assert b.NAME == "b"

    reads = []
    real = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = spy
    for _ in range(50):
        importlib.invalidate_caches()
    assert reads == [], reads

    # stat fails: the stdlib method runs (and drops the vanished archive)
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive in reads, reads
    assert archive not in zipimport._zip_directory_cache
    print("STAT-KEYED")
    """
)


def test_zipimport_invalidation_is_stat_keyed():
    r = subprocess.run(
        [sys.executable, "-c", SEMANTICS], text=True, capture_output=True, cwd=REPO,
    )
    want = "STAT-KEYED" if sys.version_info < (3, 13) else "STDLIB-UNTOUCHED"
    assert r.returncode == 0 and want in r.stdout, r.stdout + r.stderr


def test_zipimport_tuning_reaches_spark_workers(spark):
    from typing import Iterator

    import pyarrow as pa

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import zipimport

        from parquet4seastar_spark import _alloc

        tuned = zipimport.zipimporter.invalidate_caches is _alloc._stat_keyed_invalidate
        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([tuned] * rb.num_rows)], names=["tuned"]
            )

    df = spark.range(0, 4, 1, numPartitions=4).mapInArrow(probe, "tuned boolean")
    df.collect()
    second = [r["tuned"] for r in df.collect()]
    assert second == [sys.version_info < (3, 13)] * 4
