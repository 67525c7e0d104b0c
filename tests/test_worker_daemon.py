"""The engine's Python worker daemon (``worker_daemon``): zip archives are
re-read on ``importlib.invalidate_caches()`` only when they changed.

The first tests run in-process, without Spark, on a temp zip imported through
``zipimport`` and count ``zipimport._read_directory`` calls. The last test
runs on the shared session and checks that Spark really starts the daemon and
that a zip shipped with ``addPyFile`` after the workers are warm is importable
in the next task, the behaviour pyspark's per-task invalidation exists for.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from distributed_video_analytics_flink_spark import worker_daemon


def _write_zip(path, pkg: str, modules: dict[str, str], mtime_ns: int) -> None:
    """A package ``pkg`` holding ``modules`` (name -> source), plus a
    top-level module ``<pkg>_top``; mtime pinned so a rewrite always moves."""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}_top.py", "WHERE = 'top'\n")
        for name, src in modules.items():
            zf.writestr(f"{pkg}/{name}.py", src)
    os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A temp zip on sys.path with two zip importers for it (the archive
    root and ``<pkg>/``, as pyspark.zip has one per package directory),
    and a counter of directory reads."""
    pkg = f"wdz_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "lib.zip")
    _write_zip(path, pkg, {"a": "VALUE = 1\n"}, 1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{pkg}.a")
    importlib.import_module(f"{pkg}_top")
    importers = [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == path
    ]
    assert len(importers) == 2

    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(archive_path):
        reads.append(archive_path)
        return stdlib_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield pkg, path, importers, reads
    for name in [m for m in sys.modules if m.startswith(pkg)]:
        del sys.modules[name]


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test; monkeypatch restores the stdlib
    method afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()


def _reads_of(reads, path) -> int:
    return sum(p == path for p in reads)


def test_stdlib_rereads_every_importer_on_every_invalidation(archive):
    """The cost the guard removes: without it each invalidation re-reads
    the archive once per importer."""
    _, path, importers, reads = archive
    for _ in range(3):
        importlib.invalidate_caches()
    assert _reads_of(reads, path) == 3 * len(importers)


def test_unchanged_archive_is_not_reread(archive, guarded):
    pkg, path, importers, reads = archive
    importlib.invalidate_caches()  # stamps the archive: at most one read
    assert _reads_of(reads, path) <= 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert _reads_of(reads, path) == 0
    assert all(
        imp._files is zipimport._zip_directory_cache[path] for imp in importers
    )
    assert importlib.import_module(f"{pkg}.a").VALUE == 1


def test_rewritten_archive_is_reread_once_and_new_modules_import(archive, guarded):
    pkg, path, importers, reads = archive
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(
        path, pkg, {"a": "VALUE = 1\n", "b": "VALUE = 2\n"},
        1_000_000_000_000_000_001,
    )
    importlib.invalidate_caches()
    # one read for the archive; the second importer takes the fresh directory
    assert _reads_of(reads, path) == 1
    assert all(
        imp._files is zipimport._zip_directory_cache[path] for imp in importers
    )
    assert importlib.import_module(f"{pkg}.b").VALUE == 2
    reads.clear()
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 0


def test_same_size_rewrite_is_seen_through_the_mtime(archive, guarded):
    pkg, path, _, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, pkg, {"c": "VALUE = 1\n"}, 1_000_000_000_000_000_002)
    size = os.path.getsize(path)
    importlib.invalidate_caches()
    _write_zip(path, pkg, {"d": "VALUE = 1\n"}, 1_000_000_000_000_000_003)
    assert os.path.getsize(path) == size
    reads.clear()
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 1
    assert importlib.import_module(f"{pkg}.d").VALUE == 1


def test_rewrite_racing_the_read_is_seen_next_time(archive, guarded, monkeypatch):
    """The stamp is taken before the read: a writer that replaces the
    archive right after the guard read it costs one more read, never a
    stale directory."""
    pkg, path, _, _ = archive
    read = zipimport._read_directory

    def read_then_rewrite(archive_path):
        files = read(archive_path)
        monkeypatch.setattr(zipimport, "_read_directory", read)
        _write_zip(path, pkg, {"f": "VALUE = 6\n"}, 1_000_000_000_000_000_004)
        return files

    monkeypatch.setattr(zipimport, "_read_directory", read_then_rewrite)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.f").VALUE == 6


def _after_delete(pkg, path, importers):
    """Observable state once the archive is gone and caches invalidated."""
    os.remove(path)
    importlib.invalidate_caches()
    try:
        importlib.import_module(f"{pkg}.never_written")
        missing = None
    except ImportError as exc:
        missing = type(exc)
    return (
        path in zipimport._zip_directory_cache,
        [imp._files for imp in importers],
        missing,
        importlib.import_module(f"{pkg}.a").VALUE,  # already in sys.modules
    )


def test_deleted_archive_behaves_as_stdlib(archive, monkeypatch):
    pkg, path, importers, _ = archive
    stdlib_state = _after_delete(pkg, path, importers)
    assert stdlib_state == (False, [{}, {}], ModuleNotFoundError, 1)

    # the same again, guarded, after the guard has stamped the archive
    _write_zip(path, pkg, {"a": "VALUE = 1\n"}, 1_000_000_000_000_000_000)
    importlib.invalidate_caches()
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    importlib.invalidate_caches()
    assert path in worker_daemon._read_stamps
    assert _after_delete(pkg, path, importers) == stdlib_state
    assert path not in worker_daemon._read_stamps

    # and a re-created archive is read again
    _write_zip(path, pkg, {"e": "VALUE = 5\n"}, 1_000_000_000_000_000_000)
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.e").VALUE == 5


def test_spark_runs_tasks_in_the_engine_daemon(spark, tmp_path):
    import pandas as pd

    sc = spark.sparkContext
    name = sc.getConf().get("spark.python.daemon.module")
    assert name == worker_daemon.__name__
    importlib.import_module(name)

    def probe(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        main = sys.modules["__main__"]
        guard = getattr(main, "guarded_invalidate", None)
        yield pd.DataFrame({
            "main": [main.__spec__.name if main.__spec__ else ""],
            "guarded": [zipimport.zipimporter.invalidate_caches is guard],
        })

    df = spark.range(0, 8, 1, 2)
    got = df.mapInPandas(probe, "main string, guarded boolean").toPandas()
    assert set(got["main"]) == {name}
    assert got["guarded"].all()

    # A zip shipped after the workers are warm imports in the next task.
    mod = f"wdz_late_{uuid.uuid4().hex[:8]}"
    late = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(late, "w") as zf:
        zf.writestr(f"{mod}.py", "VALUE = 42\n")
    sc.addPyFile(str(late))

    def late_import(batches):
        import importlib

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [importlib.import_module(mod).VALUE]})

    got = df.mapInPandas(late_import, "v long").toPandas()
    assert list(got["v"]) == [42, 42]


_WORKER_PATH_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from distributed_video_analytics_flink_spark.session import get_spark

spark = get_spark(master="local[1]")
def double(batches):
    for pdf in batches:
        yield pd.DataFrame({{"id": pdf["id"] * 2}})
print(sorted(r.id for r in spark.range(4).mapInPandas(double, "id long").collect()))
spark.stop()
"""


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver that found the package through its own ``sys.path``, run
    from an unrelated cwd with no ``PYTHONPATH``: the workers still start
    (their daemon module lives in the package) because ``get_spark`` puts
    the package root on ``spark.executorEnv.PYTHONPATH``."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))
    script = tmp_path / "job.py"
    script.write_text(_WORKER_PATH_SCRIPT.format(root=root))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4, 6]"
