"""The engine's Python worker daemon (``rigatoni_spark._pyworker``).

Four layers: the zipimport stamp rule on its own (no Spark), the
preload contract (importing ``rigatoni_spark.operators`` starts nothing,
since every daemon imports it before it forks), the shared engine
session running its Python workers under the daemon with no per-task
zip re-reads and with the import heap frozen, and a fresh driver started
from an unrelated working directory with ``PYTHONPATH`` unset still
starting the daemon.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from rigatoni_spark import _pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def fresh_patch(monkeypatch):
    """Let ``install()`` run in this process and undo it afterwards."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )


def _count_reads(monkeypatch, archive: str) -> list[str]:
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily on 3.13+"
)
def test_stamp_rule_skips_unchanged_and_rereads_rewritten_zip(
    tmp_path, monkeypatch, fresh_patch
):
    archive = str(tmp_path / "mods.zip")
    first, second = f"pyw_first_{os.getpid()}", f"pyw_second_{os.getpid()}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    assert _pyworker.install()
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).VALUE == 1

        calls = _count_reads(monkeypatch, archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert calls == []

        _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert len(calls) == 1
        assert importlib.import_module(second).VALUE == 2
        importlib.invalidate_caches()
        assert len(calls) == 1
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_patch_not_installed_on_313(monkeypatch, fresh_patch):
    read = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _pyworker.install()
    assert zipimport._read_directory is read
    assert zipimport.zipimporter.invalidate_caches is invalidate


def test_operators_import_starts_nothing(tmp_path):
    # the daemon imports this before it forks: every worker would lose a
    # thread started here and share a gateway socket or child process
    code = textwrap.dedent(
        """
        import json, os, threading
        import rigatoni_spark.operators
        from pyspark import SparkContext
        try:
            os.waitpid(-1, os.WNOHANG)
            children = True
        except ChildProcessError:
            children = False
        print(json.dumps({
            "threads": threading.active_count(),
            "context": SparkContext._active_spark_context is not None,
            "gateway": SparkContext._gateway is not None
            or SparkContext._jvm is not None,
            "children": children,
        }))
        """
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.splitlines()[-1]) == {
        "threads": 1,
        "context": False,
        "gateway": False,
        "children": False,
    }


def test_engine_session_workers_inherit_frozen_import_heap(spark):
    def probe(batches):
        import gc
        import os
        import time

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "at": [time.monotonic_ns()],
                "frozen": [gc.get_freeze_count()],
            }
        )

    rows = (
        spark.range(32)
        .repartition(16)
        .mapInPandas(probe, "pid long, at long, frozen long")
        .collect()
    )
    by_pid: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append((r["at"], r["frozen"]))
    # 16 tasks on 8 task slots: some worker serves more than one
    assert len(rows) > len(by_pid)
    for tasks in by_pid.values():
        counts = [frozen for _, frozen in sorted(tasks)]
        # pandas, pyarrow, pyspark and the folds are ~73K objects
        assert min(counts) >= 30_000
        # fixed once in the daemon: a task may free a frozen object, but
        # none adds one (a re-freeze would add the task's whole heap)
        assert counts == sorted(counts, reverse=True)


def test_engine_session_workers_run_under_daemon(spark):
    # nested, so cloudpickle ships it by value: the workers cannot
    # import this test module
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        main = sys.modules["__main__"].__spec__.name
        yield pd.DataFrame({"main": [main], "reads": [len(reads)]})

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInPandas(probe, "main string, reads long")
        .collect()
    )
    assert rows
    for r in rows:
        assert r["main"] == "rigatoni_spark._pyworker"
        assert r["reads"] == 0


def test_daemon_starts_from_any_cwd_without_pythonpath(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from rigatoni_spark.session import get_spark

            def ident(batches):
                yield from batches

            spark = get_spark(app_name="pyworker_cwd", cpus=1)
            print("ROWS", spark.range(3).mapInPandas(ident, "id long").count())
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 3" in proc.stdout
