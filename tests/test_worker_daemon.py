"""The engine's Python worker daemon (``gomrjob_spark.worker_daemon``):
the lazy zip-directory refresh on its own, its reach into the workers,
and that workers can import it from any working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from gomrjob_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_zip_refresh = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ refreshes zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@needs_eager_zip_refresh
def test_refresh_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    reads: list[str] = []
    eager = worker_daemon._eager_invalidate_caches

    def counting_read(importer):
        reads.append(importer.archive)
        eager(importer)

    monkeypatch.setattr(worker_daemon, "_eager_invalidate_caches", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_if_changed)

    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == 1  # the second call found the archive unchanged

    # rewritten in place with a module added: read again, and importable
    _write_zip(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    assert importer.find_spec("zmod_b") is None  # not seen before the refresh
    importer.invalidate_caches()
    assert len(reads) == 2
    spec = importer.find_spec("zmod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    # a vanished archive cannot be stat-ed: refreshed as before, to empty
    archive.unlink()
    importer.invalidate_caches()
    assert len(reads) == 3
    assert importer.find_spec("zmod_a") is None


def test_workers_run_the_engine_daemon(spark):
    """Every task's ``zipimporter`` refresh is the daemon's, not plain
    ``pyspark.daemon``'s: a silent fallback would show up here."""

    def refresh_name(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"name": [zipimport.zipimporter.invalidate_caches.__qualname__]})

    got = {
        r.name
        for r in spark.range(8, numPartitions=4).mapInPandas(refresh_name, "name string").collect()
    }
    if sys.version_info < (3, 13):
        assert got == {worker_daemon._invalidate_if_changed.__qualname__}
    else:
        assert got == {"zipimporter.invalidate_caches"}


def test_workers_import_the_daemon_from_any_directory(tmp_path):
    """A session started outside the repository, with no PYTHONPATH, still
    runs Python tasks: the workers find the daemon through the engine
    root that ``get_session`` puts on their PYTHONPATH, after any entries
    the caller set. A caller's ``extra_conf`` can still replace the
    daemon."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from gomrjob_spark.session import get_session

        def double(batches):
            for pdf in batches:
                yield pdf * 2

        def refresh_name(batches):
            import zipimport
            import pandas as pd

            for _ in batches:
                pass
            yield pd.DataFrame({{"name": [zipimport.zipimporter.invalidate_caches.__qualname__]}})

        spark = get_session(
            app_name="daemon_import",
            cpus=2,
            extra_conf={{"spark.driver.memory": "1g", "spark.executorEnv.PYTHONPATH": "/callers/dir"}},
        )
        print("PATH", spark.conf.get("spark.executorEnv.PYTHONPATH"))
        ids = spark.range(4, numPartitions=2).mapInPandas(double, "id long").collect()
        print("IDS", sorted(r.id for r in ids))
        spark.stop()

        spark = get_session(
            app_name="daemon_override", cpus=2, extra_conf={{"spark.python.daemon.module": "pyspark.daemon"}}
        )
        names = spark.range(2, numPartitions=2).mapInPandas(refresh_name, "name string").collect()
        print("NAMES", sorted({{r.name for r in names}}))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert f"PATH /callers/dir{os.pathsep}{ROOT}" in proc.stdout
    assert "IDS [0, 2, 4, 6]" in proc.stdout
    assert "NAMES ['zipimporter.invalidate_caches']" in proc.stdout
