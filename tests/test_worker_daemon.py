"""The engine's Python worker daemon (gpu_olap_engine_spark.worker_daemon)
and the session confs that select it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from gpu_olap_engine_spark import worker_daemon
from gpu_olap_engine_spark.config import EngineConfig
from gpu_olap_engine_spark.session import builder_confs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    """An unchanged archive keeps its cached directory (the same
    object), a rewritten one is re-read so its new module imports, and
    a directory finder is still invalidated."""
    arc, src = tmp_path / "mods.zip", tmp_path / "src"
    src.mkdir()
    (src / "wd_dir_mod.py").write_text("Y = 1\n")
    _write_zip(arc, {"wd_zip_mod": "X = 1\n"})
    monkeypatch.setattr(worker_daemon, "_read", {})
    monkeypatch.syspath_prepend(str(src))
    monkeypatch.syspath_prepend(str(arc))
    for name in ("wd_zip_mod", "wd_dir_mod", "wd_new_mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        importlib.import_module("wd_zip_mod")
        importlib.import_module("wd_dir_mod")
        finder = sys.path_importer_cache[str(src)]
        assert isinstance(sys.path_importer_cache[str(arc)], zipimport.zipimporter)

        worker_daemon.invalidate_caches()  # first sight: read and recorded
        cached = zipimport._zip_directory_cache[str(arc)]
        finder.find_spec("wd_dir_mod")  # refills the directory listing
        assert finder._path_mtime != -1
        worker_daemon.invalidate_caches()
        assert zipimport._zip_directory_cache[str(arc)] is cached
        assert finder._path_mtime == -1

        _write_zip(arc, {"wd_zip_mod": "X = 1\n", "wd_new_mod": "Z = 3\n"})
        worker_daemon.invalidate_caches()
        assert zipimport._zip_directory_cache[str(arc)] is not cached
        assert importlib.import_module("wd_new_mod").Z == 3
    finally:
        for p in (str(arc), str(src)):
            sys.path_importer_cache.pop(p, None)
        zipimport._zip_directory_cache.pop(str(arc), None)


def test_local_session_workers_run_the_engine_daemon(spark):
    """The conftest session is local, so its Python workers are forked
    from the engine's daemon and call its invalidate_caches."""

    def probe(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [importlib.invalidate_caches.__module__]})

    got = {r["m"] for r in spark.range(3).mapInPandas(probe, "m string").collect()}
    assert got == {"gpu_olap_engine_spark.worker_daemon"}


def test_builder_confs_select_the_daemon_for_local_masters_only():
    local = builder_confs(EngineConfig(), "local[3]")
    assert local["spark.python.daemon.module"] == "gpu_olap_engine_spark.worker_daemon"
    assert local["spark.executorEnv.PYTHONPATH"] == REPO
    kept = builder_confs(
        EngineConfig(extra_confs={"spark.executorEnv.PYTHONPATH": "/opt/libs"}),
        "local[*]",
    )
    assert kept["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(["/opt/libs", REPO])

    cluster = builder_confs(EngineConfig(), "spark://h:7077")
    assert "spark.python.daemon.module" not in cluster
    assert "spark.executorEnv.PYTHONPATH" not in cluster
