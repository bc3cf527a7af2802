"""The Python-worker import-cache hook (``functions/worker.py``): an
unchanged zip on ``sys.path`` is not re-read by
``importlib.invalidate_caches()``, a rewritten one is, and the hook is in
place in the executor workers that ran engine code but not on the
driver."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads zip directories lazily"
)

HOOK_MODULE = "resume_jd_matcher_spark.functions.worker"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    from resume_jd_matcher_spark.functions import worker

    # The driver keeps the stdlib method: undo the patch when the test ends.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(worker, "_read_stat", {})
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, ["zw_probe_a"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zw_probe_a").NAME == "zw_probe_a"

    worker.install()
    state = dict(worker._read_stat)
    worker.install()
    assert zipimport.zipimporter.invalidate_caches is worker._invalidate_caches
    assert worker._read_stat == state and archive in state

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["zw_probe_a", "zw_probe_b"])
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zw_probe_b").NAME == "zw_probe_b"
    importlib.invalidate_caches()
    assert reads == [archive]


def test_engine_udf_installs_hook_in_worker_not_on_driver(spark):
    from resume_jd_matcher_spark.operators.sectioner import chunk_by_section

    # More tasks than idle workers: each idle worker runs an engine task.
    docs = spark.range(0, 64, 1, 64).selectExpr("id AS doc_id", "'Skills: spark' AS text")
    assert chunk_by_section(docs).count() == 64

    def probe(batches):  # defined here, so unpickling it imports nothing of the engine
        import zipimport as zi

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"hook": [zi.zipimporter.invalidate_caches.__module__]}
        )

    hooks = {r.hook for r in spark.range(0, 8, 1, 8).mapInArrow(probe, "hook string").collect()}
    assert hooks == {HOOK_MODULE}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
