"""Zip-directory reuse across `importlib.invalidate_caches()` (zipcache.py).

The unit tests run without Spark on a temp archive; the worker test runs a
local[2] stage in a child process so its Python workers start fresh.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest

import jsonschema_jl_spark
from jsonschema_jl_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the stdlib zipimporter invalidates lazily from 3.13 on",
)

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, members: dict[str, str]) -> None:
    # write beside and rename, as a redeploy does: a new inode and size
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def counted_reads(monkeypatch):
    """Per-archive count of zipimport._read_directory calls."""
    reads: dict[str, int] = {}
    real = zipimport._read_directory

    def counting(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    tag = uuid.uuid4().hex[:8]
    mod_a, mod_b = f"zc_a_{tag}", f"zc_b_{tag}"
    _write_zip(archive, {f"{mod_a}.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    yield archive, mod_a, mod_b
    for name in (mod_a, mod_b):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_repeated_invalidation_reads_directory_once(zip_on_path, counted_reads):
    archive, mod_a, mod_b = zip_on_path
    assert importlib.import_module(mod_a).X == 1
    counted_reads.clear()  # the importer's own first read
    for _ in range(5):
        importlib.invalidate_caches()
    assert counted_reads.get(str(archive)) == 1

    _write_zip(archive, {f"{mod_a}.py": "X = 1\n", f"{mod_b}.py": "Y = 2\n"})
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert counted_reads.get(str(archive)) == 2
    assert importlib.import_module(mod_b).Y == 2


def test_missing_archive_falls_back_to_stdlib(zip_on_path, counted_reads):
    archive, mod_a, _ = zip_on_path
    importlib.import_module(mod_a)
    importlib.invalidate_caches()
    archive.unlink()
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(archive)]
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_install_is_idempotent():
    patched = zipimport.zipimporter.invalidate_caches
    assert hasattr(patched, "__wrapped__")
    importlib.reload(jsonschema_jl_spark)
    importlib.reload(zipcache)
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched
    assert not hasattr(patched.__wrapped__, "__wrapped__")


_WORKER_PROBE = r"""
import json, sys
import pyarrow as pa
from jsonschema_jl_spark.session import get_spark

def probe(batches):
    import os, zipimport
    import jsonschema_jl_spark  # noqa: F401  as every engine UDF does
    state = getattr(zipimport, "_probe_state", None)
    if state is None:  # first task on this worker: count reads from now on
        real = zipimport._read_directory
        state = zipimport._probe_state = {"reads": 0, "mark": None, "task": 0}
        def counting(archive):
            state["reads"] += 1
            return real(archive)
        zipimport._read_directory = counting
    # reads since the previous task on this worker ended: this task's
    # per-task invalidation in pyspark's setup_spark_files
    setup_reads = -1 if state["mark"] is None else state["reads"] - state["mark"]
    state["task"] += 1
    for _ in batches:
        pass
    zips = sum(isinstance(v, zipimport.zipimporter)
               for v in sys.path_importer_cache.values())
    patched = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    state["mark"] = state["reads"]
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()], "task": [state["task"]],
        "setup_reads": [setup_reads], "zip_importers": [zips],
        "patched": [patched],
    })

spark = get_spark(app_name="zipcache_probe", cores=2, shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
try:
    rows = (spark.range(0, 24, 1, numPartitions=12)
            .mapInArrow(probe, "pid long, task long, setup_reads long, "
                        "zip_importers long, patched boolean")
            .collect())
    print(json.dumps([r.asDict() for r in rows]))
finally:
    spark.stop()
"""


def test_warm_worker_task_reads_no_zip_directory(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    env.setdefault("SPARK_LOCAL_DIRS", str(tmp_path / "spark-local"))
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(rows) == 12
    assert all(r["patched"] for r in rows)
    warm = [r for r in rows if r["task"] >= 3]
    assert warm, rows  # 12 tasks on 2 slots: some worker ran 3+ of them
    assert all(r["zip_importers"] > 0 for r in warm), rows
    assert all(r["setup_reads"] == 0 for r in warm), rows
