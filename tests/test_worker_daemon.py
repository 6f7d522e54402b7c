"""The engine's Python worker daemon and the workers' import path.

The zipimporter wrap is tested in subprocesses, so this process keeps
the stock importer.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from tests.conftest import REPO, SF_SMALL

WRAPPED = """
import importlib, os, sys, zipfile, zipimport
from spark_clustering_spark.worker_daemon import skip_unchanged_archives

skip_unchanged_archives()
reads = []
stock_read = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or stock_read(path)

def write_zip(arch, modules):
    with zipfile.ZipFile(arch, "w") as z:
        for name in modules:
            z.writestr(name + ".py", "X = 1\\n")

arch = os.path.join(os.getcwd(), "mods.zip")
write_zip(arch, ["a"])
sys.path.insert(0, arch)
import a
importer = sys.path_importer_cache[arch]
importlib.invalidate_caches()  # an importer's first call reads
"""


def _run(code: str, cwd, env: dict[str, str] | None = None) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd,
        env=env if env is not None else {**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_unchanged_archive_is_not_reread(tmp_path):
    _run(
        WRAPPED
        + """
files, n = importer._files, reads.count(arch)
assert n == 2, reads
for _ in range(3):
    importlib.invalidate_caches()
assert reads.count(arch) == n and importer._files is files
""",
        tmp_path,
    )


def test_rewritten_archive_is_reread_and_its_new_module_imports(tmp_path):
    _run(
        WRAPPED
        + """
n = reads.count(arch)
write_zip(arch, ["a", "b"])
importlib.invalidate_caches()
assert reads.count(arch) == n + 1
import b
assert b.X == 1
""",
        tmp_path,
    )


def test_deleted_archive_takes_the_stock_path(tmp_path):
    _run(
        WRAPPED
        + """
n = reads.count(arch)
os.remove(arch)
importlib.invalidate_caches()
assert reads.count(arch) == n + 1
assert importer._files == {} and arch not in zipimport._zip_directory_cache
""",
        tmp_path,
    )


def test_python_313_keeps_the_stock_zipimporter(tmp_path):
    _run(
        """
        import sys, zipimport
        from spark_clustering_spark.worker_daemon import skip_unchanged_archives

        stock = zipimport.zipimporter.invalidate_caches
        sys.version_info = (3, 13, 0)
        skip_unchanged_archives()
        assert zipimport.zipimporter.invalidate_caches is stock
        """,
        tmp_path,
    )


def test_session_workers_keep_pyspark_zip_directory_across_tasks(spark):
    """Consecutive tasks in one reused worker see the same directory
    object for pyspark.zip: the per-task invalidation read nothing."""

    def zip_directory_id(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        arch = next(p for p in zipimport._zip_directory_cache if p.endswith("pyspark.zip"))
        yield pd.DataFrame(
            {"pid": [os.getpid()], "dir_id": [id(zipimport._zip_directory_cache[arch])]}
        )

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "spark_clustering_spark.worker_daemon"
    by_pid: dict[int, list[int]] = {}
    one = spark.range(1, numPartitions=1)
    for _ in range(16):
        [row] = one.mapInPandas(zip_directory_id, "pid long, dir_id long").collect()
        by_pid.setdefault(row["pid"], []).append(row["dir_id"])
    reused = [ids for ids in by_pid.values() if len(ids) > 1]
    assert reused, by_pid
    assert all(len(set(ids)) == 1 for ids in reused), by_pid


def test_workers_import_the_engine_from_any_cwd(tmp_path):
    """A driver that found the package through sys.path, run from
    another cwd with PYTHONPATH unset, still runs an Arrow kernel."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = _run(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        import numpy as np
        from spark_clustering_spark.ml.kernels import lloyd_iteration_multi
        from spark_clustering_spark.operators.clustering import points_df
        from spark_clustering_spark.session import get_spark

        spark = get_spark("elsewhere", master="local[1]")
        points = points_df(spark, {SF_SMALL!r})
        vecs = [r["vec"] for r in points.orderBy("vec_id").limit(3).collect()]
        stats = lloyd_iteration_multi(points, {{0: np.array(vecs)}})
        print(sum(s["n_points"] for s in stats[0]), points.count())
        spark.stop()
        """,
        tmp_path,
        env,
    )
    assigned, total = out.split()[-2:]
    assert assigned == total
