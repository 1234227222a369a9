"""The warm worker daemon (``osm_spark.worker_daemon``): the zip re-read
guard without Spark, the preloaded, gc-frozen workers on the session
fixture, the executor PYTHONPATH from an unrelated directory, and the
stock daemon under a master given to spark-submit."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import time
import zipfile
import zipimport

import pytest

from osm_spark import worker_daemon as WD

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(f"{n}.py", f"NAME = {n!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter re-reads lazily from 3.13 on")
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    zi = zipimport.zipimporter
    monkeypatch.setattr(zi, "invalidate_caches", zi.invalidate_caches)
    WD.install_zip_guard()

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read(p))
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["osm_zipguard_m1"])
    monkeypatch.syspath_prepend(str(archive))
    for name in ("osm_zipguard_m1", "osm_zipguard_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("osm_zipguard_m1").NAME == "osm_zipguard_m1"
    importlib.invalidate_caches()  # stamps the new importer (one re-read)
    n = reads.count(str(archive))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == n  # unchanged: one stat each

    _write_zip(archive, ["osm_zipguard_m1", "osm_zipguard_m2"])
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == n + 1
    assert importlib.import_module("osm_zipguard_m2").NAME == "osm_zipguard_m2"


def _daemon_children(daemon_pid: int) -> set[int]:
    kids = set()
    for p in os.listdir("/proc"):
        try:
            stat = open(f"/proc/{p}/stat").read()
        except (OSError, ValueError):
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == daemon_pid:
            kids.add(int(p))
    return kids


def test_workers_start_warm_and_are_reused(spark):
    """Every task runs in a worker forked after the preload: the guard is
    in place, the heap is frozen, an engine module the UDF never names is
    already imported, and a BLAS call works although numpy's OpenBLAS
    threads were started before the fork."""
    import numpy as np
    import pandas as pd

    guard = WD._invalidate_if_changed.__qualname__

    def probe(batches):
        import gc
        import sys
        import zipimport

        import numpy as np

        for _ in batches:
            pass
        a = np.arange(90_000, dtype=np.float64).reshape(300, 300) / 9e4
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "daemon": [os.getppid()],
            "guard": [zipimport.zipimporter.invalidate_caches.__qualname__],
            "frozen": [gc.get_freeze_count()],
            "routing": ["osm_spark.operators.routing" in sys.modules],
            "matmul": [float((a @ a).sum())],
        })

    schema = ("pid long, daemon long, guard string, frozen long, "
              "routing boolean, matmul double")
    df = spark.range(0, 400, numPartitions=4).mapInPandas(probe, schema)
    first = df.toPandas()
    assert len(first) == 4
    if sys.version_info < (3, 13):
        assert (first.guard == guard).all()
    assert (first.frozen > 0).all()
    assert first.routing.all()
    a = np.arange(90_000, dtype=np.float64).reshape(300, 300) / 9e4
    assert np.allclose(first.matmul, float((a @ a).sum()))

    # worker reuse is kept: the second run's tasks land on workers that
    # already existed (the idle pool is FIFO and may also hold workers
    # from earlier tests, so the pids are a subset, not always equal)
    (daemon,) = set(first.daemon)
    alive = _daemon_children(daemon)
    assert set(first.pid) <= alive
    second = df.toPandas()
    assert set(second.pid) <= alive


def test_engine_udf_imports_from_any_working_directory(tmp_path):
    """From an unrelated working directory with the repo off PYTHONPATH,
    the daemon and an engine mapper import ``osm_spark`` through the
    executor PYTHONPATH that ``get_spark`` sets."""
    script = tmp_path / "run.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from osm_spark import fixtures as FX
        from osm_spark.operators import spatial_join as SJ
        from osm_spark.operators.geocode import geocode_pages
        from osm_spark.session import get_spark

        spark = get_spark("cwd_probe", cores=1)
        polys = FX.polygons_df(spark, 20)
        pages = geocode_pages(FX.pages_df(spark, 300))
        index = SJ.broadcast_polygon_index(polys, 12)
        n = SJ.spatial_join(pages, polys, 12, index=index).count()
        print("ROWS", n)
        spark.stop()
    """))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    t0 = time.perf_counter()
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    wall = time.perf_counter() - t0
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, out.stdout
    print(f"subprocess wall {wall:.1f} s")


def test_spark_submit_master_keeps_stock_daemon(tmp_path):
    """Under ``spark-submit --master``, ``get_spark`` keeps that master and
    sets neither ``local[n]`` nor the worker daemon."""
    spark_submit = os.path.join(os.environ.get("SPARK_HOME", ""), "bin",
                                "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not found under $SPARK_HOME")
    script = tmp_path / "run.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from osm_spark.session import get_spark

        spark = get_spark("submit_probe", cores=2)
        conf = spark.sparkContext.getConf()
        print("MASTER", spark.sparkContext.master,
              conf.get("spark.python.daemon.module", "stock"))
        spark.stop()
    """))
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    out = subprocess.run([spark_submit, "--master", "local[1]", str(script)],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "MASTER local[1] stock" in out.stdout.splitlines(), out.stdout
