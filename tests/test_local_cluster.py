"""Multi-executor smoke: the flagship pipeline on ``local-cluster`` mode
(separate executor JVMs + separate Python workers) — catches closure
serialization, broadcast distribution, and executor-side Python issues
(``cover_polygons``' mapInPandas) that ``local[*]`` (single JVM) can
hide. The sandbox stand-in for
``spark-submit --py-files`` on a real multi-executor cluster.

Runs in a subprocess: ``getOrCreate`` inside the pytest process would
silently reuse (and on teardown stop) the session-scoped local[8] session
shared by every other test.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (SparkSession.builder.master("local-cluster[2,2,2048]")
         .appName("geohash-dotnet-spark-cluster-smoke")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.executor.memory", "1500m")
         # the sandbox analogue of spark-submit --py-files: executor
         # Python workers are separate processes and must import the
         # package themselves (single-JVM local[*] hides this)
         .config("spark.executorEnv.PYTHONPATH", {repo!r})
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
assert spark.sparkContext.master.startswith("local-cluster"), spark.sparkContext.master

import __spark_entry__ as E
out = E.entry(spark)
rows = out.collect()
assert len(rows) > 0
assert out.columns == ["tile1", "lang", "n_pages", "avg_quality"]
assert sum(r["n_pages"] for r in rows) > 0

from geohash_dotnet_spark.functions import gh_decode
from geohash_dotnet_spark.kernels import cover_polygon
from geohash_dotnet_spark.operators import cover_polygons
box = "POLYGON((10 50, 15 50, 15 53, 10 53, 10 50))"
# cover_polygons' mapInPandas runs package code in the executors'
# Python workers
cov = cover_polygons(spark, [("box", box, 4, "intersects")])
cells = sorted(r["cell"] for r in cov.collect())
assert cells == sorted(cover_polygon(box, 4, "intersects")), len(cells)
r = (cov.withColumn("d", gh_decode(F.col("cell")))
     .agg(F.min("d.lat"), F.max("d.lat")).collect()[0])
assert 49.0 < r[0] < 54.0 and 49.0 < r[1] < 54.0
spark.stop()
print("CLUSTER_SMOKE_OK")
"""


def test_flagship_and_udfs_on_two_executors():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)],
        capture_output=True, text=True, timeout=600,
        env=dict(os.environ, PYTHONPATH=REPO))
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "CLUSTER_SMOKE_OK" in proc.stdout


PYFILES_SCRIPT = r"""
import os, shutil, sys, tempfile
sys.path.insert(0, {repo!r})          # driver-side import only
from pyspark.sql import SparkSession

zip_base = os.path.join(tempfile.mkdtemp(), "ghpkg")
zip_path = shutil.make_archive(zip_base, "zip", root_dir={repo!r},
                               base_dir="geohash_dotnet_spark")

spark = (SparkSession.builder.master("local-cluster[2,2,2048]")
         .appName("geohash-dotnet-spark-pyfiles-smoke")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.executor.memory", "1500m")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
# the real --py-files mechanism: executors' Python workers import the
# package from this shipped zip (no PYTHONPATH on the executor side)
spark.sparkContext.addPyFile(zip_path)

from geohash_dotnet_spark.kernels import cover_polygon
from geohash_dotnet_spark.operators import cover_polygons, spatial_join_refined
from geohash_dotnet_spark.sources.pages import pages
box = "POLYGON((-90 -60, 90 -60, 90 60, -90 60, -90 -60))"
# cover_polygons' mapInPandas: the executors' Python workers import the
# package
cells = sorted(r["cell"] for r in
               cover_polygons(spark, [("box", box, 2, "intersects")]).collect())
assert cells == sorted(cover_polygon(box, 2, "intersects")), len(cells)
pg = pages(spark, "/root/testdata/sf0.001")
n, inside = pg.count(), spatial_join_refined(pg, box, 2).count()
assert n == 500 and 0 < inside < 500, (n, inside)
spark.stop()
print("PYFILES_SMOKE_OK")
"""


def test_pyfiles_zip_ships_package_to_executors():
    """spark-submit --py-files analogue: the package zip added via
    addPyFile must satisfy executor-side imports for the mapInPandas
    with NO PYTHONPATH reaching the executor Python workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", PYFILES_SCRIPT.format(repo=REPO)],
        capture_output=True, text=True, timeout=600, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PYFILES_SMOKE_OK" in proc.stdout


SUBMIT_JOB = r"""
import sys
# --py-files is the ONLY route to the package here: fail loudly if the
# repo leaked onto sys.path
assert not any(p.rstrip("/").endswith("repo") for p in sys.path if p), sys.path
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from geohash_dotnet_spark.kernels import compress, cover_polygon
from geohash_dotnet_spark.functions.native import with_geohash
from geohash_dotnet_spark.sources.pages import pages

spark = SparkSession.builder.getOrCreate()
pg = pages(spark, "/root/testdata/sf0.001", replicate=4)
cells = [str(c) for c in cover_polygon(
    "POLYGON((-30 -20, 60 -20, 60 45, -30 45, -30 -20))", 2, "intersects")]
fence = spark.createDataFrame([(c,) for c in compress(cells)], ["pfx"])
tagged = with_geohash(pg, "lat", "lon", 2, out="gh")
hit = tagged.join(F.broadcast(fence),
                  tagged["gh"].startswith(F.col("pfx")), "left_semi")
n, total = hit.count(), pg.count()
assert 0 < n < total, (n, total)
print(f"SUBMIT_OK inside={n} total={total}")
spark.stop()
"""


def test_real_spark_submit_py_files_on_local_cluster(tmp_path):
    """The north rule verbatim: `spark-submit --py-files pkg.zip` against
    a multi-executor master (local-cluster[2,2,2048] — two separate
    executor JVMs). The driver process gets NO repo PYTHONPATH; the
    package must arrive via --py-files alone."""
    import shutil
    import zipfile

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        import pytest
        pytest.skip("spark-submit binary not on this host")

    zip_path = str(tmp_path / "ghpkg.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, dirs, files in os.walk(os.path.join(REPO,
                                                      "geohash_dotnet_spark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    job = str(tmp_path / "job.py")
    with open(job, "w") as f:
        f.write(SUBMIT_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [spark_submit, "--master", "local-cluster[2,2,2048]",
         "--conf", "spark.executor.memory=1500m",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, job],
        capture_output=True, text=True, timeout=600, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SUBMIT_OK" in proc.stdout, proc.stdout[-2000:]
