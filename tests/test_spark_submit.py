"""North-rule launch contract: the pipeline runs via REAL
``spark-submit --py-files edspdf_spark.zip job.py`` — a fresh JVM + driver
python whose only access to the engine is the packaged artifact (the repo
is stripped from PYTHONPATH), matching how a cluster submission works.

Reference parity: the reference ships pipelines as pip wheels so workers
can import them (``edspdf/utils/package.py``); the Spark equivalent is the
X9 ``--py-files`` artifact exercised here end-to-end.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

_JOB = textwrap.dedent(
    """
    import sys

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("edspdf-pyfiles-smoke")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # imports resolve from the --py-files zip on BOTH driver and executors
    from edspdf_spark.fixtures import build_pages_df
    from edspdf_spark.operators.fused import run_pipeline_fused

    pages = build_pages_df(spark, 60, partitions=2)
    agg = run_pipeline_fused(pages, [("body", 0.0, 0.0, 1.0, 0.6)], threshold=0.1)
    agg.write.mode("overwrite").parquet(sys.argv[1])
    back = spark.read.parquet(sys.argv[1])
    n = back.count()
    n_urls = back.select("url").distinct().count()
    print(f"SUBMIT_OK rows={n} urls={n_urls}")

    # a closure that carries the package imports it from the artifact in
    # each worker, which installs the engine's zipimport method there
    import edspdf_spark
    import pyarrow as pa

    def report(batches, _engine=edspdf_spark):
        import zipimport

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"engine": [method.__module__ == "edspdf_spark._zipimport"]}
        )

    flags = [r.engine for r in spark.range(8, numPartitions=4)
             .mapInArrow(report, "engine boolean").collect()]
    print(f"ZIPIMPORT tasks={len(flags)} engine={sum(flags)}")
    spark.stop()
    """
)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this machine"
)
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    from edspdf_spark.packaging import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path / "edspdf_spark.zip"))
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    out_dir = tmp_path / "out"

    # the submitted process must see the engine ONLY through the artifact
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[2]",
            "--py-files",
            zip_path,
            str(job),
            str(out_dir),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SUBMIT_OK" in proc.stdout, proc.stdout[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("SUBMIT_OK")][0]
    assert "urls=" in line and int(line.split("urls=")[1]) > 0
    # the sink is a real parquet dataset, not an empty marker
    assert any(f.endswith(".parquet") for f in os.listdir(out_dir))
    # before 3.13 every worker task runs the stat-checked zipimport method
    engine_tasks = 4 if sys.version_info < (3, 13) else 0
    assert f"ZIPIMPORT tasks=4 engine={engine_tasks}" in proc.stdout, proc.stdout[-2000:]
