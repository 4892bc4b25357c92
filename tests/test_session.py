"""Session factory and driver-side table helper (``session.py``)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap

from webscale_multimodal_datapipeline_spark.session import PACKAGE_ROOT, local_frame

PKG_DIR = os.path.join(PACKAGE_ROOT, "webscale_multimodal_datapipeline_spark")


def test_local_frame_values_schema_and_plan(spark):
    from pyspark.sql import types as T

    df = local_frame(
        spark,
        [(1, "a", [1.0, 2.0], b"\x00\x01"), (None, None, None, None)],
        "k int, s string, v array<double>, b binary",
    )
    assert df.dtypes == [("k", "int"), ("s", "string"), ("v", "array<double>"), ("b", "binary")]
    assert [tuple(r) for r in df.collect()] == [
        (1, "a", [1.0, 2.0], bytearray(b"\x00\x01")),
        (None, None, None, None),
    ]
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    schema = T.StructType([T.StructField("x", T.LongType())])
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.count() == 0


def test_no_create_dataframe_outside_local_frame():
    """Driver-built tables go through ``session.local_frame`` (an Arrow
    LocalRelation); a bare ``createDataFrame(`` call elsewhere in the
    package would bring back the parallelized Python-RDD path."""
    offenders = []
    for root, _, files in os.walk(PKG_DIR):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                src = fh.read()
            if os.path.relpath(path, PKG_DIR) == "session.py":
                start = src.index("def local_frame(")
                end = src.find("\ndef ", start + 1)
                src = src[:start] + (src[end:] if end >= 0 else "")
            for m in re.finditer(r"createDataFrame\(", src):
                line = src.count("\n", 0, m.start()) + 1
                offenders.append(f"{os.path.relpath(path, PKG_DIR)}:{line}")
    assert offenders == []


_WORKER_SCRIPT = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {root!r})
    from pyspark.sql import functions as F
    from webscale_multimodal_datapipeline_spark.operators import multimodal as MM
    from webscale_multimodal_datapipeline_spark.session import DEFAULT_CPUS, get_spark

    print("cpus", DEFAULT_CPUS, os.cpu_count())
    spark = get_spark("cwd-probe", cpus=1)
    df = spark.range(4).select(F.col("id").cast("string").alias("text"))
    df = df.withColumn("image_bytes", MM.fake_image_bytes("text"))
    rows = MM.image_metadata_refiner().apply(df).select("image_width").collect()
    print("rows", len(rows))
    spark.stop()
    """
)


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A pandas-UDF refiner runs in a process started outside the repo
    with no PYTHONPATH: the session hands Python workers the package root.
    With SPARK_GRAFT_CPUS unset the default is the host's core count."""
    script = tmp_path / "probe.py"
    script.write_text(_WORKER_SCRIPT.format(root=PACKAGE_ROOT))
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 4" in proc.stdout
    cpus = re.search(r"cpus (\d+) (\d+)", proc.stdout)
    assert cpus and cpus.group(1) == cpus.group(2)


def test_driver_memory_is_half_of_ram_capped_at_16g():
    from webscale_multimodal_datapipeline_spark.session import driver_memory

    gib = 1 << 30
    assert driver_memory(15 * gib) == "7680m"
    assert driver_memory(2 * gib) == "1024m"
    assert driver_memory(32 * gib) == "16384m"
    assert driver_memory(256 * gib) == "16384m"
    assert re.fullmatch(r"\d+m", driver_memory())
