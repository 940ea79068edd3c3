"""SparkSession factory tuned for the test/bench environment.

Local mode is a single JVM; the configs below are still the ones that
matter on a real cluster (AQE, shuffle partitions, Arrow) — see
bench.py, the per-lane runner, and scale_smoke.py for the scale story.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "lagoon_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # the driver's parquet uses TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as int64 and convert in register_views
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_NANO_TS_CACHE: dict[str, list[str]] = {}


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the lagoon_spark package to Python workers.

    Arrow-batched operators (mapInPandas / applyInPandasWithState)
    pickle their closures by reference to this module; a driver process
    launched from another cwd (e.g. the correctness driver) would leave
    workers unable to import it. ``addPyFile`` distributes a zip of the
    package to every worker's sys.path — the same mechanism used to
    ship code to a real cluster.
    """
    sc = spark.sparkContext
    if getattr(sc, "_lagoon_pyfiles_added", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"lagoon_spark_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._lagoon_pyfiles_added = True


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns] (from the file footer)."""
    if path not in _NANO_TS_CACHE:
        import pyarrow.dataset as ds
        import pyarrow.types as pat

        schema = ds.dataset(path, format="parquet").schema
        _NANO_TS_CACHE[path] = [
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    return _NANO_TS_CACHE[path]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver's synthetic tables as temp views.

    Each view is a plain parquet scan — Catalyst pushes filters and
    prunes columns into the FileSourceScan, so registering everything
    is free until a query actually reads it. Nanosecond timestamps are
    read as int64 (nanosAsLong) and converted to TIMESTAMP_NTZ, which
    matches DuckDB's naive-timestamp semantics for the oracle compare.
    Integer `DIV` keeps the ns→us conversion exact (a double round-trip
    would lose precision above 2^53).
    """
    from pyspark.sql import functions as F

    # runtime-settable session confs: the caller's session (e.g. the
    # driver's) may not have them. nanosAsLong is required to scan the
    # TIMESTAMP(NANOS) parquet at all; UTC makes the instant→NTZ cast
    # deterministic regardless of host timezone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ensure_workers_can_import(spark)

    # registration is idempotent per (session, sf_dir): re-reading ten
    # parquet footers per query call costs ~0.3s that every registered
    # query would otherwise pay
    if getattr(spark, "_lagoon_views_dir", None) == sf_dir:
        return

    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            for c in _nano_ts_columns(path):
                df = df.withColumn(
                    c,
                    F.expr(f"CAST(timestamp_micros(`{c}` DIV 1000) AS TIMESTAMP_NTZ)"),
                )
            df.createOrReplaceTempView(name)
    spark._lagoon_views_dir = sf_dir
