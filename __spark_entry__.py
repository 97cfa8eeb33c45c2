"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship parse→enrich→route→aggregate over webpages derived
                from /root/testdata/sf0.001/documents.parquet.
queries()     — one entry per implemented operator (SURVEY.md §2 + the
                training-data ops); each callable takes (spark, sf_dir).
oracle_sql()  — DuckDB-equivalent SQL per query (generated by the same
                config compiler that builds the Spark plans — sqlgen.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "src"))

from weblog_pipeline.session import export_worker_path

export_worker_path()

#: applicationId of the SparkContext the package zip was last shipped to
_shipped_to: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Distribute the package to python workers of an externally created
    session (addPyFile works mid-session; PYTHONPATH env only helps when
    this module is imported before the JVM starts). Once per SparkContext:
    a second addPyFile of the same zip only logs "has been added already"."""
    global _shipped_to
    sc = spark.sparkContext
    if sc.applicationId == _shipped_to:
        return
    import hashlib
    import shutil
    import tempfile

    base = os.path.dirname(os.path.abspath(__file__))
    src = os.path.join(base, "src")
    # key the zip by source digest so edited code is re-shipped (a fixed
    # name would pin workers to the first-ever build)
    h = hashlib.md5()
    for root, _, names in sorted(os.walk(src)):
        if "__pycache__" in root:
            continue
        for name in sorted(names):
            if name.endswith(".py"):
                p = os.path.join(root, name)
                st = os.stat(p)
                h.update(f"{p}:{st.st_mtime_ns}:{st.st_size}".encode())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"weblog_pipeline_pyfiles_{h.hexdigest()[:12]}"
    )
    if not os.path.exists(zip_path + ".zip"):
        shutil.make_archive(zip_path, "zip", src)
    try:
        sc.addPyFile(zip_path + ".zip")
    except Exception:
        pass  # already registered or unsupported — PYTHONPATH fallback applies
    _shipped_to = sc.applicationId


def _configure(spark: SparkSession) -> None:
    # LAST_WIN reproduces pdata's upsert-by-key map semantics (see
    # weblog_pipeline.session); the other settings are perf-only.
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    _ship_package(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _configure(spark)
    from weblog_pipeline.driver_queries import q_e2e_sink_counts

    return q_e2e_sink_counts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from weblog_pipeline import driver_queries

    base = driver_queries.queries()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _configure(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in base.items()}


def oracle_sql() -> dict[str, str]:
    from weblog_pipeline import driver_queries

    return driver_queries.oracle_sql()
