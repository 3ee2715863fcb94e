"""SparkSession factory with the configs this engine depends on.

Scale notes (100 TB design): these configs are the *local* profile. On a
real cluster the same builder is used but `master`, shuffle partitions
(~2-3x total cores, or AQE-coalesced from a high initial number), and
executor memory come from spark-submit. Nothing in the engine hard-codes
local assumptions beyond this factory.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: The directory holding the secdb_spark package.  Python workers do not
#: inherit this process's sys.path: a UDF that references engine code fails
#: to unpickle (ModuleNotFoundError) unless the workers' path has this.
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)

# Configs that are *required for correctness* on the driver's testdata and
# must therefore also be applied at runtime to sessions we did not build
# (the verify driver passes us its own SparkSession).
RUNTIME_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS); Spark 4.x refuses it unless
    # read as raw int64 nanos (SURVEY §1.3). catalog.load converts to
    # timestamp_micros exactly via integer `div 1000`.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for pandas_udf / applyInPandas / mapInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime re-plan (partition coalescing, skew-join splitting,
    # broadcast conversion) — the main lever that makes one logical plan
    # survive 0.001x..1000x data-size changes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic wall-clock values: events.ts is built with
    # timestamp_micros() (LTZ semantics) — pin the session to UTC so
    # collected values equal DuckDB's timezone-naive reading of the file.
    "spark.sql.session.timeZone": "UTC",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply required dynamic configs to an existing session (ours or a
    caller's), and add PACKAGE_ROOT to the PYTHONPATH of its worker
    environment (sc.environment, merged with any
    spark.executorEnv.PYTHONPATH)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path already set it
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [PACKAGE_ROOT])
    return spark


def get_spark(app_name: str = "secdb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's config profile."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    import tempfile

    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Input-split sizing knob. Measured A/B at sf0.1 (3 bench runs per
        # setting): 2 MB splits speed the flagship agg ~40% in isolation
        # (3 tasks -> ~6 on an 11 MB file) but LOSE overall (median 2.70 s
        # vs 2.54 s) — extra map tasks tax every shuffle/window query. The
        # default stays; the env knob remains for bigger local corpora.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # saveAsTable targets (bucketed tables, layout tests) land in /tmp,
        # not the repo working dir (static conf — builder-time only)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", tempfile.mkdtemp(prefix="secdb_wh_")
            ),
        )
        # Generated-code cache size. Spark's default holds 100 classes,
        # but one headline pass (sf0.01) needs 145 and one perfbench
        # api_secdb pass 232, so at the default every repeat pass
        # recompiles all of them (Janino, interpreted tasks, then C1/C2
        # again). The whole registry compiles about 5,900 distinct classes
        # at sf0.001, and 8192 holds them: a repeat headline or api_secdb
        # pass compiles 0 and a repeat registry pass ~130 instead of
        # ~8,500, for about 40 MB more metaspace (SCALE.md §82).
        # Builder-only, not in RUNTIME_CONFS: the cache is created once
        # per JVM (a static conf), and it changes speed, never answers, so
        # a caller-owned session may keep Spark's default.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return apply_runtime_confs(b.getOrCreate())
