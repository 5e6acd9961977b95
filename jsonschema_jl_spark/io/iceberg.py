"""Optional Apache Iceberg catalog integration for the checkpoint stages.

The sandbox image carries no Iceberg jars, so the engine's checkpoint
writer (`io.checkpoint.CheckpointManager`) uses an Iceberg-LAYOUT parquet
scheme (bucket-partitioned files + JSON manifests standing in for snapshot
metadata).  This module maps that layout onto a REAL Iceberg catalog when
the runtime jar is available — e.g. on a production cluster launched with:

    spark-submit --py-files engine.zip \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.ice=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.ice.type=hadoop \
      --conf spark.sql.catalog.ice.warehouse=hdfs:///warehouse ...

(`iceberg_session_conf` below produces exactly these confs.)  The mapping
is 1:1 by design:

  checkpoint stage dir        -> Iceberg table `<ns>.<stage>`
  bucket column (xxhash64%N)  -> `PARTITIONED BY (bucket(N, <id_col>))`
  one partitioned stage write -> one `writeTo` write
  per-bucket rename commit +  -> snapshot commit (atomic per write: a kill
    JSON manifest 'done' bits      loses the write, never half of it)
  stage schema (manifest)     -> table schema
  footer row counts           -> snapshot summary row counts
  config_hash in the manifest -> table property 'spark_graft.config_hash'
  resume (skip done buckets)  -> `overwritePartitions` idempotency

Everything here degrades honestly: `iceberg_available` is a cheap
classpath probe, and callers (tests/test_iceberg.py) skip cleanly when the
runtime is absent.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from jsonschema_jl_spark.config import DedupConfig

#: Maven coordinate documented for cluster launches (matches PySpark 4.x /
#: Scala 2.13; pin the patch version in your deploy config).
ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_jar_on_classpath() -> str | None:
    """Path of an iceberg-spark-runtime jar visible to this PySpark install,
    or None.  Checks the pyspark jars dir plus SPARK_CLASSPATH — the places
    a jar must be for a LOCAL session to load the catalog classes."""
    import pyspark

    roots = [os.path.join(os.path.dirname(pyspark.__file__), "jars")]
    roots += os.environ.get("SPARK_CLASSPATH", "").split(os.pathsep)
    for root in filter(None, roots):
        hits = glob.glob(os.path.join(root, "*iceberg-spark-runtime*.jar"))
        if hits:
            return hits[0]
    return None


def iceberg_session_conf(warehouse: str, catalog: str = "ice") -> dict[str, str]:
    """Session confs for a Hadoop-catalog Iceberg setup (the config a
    cluster launch passes via --conf; a local test session passes them to
    SparkSession.builder).  Must be set at session CREATION — Spark SQL
    extensions cannot be injected into a running session."""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession, catalog: str = "ice") -> bool:
    """True when the session can actually resolve the Iceberg catalog —
    i.e. the jar is loaded AND the catalog confs were set at creation."""
    try:
        spark.sql(f"SHOW NAMESPACES IN {catalog}").collect()
        return True
    except Exception:
        return False


def write_stage_iceberg(
    df: DataFrame,
    stage: str,
    cfg: DedupConfig,
    id_col: str,
    n_buckets: int = 64,
    catalog: str = "ice",
    namespace: str = "spark_graft",
) -> str:
    """Write one checkpoint stage as an Iceberg table partitioned by
    bucket(n_buckets, id_col) — the real-catalog twin of
    CheckpointManager.write_stage.  Returns the table identifier.

    The write is one atomic `overwritePartitions` snapshot commit, where
    the parquet scheme renames each bucket out of `_staging` and records
    its manifest 'done' bit in turn: re-running a stage after a partial
    failure REPLACES the bucket partitions it produces instead of
    appending a second copy of every row — the same-config retry is
    idempotent because the pipeline is deterministic, so a retry emits the
    same rows into the same bucket partitions.  Config lineage rides as a
    table property so a resume under a different DedupConfig is detectable
    exactly like the JSON manifest's config_hash check."""
    spark = df.sparkSession
    table = f"{catalog}.{namespace}.{stage}"
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, `{id_col}`)) "
        f"TBLPROPERTIES ('spark_graft.config_hash' = '{cfg.config_hash()}')"
    )
    stored = (
        spark.sql(f"SHOW TBLPROPERTIES {table} ('spark_graft.config_hash')")
        .collect()
    )
    if stored and stored[0]["value"] not in ("", cfg.config_hash()):
        raise ValueError(
            f"checkpoint table {table} was written under config "
            f"{stored[0]['value']}; current config is {cfg.config_hash()} — "
            "drop the table or use a fresh namespace"
        )
    df.writeTo(table).overwritePartitions()
    return table


def read_stage_iceberg(
    spark: SparkSession, stage: str,
    catalog: str = "ice", namespace: str = "spark_graft",
) -> DataFrame:
    return spark.read.table(f"{catalog}.{namespace}.{stage}")
