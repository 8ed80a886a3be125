"""Environment-gated gates (r10 verdict item 9): operators whose
RUNTIME is absent from this container but whose implementation is
complete — registered automatically the moment a sandbox can execute
them, so the coverage boundary is a capability probe, not a code gap.

Two probes, two gates:

- ``has_tws_runtime()`` (streaming/incremental.py): the Spark 4
  typed-state operator ``transformWithStateInPandas`` speaks protobuf
  between the Python runner and the JVM; without ``google.protobuf``
  the runner crashes at init, before any user code. When the package
  appears, ``stateful_typed_totals_gate`` self-registers.
- ``has_avro_runtime()``: the ``spark-avro`` data-source module is a
  separate jar not shipped in pyspark's core jars; when it is on the
  classpath, ``avro_roundtrip_supplier`` self-registers.

The module-level ``QUERIES`` dict is built CONDITIONALLY — in this
container both probes are False and it is empty, which COVERAGE.md
documents as the declared environment boundary. bench.py mirrors the
same probes so the timing-coverage tiling test stays exact either way.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table, stream_table
from linqonsteroids_spark.streaming.incremental import has_tws_runtime


def has_avro_runtime() -> bool:
    """Whether ``spark.read.format("avro")`` can plan here: the
    spark-avro data-source jar must be on the session classpath. The
    probe checks pyspark's bundled jars directory — the ONE directory
    ``get_spark`` actually puts on the driver classpath — without
    needing a live session, so the registry can consult it at import
    time. Deliberately no env-var escape hatch: a jar that exists on
    disk but is not on the session classpath would register a gate
    that cannot run."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars, "*spark-avro*.jar")))


# --- typed-state streaming totals (transformWithStateInPandas) -------------
# The adjudication contract mirrors streaming_user_totals (the
# applyInPandasWithState twin at queries/scale.py): update-mode memory
# sink, final state per key = its max-n_events row. The oracle
# recomputes per-user count/sum/max plus the distinct-type count the
# MapState tracks.
def stateful_typed_totals_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from linqonsteroids_spark.queries.scale import (
        _MV_IDS,
        _run_stream_to_memory,
    )
    from linqonsteroids_spark.session import conf_guard
    from linqonsteroids_spark.streaming.incremental import (
        ROCKSDB_PROVIDER,
        stateful_typed_totals,
    )

    if not has_tws_runtime():  # defensive: registration already gates
        raise RuntimeError(
            "transformWithStateInPandas runtime absent (google.protobuf)"
        )
    stream = stream_table(spark, sf_dir, "events")
    totals = stateful_typed_totals(
        stream, key="user_id", value_col="value", type_col="event_type"
    )
    name = f"mv_tws_{next(_MV_IDS)}"
    with conf_guard(
        spark, "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_PROVIDER,
    ):
        _run_stream_to_memory(spark, totals, name, "update")
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        rows_df = (
            spark.table(name)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                "n_events",
                F.round("total", 4).alias("total"),
                F.round("max_value", 4).alias("max_value"),
                "n_types",
            )
        )
        rows = rows_df.collect()
    return spark.createDataFrame(rows, rows_df.schema)


STATEFUL_TYPED_SQL = """
SELECT user_id, count(*) AS n_events,
       round(sum(value), 4) AS total,
       round(max(value), 4) AS max_value,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
"""


# --- avro format roundtrip ---------------------------------------------------
# The format_roundtrip_supplier pattern (queries/misc.py) applied to the
# avro module: write supplier as avro, read it back, aggregate — values
# must match the oracle recomputing from the parquet source directly.
def avro_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.session import scratch_dir

    if not has_avro_runtime():  # defensive: registration already gates
        raise RuntimeError("spark-avro data source absent from classpath")
    sup = load_table(spark, sf_dir, "supplier")
    base = scratch_dir(prefix="squopt_avro_")
    path = f"{base}/avro"
    sup.write.format("avro").mode("overwrite").save(path)
    back = spark.read.format("avro").load(path)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("s_acctbal"), 2).alias("acctbal"),
    )


AVRO_ROUNDTRIP_SQL = """
SELECT s_nationkey, count(*) AS n_rows,
       round(sum(s_acctbal), 2) AS acctbal
FROM supplier GROUP BY s_nationkey
"""


#: conditional registration — the auto-ungating contract: these names
#: enter the registry (and the driver's correctness sample, via the
#: rotation note for whichever round the environment changes in) the
#: moment their runtime exists. tests/test_registry.py asserts presence
#: iff the probe passes; COVERAGE.md carries the skip reasons.
QUERIES: dict = {}
if has_tws_runtime():
    QUERIES["stateful_typed_totals"] = (
        stateful_typed_totals_gate,
        STATEFUL_TYPED_SQL,
    )
if has_avro_runtime():
    QUERIES["avro_roundtrip_supplier"] = (
        avro_roundtrip_supplier,
        AVRO_ROUNDTRIP_SQL,
    )
