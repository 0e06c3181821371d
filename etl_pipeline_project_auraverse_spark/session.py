"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (one JVM); the configuration is
chosen so the same code degrades gracefully to a 1000-executor
cluster: AQE on (runtime partition coalescing, skew-join splitting,
dynamic broadcast selection), UTC session time zone (so results are
comparable against UTC-naive engines like DuckDB), Arrow enabled for
every pandas-UDF crossing. :func:`local_frame` is the one way the
package turns driver-side rows into a DataFrame.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _create_converter, _make_type_verifier

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "etl_pipeline_project_auraverse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. ``spark.sql.shuffle.partitions``
    is sized to cores for local runs — AQE coalesces further at runtime,
    and on a large cluster this should be raised to ~2-3x total cores
    (or left to AQE with a high initial value).
    """
    # Python workers resolve module-referenced functions (mapInPandas /
    # pandas_udf callables defined in this package) by importing the
    # package — which fails if the driver process was launched from a
    # cwd outside the repo and the package is not on PYTHONPATH. Workers
    # inherit the JVM's env, captured from this process at JVM launch,
    # so export the repo root BEFORE getOrCreate; spark.executorEnv
    # covers real-cluster executors the same way.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + py_path if py_path else "")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet columns (events.ts) surface as long
        # nanos; load_table converts them to microsecond timestamps with
        # the same truncation DuckDB applies when it reads nanos parquet.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Untagged parquet timestamps (isAdjustedToUTC=false) would read
        # as TIMESTAMP_NTZ on Spark 4, breaking unix_micros()/watermark
        # paths; read them as session-tz (UTC) TIMESTAMP like DuckDB's
        # naive-timestamp semantics so epoch math stays exact.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    requested: dict[str, str] = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"),
        # startup-only like driver memory: if getOrCreate reuses a
        # session created elsewhere, the worker-import PYTHONPATH fix
        # documented above did NOT apply — the checks below make that
        # explicit instead of silent. (The os.environ export above
        # still helps local[N] workers forked later.)
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    # A live session means getOrCreate WILL reuse it and every
    # startup-only config above is a no-op; the mismatch scan after
    # getOrCreate only catches keys the old session set differently,
    # not keys it never set — so detect reuse directly.
    preexisting = SparkSession.getActiveSession()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
        requested[k] = v
    spark = builder.getOrCreate()
    # getOrCreate silently ignores JVM-startup configs (driver memory,
    # master, ...) when it reuses an existing session — and worse, it
    # copies builder options into the session's RuntimeConfig, so
    # spark.conf.get() echoes the *requested* value. Compare
    # startup-only keys (not RuntimeConfig-modifiable) against the
    # actual SparkContext conf instead, and warn on any gap.
    ignored = {}
    sc_conf = spark.sparkContext.getConf()
    for k, want in requested.items():
        try:
            if spark.conf.isModifiable(k):
                continue  # runtime-settable: getOrCreate applied it
            got = sc_conf.get(k, None)
        except Exception:
            got = None
        if got != want and (got is not None or preexisting is not None):
            ignored[k] = (want, got)
    if ignored:
        warnings.warn(
            "get_spark reused an existing SparkSession; these settings were "
            f"NOT applied (requested, actual): {ignored}",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows``, planned as a JVM local
    relation (``LocalTableScan``).

    ``spark.createDataFrame(<list>, schema)`` ships its rows through a
    Python RDD, so every action that reads the frame starts Python
    workers on each of its partitions, even for 3 rows. Here each row
    is checked and converted as that path does it: the same type
    verifier (a null in a non-nullable field or a value of the wrong
    type raises) and the same ``toInternal`` conversion (dates, naive
    and aware timestamps, decimals mean the same). The converted rows
    go to Spark as a ``pyarrow.Table``, which the JVM reads into a
    local relation with no Python worker. ``schema`` is a
    ``StructType`` or a DDL string.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*internal)) if internal else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one star-schema table from an sf directory (parquet).

    Parquet scan → columnar, predicate pushdown and column pruning are
    applied by Catalyst to whatever plan is built on top.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark has
    no native type for; with ``spark.sql.legacy.parquet.nanosAsLong`` it
    scans as long nanoseconds and we floor-divide to microseconds —
    bit-identical to DuckDB's nanos→TIMESTAMP truncation. This is a pure
    projection (no shuffle, stays inside whole-stage codegen).
    """
    if name == "events":
        # runtime-settable; needed when the caller built its own session.
        # Deliberately NOT restored: nanos columns must scan as long for
        # every read this engine plans — engine-wide semantics.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Untagged micro/milli timestamps must scan as TIMESTAMP (LTZ, session
    # tz = UTC), not TIMESTAMP_NTZ. There is no per-read parquet option
    # for this (probed on 4.1: .option("inferTimestampNTZ", ...) is
    # ignored), so set the runtime conf for the (eager) schema
    # resolution and restore the caller's value after — the schema is
    # baked into the DataFrame at read time.
    _NTZ_KEY = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev_ntz = spark.conf.get(_NTZ_KEY, None)
    spark.conf.set(_NTZ_KEY, "false")
    try:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    finally:
        if prev_ntz is not None:
            spark.conf.set(_NTZ_KEY, prev_ntz)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Defensive: if NTZ columns slipped through anyway, normalize them to
    # LTZ with the SAME epoch the primary path produces (stored micros ==
    # epoch micros). A bare cast would interpret the wall clock in the
    # session time zone and shift epochs whenever that tz isn't UTC;
    # from_utc_timestamp(cast, session_tz) undoes exactly that shift, so
    # this is epoch-exact in ANY session time zone.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        tz = spark.conf.get("spark.sql.session.timeZone")
        df = df.withColumns(
            {c: F.from_utc_timestamp(F.col(c).cast("timestamp"), tz) for c in ntz_cols}
        )
    # df.dtypes above only sees top-level columns; the star schema is
    # flat by construction, so a NESTED ntz field means an upstream
    # schema change this normalization can't silently absorb — be loud.
    if "timestamp_ntz" in df.schema.simpleString():
        raise ValueError(
            f"{name}: nested timestamp_ntz field in {df.schema.simpleString()}; "
            "load_table only normalizes top-level timestamps"
        )
    return df
