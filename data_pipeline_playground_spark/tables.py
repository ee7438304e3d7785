"""Table catalog over the driver-provided parquet directories.

All queries consume these tables (TESTDATA.md); no synthetic inputs.
Reads are plain ``spark.read.parquet`` so Catalyst gets native column
pruning + predicate pushdown into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _tune_session(spark)
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tune_session(spark: SparkSession) -> None:
    """Right-size shuffle width for an untuned caller session.

    The driver's verify harness hands us ITS SparkSession; if it still
    carries Spark's stock 200 shuffle partitions, 200 tasks per
    exchange is pure scheduler overhead at the sf0.001–0.1 scales this
    repo is driven at (tens of MB). 32 matches local core count — the
    same value our own `session.get_spark` uses. The stock value is
    treated as the untuned sentinel: any other width was chosen
    deliberately and is left untouched — at cluster scale the tuned
    width (or AQE coalesce) is the operator's inherited environment,
    not something a table reader should override.
    """
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass  # read-only conf (e.g. Connect) — keep the caller's width


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which the vectorized
    reader rejects; read nanos as long and convert to timestamp_ntz
    (floor-truncating to micros, exactly like DuckDB's NS→US read).

    The conversion is epoch arithmetic on an NTZ base — deliberately
    NOT ``cast(timestamp_micros(..) as timestamp_ntz)``, whose
    LTZ→NTZ step shifts values by the session time zone offset when
    the driver's session is not UTC.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, (ts div 1000) % 1000000, "
                "timestampadd(SECOND, ts div 1000000000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00'))"
            ),
        )
    return df


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A constant frame of ``rows`` (DDL ``schema``) that plans as a
    ``LocalTableScan``.

    ``spark.createDataFrame([...], schema)`` ships a Python list as a
    pickled RDD: ``Scan ExistingRDD``, one Python task per core on every
    action (0.5–0.75 s per warm collect of one row on 4 cores). An Arrow
    table becomes a local relation instead, whatever the session's Arrow
    setting (0.01 s per collect).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    data = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(data, struct)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the Spark SQL surface."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
