"""Canonical loaders for the test star schema.

All plan functions load tables through here so schema quirks are fixed
in exactly one place:

* ``events.parquet`` stores its ``ts`` column as parquet
  ``TIMESTAMP(NANOS, isAdjustedToUTC=false)``, which Spark's parquet
  reader rejects. With ``spark.sql.legacy.parquet.nanosAsLong=true`` the
  column arrives as a raw nanosecond ``long``; we convert it to
  ``timestamp_ntz`` with pure integer arithmetic (no timezone, no double
  rounding) so values match DuckDB's microsecond view bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from python_etl_spark.memo import (
    _dir_fingerprint,
    session_drop,
    session_keys,
    session_memo,
)
from python_etl_spark.session import apply_runtime_confs

TABLE_NAMES = [
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
]

# ns -> us with integer div, then NTZ epoch + exact day/microsecond
# interval. Avoids double-precision loss (epoch-ns > 2^53) and timezone
# dependence entirely.
_NS_TO_NTZ = (
    "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval("
    "({c} div 1000) div 86400000000, 0, 0, "
    "cast(({c} div 1000) % 86400000000 as decimal(20,6)) / 1000000)"
)


# spark.read.parquet() re-lists the directory and re-reads footers for
# schema inference on EVERY call; a sweep builds hundreds of plans over
# the same ten paths, so the loaded frame is memoized per session. A
# DataFrame is a lazy plan: reusing the object never caches data, every
# action still computes from the parquet files. The directory
# fingerprint (name, size, mtime) in the key misses when a path is
# overwritten in-session (e.g. make_scale_replica regenerating a dir).
#
# CONTRACT NOTE (ADVICE r14): repeated loads of the same path return
# the IDENTICAL DataFrame object (same exprIds). A query that joins two
# loads of the same table directly therefore hits Spark's
# ambiguous-self-join detection; self-joining callers must alias or
# rename columns on at least one side (every current query does — the
# planful ones select+alias both sides), exactly as they would for
# ``df.join(df)``.
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.selectExpr(
                "event_id",
                _NS_TO_NTZ.format(c="ts") + " as ts",
                "user_id",
                "event_type",
                "value",
                "props",
            )
        # an overwritten path's older frames go now, not at the bound
        for k in session_keys("tables"):
            if k[1] == path:
                session_drop("tables", k)
        return df

    key = (spark.sparkContext.applicationId, path, _dir_fingerprint(path))
    return session_memo("tables", key, build, capacity=1024)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}
