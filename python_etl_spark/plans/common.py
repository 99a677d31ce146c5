"""Plan registry + cross-engine exactness helpers.

Every query is registered under a stable name together with a DuckDB
oracle SQL string (or None for ops that SQL can't express — those get a
rows-only driver check and an exact pytest oracle instead).

Exactness strategy: floating-point aggregates are never summed as
doubles. Both the Spark plan and the DuckDB oracle cast each addend to
``DECIMAL(p,s)`` first, sum exactly (decimal addition is associative, so
partition/shuffle order is irrelevant), and cast the final value back to
DOUBLE. Derived ratios divide those identical doubles, so the two
engines agree bit-for-bit. Cast-to-decimal ties cannot occur for scale
> 0 (decimal midpoints like x.005 are not representable as binary
doubles), so both engines round identically.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_spark.memo import plan_key, session_memo

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


from python_etl_spark.functions.exact import (  # noqa: F401
    davg,
    davg_sql,
    dmean,
    dmean_sql,
    dsum,
    dsum_sql,
    ts,
    ts_sql,
)


# ----------------------- broadcast-hint policy ----------------------------
#
# Two classes of "dimension" frame, two rules:
#
# * FIXED-CARDINALITY frames — region (5 rows), nation (25 rows), and
#   bounded aggregates (a one-row threshold, a per-nation rollup): their
#   size is O(1) in the scale factor, so `F.broadcast` directly.
# * SF-SCALING dims — customer, part, supplier: TPC-H grows these
#   linearly with SF (~10^9 customer rows at a true 100 TB), so an
#   unconditional hint would eventually OOM the driver. Route these
#   through `bc_dim`, which gates the hint on Catalyst's free
#   plan-statistics estimate.


def _parse_size_bytes(s: str) -> int:
    s = s.strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    return int(float(s)) * mult


def bc_dim(df: DataFrame) -> DataFrame:
    """Size-honest broadcast hint for SF-scaling dimension tables.

    Hints broadcast ONLY when Catalyst's plan-statistics size estimate
    — derived from parquet file sizes at planning time, no job, no data
    scan — is at or under the session's autoBroadcastJoinThreshold.
    Over the threshold (or when stats are unavailable) the frame is
    returned unhinted and AQE picks broadcast-vs-shuffle from observed
    runtime sizes. At test SFs customer/part/supplier estimate in the
    low MBs, so plans are unchanged; at 100 TB the same code degrades
    to a shuffle join instead of a driver OOM.

    The .stats() probe runs a full Catalyst analyze+optimize pass
    driver-side (~80 ms) and a sweep asks about the same handful of dim
    plans hundreds of times, so the decision is memoized per (plan,
    backing files, threshold): the file fingerprint keeps a regenerated
    (now-large) table from being served a stale hint (ADVICE r14)."""
    try:
        thr = _parse_size_bytes(
            df.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760b"
            )
        )

        def build() -> bool:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes().toString()
            )
            return 0 < est <= thr

        hint = session_memo("bc_dim", plan_key(df, thr), build, capacity=4096)
    except Exception:
        return df
    if hint:
        return F.broadcast(df)
    return df


# ------------------- planted near-duplicate embeddings --------------------
#
# The embeddings test table has no true near-duplicate pairs at cosine
# >= 0.9, so the near-dup queries were vacuously green (hash of an empty
# set). Every embedding near-dup plan therefore runs over an AUGMENTED
# corpus: every 20th vector gets a planted twin (vec_id + 1_000_000,
# first coordinate perturbed by +0.01 — cosine ~1 with its source, ~0
# with everything else), so the oracles attest real pairs at any SF.
# The perturbation happens in DOUBLE on both engines (float32 -> float64
# upcast is exact; + 0.01 is then the identical double op).

PLANT_STRIDE = 20
PLANT_OFFSET = 1_000_000

# DuckDB CTE fragment: augmented explode (ve) + norms (nrm), dim 64.
AUG_VE_SQL = f"""
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET} AS vec_id, embedding
  FROM embeddings WHERE vec_id % {PLANT_STRIDE} = 0),
ve AS (
  SELECT vec_id, r.i AS i,
    CAST(embedding[r.i + 1] AS DOUBLE)
      + CASE WHEN vec_id >= {PLANT_OFFSET} AND r.i = 0
             THEN 0.01 ELSE 0.0 END AS x
  FROM aug, range(64) r(i)),
nrm AS (
  SELECT vec_id, SUM(x * x) AS nsq
  FROM ve GROUP BY vec_id)
"""


def augmented_embeddings(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(vec_id, embedding array<double>) — the corpus plus planted
    near-dup twins, the Spark mirror of AUG_VE_SQL."""
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    )
    planted = base.where(F.col("vec_id") % PLANT_STRIDE == 0).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    return base.unionByName(planted)


def REVENUE() -> Column:
    """Lazy: building a Column requires an active SparkContext, and the
    driver imports this module before creating its session."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


REVENUE_SQL = "l_extendedprice * (1 - l_discount)"
