"""Engine function library.

Cross-engine deterministic aggregation
--------------------------------------
The driver's correctness gate hash-compares Spark results against DuckDB.
Raw double aggregation is order-dependent (~1e-9 relative drift), and
*rounding does not fix it*: Spark rounds a double via its shortest decimal
representation (BigDecimal.valueOf) while DuckDB rounds the binary value,
so values like 65764.165 round differently even from identical bits.

The testdata money columns are exact 2-decimal values, so the engine makes
aggregates bit-identical instead: cast to DECIMAL, aggregate exactly, cast
the exact result back to DOUBLE. The nearest-double conversion of an exact
decimal is deterministic, so both engines emit the same bits and any hash
matches. The same helpers are the right call at 100 TB: decimal sums are
JVM-side, codegen'd, and overflow-safe to 1e36.

Use ``dsum``/``davg`` for money columns, ``money_expr`` products for
revenue-style expressions, and plain F.* for everything non-float.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: exact carrier for 2-decimal money doubles; sum widens to decimal(28,2)+
MONEY = "decimal(18,2)"
#: exact carrier for money x rate products (<= 6 decimal digits)
MONEY6 = "decimal(24,6)"


def money(col: Column | str) -> Column:
    """Lossless decimal view of a 2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def dsum(col: Column | str, carrier: str = MONEY) -> Column:
    """Order-independent exact sum of a limited-decimal double column,
    returned as double (bit-identical across engines)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(carrier)).cast("double")


def davg(col: Column | str, carrier: str = MONEY) -> Column:
    """Exact-sum average: sum as decimal, divide by count in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(carrier)).cast("double") / F.count(c)


def dstddev_samp(col: Column | str) -> Column:
    """Sample stddev from exact decimal moments: both engines evaluate the
    identical double expression sqrt((s2 - s1^2/n) / (n-1))."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    s1 = F.sum(c.cast(MONEY)).cast("double")
    s2 = F.sum((c.cast(MONEY) * c.cast(MONEY))).cast("double")
    return F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0)))


def dmedian_money(col: Column | str) -> Column:
    """Exact interpolated median of a 2-decimal column via integer cents:
    integer/half-integer intermediates are exact doubles, so the
    interpolation is bit-identical across engines."""
    c = F.col(col) if isinstance(col, str) else col
    cents = F.round(c * 100, 0).cast("bigint")
    return F.percentile(cents, F.lit(0.5)) / F.lit(100.0)


def sql_dsum(expr: str, carrier: str = "DECIMAL(18,2)") -> str:
    """DuckDB-side twin of :func:`dsum`."""
    return f"CAST(sum(CAST({expr} AS {carrier})) AS DOUBLE)"


def sql_davg(expr: str, carrier: str = "DECIMAL(18,2)") -> str:
    return f"(CAST(sum(CAST({expr} AS {carrier})) AS DOUBLE) / count({expr}))"


def sql_lit(s: str) -> str:
    """A Python string as a Spark SQL string literal (backslashes and
    quotes escaped; control characters pass through as raw bytes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: Prefix of every lambda variable in the SQL-text expression builders
#: (``_lv_i``, ``_lv_acc``, ...). Inside a lambda its variable shadows a
#: column of the same name (case-insensitively, as Spark resolves), so
#: :func:`sql_ident` refuses column names that carry this prefix.
LAMBDA_PREFIX = "_lv_"


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted Spark SQL identifier (the
    ``quoteIfNeeded`` escaping), for builders that take column names.
    Raises ``ValueError`` for a name with the builders' reserved
    lambda-variable prefix (:data:`LAMBDA_PREFIX`)."""
    if name.lower().startswith(LAMBDA_PREFIX):
        raise ValueError(
            f"column name {name!r} starts with {LAMBDA_PREFIX!r}, the prefix "
            "reserved for the expression builders' lambda variables; rename the column"
        )
    return "`" + name.replace("`", "``") + "`"


def epoch_us(col: Column | str) -> Column:
    """Microseconds since the epoch for TIMESTAMP *and* TIMESTAMP_NTZ.

    ``unix_micros`` rejects TIMESTAMP_NTZ (the type parquet TIMESTAMP
    without isAdjustedToUTC now reads as), and casting NTZ->TIMESTAMP
    first would make the value session-timezone/DST-dependent. A
    ``timestamp_diff`` against the epoch accepts both types; an NTZ input
    is treated as UTC wall-clock, matching DuckDB's naive TIMESTAMP.

    PRECONDITION: a UTC session timezone (session.get_session pins it).
    For a tz-adjusted TIMESTAMP input the NTZ epoch literal is coerced
    to TIMESTAMP via the session timezone, so under a non-UTC session
    the absolute value for TIMESTAMP inputs would shift by the zone
    offset. Band/bucket arithmetic built on deltas of this function is
    offset-invariant either way; absolute epoch consumers are not.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c
    )


def local_df(spark, rows, schema, rows_per_slice: int = 4096):
    """Model-sized local DataFrame with a data-proportional partition
    count (r15). ``SparkSession.createDataFrame(list)`` parallelizes to
    ``defaultParallelism`` slices regardless of size, so a 31-row
    centroid table becomes a 32-partition RDD and EVERY scan or
    broadcast build over it schedules 32 near-empty tasks — one such
    job per Lloyd round / trainer round across the model-frame loops.
    Rows stay identical; only the slice count changes (1 slice per
    ``rows_per_slice`` rows), which no engine result depends on."""
    n = max(1, -(-len(rows) // rows_per_slice)) if rows else 1
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )
