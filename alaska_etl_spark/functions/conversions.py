"""Sentinel-aware conversions and datetime composition (SURVEY §2.9).

All pure Column expressions — they inline into whole-stage codegen and
survive predicate pushdown, which matters at 100 TB: a filter written
against these expressions still prunes parquet row groups.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: USCRN missing-value sentinel guard: readings below this are -9999-style
#: missing markers (reference airflow/dags/uscrn_dag.py:181 guards ``> -90``).
SENTINEL_GUARD = -90.0


def nullify_sentinel(col: Column | str, guard: float = SENTINEL_GUARD) -> Column:
    """Map -9999-style sentinel readings to NULL.

    The reference leaves sentinels in the data and guards each use site
    (uscrn_dag.py:181); we null them once at ingest so every downstream
    aggregate (max/min/avg) is safe by construction — FIXTURES §5
    invariant 1: a -9999 must never win a max.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c > guard, c)


def c_to_f(col: Column | str, guard: float = SENTINEL_GUARD, strict_reference_parity: bool = False) -> Column:
    """Celsius → Fahrenheit, sentinel-guarded.

    The reference computes ``np.where(c > -90, c*9/5+32, c)`` but never
    assigns the result (BUG in reference uscrn_dag.py:181 /
    notebooks/1_uscrn_scrape.ipynb:423 — stored data stays Celsius while
    metadata claims Fahrenheit). We implement the *intended* semantics
    (convert and keep), with ``strict_reference_parity=True`` replicating
    the bug (identity, sentinel nulled) for oracle comparisons.
    """
    c = F.col(col) if isinstance(col, str) else col
    if strict_reference_parity:
        return F.when(c > guard, c)
    return F.when(c > guard, c * 9.0 / 5.0 + 32.0)


def compose_datetime(date_col: Column | str, time_col: Column | str) -> Column:
    """YYYYMMDD int + HHmm int → timestamp_ntz.

    Reference: ``to_datetime(date.astype(int).astype(str) +
    time.astype(int).astype(str).str.zfill(4), format='%Y%m%d%H%M')``
    (uscrn_dag.py:187-188, uscrn_wind_dag.py:180-181).
    """
    d = F.col(date_col) if isinstance(date_col, str) else date_col
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    stamp = F.concat(
        d.cast("bigint").cast("string"),
        F.lpad(t.cast("bigint").cast("string"), 4, "0"),
    )
    return F.to_timestamp_ntz(stamp, F.lit("yyyyMMddHHmm"))


def floor_hour(col: Column | str) -> Column:
    """Truncate a timestamp to the hour (reference ``.dt.floor('H')``,
    uscrn_wind_dag.py:184-185)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("hour", c).cast("timestamp_ntz")


#: Fixed AKST offset: the reference computes utc = lst + 9h year-round,
#: deliberately ignoring DST (nws_dag.py:102-103). Parity kept; civil-time
#: callers can convert with from_utc_timestamp('America/Anchorage').
AKST_OFFSET_HOURS = 9
