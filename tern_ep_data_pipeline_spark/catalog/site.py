"""Site-details catalog (network dimension table).

Parity target: reference ``code/managers/site_details.py`` — field set and
dtypes at :56-62; the SPARQL/YAML importers (:82-124, :191-208) are the data
sources; site-label aliasing at :41-51. Here the catalog is a plain list of
dicts (from any driver-side source) turned into a small DataFrame that
broadcast-joins against the data plane.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: (name, spark type) — mirrors site_details.DATA_DTYPES.
SITE_DETAIL_FIELDS: tuple[tuple[str, T.DataType], ...] = (
    ("site", T.StringType()),
    ("fluxnet_id", T.StringType()),
    ("date_commissioned", T.DateType()),
    ("date_decommissioned", T.DateType()),
    ("latitude", T.DoubleType()),
    ("longitude", T.DoubleType()),
    ("elevation", T.DoubleType()),
    ("time_step", T.LongType()),
    ("freq_hz", T.LongType()),
    ("canopy_height", T.DoubleType()),
    ("tower_height", T.DoubleType()),
    ("soil", T.StringType()),
    ("vegetation", T.StringType()),
    ("time_zone", T.StringType()),
    ("UTC_offset", T.DoubleType()),
)

#: Site-label aliases (site_details.py:41-51): presentation label -> canonical.
ALIAS_MAP: dict[str, str] = {}


def canonical_site_name(label: str) -> str:
    """Strip presentation suffixes/spaces (site_details.py:127-145)."""
    name = label.replace(" Flux Station", "").replace(" ", "")
    return ALIAS_MAP.get(name, name)


def site_details_df(spark: SparkSession, records: Iterable[Mapping]) -> DataFrame:
    """Build the site dimension table with the canonical schema."""
    schema = T.StructType([T.StructField(n, t) for n, t in SITE_DETAIL_FIELDS])
    rows = [tuple(rec.get(n) for n, _ in SITE_DETAIL_FIELDS) for rec in records]
    return spark.createDataFrame(rows, schema)


def parse_sparql_bindings(payload: Mapping) -> list[dict]:
    """SPARQL JSON results -> plain records (site_details.py:82-124).

    Accepts the W3C SPARQL-results-JSON shape: ``results.bindings`` is a
    list of {var: {"type": ..., "value": ...}}; values arrive as strings and
    are kept as such — typing happens against SITE_DETAIL_FIELDS in
    :func:`site_details_df` casts downstream.
    """
    out = []
    for binding in payload.get("results", {}).get("bindings", []):
        out.append({var: cell.get("value") for var, cell in binding.items()})
    return out


def to_site_time(ts_col, utc_offset_hours: float):
    """Server-UTC -> site-local naive time shift (network_status.py:596-622:
    the reference corrects staleness stats to site-local clocks, DST
    stripped — a constant offset per site)."""
    from pyspark.sql import functions as F

    from ..operators.text import _sql_ident

    minutes = int(round(utc_offset_hours * 60))
    return F.expr(f"timestampadd(MINUTE, {minutes}, {_sql_ident(ts_col)})")


def samples_per_interval(freq_hz: int, time_step_minutes: int) -> int:
    """n_samples for diagnostic conversion: freq * step * 60
    (nc_constructors.py:193-219)."""
    return int(freq_hz * time_step_minutes * 60)
