"""End-to-end L1 constructor: raw TOA5 files -> merged, harmonised lake."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.catalog import build_site_variables
from tern_ep_data_pipeline_spark.plans import status as status_plan
from tern_ep_data_pipeline_spark.plans.l1_construct import (
    FileSpec,
    construct_l1,
    year_slice,
)
from tern_ep_data_pipeline_spark.sources import logger_http
from tern_ep_data_pipeline_spark.sources.nc import read_l1_lake, write_l1_lake


def _write_toa5(path, var_names, units, rows):
    info = '"TOA5","TestSite","CR6","1","os","prog","9","t1"'
    lines = [
        info,
        ",".join(f'"{v}"' for v in ["TIMESTAMP", *var_names]),
        ",".join(f'"{u}"' for u in ["TS", *units]),
        ",".join(['""'] + ['"Avg"'] * len(var_names)),
    ]
    for ts, vals in rows:
        lines.append(",".join([f'"{ts}"'] + [str(v) for v in vals]))
    path.write_text("\n".join(lines) + "\n")
    return str(path)


SITE_MAP = {
    "Ta_2m": {
        "name": "AirTC_Avg", "units": "K", "height": "2m",
        "instrument": "HMP155", "statistic_type": "average",
        "logger": "L1", "table": "met",
    },
    "RH_2m": {
        "name": "RH_Avg", "units": "percent", "height": "2m",
        "instrument": "HMP155", "statistic_type": "average",
        "logger": "L1", "table": "met",
    },
    "Tv_SONIC_Vr": {
        "name": "Tv_Var", "units": "K^2", "height": "10m",
        "instrument": "CSAT3", "statistic_type": "variance",
        "logger": "L1", "table": "flux",
    },
}


@pytest.fixture()
def raw_files(tmp_path):
    met = _write_toa5(
        tmp_path / "met.dat",
        ["AirTC_Avg", "RH_Avg"],
        ["K", "percent"],
        [
            ("2024-01-01 00:30:00", [293.15, 55.0]),
            ("2024-01-01 01:00:00", [294.15, 300.0]),  # RH out of range -> masked
            # 01:30 missing -> grid null row
            ("2024-01-01 02:00:00", [295.15, 60.0]),
        ],
    )
    flux = _write_toa5(
        tmp_path / "flux.dat",
        ["Tv_Var"],
        ["K^2"],
        [
            ("2024-01-01 00:30:00", [4.0]),
            ("2024-01-01 01:30:00", [9.0]),
        ],
    )
    return met, flux


def test_construct_l1_end_to_end(spark, raw_files, tmp_path):
    met, flux = raw_files
    catalog = build_site_variables(SITE_MAP)
    specs = [
        FileSpec([met], {"AirTC_Avg": "Ta_2m", "RH_Avg": "RH_2m"}),
        FileSpec([flux], {"Tv_Var": "Tv_SONIC_Vr"}),
    ]
    out = construct_l1(spark, specs, catalog, interval="30 minutes")
    rows = {r["DATETIME"].strftime("%H:%M"): r for r in out.collect()}

    # merged grid spans 00:30..02:00 at 30 min = 4 rows
    assert len(rows) == 4
    # K -> degC conversion applied (catalog units worklist)
    assert rows["00:30"]["Ta_2m"] == pytest.approx(20.0)
    # range mask nulls the out-of-range RH and flags it
    assert rows["01:00"]["RH_2m"] is None
    assert rows["01:00"]["RH_2m_QCFlag"] == 1
    assert rows["00:30"]["RH_2m_QCFlag"] == 0
    # variance converted to stdev and renamed _Vr -> _Sd
    assert "Tv_SONIC_Sd" in out.columns and "Tv_SONIC_Vr" not in out.columns
    assert rows["00:30"]["Tv_SONIC_Sd"] == pytest.approx(2.0)
    # grid row with no data at all: everything null + flagged
    assert rows["01:30"]["Ta_2m"] is None

    # year slice convention: (Jan1+30min, nextJan1]
    y = year_slice(out, 2024, 30)
    assert y.count() == 4

    # lake round-trip with partition pruning
    lake = str(tmp_path / "lake")
    write_l1_lake(out, lake, site="TestSite")
    back = read_l1_lake(spark, lake, site="TestSite", year=2024)
    assert back.count() == 4
    assert "site=TestSite" in str(
        (tmp_path / "lake").glob("site=*").__iter__().__next__()
    )


def test_derive_missing_humidity(spark):
    from tern_ep_data_pipeline_spark.plans.l1_construct import derive_missing

    df = spark.createDataFrame(
        [(25.0, 60.0, 101.3)], ["Ta_2m", "RH_2m", "ps"]
    )
    out = derive_missing(df, ["AH", "VPD", "Td"])
    row = out.collect()[0]
    assert set(out.columns) == {"Ta_2m", "RH_2m", "ps", "AH", "VPD", "Td"}
    assert 10.0 < row["AH"] < 20.0  # ~13.8 g/m^3 at 25C/60%
    assert row["VPD"] > 0 and row["Td"] < 25.0
    # inputs missing -> target silently skipped
    out2 = derive_missing(df.select("Ta_2m"), ["AH"])
    assert "AH" not in out2.columns


def test_status_products(spark, raw_files, tmp_path):
    met, flux = raw_files
    catalog = build_site_variables(SITE_MAP)
    specs = [FileSpec([met], {"AirTC_Avg": "Ta_2m", "RH_Avg": "RH_2m"})]
    l1 = construct_l1(spark, specs, catalog, interval="30 minutes")

    long = l1.select(
        F.lit("TestSite").alias("site"),
        F.col("DATETIME"),
        F.explode(
            F.create_map(
                F.lit("Ta_2m"), F.col("Ta_2m"), F.lit("RH_2m"), F.col("RH_2m")
            )
        ).alias("variable", "value"),
    )
    stats = status_plan.site_variable_status(
        long, {"Ta_2m": (-30.0, 60.0), "RH_2m": (0.0, 100.0)}
    )
    by_var = {r["variable"]: r for r in stats.collect()}
    assert by_var["RH_2m"]["n_valid"] == 2  # masked value is invalid
    assert by_var["Ta_2m"]["last_valid_value"] == pytest.approx(22.0)

    stale = status_plan.staleness_days(stats, "2024-01-02 02:00:00")
    d = {r["variable"]: r["days_since_last_record"] for r in stale.collect()}
    assert d["Ta_2m"] == pytest.approx(1.0)

    gj = tmp_path / "status.geojson"
    status_plan.write_status_geojson(
        [{"site": "TestSite", "latitude": -33.6, "longitude": 150.7, "ok": True}],
        str(gj),
    )
    doc = json.loads(gj.read_text())
    assert doc["features"][0]["geometry"]["coordinates"] == [150.7, -33.6]

    details = tmp_path / "details" / "sites.json"
    status_plan.write_site_details_json(
        [{"site": "TestSite", "freq_hz": 10}, {"latitude": -20.0}],
        str(details),
    )
    assert json.loads(details.read_text()) == {
        "TestSite": {"site": "TestSite", "freq_hz": 10},
        "1": {"latitude": -20.0},
    }


FAKE_PAYLOAD = json.dumps(
    {
        "head": {"fields": [{"name": "Ta"}, {"name": "RH"}]},
        "data": [
            {"time": "2024-01-01T00:30:00", "no": 101, "vals": [21.0, 55.0]},
            {"time": "2024-01-01T01:00:00", "no": 102, "vals": [21.5, 56.0]},
        ],
    }
)


def test_logger_http_source(spark):
    urls = []

    def fake_fetch(url):
        urls.append(url)
        return FAKE_PAYLOAD

    df, hwm = logger_http.poll_since_record(
        spark, "10.0.0.1", "met", last_record=100, fetcher=fake_fetch
    )
    assert df.count() == 2
    assert hwm == 102
    assert df.columns == ["TIMESTAMP", "RECORD", "Ta", "RH"]
    assert "mode=since-record" in urls[0] and "p1=100" in urls[0]


def test_logger_get_tables():
    urls = []

    def fake_fetch(url):
        urls.append(url)
        return json.dumps({"symbols": [{"name": "Status"}, {"name": "met"}]})

    assert logger_http.get_tables("10.0.0.1", fetcher=fake_fetch) == [
        "Status", "met"
    ]
    assert urls[0].startswith("http://10.0.0.1/?command=browsesymbols")
    assert "uri=dl%3A" in urls[0] and "format=json" in urls[0]
    assert logger_http.get_tables("10.0.0.1", fetcher=lambda url: "{}") == []


def test_logger_url_modes():
    import datetime

    url = logger_http.build_query_url(
        "1.2.3.4", "t", "date-range",
        start=datetime.datetime(2024, 1, 1), end=datetime.datetime(2024, 1, 2),
    )
    assert "mode=date-range" in url and "p1=2024-01-01T00%3A00%3A00.000" in url
    with pytest.raises(ValueError, match="invalid query mode"):
        logger_http.build_query_url("1.2.3.4", "t", "bogus")
