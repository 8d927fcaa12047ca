"""Source-layer tests: TOA5/EddyPro text round-trip, TOB1/TOB3 binary decode.

Fixture bytes are generated here from the format specs (FIXTURES.md §1-3);
they exercise header probing, NA tokens, bad rows, FP2 sentinels, frame
validation stamps, and minor-frame prefixes.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
import pytest

from tern_ep_data_pipeline_spark.sources import tob, toa5


# ------------------------------------------------------------------ helpers

def fp2_encode(value: float) -> int:
    """Inverse FP2 for fixtures (13-bit mantissa, base-10 exponent)."""
    if value != value:
        return 0x9FFE
    sign = 0x8000 if value < 0 else 0
    v = abs(value)
    for exp in (3, 2, 1, 0):  # largest exponent = most precision
        mantissa = round(v * 10**exp)
        if mantissa <= 0x1FFF:
            return sign | (exp << 13) | mantissa
    raise ValueError(f"not FP2-encodable: {value}")


def make_toa5_file(path, n_rows=10):
    lines = [
        '"TOA5","TestSite","CR6","1234","CR6.Std.99","CPU:prog.CR6","5678","slow_table"',
        '"TIMESTAMP","RECORD","Ta_2m","RH_2m"',
        '"TS","RN","degC","percent"',
        '"","","Avg","Avg"',
    ]
    for i in range(n_rows):
        ts = f"2024-01-01 {i // 2:02d}:{30 * (i % 2):02d}:00"
        val = "NAN" if i == 3 else f"{20 + i * 0.5}"
        lines.append(f'"{ts}",{i},{val},{50 + i}')
    lines.append('"not a date",999,1.0,2.0')  # malformed row -> dropped
    path.write_text("\n".join(lines) + "\n")
    return path


def make_eddypro_file(path, n_rows=6):
    header = [
        "DATAH\tfilename\tdate\ttime\tco2_flux\tLE",
        "DATAH\t\t[yyyy-mm-dd]\t[HH:MM]\t[umol+1m-2s-1]\t[W+1m-2]",
    ]
    rows = [
        f"DATA\traw_{i}.ghg\t2024-01-01\t{i:02d}:30\t{1.5 + i}\tNaN"
        for i in range(n_rows)
    ]
    path.write_text("\n".join(header + rows) + "\n")
    return path


TOB3_FIELDS = ["Ux", "Ts_sonic", "diag"]
TOB3_TYPES = ["IEEE4", "IEEE4", "FP2"]
TOB3_REC_SIZE = 4 + 4 + 2
TOB3_NREC = 5  # records per major frame
TOB3_FRAME_SIZE = 12 + TOB3_NREC * TOB3_REC_SIZE + 4
TOB3_VALID = 0xA5A5


def _tob3_header() -> bytes:
    lines = [
        '"TOB3","TestSite_EC","CR6","1111","CR6.Std","CPU:fast.CR6","2222","2024-01-02 00:00:00"',
        f'"fast_table","100 MSEC","{TOB3_FRAME_SIZE}","86400","{TOB3_VALID}","SecUsec"',
        '"Ux","Ts_sonic","diag"',
        '"m/s","degC","arb"',
        '"Smp","Smp","Smp"',
        '"IEEE4","IEEE4","FP2"',
    ]
    return ("\n".join(lines) + "\n").encode()


def _tob3_frame(seconds, subsec_us, beg_rec, values, minor_used_recs=None, valid=True):
    """values: list of (ux, ts, diag) tuples, len == TOB3_NREC slots filled
    with zeros beyond what's given."""
    hdr = struct.pack("<3L", seconds, subsec_us, beg_rec)
    body = b""
    for i in range(TOB3_NREC):
        if i < len(values):
            ux, t, diag = values[i]
        else:
            ux, t, diag = 0.0, 0.0, 0.0
        body += struct.pack("<f", ux) + struct.pack("<f", t) + struct.pack(">H", fp2_encode(diag))
    if minor_used_recs is None:
        offset = 0
    else:
        offset = 12 + 4 + minor_used_recs * TOB3_REC_SIZE
    stamp = TOB3_VALID if valid else 0x1234
    foot = struct.pack("<2H", offset, stamp)
    return hdr + body + foot


def make_tob3_file(path):
    sec0 = 1_072_958_400  # 2024-01-01 00:00:00 since 1990-01-01
    frames = [
        # major frame: 5 records at 10 Hz
        _tob3_frame(sec0, 0, 100, [(1.0 + i, 20.0 + i, 12.3) for i in range(5)]),
        # invalid frame: must be dropped entirely
        _tob3_frame(sec0 + 1, 0, 105, [(9.9, 9.9, 9.9)] * 5, valid=False),
        # minor frame: only 2 of 5 records used, subseconds offset 500000 us
        _tob3_frame(sec0 + 2, 500_000, 110, [(7.0, 8.0, float("nan")), (7.1, 8.1, 45.6)], minor_used_recs=2),
    ]
    path.write_bytes(_tob3_header() + b"".join(frames))
    return path


def make_tob1_file(path, n=4):
    lines = [
        '"TOB1","TestSite_EC","CR6","1111","CR6.Std","CPU:fast.CR6","2222","fast_table"',
        '"SECONDS","NANOSECONDS","RECORD","Ux","batt"',
        '"SECONDS","NANOSECONDS","RN","m/s","V"',
        '"","","","Smp","Smp"',
        '"ULONG","ULONG","ULONG","IEEE4","FP2"',
    ]
    header = ("\n".join(lines) + "\n").encode()
    sec0 = 1_072_958_400
    body = b""
    for i in range(n):
        body += struct.pack("<L", sec0 + i) + struct.pack("<L", 100_000_000 * i)
        body += struct.pack("<L", 1000 + i)
        body += struct.pack("<f", 2.5 * i) + struct.pack(">H", fp2_encode(12.5))
    path.write_bytes(header + body)
    return path


# -------------------------------------------------------------------- TOA5

def test_toa5_sniff_and_header(tmp_path):
    p = make_toa5_file(tmp_path / "site.dat")
    assert toa5.sniff_file_type(str(p)) == "TOA5"
    h = toa5.read_header(str(p))
    assert h.variables == ["TIMESTAMP", "RECORD", "Ta_2m", "RH_2m"]
    assert h.units["Ta_2m"] == "degC"
    assert h.sampling["Ta_2m"] == "Avg"
    assert h.info["station_name"] == "TestSite"


def test_toa5_read(spark, tmp_path):
    p = make_toa5_file(tmp_path / "site.dat")
    df = toa5.read_delimited(spark, str(p))
    rows = df.orderBy("DATETIME").collect()
    assert len(rows) == 10  # malformed row dropped, NAN row kept
    assert rows[3]["Ta_2m"] is None  # NAN token -> null
    assert rows[0]["Ta_2m"] == 20.0
    assert dict(df.dtypes)["RECORD"] == "double"
    assert dict(df.dtypes)["DATETIME"] == "timestamp_ntz"


def test_toa5_usecols_rename(spark, tmp_path):
    p = make_toa5_file(tmp_path / "site.dat")
    df = toa5.read_delimited(spark, str(p), usecols={"Ta_2m": "Ta"})
    assert df.columns == ["DATETIME", "Ta"]


def test_eddypro_read(spark, tmp_path):
    p = make_eddypro_file(tmp_path / "ep.txt")
    assert toa5.sniff_file_type(str(p)) == "EddyPro"
    df = toa5.read_delimited(spark, str(p))
    rows = df.orderBy("DATETIME").collect()
    assert len(rows) == 6
    assert rows[0]["co2_flux"] == 1.5
    assert rows[0]["LE"] is None  # NaN token
    assert rows[0]["filename"] == "raw_0.ghg"


def test_toa5_write_roundtrip(spark, tmp_path):
    p = make_toa5_file(tmp_path / "site.dat")
    h = toa5.read_header(str(p))
    df = toa5.read_delimited(spark, str(p)).orderBy("DATETIME")
    out_path = tmp_path / "out.dat"
    toa5.check_header_consistency(h, df.columns)
    toa5.write_toa5(df, str(out_path), h)
    # golden structure: 4 header lines then data
    lines = out_path.read_text().splitlines()
    assert lines[0].startswith('"TOA5","TestSite"')
    assert lines[1] == '"TIMESTAMP","RECORD","Ta_2m","RH_2m"'
    # re-read what we wrote: values survive
    df2 = toa5.read_delimited(spark, str(out_path), header=h)
    assert df2.count() == 10
    a = [r["Ta_2m"] for r in df.collect()]
    b = [r["Ta_2m"] for r in df2.orderBy("DATETIME").collect()]
    assert a == b


def test_eddypro_write_shape(spark, tmp_path):
    p = make_toa5_file(tmp_path / "site.dat")
    h = toa5.read_header(str(p))
    df = toa5.read_delimited(spark, str(p)).orderBy("DATETIME")
    out = tmp_path / "out_ep.txt"
    toa5.write_delimited(df, str(out), h, output_format="EddyPro")
    lines = out.read_text().splitlines()
    assert lines[0].split("\t")[0] == "TIMESTAMP"  # 2 header lines, tab sep
    assert "NaN" in lines[2 + 3]  # the masked row uses the EddyPro NA token


# --------------------------------------------------------------------- TOB

def test_fp2_roundtrip():
    vals = [0.0, 1.0, -1.0, 12.3, 123.4, 819.1, -0.001]
    raw = np.array([fp2_encode(v) for v in vals], dtype=np.uint16)
    out = tob.fp2_to_float(raw)
    assert out == pytest.approx(vals, rel=1e-6)
    sentinels = np.array([0x1FFF, 0x9FFF, 0x9FFE], dtype=np.uint16)
    s = tob.fp2_to_float(sentinels)
    assert s[0] == np.inf and s[1] == -np.inf and np.isnan(s[2])


def test_tob3_meta_probe(tmp_path):
    p = make_tob3_file(tmp_path / "day.tob3")
    meta = tob.read_tob_meta(str(p))
    assert meta.file_type == "TOB3"
    assert meta.frame_size == TOB3_FRAME_SIZE
    assert meta.subrec_interval_us == 100_000
    assert meta.subsec_resolution_us == 1
    assert meta.field_names == TOB3_FIELDS


def test_tob3_decode(tmp_path):
    p = make_tob3_file(tmp_path / "day.tob3")
    pdf = tob.decode_tob_bytes(p.read_bytes())
    # 5 records from the major frame + 2 from the minor; invalid frame dropped
    assert len(pdf) == 7
    assert list(pdf["RECORD"]) == [100, 101, 102, 103, 104, 110, 111]
    # 10 Hz spacing within the major frame
    ts = pdf["TIMESTAMP"].astype("int64")
    assert ts.iloc[1] - ts.iloc[0] == 100_000
    # minor frame: base + 0.5 s subseconds offset
    assert pdf["TIMESTAMP"].iloc[5].microsecond == 500_000
    assert pdf["Ux"].iloc[0] == pytest.approx(1.0)
    assert pdf["Ux"].iloc[5] == pytest.approx(7.0)
    assert pdf["diag"].iloc[1] == pytest.approx(12.3, rel=1e-6)
    assert np.isnan(pdf["diag"].iloc[5])  # FP2 nan sentinel survived


def test_tob1_decode(tmp_path):
    p = make_tob1_file(tmp_path / "t.tob1")
    pdf = tob.decode_tob_bytes(p.read_bytes())
    assert len(pdf) == 4
    assert list(pdf["RECORD"]) == [1000, 1001, 1002, 1003]
    assert pdf["TIMESTAMP"].iloc[1].microsecond == 100_000
    assert pdf["Ux"].iloc[2] == pytest.approx(5.0)
    assert pdf["batt"].iloc[0] == pytest.approx(12.5)


def test_block_writer_end_to_end(spark, tmp_path):
    """The fast path: TOB3 bytes -> decode -> 30-min TOA5 block files."""
    from tern_ep_data_pipeline_spark.sources.toa5_blocks import write_toa5_blocks

    d = tmp_path / "tob"
    d.mkdir()
    make_tob3_file(d / "day1.tob3")
    df = tob.read_tob(spark, str(d))
    meta = tob.read_tob_meta(str(d / "day1.tob3"))
    header = toa5.FileHeader(
        file_type="TOA5",
        variables=["TIMESTAMP", "RECORD", *meta.field_names],
        units={"Ux": "m/s", "Ts_sonic": "degC", "diag": "arb", "RECORD": "RN"},
        sampling={n: "Smp" for n in meta.field_names},
        info={"format": "TOA5", "station_name": "TestSite_EC", "table_name": "fast"},
    )
    out = tmp_path / "blocks"
    write_toa5_blocks(df, str(out), header, minutes=30)
    files = sorted(out.rglob("*.dat"))
    # all fixture records are within 12:00-12:30 -> exactly one block file
    assert len(files) == 1
    assert files[0].name == "TestSite_EC_20240101_1200.dat"
    lines = files[0].read_text().splitlines()
    assert lines[0].startswith('"TOA5","TestSite_EC"')
    assert lines[1].startswith('"TIMESTAMP","RECORD"')
    assert len(lines) == 4 + 7  # header + 7 decoded records
    assert lines[5].startswith('"2024-01-01 12:00:00.1"')  # 0.1 s suffix


def test_fast_path_plan(spark, tmp_path):
    from tern_ep_data_pipeline_spark.plans.fast_path import run_fast_path

    d = tmp_path / "tob"
    d.mkdir()
    make_tob3_file(d / "day1.tob3")
    make_tob3_file(d / "day2.tob3")
    out = tmp_path / "fast_out"
    n = run_fast_path(spark, str(d), str(out))
    # day1+day2 have identical (TIMESTAMP, RECORD) rows -> keep-first dedupes
    assert n == 7
    files = sorted(out.rglob("*.dat"))
    assert len(files) == 1
    body = files[0].read_text().splitlines()[4:]
    assert len(body) == 7


def test_tob3_spark_read(spark, tmp_path):
    d = tmp_path / "tob"
    d.mkdir()
    make_tob3_file(d / "day1.tob3")
    make_tob3_file(d / "day2.tob3")
    df = tob.read_tob(spark, str(d))
    assert df.count() == 14
    assert dict(df.dtypes)["TIMESTAMP"] == "timestamp_ntz"
    assert dict(df.dtypes)["Ux"] == "double"
    got = df.groupBy().sum("Ux").collect()[0][0]
    assert got == pytest.approx(2 * (1 + 2 + 3 + 4 + 5 + 7.0 + 7.1))


def test_excel_stdlib_reader_roundtrip(tmp_path, spark):
    """S17: the stdlib OOXML reader re-reads what the stdlib writer wrote —
    sheet selection by name/index, shared header/value fidelity, usecols
    and converters per reference file_io.py:421-446."""
    from tern_ep_data_pipeline_spark.sources import excel
    from tern_ep_data_pipeline_spark.sources.xlsx import write_xlsx

    p = str(tmp_path / "config.xlsx")
    write_xlsx(
        p,
        {
            "sites": (
                ["site", "latitude", "elevation", "active"],
                [
                    ["Calperum", -34.00206, 62, True],
                    ["Gingin", -31.375, 51.4, False],
                    ["Tumbarumba", None, 1200, True],
                ],
            ),
            "vars": (["name", "units"], [["Ta", "degC"], ["RH", "%"]]),
        },
    )
    assert excel.sheet_names(p) == ["sites", "vars"]

    pdf = excel.read_excel_pandas(p, sheet_name="sites")
    assert list(pdf.columns) == ["site", "latitude", "elevation", "active"]
    assert pdf["site"].tolist() == ["Calperum", "Gingin", "Tumbarumba"]
    assert pdf["latitude"][0] == pytest.approx(-34.00206)
    assert pd.isna(pdf["latitude"][2])  # empty cell -> null (NaN in pandas)
    assert pdf["elevation"].tolist() == [62, 51.4, 1200]  # int stays int
    assert pdf["active"].tolist() == [True, False, True]

    # sheet by index + usecols + converters
    pdf2 = excel.read_excel_pandas(
        p, sheet_name=1, usecols=["name"], converters={"name": str.upper}
    )
    assert list(pdf2.columns) == ["name"]
    assert pdf2["name"].tolist() == ["TA", "RH"]

    # Spark entry point
    df = excel.read_excel(spark, p, sheet_name="vars")
    rows = {r["name"]: r["units"] for r in df.collect()}
    assert rows == {"Ta": "degC", "RH": "%"}

    import pytest as _pytest

    with _pytest.raises(KeyError, match="nope"):
        excel.read_excel_pandas(p, sheet_name="nope")


def test_tob_decode_truncated_inputs(tmp_path):
    """Truncation robustness (SURVEY 7.4: fuzz with truncated frames): a
    partial trailing frame / record is dropped, never mis-parsed; cutting
    into the header raises cleanly."""
    p3 = make_tob3_file(tmp_path / "t3.tob3")
    full3 = tob.decode_tob_bytes(p3.read_bytes())
    content = p3.read_bytes()
    meta = tob.read_tob_meta(content)
    # chop half of the final frame: every complete frame still decodes
    cut = content[: meta.header_nbytes + meta.frame_size + meta.frame_size // 2]
    part = tob.decode_tob_bytes(cut)
    assert len(part) == 5  # the major frame's records
    assert list(part["RECORD"]) == list(full3["RECORD"])[:5]
    # only the header -> zero rows with the full schema
    empty = tob.decode_tob_bytes(content[: meta.header_nbytes])
    assert len(empty) == 0 and list(empty.columns) == list(full3.columns)

    p1 = make_tob1_file(tmp_path / "t1.tob1", n=4)
    c1 = p1.read_bytes()
    m1 = tob.read_tob_meta(c1)
    rec_size = (len(c1) - m1.header_nbytes) // 4
    part1 = tob.decode_tob_bytes(c1[: m1.header_nbytes + 2 * rec_size + 3])
    assert list(part1["RECORD"]) == [1000, 1001]

    with pytest.raises(ValueError):
        tob.read_tob_meta(c1[:10])


def test_checksummed_move(tmp_path):
    """S26: the source is deleted only after the archived copy's sha256
    verifies; an existing destination refuses unless overwrite."""
    from tern_ep_data_pipeline_spark.sources.files import checksummed_move, sha256_file

    src = tmp_path / "day1.tob3"
    src.write_bytes(b"\x00\x01payload" * 100)
    want = sha256_file(str(src))
    dest_dir = tmp_path / "TOB3" / "2024_01"
    dest = checksummed_move(str(src), str(dest_dir))
    assert not src.exists()
    assert sha256_file(dest) == want

    src2 = tmp_path / "day1.tob3"
    src2.write_bytes(b"different")
    import pytest as _pt

    with _pt.raises(FileExistsError):
        checksummed_move(str(src2), str(dest_dir))
    checksummed_move(str(src2), str(dest_dir), overwrite=True)
    assert not src2.exists()


def test_load_cache_misses_after_part_file_delete(spark, tmp_path):
    """The table-load and row-count caches key on the directory's part-file
    set, so deleting one part file (which leaves the newest mtime in place)
    is a miss, not a stale plan over files that no longer exist."""
    from tern_ep_data_pipeline_spark.sources import tables

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    spark.range(0, 40, numPartitions=4).write.parquet(path)
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    newest = max(parts, key=lambda f: os.path.getmtime(os.path.join(path, f)))
    df1 = tables.load_table(spark, sf_dir, "documents")
    assert tables.load_table(spark, sf_dir, "documents") is df1
    assert tables.table_rows(sf_dir, "documents") == 40
    os.remove(os.path.join(path, next(f for f in parts if f != newest)))
    df2 = tables.load_table(spark, sf_dir, "documents")
    assert df2 is not df1
    assert df2.count() == 30
    assert tables.table_rows(sf_dir, "documents") == 30
