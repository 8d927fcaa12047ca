from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.operators import multimodal
from tern_ep_data_pipeline_spark.operators.index_log import scan
from tern_ep_data_pipeline_spark.sources.tables import load_table
from tern_ep_data_pipeline_spark.streaming import (
    conditioned_file_stream,
    tumbling_block_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as a plain parquet dir (streaming file source needs
    a directory, and the testdata file uses nano timestamps)."""
    out = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def _run_available_now(stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_conditioned_file_stream_dedupes(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    stream = conditioned_file_stream(
        spark, events_dir, schema, ts_col="ts", key_cols=("user_id",)
    )
    _run_available_now(stream, tmp_path, "cond_stream")
    got = spark.sql("select count(*) from cond_stream").collect()[0][0]
    batch = spark.read.parquet(events_dir).dropDuplicates(["user_id", "ts"]).count()
    assert got == batch


def test_tumbling_block_stream_matches_batch(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    raw = (
        spark.readStream.format("parquet").schema(schema).load(events_dir)
    )
    blocks = tumbling_block_stream(raw, "ts", "value", minutes=30, watermark="1 hour")
    _run_available_now(blocks, tmp_path, "block_stream")
    got = spark.sql(
        "select sum(n_recs) as n, count(*) as blocks from block_stream"
    ).collect()[0]
    batch = spark.read.parquet(events_dir).count()
    # availableNow + watermark: all-but-the-last open block are emitted
    assert got["blocks"] > 0
    assert got["n"] <= batch


def test_stateful_gap_stream_matches_batch(spark, events_dir, tmp_path):
    from tern_ep_data_pipeline_spark.operators import gaps
    from tern_ep_data_pipeline_spark.streaming.stateful import streaming_gap_report

    schema = spark.read.parquet(events_dir).schema
    raw = spark.readStream.format("parquet").schema(schema).load(events_dir)
    gap_stream = streaming_gap_report(raw, min_gap_seconds=14400)
    _run_available_now(gap_stream, tmp_path, "gap_stream")
    got = spark.sql("select count(*) as n from gap_stream").collect()[0]["n"]
    batch = gaps.gap_report(
        spark.read.parquet(events_dir), "ts", 14400, ["user_id"]
    ).count()
    assert got == batch


def test_assets_roundtrip(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    row = assets.limit(1).collect()[0]
    assert row["modality"] == "text"
    assert bytes(row["content"]).decode("utf-8")
    stats = multimodal.content_stats(assets)
    r = stats.limit(1).collect()[0]
    assert r["n_bytes"] > 0 and len(r["content_md5"]) == 32


def test_extract_features_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    assets = multimodal.assets_from_documents(docs)
    f1 = multimodal.extract_features(assets, dim=8).orderBy("asset_id").collect()
    f2 = multimodal.extract_features(assets, dim=8).orderBy("asset_id").collect()
    assert [r["feature"] for r in f1] == [r["feature"] for r in f2]
    assert all(len(r["feature"]) == 8 for r in f1)
    import math

    norm = math.sqrt(sum(x * x for x in f1[0]["feature"]))
    assert norm == pytest.approx(1.0, abs=1e-9)


def test_decode_stubs_raise():
    # JPEG is a real codec now (baseline AND progressive): truncated bytes
    # are a data error; only genuinely-unimplemented variants (arithmetic
    # coding, unknown containers) raise NotImplemented
    from tern_ep_data_pipeline_spark.operators import codec_bindings

    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_image(b"\xff\xd8")
    if codec_bindings.pil_image() is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\x00unknown-container")
    else:  # Pillow extends the dispatch; garbage is then a Pillow error
        with pytest.raises(Exception):
            multimodal.decode_image(b"\x00unknown-container")
    if codec_bindings.ffmpeg_paths() is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_audio(b"RIFF")
    else:
        with pytest.raises(Exception):
            multimodal.decode_audio(b"RIFF")


def test_frame_sample_plan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(3)
    assets = multimodal.assets_from_documents(docs)
    frames = multimodal.frame_sample_plan(assets, frames_per_asset=4)
    assert frames.count() == 12
    assert frames.filter(F.col("frame_idx") == 3).count() == 3


def test_resize_images_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    assets = multimodal.assets_from_documents(docs)
    out = multimodal.resize_images(assets, width=8, height=4)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["width"] == 8 and r["height"] == 4
        assert len(r["thumbnail"]) == 32  # exactly width*height bytes
    # deterministic: same input -> same thumbnail bytes
    again = {r["asset_id"]: bytes(r["thumbnail"]) for r in out.collect()}
    assert {r["asset_id"]: bytes(r["thumbnail"]) for r in rows} == again


def test_streaming_toa5_block_sink(spark, tmp_path):
    """Streaming fast-path sink: micro-batches land as complete TOA5 block
    files identical to the batch block writer's output."""
    import datetime as dt
    import glob as globmod

    from tern_ep_data_pipeline_spark.sources.toa5 import FileHeader, read_delimited
    from tern_ep_data_pipeline_spark.streaming import write_toa5_block_files

    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(minutes=m), float(m))
        for m in range(0, 90, 10)
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "TIMESTAMP timestamp, Ta double")
    df.write.parquet(src)
    header = FileHeader(
        file_type="TOA5",
        variables=["TIMESTAMP", "Ta"],
        units={"Ta": "degC"},
        sampling={"Ta": "Smp"},
        info={"format": "TOA5", "station_name": "StreamSite"},
    )
    out = str(tmp_path / "blocks")
    stream = spark.readStream.format("parquet").schema(df.schema).load(src)
    q = (
        write_toa5_block_files(
            stream, out, str(tmp_path / "ckpt"), header
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    files = sorted(globmod.glob(out + "/**/*.dat", recursive=True))
    assert len(files) == 3  # 90 min of data -> three 30-min blocks
    back = read_delimited(spark, files[0])
    assert back.count() == 3  # 10-min cadence -> 3 rows per block


def test_streaming_block_sink_split_block(spark, tmp_path):
    """A 30-min block whose rows span two micro-batches accumulates instead
    of being truncated to the later batch's rows (merge-mode sink), and
    re-delivery of the same rows is a no-op."""
    import datetime as dt
    import glob as globmod

    from tern_ep_data_pipeline_spark.sources.toa5 import FileHeader, read_delimited
    from tern_ep_data_pipeline_spark.streaming import write_toa5_block_files

    schema = "TIMESTAMP timestamp, Ta double"
    src = tmp_path / "src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    first = [(base + dt.timedelta(minutes=m), float(m)) for m in (0, 10)]
    second = [(base + dt.timedelta(minutes=m), float(m)) for m in (20,)]
    # two source files, one per trigger -> the 00:00 block spans two batches
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(second, schema).coalesce(1).write.parquet(str(src / "b"))
    header = FileHeader(
        file_type="TOA5",
        variables=["TIMESTAMP", "Ta"],
        units={"Ta": "degC"},
        sampling={"Ta": "Smp"},
        info={"format": "TOA5", "station_name": "SplitSite"},
    )
    out = str(tmp_path / "blocks")
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src) + "/*")
    )
    q = (
        write_toa5_block_files(stream, out, str(tmp_path / "ckpt"), header)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    files = globmod.glob(out + "/**/*.dat", recursive=True)
    assert len(files) == 1
    back = read_delimited(spark, files[0]).toPandas().sort_values("DATETIME")
    assert len(back) == 3  # both batches' rows survive in the one block file
    assert list(back["Ta"]) == [0.0, 10.0, 20.0]
    # re-delivery: writing batch 1's rows again changes nothing
    from tern_ep_data_pipeline_spark.sources.toa5_blocks import write_toa5_blocks

    before = open(files[0]).read()
    write_toa5_blocks(
        spark.createDataFrame(first, schema), out, header, mode="merge"
    )
    assert open(files[0]).read() == before


def _bmp_bytes(width, height, rgb):
    """Minimal 24-bit bottom-up BMP with a solid colour."""
    import struct

    row = (bytes(rgb[::-1]) * width)
    pad = b"\x00" * ((4 - (width * 3) % 4) % 4)
    pixels = (row + pad) * height
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    return header + info + pixels


def _ppm_bytes(width, height, rgb):
    return (f"P6\n{width} {height}\n255\n").encode() + bytes(rgb) * width * height


def _png_bytes(arr, ctype=2, filters=None):
    """Stdlib PNG encoder for the tests: applies the requested filter type
    per row (the inverse of the decoder's unfilter), so every decoder
    filter path is exercised against ground-truth pixels."""
    import struct
    import zlib

    import numpy as np

    h, w = arr.shape[:2]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    flat = arr.reshape(h, w * ch).astype(np.int32)
    filters = filters if filters is not None else [0] * h
    rows, prev = [], np.zeros(w * ch, np.int32)
    zc = np.zeros(ch, np.int32)
    for y, f in zip(range(h), filters):
        cur = flat[y]
        left = np.concatenate([zc, cur[:-ch]])
        upleft = np.concatenate([zc, prev[:-ch]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - ((left + prev) >> 1)
        else:
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = cur - pred
        rows.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters():
    """Round-trip: encode known pixels with every PNG filter type, decode
    with the stdlib codec, compare byte-for-byte."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(10, 6, 3), dtype=np.uint8)
    for filters in ([0] * 10, [1] * 10, [2] * 10, [3] * 10, [4] * 10,
                    [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]):
        out = mm.decode_image_png(_png_bytes(rgb, filters=filters))
        assert (out == rgb).all(), f"filters={filters}"
    # RGBA: alpha dropped
    rgba = rng.randint(0, 256, size=(5, 4, 4), dtype=np.uint8)
    out = mm.decode_image_png(_png_bytes(rgba, ctype=6, filters=[4] * 5))
    assert (out == rgba[:, :, :3]).all()
    # grayscale: replicated to 3 channels
    gray = rng.randint(0, 256, size=(4, 7), dtype=np.uint8)
    out = mm.decode_image_png(_png_bytes(gray, ctype=0, filters=[1] * 4))
    assert out.shape == (4, 7, 3) and (out[:, :, 0] == gray).all()
    # dispatch via decode_image
    assert (mm.decode_image(_png_bytes(rgb)) == rgb).all()


def test_png_decode_rejects_unsupported():
    import struct

    import numpy as np
    import pytest

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    rgb = np.zeros((2, 2, 3), np.uint8)
    good = _png_bytes(rgb)
    with pytest.raises(ValueError):
        mm.decode_image_png(b"\x89PNG\r\n\x1a\nnot chunks")
    # interlaced: flip the IHDR interlace byte (and fix nothing else —
    # the decoder must reject before CRC matters)
    ihdr_off = 8 + 8
    bad = bytearray(good)
    bad[ihdr_off + 12] = 1
    with pytest.raises(NotImplementedError):
        mm.decode_image_png(bytes(bad))
    # truncated pixel data: IHDR claims more rows than IDAT holds
    # (decoder ignores CRCs, so patching height is enough)
    tall = bytearray(good)
    tall[ihdr_off + 4 : ihdr_off + 8] = struct.pack(">I", 10)
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_image_png(bytes(tall))


def _wav_bytes(freq_frames, rate=8000):
    """Mono 16-bit WAV: silence then full-scale square — a known envelope."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        half = freq_frames // 2
        w.writeframes(
            struct.pack(f"<{half}h", *([0] * half))
            + struct.pack(f"<{freq_frames - half}h", *([20000] * (freq_frames - half)))
        )
    return buf.getvalue()


def test_real_stdlib_codecs(spark):
    """BMP/PPM/WAV decode for real — features and thumbnails are computed
    from actual pixel/sample values, not fakes."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    # direct decoder checks
    img = mm.decode_image_bmp(_bmp_bytes(6, 4, (255, 0, 0)))
    assert img.shape == (4, 6, 3) and (img[:, :, 0] == 255).all() and (img[:, :, 1] == 0).all()
    img2 = mm.decode_image_ppm(_ppm_bytes(3, 2, (0, 128, 0)))
    assert img2.shape == (2, 3, 3) and (img2[:, :, 1] == 128).all()
    samples, rate = mm.decode_audio(_wav_bytes(1600))
    assert rate == 8000 and len(samples) == 1600
    assert abs(samples[:800]).max() == 0 and abs(samples[800:]).min() > 0.5

    # through the Spark path with the REAL encoder
    white_png = _png_bytes(np.full((8, 8, 3), 255, dtype=np.uint8))
    rows = [
        (1, "image", bytearray(_bmp_bytes(8, 8, (255, 255, 255))), None),
        (2, "image", bytearray(_ppm_bytes(8, 8, (0, 0, 0))), None),
        (3, "audio", bytearray(_wav_bytes(1600)), None),
        (4, "image", bytearray(white_png), None),
    ]
    assets = spark.createDataFrame(rows, mm.ASSET_SCHEMA)
    feats = {
        r["asset_id"]: np.array(r["feature"])
        for r in mm.extract_features(assets, use_fake_encoder=False).collect()
    }
    # white image -> uniform unit vector; black image -> zeros
    assert feats[1] == pytest.approx(np.full(16, 0.25), abs=1e-9)
    assert feats[2] == pytest.approx(np.zeros(16), abs=1e-9)
    # silence-then-square envelope: first half ~0, second half equal bins
    assert abs(feats[3][:8]).max() < 1e-9 and feats[3][8:].min() > 0.3
    # white PNG decodes to the same feature as the white BMP
    assert feats[4] == pytest.approx(feats[1], abs=1e-9)

    # real resize: white BMP -> all-255 thumbnail bytes
    thumb = (
        mm.resize_images(assets.where("asset_id = 1"), width=4, height=4, use_fake=False)
        .first()["thumbnail"]
    )
    assert bytes(thumb) == b"\xff" * 16


def _mjpeg_avi_bytes(n_frames: int = 6, h: int = 32, w: int = 48) -> bytes:
    import numpy as np

    from tern_ep_data_pipeline_spark.operators.avi import encode_video_mjpeg

    frames = []
    for i in range(n_frames):
        yy, xx = np.mgrid[0:h, 0:w]
        frames.append(
            np.clip(
                np.stack(
                    [
                        128 + 80 * np.sin((xx + 4 * i) / 6.0),
                        128 + 80 * np.cos((yy + 2 * i) / 5.0),
                        (xx + yy + 10 * i) % 256,
                    ],
                    -1,
                ),
                0,
                255,
            ).astype(np.uint8)
        )
    return encode_video_mjpeg(frames, fps=12, quality=85)


def test_mjpeg_avi_roundtrip():
    """Container walk pinned against the independently-tested JPEG layer:
    every decoded frame equals the standalone decode of its JPEG chunk."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators.avi import (
        decode_video,
        encode_video_mjpeg,
        sample_frame_indices,
    )
    from tern_ep_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    avi = _mjpeg_avi_bytes()
    frames, fps = decode_video(avi)
    assert len(frames) == 6 and abs(fps - 12) < 0.01
    assert all(f.shape == (32, 48, 3) for f in frames)
    # the first frame must match a standalone JPEG round-trip exactly
    yy, xx = __import__("numpy").mgrid[0:32, 0:48]
    f0 = np.clip(
        np.stack(
            [128 + 80 * np.sin(xx / 6.0), 128 + 80 * np.cos(yy / 5.0), (xx + yy) % 256],
            -1,
        ),
        0,
        255,
    ).astype(np.uint8)
    assert np.array_equal(
        frames[0], decode_jpeg(encode_jpeg(f0, quality=85, subsampling="420"))
    )

    # inter-frame codecs: named rejection, not garbage (when no ffmpeg
    # binary extends the dispatch; with one, garbage is an ffmpeg error)
    from tern_ep_data_pipeline_spark.operators import codec_bindings

    bad = bytearray(avi)
    i = bad.find(b"MJPG")
    bad[i : i + 4] = b"H264"
    if codec_bindings.ffmpeg_paths() is None:
        with pytest.raises(NotImplementedError, match="H264"):
            decode_video(bytes(bad))
        with pytest.raises(ValueError, match="RIFF"):
            decode_video(b"not a video")
    else:
        with pytest.raises(Exception):  # MJPEG bytes mislabelled H264
            decode_video(bytes(bad))

    assert sample_frame_indices(6, 4) == [0, 2, 3, 5]
    assert sample_frame_indices(3, 5) == [0, 0, 1, 2, 2]
    assert sample_frame_indices(0, 3) == []


def test_codec_binding_dispatch_either_way(spark):
    """The optional-library seam, exercised in whichever environment this
    runs: with ffmpeg installed an H.264 fixture decodes through the same
    dispatch; without it the batch seam quarantines the row into
    ``decode_error`` instead of failing the batch. Either way the stdlib
    MJPEG path stays primary and pinned."""
    import subprocess

    import numpy as np

    from tern_ep_data_pipeline_spark.operators import codec_bindings
    from tern_ep_data_pipeline_spark.operators.avi import (
        decode_video,
        encode_video_mjpeg,
    )

    frames = [np.full((16, 16, 3), 40 * i, np.uint8) for i in range(4)]
    mjpeg = encode_video_mjpeg(frames, fps=4)
    bad = bytearray(mjpeg)
    bad[bad.find(b"MJPG") : bad.find(b"MJPG") + 4] = b"H264"
    paths = codec_bindings.ffmpeg_paths()
    if paths is not None:
        ffmpeg = paths[0]
        h264 = subprocess.run(
            [ffmpeg, "-v", "error", "-f", "rawvideo", "-pix_fmt", "rgb24",
             "-s", "16x16", "-r", "4", "-i", "pipe:0",
             "-c:v", "libx264", "-pix_fmt", "yuv420p",
             "-f", "mp4", "-movflags", "frag_keyframe+empty_moov", "pipe:1"],
            input=b"".join(f.tobytes() for f in frames),
            capture_output=True, check=True,
        ).stdout
        got, fps = decode_video(h264)
        assert len(got) == 4 and got[0].shape == (16, 16, 3)
    else:
        # batch seam: the named rejection becomes a quarantine row
        assets = spark.createDataFrame(
            [(1, "video", bytes(mjpeg)), (2, "video", bytes(bad))],
            "asset_id long, modality string, content binary",
        )
        rows = {
            r["asset_id"]: r
            for r in multimodal.extract_features(
                assets, dim=16, use_fake_encoder=False
            ).collect()
        }
        assert rows[1]["decode_error"] is None
        assert "H264" in rows[2]["decode_error"]
        assert rows[2]["feature"] is None


def test_video_modality_and_frame_sampling(spark):
    """Video is a first-class modality now: extract_features decodes MJPEG
    AVIs for real, and sample_video_frames yields per-frame features at
    evenly-spaced indices."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    avi = _mjpeg_avi_bytes()
    assets = spark.createDataFrame(
        [(7, "video", bytearray(avi), None)], mm.ASSET_SCHEMA
    )
    row = mm.extract_features(assets, use_fake_encoder=False).first()
    assert row["decode_error"] is None
    feat = np.array(row["feature"])
    assert len(feat) == 16 and abs(np.linalg.norm(feat) - 1.0) < 1e-9

    out = mm.sample_video_frames(assets, frames_per_asset=4, use_fake=False)
    rows = sorted(out.collect(), key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in rows] == [0, 2, 3, 5]
    assert all(r["n_frames"] == 6 for r in rows)
    assert all(len(r["feature"]) == 16 for r in rows)
    # per-frame feature equals the direct image_feature of that frame
    from tern_ep_data_pipeline_spark.operators.avi import decode_video

    frames, _ = decode_video(avi)
    want = mm.image_feature(frames[2], 16)
    got = np.array(rows[1]["feature"])
    assert np.allclose(got, want, atol=1e-12)

    # fake path keeps schema/shape without real bytes
    fake = mm.sample_video_frames(assets, frames_per_asset=3).collect()
    assert len(fake) == 3 and all(len(r["feature"]) == 16 for r in fake)


def test_asset_feature_stream_matches_batch(spark, tmp_path):
    """Streaming multimodal ingestion == the batch path: same features,
    same quarantine rows (decode_error), and a byte-identical duplicate
    arriving in a later micro-batch is dropped while its content hash is
    in watermark state."""
    import datetime as dt

    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm
    from tern_ep_data_pipeline_spark.streaming import asset_feature_stream

    bmp = bytearray(_bmp_bytes(8, 8, (255, 255, 255)))
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = (
        "asset_id long, modality string, content binary, ingest_ts timestamp"
    )
    batch1 = [
        (1, "image", bmp, t0),
        (2, "image", bytearray(b"garbage bytes"), t0),  # quarantined, kept
    ]
    batch2 = [
        (3, "image", bmp, t0 + dt.timedelta(minutes=5)),  # dup of asset 1
        (4, "text", bytearray(b"plain text asset"), t0 + dt.timedelta(minutes=5)),
    ]
    src = tmp_path / "assets"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src) + "/*")
    )
    out = asset_feature_stream(stream, use_fake_encoder=False)
    q = (
        out.writeStream.format("memory")
        .queryName("asset_feats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["asset_id"]: r for r in spark.sql("select * from asset_feats").collect()}

    assert set(got) == {1, 2, 4}  # 3 deduped away
    assert got[2]["feature"] is None and got[2]["decode_error"]

    # batch twin on the deduped survivors: identical features/errors
    batch = {
        r["asset_id"]: r
        for r in mm.extract_features(
            spark.createDataFrame(batch1 + [batch2[1]], schema),
            use_fake_encoder=False,
        ).collect()
    }
    for aid in (1, 2, 4):
        if batch[aid]["feature"] is None:
            assert got[aid]["feature"] is None
        else:
            assert np.allclose(got[aid]["feature"], batch[aid]["feature"])


def _wav_fmt_bytes(tag: int, payload: bytes, rate: int = 8000, bits: int = 8) -> bytes:
    import struct

    fmt = struct.pack("<HHIIHH", tag, 1, rate, rate, 1, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_g711_companding_identity():
    """encode(decode(byte)) is the identity over the full code space — the
    lossless invariant that pins both directions of each table. One
    documented exception: mu-law has two zero codes (0x7F = -0, 0xFF = +0);
    integer 0 re-encodes as +0."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    allb = np.arange(256, dtype=np.uint8)
    assert np.array_equal(mm.alaw_encode(mm.alaw_decode(allb)), allb)
    mu = mm.mulaw_encode(mm.mulaw_decode(allb))
    mismatch = np.nonzero(mu != allb)[0]
    assert list(mismatch) == [0x7F]
    assert mm.mulaw_decode(np.array([0x7F], np.uint8))[0] == 0
    assert mu[0x7F] == 0xFF
    # odd symmetry and monotone magnitude per segment
    d = mm.mulaw_decode(allb)
    assert d.max() == 32124 and d.min() == -32124
    a = mm.alaw_decode(allb)
    assert a.max() == 32256 and a.min() == -32256


def test_decode_audio_g711_and_float_wav():
    """A-law / mu-law / IEEE-float WAVs decode through decode_audio; a
    companded sine reconstructs within G.711's quantisation bound."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    t = np.linspace(0, 1, 800, endpoint=False)
    x = (0.7 * np.sin(2 * np.pi * 13 * t) * 32767).astype(np.int64)

    for tag, enc in ((6, mm.alaw_encode), (7, mm.mulaw_encode)):
        wav = _wav_fmt_bytes(tag, enc(x).tobytes())
        y, rate = mm.decode_audio(wav)
        assert rate == 8000 and len(y) == 800
        err = np.abs(y - x / 32768.0)
        assert err.max() < 0.04  # log-companding bound, ~SNR 38 dB
    fwav = _wav_fmt_bytes(3, (x / 32768.0).astype("<f4").tobytes(), bits=32)
    y, _ = mm.decode_audio(fwav)
    assert np.allclose(y, x / 32768.0, atol=1e-7)

    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="codec library"):
        mm.decode_audio(b"ID3\x03mp3 payload")


def _arithmetic_jpeg_bytes() -> bytes:
    """Minimal SOI + SOF9 (arithmetic-coded) header — enough for the marker
    walk to hit the unsupported-frame branch; real scan data is irrelevant
    there. (Progressive SOF2 used to play this role until the codec grew a
    real progressive decoder.)"""
    sof9 = bytes([0xFF, 0xC9, 0x00, 0x0B, 8, 0, 8, 0, 8, 1, 1, 0x11, 0])
    return b"\xff\xd8" + sof9


def test_extract_features_tags_undecodable(spark):
    """A mixed real-world corpus always has a tail the codecs can't decode
    (arithmetic-coded JPEG, garbage bytes). The default mode quarantines
    those rows (feature NULL + decode_error) so one bad asset can't fail
    the batch; on_error='raise' keeps the fail-fast behaviour for
    pipelines that want it."""
    import numpy as np
    import pytest

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    rows = [
        (1, "image", bytearray(_bmp_bytes(8, 8, (255, 255, 255))), None),
        (2, "image", bytearray(_arithmetic_jpeg_bytes()), None),
        (3, "image", bytearray(b"not an image at all"), None),
    ]
    assets = spark.createDataFrame(rows, mm.ASSET_SCHEMA)
    out = {
        r["asset_id"]: r
        for r in mm.extract_features(assets, use_fake_encoder=False).collect()
    }
    # decodable asset: real feature, no error
    assert out[1]["decode_error"] is None
    assert np.array(out[1]["feature"]) == pytest.approx(np.full(16, 0.25), abs=1e-9)
    # arithmetic-coded JPEG: tagged with the named marker, feature NULL
    assert out[2]["feature"] is None
    assert "0xC9" in out[2]["decode_error"]
    # unknown container: tagged too
    assert out[3]["feature"] is None and out[3]["decode_error"]

    only_arith = spark.createDataFrame(
        [(2, "image", bytearray(_arithmetic_jpeg_bytes()), None)],
        mm.ASSET_SCHEMA,
    )
    with pytest.raises(Exception, match="0xC9"):
        mm.extract_features(
            only_arith, use_fake_encoder=False, on_error="raise"
        ).collect()


def test_extract_features_decodes_progressive_jpeg(spark):
    """Progressive JPEG is no longer quarantined — the codec decodes SOF2
    for real, so a web-crawl-shaped asset flows through feature extraction
    like any baseline image."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm
    from tern_ep_data_pipeline_spark.operators.jpeg import encode_jpeg

    img = np.tile(
        np.linspace(0, 255, 32, dtype=np.uint8)[None, :, None], (32, 1, 3)
    )
    prog = encode_jpeg(img, quality=90, subsampling="420", progressive=True)
    assets = spark.createDataFrame(
        [(9, "image", bytearray(prog), None)], mm.ASSET_SCHEMA
    )
    row = mm.extract_features(assets, use_fake_encoder=False).first()
    assert row["decode_error"] is None
    assert row["feature"] is not None and len(row["feature"]) == 16


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join produces exactly the pairs
    the equivalent batch range join produces on the same data."""
    import datetime as dt

    from tern_ep_data_pipeline_spark.streaming.curation import stream_interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    clicks = [
        (1, t0 + dt.timedelta(minutes=m), f"c{m}") for m in (0, 10, 45, 50)
    ] + [(2, t0 + dt.timedelta(minutes=5), "c5")]
    buys = [
        (1, t0 + dt.timedelta(minutes=12), "b12"),   # pairs with c0(12m<=30), c10
        (1, t0 + dt.timedelta(minutes=55), "b55"),   # pairs with c45, c50
        (2, t0 + dt.timedelta(minutes=50), "b50"),   # c5 is 45m earlier -> no pair
    ]
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    cdf = spark.createDataFrame(clicks, "user_id long, click_ts timestamp, click_id string")
    bdf = spark.createDataFrame(buys, "user_id long, buy_ts timestamp, buy_id string")
    cdf.write.parquet(cdir)
    bdf.write.parquet(bdir)

    cs = spark.readStream.format("parquet").schema(cdf.schema).load(cdir)
    bs = spark.readStream.format("parquet").schema(bdf.schema).load(bdir)
    joined = stream_interval_join(
        bs, cs, "buy_ts", "click_ts", on="user_id", max_delay="30 minutes"
    ).select("user_id", "buy_id", "click_id")
    _run_available_now(joined, tmp_path, "ssj")
    got = {
        (r["user_id"], r["buy_id"], r["click_id"])
        for r in spark.sql("select * from ssj").collect()
    }
    assert got == {
        (1, "b12", "c0"), (1, "b12", "c10"),
        (1, "b55", "c45"), (1, "b55", "c50"),
    }

    # batch equivalence on the same frames
    batch = {
        (r["user_id"], r["buy_id"], r["click_id"])
        for r in bdf.alias("b").join(
            cdf.alias("c"),
            (F.col("b.user_id") == F.col("c.user_id"))
            & (F.col("c.click_ts") <= F.col("b.buy_ts"))
            & (F.col("c.click_ts") >= F.expr("b.buy_ts - interval 30 minutes")),
        ).select("b.user_id", "buy_id", "click_id").collect()
    }
    assert got == batch


def test_stream_interval_join_same_ts_name(spark, tmp_path):
    """Both streams naming their timestamp identically must not trip
    ambiguous-reference resolution in the join condition."""
    import datetime as dt

    from tern_ep_data_pipeline_spark.streaming.curation import stream_interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    a = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=10), "L")], "user_id long, ts timestamp, tag string"
    )
    b = spark.createDataFrame(
        [(1, t0, "R")], "user_id long, ts timestamp, other string"
    )
    adir, bdir = str(tmp_path / "a"), str(tmp_path / "b")
    a.write.parquet(adir)
    b.write.parquet(bdir)
    sa = spark.readStream.format("parquet").schema(a.schema).load(adir)
    sb = spark.readStream.format("parquet").schema(b.schema).load(bdir)
    joined = stream_interval_join(sa, sb, "ts", "ts", on="user_id", max_delay="30 minutes")
    _run_available_now(joined.select("user_id", "tag", "other"), tmp_path, "ssj_same")
    rows = spark.sql("select * from ssj_same").collect()
    assert len(rows) == 1 and rows[0]["other"] == "R"


def test_decode_ppm_truncated_header_raises():
    import pytest as _pt

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    with _pt.raises(ValueError):
        mm.decode_image_ppm(b"P6 3 2")  # header ends before maxval
    with _pt.raises(ValueError):
        mm.decode_image_ppm(b"P6 not numbers here ")


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    from tern_ep_data_pipeline_spark.operators.text import contamination_hits
    from tern_ep_data_pipeline_spark.streaming.curation import (
        decontaminated_stream,
    )

    eval_df = spark.createDataFrame(
        [(100, "q w e r t y u i extra words here")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "prefix q w e r t y u i suffix"),   # contaminated
            (2, "completely unrelated text with no overlap at all"),
            (3, "q w e r t y u i"),                  # contaminated
            (4, "another clean document with its own words entirely"),
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "decon_src")
    train.write.parquet(src)
    stream = spark.readStream.format("parquet").schema(train.schema).load(src)
    q = (
        decontaminated_stream(stream, eval_df, "doc_id", "text", n=8)
        .writeStream.format("memory")
        .queryName("decon_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM decon_out").collect()}

    flagged = {
        r["doc_id"]
        for r in contamination_hits(train, eval_df, "doc_id", "text", n=8)
        .select("doc_id")
        .collect()
    }
    expect = {1, 2, 3, 4} - flagged
    assert flagged == {1, 3}
    assert got == expect == {2, 4}


def test_span_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming ExactSubstr: batch 2's decisions equal the batch operator
    over the union (the gram index converges to full-corpus firsts), and
    re-delivering a batch leaves the index byte-identical (min-combine is
    idempotent — the crash-safety property count indexes lack)."""
    from tern_ep_data_pipeline_spark.operators.dedup import (
        release_staged,
        substring_dedup,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import span_dedup_batch

    phrase = " ".join(f"m{i}" for i in range(10))
    idx = str(tmp_path / "gidx")
    b1 = spark.createDataFrame(
        [(1, f"first doc holds {phrase} plus its own unique tail words")],
        ["doc_id", "text"],
    )
    b2 = spark.createDataFrame(
        [
            (10, f"later doc repeats {phrase} and adds fresh content here"),
            (11, "an entirely novel later document with nothing repeated"),
        ],
        ["doc_id", "text"],
    )
    out1 = {r["doc_id"]: r for r in span_dedup_batch(b1, idx).collect()}
    assert out1[1]["n_removed_tokens"] == 0  # first batch, empty index
    out2 = {r["doc_id"]: r for r in span_dedup_batch(b2, idx).collect()}

    union_batch = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in substring_dedup(b1.unionByName(b2), "doc_id", "text").collect()
    }
    release_staged(spark)
    for d in (10, 11):  # batch-2 decisions == batch-over-union decisions
        assert (out2[d]["clean_text"], out2[d]["n_removed_tokens"]) == union_batch[d]
    assert out2[10]["n_removed_tokens"] == 10

    # re-delivery idempotence: re-append b2, index decisions unchanged
    before = sorted(
        map(tuple, scan(spark, idx, "grams")
            .groupBy("gram_hash").agg(F.min("first_key").alias("fk")).collect())
    )
    span_dedup_batch(b2, idx)  # simulated foreachBatch retry
    after = sorted(
        map(tuple, scan(spark, idx, "grams")
            .groupBy("gram_hash").agg(F.min("first_key").alias("fk")).collect())
    )
    assert before == after


def test_span_dedup_stream_sink_end_to_end(spark, tmp_path):
    """The foreachBatch sink end-to-end: availableNow over a parquet
    source lands per-batch partition dirs whose union equals the batch
    operator's decisions, and the gram index exists afterwards."""
    from tern_ep_data_pipeline_spark.operators.dedup import (
        release_staged,
        substring_dedup,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import (
        span_deduped_stream_sink,
    )

    phrase = " ".join(f"k{i}" for i in range(10))
    src = str(tmp_path / "src")
    docs = spark.createDataFrame(
        [
            (1, f"holder doc with {phrase} and original tail words here"),
            (2, f"copier doc repeats {phrase} inside other content words"),
            (3, "independent doc with entirely novel words throughout"),
        ],
        ["doc_id", "text"],
    )
    docs.write.parquet(src)
    idx = str(tmp_path / "gidx")
    out = str(tmp_path / "cleaned")
    stream = spark.readStream.format("parquet").schema(docs.schema).load(src)
    q = (
        span_deduped_stream_sink(
            stream, idx, out, str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in substring_dedup(docs, "doc_id", "text").collect()
    }
    release_staged(spark)
    # single availableNow batch == the batch operator exactly
    assert got == batch
    assert got[2][1] == 10 and got[3][1] == 0
    # batch_id partition dirs + the index landed
    import glob as globmod

    assert globmod.glob(f"{out}/batch_id=*")
    assert scan(spark, idx, "grams").count() > 0


def test_span_dedup_stream_sink_with_compaction(spark, tmp_path):
    """compact_every=1 compacts the gram index after every micro-batch;
    the cleaned output is identical to the uncompacted sink (min over
    compacted rows == min over raw appends) and later batches still see
    earlier batches' spans through the compacted index."""
    from tern_ep_data_pipeline_spark.operators.dedup import release_staged
    from tern_ep_data_pipeline_spark.streaming.curation import (
        span_deduped_stream_sink,
    )

    phrase = " ".join(f"q{i}" for i in range(10))
    texts = [
        (1, f"first holder doc {phrase} original ending content words"),
        (2, "plain novel doc nothing shared with any other"),
        (11, f"late copier piece {phrase} different framing entirely now"),
        (12, "another plain novel doc all unique tokens again"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    def run(compact_every):
        tag = f"c{compact_every or 0}"
        src = str(tmp_path / f"src_{tag}")
        # two id-ordered batch files so the second batch is cleaned
        # against an index that HAS been compacted (compact_every=1)
        docs.where("doc_id < 10").coalesce(1).write.parquet(f"{src}/b0")
        docs.where("doc_id >= 10").coalesce(1).write.parquet(f"{src}/b1")
        import glob as globmod
        import os as osmod
        import time as timemod

        for k, sub in enumerate(("b0", "b1")):
            t = timemod.time() - (2 - k) * 10
            for f in globmod.glob(f"{src}/{sub}/*"):
                osmod.utime(f, (t, t))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*")
        )
        out = str(tmp_path / f"out_{tag}")
        q = (
            span_deduped_stream_sink(
                stream,
                str(tmp_path / f"gidx_{tag}"),
                out,
                str(tmp_path / f"ckpt_{tag}"),
                compact_every=compact_every,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        release_staged(spark)
        return {
            r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
            for r in spark.read.parquet(out).collect()
        }

    plain = run(None)
    compacted = run(1)
    assert compacted == plain
    # the cross-batch span was actually cut (through the compacted index)
    assert compacted[11][1] == 10
    # compaction left one distinct row per gram
    grams = scan(spark, str(tmp_path / "gidx_c1"), "grams")
    assert grams.count() == grams.select("gram_hash").distinct().count()


def _require_pillow():
    from tern_ep_data_pipeline_spark.operators import codec_bindings

    if codec_bindings.pil_image() is None:
        pytest.skip("Pillow not installed in this container — cross-decode "
                    "pin runs only where the binding exists")


def _require_ffmpeg():
    from tern_ep_data_pipeline_spark.operators import codec_bindings

    if codec_bindings.ffmpeg_paths() is None:
        pytest.skip("ffmpeg/ffprobe not on PATH in this container — "
                    "cross-decode pin runs only where the binding exists")


def test_pillow_cross_decodes_stdlib_lossless_images():
    """When Pillow IS present, our lossless encoders (PNG/BMP) must decode
    through decode_image_pil to the EXACT pixels the stdlib decoders pin —
    a binding regression (channel order, scaling) fails here instead of
    silently skewing mixed-corpus features (VERDICT r6 #8)."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import codec_bindings

    _require_pillow()
    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    png = _png_bytes(rgb)
    assert (codec_bindings.decode_image_pil(png) == rgb).all()
    assert (codec_bindings.decode_image_pil(png) == mm.decode_image(png)).all()
    flat = rgb[:4, :4]
    bmp = _bmp_bytes(4, 4, flat)
    assert (
        codec_bindings.decode_image_pil(bmp) == mm.decode_image(bmp)
    ).all()


def test_ffmpeg_cross_decodes_stdlib_mjpeg():
    """When ffmpeg IS present, the same MJPEG bytes decoded by the stdlib
    baseline-JPEG path and by ffmpeg must agree frame-for-frame within
    IDCT rounding (<= 3 levels) and on count/shape/fps — the raw-RGB ->
    MJPEG -> ffmpeg equality pin VERDICT r6 #8 asked for."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import codec_bindings
    from tern_ep_data_pipeline_spark.operators.avi import (
        decode_video,
        encode_video_mjpeg,
    )

    _require_ffmpeg()
    frames = [
        np.full((16, 16, 3), v, np.uint8) for v in (10, 90, 170, 250)
    ]
    mjpeg = encode_video_mjpeg(frames, fps=4)
    ours, fps_ours = decode_video(mjpeg)
    ff = codec_bindings.decode_video_ffmpeg(mjpeg)
    assert ff is not None
    theirs, fps_ff = ff
    assert len(theirs) == len(ours) == 4
    assert fps_ff == fps_ours == 4.0
    for a, b in zip(ours, theirs):
        assert a.shape == b.shape == (16, 16, 3)
        assert int(np.abs(a.astype(int) - b.astype(int)).max()) <= 3


def test_ffmpeg_cross_decodes_stdlib_wav():
    """When ffmpeg IS present, a PCM16 WAV decodes through
    decode_audio_ffmpeg to the same samples (within 1 LSB at 16 bits)
    and rate as the stdlib WAV decoder."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import codec_bindings

    _require_ffmpeg()
    wav = _wav_bytes(64, rate=8000)
    ours, rate_ours = mm.decode_audio(wav)
    ff = codec_bindings.decode_audio_ffmpeg(wav)
    assert ff is not None
    theirs, rate_ff = ff
    assert rate_ff == rate_ours == 8000
    assert len(theirs) == len(ours)
    assert float(np.abs(np.asarray(ours) - theirs).max()) <= 1.0 / 32768


def test_jpeg_binding_preferred_with_pinned_cross_check(monkeypatch):
    """VERDICT r10 #2: when a native image binding is importable, JPEG
    decode routes through it FIRST (the stdlib decoder's ~0.5 Mpx/s is
    the multimodal ceiling), with the stdlib decoder retained as the
    pinned verifier via a sampled cross-check; a binding that diverges
    beyond codec-rounding tolerance fails loudly, and with no binding
    the stdlib path is bit-for-bit primary as before."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm
    from tern_ep_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 255, (24, 24, 3), dtype=np.uint8)
    jpg = encode_jpeg(img, quality=90)
    ref = decode_jpeg(jpg)

    # --- binding present and correct: preferred, sampled check passes
    calls = {"n": 0}

    def fake_binding(content):
        calls["n"] += 1
        # a real libjpeg differs from the float IDCT by ~1 count; model it
        return np.clip(ref.astype(np.int16) + 1, 0, 255).astype(np.uint8)

    from tern_ep_data_pipeline_spark.operators import codec_bindings

    monkeypatch.setattr(codec_bindings, "decode_image_pil", fake_binding)
    # force the sampled cross-check to fire on the FIRST decode
    monkeypatch.setattr(mm, "_jpeg_xcheck_counter", iter([0]))
    got = mm.decode_image(bytes(jpg))
    assert calls["n"] == 1  # the binding, not the stdlib path, decoded
    assert got.shape == ref.shape
    assert float(np.abs(got.astype(int) - ref.astype(int)).mean()) <= 1.0

    # --- binding that mis-decodes: the cross-check names the divergence
    def broken_binding(content):
        return np.zeros_like(ref)

    monkeypatch.setattr(codec_bindings, "decode_image_pil", broken_binding)
    monkeypatch.setattr(mm, "_jpeg_xcheck_counter", iter([0]))
    with pytest.raises(ValueError, match="diverges|shape"):
        mm.decode_image(bytes(jpg))

    # --- sampling: off-cadence decodes skip the verifier entirely
    monkeypatch.setattr(mm, "_jpeg_xcheck_counter", iter([1, 2, 3]))
    assert mm.decode_image(bytes(jpg)).shape == ref.shape  # no raise

    # --- no binding: stdlib primary, bit-for-bit
    monkeypatch.setattr(
        codec_bindings, "decode_image_pil", lambda content: None
    )
    assert np.array_equal(mm.decode_image(bytes(jpg)), ref)


def test_jpeg_stdlib_force_switch(monkeypatch):
    """ADVICE r11 #2: binding-preferred JPEG decode made the pixel output
    environment-dependent (same JPEG, different pixels up to the
    cross-check tolerance depending on Pillow presence/version).
    SPARK_GRAFT_JPEG_DECODER=stdlib forces the pinned pure-Python path
    even with a binding importable — bit-identical on every environment
    — decode_image_tagged reports which path decoded, and a typo'd
    switch value raises loudly instead of silently reverting to the
    environment-dependent default."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import codec_bindings
    from tern_ep_data_pipeline_spark.operators import multimodal as mm
    from tern_ep_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(12)
    img = rng.integers(0, 255, (16, 16, 3), dtype=np.uint8)
    jpg = bytes(encode_jpeg(img, quality=90))
    ref = decode_jpeg(jpg)

    calls = {"n": 0}

    def fake_binding(content):
        calls["n"] += 1
        return np.clip(ref.astype(np.int16) + 1, 0, 255).astype(np.uint8)

    monkeypatch.setattr(codec_bindings, "decode_image_pil", fake_binding)
    monkeypatch.setattr(mm, "_jpeg_xcheck_counter", iter([1, 2, 3, 4]))

    # auto (default): the binding decodes, identity says so
    monkeypatch.delenv("SPARK_GRAFT_JPEG_DECODER", raising=False)
    got, dec = mm.decode_image_tagged(jpg)
    assert calls["n"] == 1 and dec == "jpeg-pil"

    # stdlib-forced: the binding is NEVER consulted, pixels are
    # bit-identical to the pinned decoder, identity records the path
    monkeypatch.setenv("SPARK_GRAFT_JPEG_DECODER", "stdlib")
    got, dec = mm.decode_image_tagged(jpg)
    assert calls["n"] == 1  # unchanged — binding bypassed
    assert dec == "jpeg-stdlib" and np.array_equal(got, ref)

    # non-JPEG containers the pinned decoders can't read at all still
    # extend through the binding (presence only changes quarantine
    # membership, not pixel values of decodable assets)
    monkeypatch.setattr(
        codec_bindings,
        "decode_image_pil",
        lambda content: np.zeros((2, 2, 3), dtype=np.uint8),
    )
    got, dec = mm.decode_image_tagged(b"RIFFxxxxWEBPVP8 ")
    assert dec == "pil"

    # unknown values fail loudly (a silent fallback to 'auto' is the
    # exact reproducibility trap the switch exists to close)
    monkeypatch.setenv("SPARK_GRAFT_JPEG_DECODER", "stdilb")
    with pytest.raises(ValueError, match="SPARK_GRAFT_JPEG_DECODER"):
        mm.decode_image_tagged(jpg)


def test_extract_features_records_decoder(spark, monkeypatch):
    """ADVICE r11 #2: every decoded feature row carries the decoder
    identity that ACTUALLY produced it (NULL on quarantine), so a
    corpus built across heterogeneous environments can be audited for
    divergent decode paths after the fact. The JPEG switch is validated
    EAGERLY at plan time — a typo'd value must fail the job, not
    silently quarantine the whole JPEG corpus through on_error='tag'
    (review r12)."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm
    from tern_ep_data_pipeline_spark.operators.jpeg import encode_jpeg

    rng = np.random.default_rng(13)
    jpg = bytes(encode_jpeg(rng.integers(0, 255, (8, 8, 3), dtype=np.uint8)))
    rows = [
        (1, "image", bytearray(_bmp_bytes(8, 8, (255, 255, 255))), None),
        (2, "image", bytearray(jpg), None),
        (3, "audio", bytearray(_wav_bytes(1600)), None),
        (4, "text", bytearray(b"plain text"), None),
        (5, "image", bytearray(b"not an image at all"), None),
    ]
    assets = spark.createDataFrame(rows, mm.ASSET_SCHEMA)
    out = {
        r["asset_id"]: r
        for r in mm.extract_features(assets, use_fake_encoder=False).collect()
    }
    assert out[1]["decoder"] == "bmp"
    # no Pillow in this sandbox -> the pinned path; with a binding the
    # audit column would read jpeg-pil, which is exactly its point
    assert out[2]["decoder"] in ("jpeg-stdlib", "jpeg-pil")
    assert out[3]["decoder"] == "wav"
    assert out[4]["decoder"] == "fake"  # text routes to the fake encoder
    assert out[5]["decoder"] is None and out[5]["decode_error"]

    # the tagged decoders report the ACTUAL path, not a header sniff:
    # an MJPEG AVI through the video modality reports mjpeg
    frames = [np.full((8, 8, 3), v, dtype=np.uint8) for v in (0, 255)]
    from tern_ep_data_pipeline_spark.operators.avi import (
        encode_video_mjpeg,
    )

    vid = spark.createDataFrame(
        [(9, "video", bytearray(encode_video_mjpeg(frames, fps=4)), None)],
        mm.ASSET_SCHEMA,
    )
    row = mm.extract_features(vid, use_fake_encoder=False).first()
    assert row["decoder"] == "mjpeg" and row["decode_error"] is None

    # plan-time validation: a typo'd switch fails the CALL, before any
    # job runs and before tag-mode can swallow it per row
    monkeypatch.setenv("SPARK_GRAFT_JPEG_DECODER", "stdilb")
    with pytest.raises(ValueError, match="SPARK_GRAFT_JPEG_DECODER"):
        mm.extract_features(vid, use_fake_encoder=False)


# --- kill/restart harness (3 staggered source batches -> availableNow
# stream -> crash mid-batch -> restart from the same checkpoint) -----


def _kr_write_source(docs, src):
    """Three one-file source batches with staggered mtimes so
    maxFilesPerTrigger=1 replays them in doc_id order."""
    import glob as globmod
    import os as osmod
    import time as timemod

    docs.where("doc_id < 10").coalesce(1).write.parquet(f"{src}/b0")
    docs.where("doc_id >= 10 and doc_id < 20").coalesce(1).write.parquet(
        f"{src}/b1"
    )
    docs.where("doc_id >= 20").coalesce(1).write.parquet(f"{src}/b2")
    for k, sub in enumerate(("b0", "b1", "b2")):
        t = timemod.time() - (3 - k) * 10
        for f in globmod.glob(f"{src}/{sub}/*"):
            osmod.utime(f, (t, t))


def _kr_start(spark, tmp_path, tag):
    from tern_ep_data_pipeline_spark.streaming.curation import (
        span_deduped_stream_sink,
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / f"src_{tag}") + "/b*")
    )
    return (
        span_deduped_stream_sink(
            stream,
            str(tmp_path / f"gidx_{tag}"),
            str(tmp_path / f"out_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
        )
        .trigger(availableNow=True)
        .start()
    )


def _kr_collect(spark, tmp_path, tag):
    return {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()
    }


@pytest.mark.parametrize("crash_mode", ["before_index_append", "after_index_append"])
def test_span_sink_checkpoint_kill_restart_exactly_once(
    spark, tmp_path, monkeypatch, crash_mode
):
    """VERDICT r10 #4: kill the curation stream mid-batch (after >= 1
    committed batch), restart it from the SAME checkpoint, and the sink
    must equal a crash-free twin exactly — no duplicated docs, no lost
    docs, no drifted decisions. Two crash points around the batch's
    non-atomic effect pair (index append, output write): before the
    append (whole batch retried) and between append and output write
    (retry re-appends — idempotent via the per-gram min — then lands
    the output once). Reference semantics: incremental append
    exactly-once (code/file_handling/eddypro_concatenator.py:10-17). The
    index append is the batch's one commit of the gram index, so the
    crash lands just before or just after it."""
    import glob as globmod

    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.operators.dedup import release_staged

    phrase = " ".join(f"cr{i}" for i in range(10))
    texts = [
        (1, f"first holder doc {phrase} original ending content words"),
        (2, "plain novel doc nothing shared with any other"),
        (11, f"mid copier piece {phrase} different framing entirely now"),
        (12, "another plain novel doc all unique tokens again"),
        (21, f"late copier too {phrase} yet another unique framing here"),
        (22, "closing plain novel doc distinct vocabulary throughout"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    def start(tag):
        return _kr_start(spark, tmp_path, tag)

    def collect(tag):
        return _kr_collect(spark, tmp_path, tag)

    # crash-free twin — the oracle
    _kr_write_source(docs, str(tmp_path / "src_twin"))
    q = start("twin")
    q.awaitTermination(180)
    release_staged(spark)
    expected = collect("twin")
    assert set(expected) == {t[0] for t in texts}

    # faulted run: batch 0 commits, then the injected crash kills the
    # query inside batch 1
    _kr_write_source(docs, str(tmp_path / "src_cr"))
    real_commit = index_log.commit
    state = {"calls": 0}

    def faulty_commit(*a, **k):
        state["calls"] += 1
        if state["calls"] == 2:  # batch 1 (batch 0 already committed)
            if crash_mode == "after_index_append":
                real_commit(*a, **k)
            raise RuntimeError("injected mid-batch crash")
        return real_commit(*a, **k)

    monkeypatch.setattr(index_log, "commit", faulty_commit)
    q = start("cr")
    with pytest.raises(Exception, match="injected mid-batch crash"):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise q.exception()
    release_staged(spark)
    # exactly one batch landed before the kill
    landed = globmod.glob(str(tmp_path / "out_cr") + "/batch_id=*")
    assert len(landed) == 1

    # restart from the SAME checkpoint with the fault removed
    monkeypatch.setattr(index_log, "commit", real_commit)
    q2 = start("cr")
    q2.awaitTermination(180)
    assert q2.exception() is None
    release_staged(spark)

    got = collect("cr")
    assert got == expected  # no dupes, no loss, identical decisions
    # the per-doc uniqueness explicitly (a doc written twice would have
    # collapsed in the dict above)
    rows = spark.read.parquet(str(tmp_path / "out_cr")).groupBy("doc_id").count()
    assert rows.where("count > 1").count() == 0
    # and both cross-batch spans were cut through the restarted index
    assert got[11][1] == 10 and got[21][1] == 10


def test_match_dedup_batch_incremental(spark, tmp_path):
    """Sequential micro-batches against the persistent match index:
    batch-2 copies/near-copies of batch-1 docs classify exact/near,
    fresh docs accumulate, and the intra-batch pass dedups batch 0
    against itself (bootstrap = empty index)."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        match_dedup_batch,
    )

    base = " ".join(f"mm{i}" for i in range(30))
    idx = str(tmp_path / "midx")
    b1 = spark.createDataFrame(
        [(1, base),
         (2, "wholly distinct first-batch content with its own words"),
         (3, base)],  # intra-batch exact dup of doc 1
        ["doc_id", "text"],
    )
    out1 = {r["doc_id"]: (r["status"], r["match_id"])
            for r in match_dedup_batch(b1, idx).collect()}
    assert out1[1][0] == "fresh" and out1[2][0] == "fresh"
    assert out1[3] == ("exact", 1)

    near = base.rsplit(" ", 2)[0] + " zz98 zz99"
    b2 = spark.createDataFrame(
        [(10, base),                     # exact copy of indexed doc 1
         (11, near),                     # near-dup of indexed doc 1
         (12, "second batch totally novel document body here")],
        ["doc_id", "text"],
    )
    out2 = {r["doc_id"]: (r["status"], r["match_id"])
            for r in match_dedup_batch(b2, idx).collect()}
    assert out2[10] == ("exact", 1)
    assert out2[11][0] == "near" and out2[11][1] == 1
    assert out2[12][0] == "fresh"

    # index holds exactly the fresh docs (1, 2, 12) — dups never enter
    ids = {r["doc_id"] for r in scan(spark, idx, "exact").collect()}
    assert ids == {1, 2, 12}


@pytest.mark.parametrize(
    "crash_mode", ["before_append", "between_legs", "after_append"]
)
def test_match_sink_kill_restart_exactly_once(
    spark, tmp_path, monkeypatch, crash_mode
):
    """Kill the match-dedup stream mid-batch (one committed batch),
    restart from the SAME checkpoint, and the decisions equal a
    crash-free twin. A batch writes its exact rows, then its band rows,
    then commits both in one manifest: ``between_legs`` kills it after
    the exact write, ``before_append`` after both writes but before the
    commit (nothing a reader sees either way), and ``after_append``
    after the commit, so the retry finds its own rows (self-replay
    reclassification) and must append nothing twice."""
    import glob as globmod

    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.streaming.curation import (
        match_deduped_stream_sink,
    )

    base = " ".join(f"kr{i}" for i in range(30))
    rows = [
        (1, base),
        (2, "plain novel doc nothing shared with others"),
        (11, base),                                    # exact of doc 1
        (12, base.rsplit(" ", 2)[0] + " qq98 qq99"),   # near of doc 1
        (13, "late wholly novel closing document body"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for b, chunk in enumerate((rows[:2], rows[2:])):
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.parquet(
            str(tmp_path / "src" / f"b{b}")
        )

    def start(tag):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "src") + "/b*")
        )
        return (
            match_deduped_stream_sink(
                stream,
                str(tmp_path / f"midx_{tag}"),
                str(tmp_path / f"out_{tag}"),
                str(tmp_path / f"ckpt_{tag}"),
            )
            .trigger(availableNow=True)
            .start()
        )

    def collect(tag):
        return {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()
        }

    q = start("twin")
    q.awaitTermination(180)
    expected = collect("twin")
    assert expected[11] == ("exact", 1) and expected[12] == ("near", 1)
    assert expected[13][0] == "fresh"

    real_write, real_commit = index_log.write, index_log.commit
    state = {"bands": 0, "commits": 0}

    def faulty_write(df, root, table, *a, **k):
        if table == "bands":
            state["bands"] += 1
            if state["bands"] == 2 and crash_mode == "between_legs":
                raise RuntimeError("injected mid-batch crash")
        return real_write(df, root, table, *a, **k)

    def faulty_commit(*a, **k):
        state["commits"] += 1
        if state["commits"] == 2:  # batch 1 (batch 0 already committed)
            if crash_mode == "after_append":
                real_commit(*a, **k)
            raise RuntimeError("injected mid-batch crash")
        return real_commit(*a, **k)

    monkeypatch.setattr(index_log, "write", faulty_write)
    monkeypatch.setattr(index_log, "commit", faulty_commit)
    q = start("cr")
    with pytest.raises(Exception, match="injected mid-batch crash"):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise q.exception()
    assert len(globmod.glob(str(tmp_path / "out_cr") + "/batch_id=*")) == 1

    monkeypatch.undo()
    q2 = start("cr")
    q2.awaitTermination(180)
    assert q2.exception() is None
    assert collect("cr") == expected
    # no doc decided twice, and the index holds each fresh doc once —
    # in BOTH tables
    dupes = (
        spark.read.parquet(str(tmp_path / "out_cr"))
        .groupBy("doc_id").count().where("count > 1").count()
    )
    assert dupes == 0
    ex = scan(spark, str(tmp_path / "midx_cr"), "exact")
    assert ex.groupBy("doc_id").count().where("count > 1").count() == 0
    bd = scan(spark, str(tmp_path / "midx_cr"), "bands")
    assert {r["doc_id"] for r in bd.select("doc_id").distinct().collect()} == {
        r["doc_id"] for r in ex.select("doc_id").collect()
    }


def test_match_dedup_batch_heals_torn_append(spark, tmp_path, monkeypatch):
    """The ADVICE r13 failure scenario, end to end: attempt 1 of a batch
    crashes BETWEEN the exact and bands writes. Both tables commit in
    one manifest, so the index shows neither leg; the foreachBatch retry
    appends both, and a LATER batch carrying a near-duplicate of the
    torn doc classifies ``near`` — under an exact-only append it would
    have classified ``fresh`` and entered the corpus."""
    import os

    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.streaming.curation import (
        match_dedup_batch,
    )

    base = " ".join(f"tw{i}" for i in range(30))
    idx = str(tmp_path / "midx")
    b1 = spark.createDataFrame([(1, base)], ["doc_id", "text"])

    real = index_log.write

    def boom(df, root, table, *a, **k):
        if table == "bands":
            raise RuntimeError("injected between-legs crash")
        return real(df, root, table, *a, **k)

    monkeypatch.setattr(index_log, "write", boom)
    with pytest.raises(RuntimeError, match="between-legs"):
        match_dedup_batch(b1, idx)

    # torn state: the exact rows are on disk, and no reader sees them
    assert os.listdir(os.path.join(idx, "exact"))
    assert index_log.snapshot(spark, idx).version == 0

    monkeypatch.setattr(index_log, "write", real)
    out_retry = {r["doc_id"]: r["status"]
                 for r in match_dedup_batch(b1, idx).collect()}
    assert out_retry == {1: "fresh"}
    ex, bd = scan(spark, idx, "exact"), scan(spark, idx, "bands")
    assert bd.where("doc_id = 1").count() > 0  # bands leg landed
    assert ex.count() == 1  # exact leg did NOT double-append

    near = base.rsplit(" ", 2)[0] + " hz98 hz99"
    b2 = spark.createDataFrame([(20, near)], ["doc_id", "text"])
    out2 = {r["doc_id"]: (r["status"], r["match_id"])
            for r in match_dedup_batch(b2, idx).collect()}
    assert out2[20] == ("near", 1)


def test_match_dedup_first_attempt_fast_path(spark, tmp_path):
    """A batch appends the staged rows of its fresh docs without ever
    scanning the index's doc_id columns. Pinned via the route property
    plus the strongest observable: an all-duplicate batch commits
    nothing (the index version and file set stay as they were), and a
    replay of an already-committed batch finds its own rows, reports
    the same decisions and appends nothing."""
    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.streaming import curation as cur

    base = " ".join(f"fp{i}" for i in range(30))
    idx = str(tmp_path / "midx")
    sc = spark.sparkContext

    def route():
        return sc.getLocalProperty("tern.match_sink.append_route")

    b1 = spark.createDataFrame(
        [(1, base), (2, "novel first content body"), (3, base)],
        ["doc_id", "text"],
    )
    out1 = {r["doc_id"]: r["status"]
            for r in cur.match_dedup_batch(b1, idx).collect()}
    assert out1 == {1: "fresh", 2: "fresh", 3: "exact"}
    assert route() == "append"

    before = index_log.snapshot(spark, idx)
    assert {r["doc_id"] for r in scan(spark, idx, "exact").collect()} == {1, 2}

    # all-duplicate batch: zero fresh -> no commit
    b2 = spark.createDataFrame([(10, base)], ["doc_id", "text"])
    out2 = {r["doc_id"]: (r["status"], r["match_id"])
            for r in cur.match_dedup_batch(b2, idx).collect()}
    assert out2 == {10: ("exact", 1)}
    assert route() == "no-fresh-docs"
    assert index_log.snapshot(spark, idx) == before, (
        "all-dup batch must not touch the index"
    )

    # a REPLAY (docs 1/2 already indexed -> self-hits) relabels them
    # fresh and appends nothing
    out_replay = {r["doc_id"]: r["status"]
                  for r in cur.match_dedup_batch(b1, idx).collect()}
    assert out_replay == {1: "fresh", 2: "fresh", 3: "exact"}
    assert route() == "no-fresh-docs"
    assert index_log.snapshot(spark, idx) == before
    # the decision counts must not leave the session unserializable: a
    # pyspark Observation does, and then every task closure capturing
    # the session (pyspark.ml model transforms) fails
    jvm = spark._jvm
    jvm.java.io.ObjectOutputStream(
        jvm.java.io.ByteArrayOutputStream()
    ).writeObject(spark._jsparkSession)


def test_match_dedup_batch_stages_batch_once(spark, tmp_path, monkeypatch):
    """One micro-batch derives its band rows once: the classifier and
    both append legs read the staged rows, so ``_band_table`` is built
    once and the classifier's optimized plan holds no Generate (the
    shingle and band explodes ran in the staging checkpoint)."""
    import re

    from tern_ep_data_pipeline_spark.operators import dedup_index as di
    from tern_ep_data_pipeline_spark.streaming.curation import (
        match_dedup_batch,
    )

    base = " ".join(f"so{i}" for i in range(30))
    idx = str(tmp_path / "midx")
    di.build_dedup_index(
        spark.createDataFrame([(1, base)], ["doc_id", "text"]), idx
    )
    real_bands, real_match = di._band_table, di._match_frames
    built, classifiers = [], []

    def counted_bands(*a, **k):
        built.append(1)
        return real_bands(*a, **k)

    def kept_match(*a, **k):
        classifiers.append(real_match(*a, **k))
        return classifiers[-1]

    monkeypatch.setattr(di, "_band_table", counted_bands)
    monkeypatch.setattr(di, "_match_frames", kept_match)
    batch = spark.createDataFrame(
        [(10, base),
         (11, base.rsplit(" ", 2)[0] + " zz98 zz99"),
         (12, "a novel body of words"),
         (13, "a novel body of words")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["status"], r["match_id"])
           for r in match_dedup_batch(batch, idx).collect()}
    assert got == {10: ("exact", 1), 11: ("near", 1),
                   12: ("fresh", None), 13: ("exact", 12)}
    assert len(built) == 1
    plan = classifiers[0]._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"^[\s:+\-]*Generate\b", plan, re.M), plan
    assert {r["doc_id"] for r in scan(spark, idx, "bands").collect()} == {1, 12}


def test_match_index_compaction_decision_preserving(spark, tmp_path):
    """r15 (r14 verdict #1): the match-index compactor undoes per-batch
    append file explosion without changing a single decision — it only
    merges files (no aggregation exists for these tables). Pins: file
    count shrinks, row sets identical, a post-compaction batch
    classifies exactly like an uncompacted twin, and a file of at least
    half the split size stays where it is while only the small files
    appended after it are merged."""
    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        compact_match_index,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import (
        match_dedup_batch,
    )

    text = lambda d: " ".join(f"cm{d}w{j}" for j in range(30))
    idx = str(tmp_path / "midx")
    twin = str(tmp_path / "midx_twin")
    batches = [
        spark.createDataFrame(
            [(b * 10 + i, text(b * 10 + i)) for i in range(3)],
            ["doc_id", "text"],
        )
        for b in range(4)
    ]
    for b in batches:
        match_dedup_batch(b, idx)
        match_dedup_batch(b, twin)

    def rows(path):
        ex = scan(spark, path, "exact")
        bd = scan(spark, path, "bands")
        return (sorted(map(tuple, ex.collect())),
                sorted(map(tuple, bd.collect())))

    before = rows(idx)
    nf = len(index_log.snapshot(spark, idx).files("exact"))
    stats = compact_match_index(spark, idx)
    for leg in ("exact", "bands"):
        assert stats[leg]["rows"] == scan(spark, idx, leg).count()
    assert stats["exact"]["files_before"] == nf
    assert stats["exact"]["files_after"] < nf
    assert stats["bands"]["files_after"] < stats["bands"]["files_before"]
    assert rows(idx) == before  # the row multiset is unchanged

    # a post-compaction batch decides exactly like the uncompacted twin
    probe = spark.createDataFrame(
        [(100, text(0)),                           # exact dup of doc 0
         (101, text(101))],                        # fresh
        ["doc_id", "text"],
    )
    got = sorted(map(tuple, match_dedup_batch(probe, idx).collect()))
    exp = sorted(map(tuple, match_dedup_batch(probe, twin).collect()))
    assert got == exp

    # bin-packing: with a split size no more than twice the merged
    # bands file, that file is full and stays; only what came after it
    # (the probe's append) is merged
    merged = index_log.snapshot(spark, idx).files("bands")[0]
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(2 * merged["bytes"]))
    try:
        match_dedup_batch(batches[0].withColumn(
            "doc_id", batches[0].doc_id + 200), idx)
        stats = compact_match_index(spark, idx)
    finally:
        spark.conf.set(key, old)
    live = index_log.snapshot(spark, idx).files("bands")
    assert merged in live
    assert stats["bands"]["files_after"] == 2
    assert stats["bands"]["rows"] == sum(f["rows"] for f in live)


def _racing_commit(monkeypatch, competitor):
    """Patch ``index_log.commit`` so that the first append commit runs
    ``competitor`` (with the real commit) just before it: a competing
    writer lands between the batch's read and its commit."""
    from tern_ep_data_pipeline_spark.operators import index_log

    real_commit = index_log.commit
    raced: list[int] = []

    def commit(*a, **k):
        if not raced:
            raced.append(1)
            monkeypatch.setattr(index_log, "commit", real_commit)
            competitor()
        return real_commit(*a, **k)

    monkeypatch.setattr(index_log, "commit", commit)


@pytest.mark.parametrize("competitor", ["append", "compaction"])
def test_match_batch_races_a_commit(spark, tmp_path, monkeypatch, competitor):
    """A competing commit lands between a match batch's read and its
    commit. An append to the index makes the batch classify again
    against the new version, so a document another writer admitted
    meanwhile is not admitted twice; a compaction changes nothing the
    classifier computes, so the batch commits on top of it without
    classifying again."""
    from tern_ep_data_pipeline_spark.operators import dedup_index as di
    from tern_ep_data_pipeline_spark.streaming.curation import (
        match_dedup_batch,
    )

    base = " ".join(f"rb{i}" for i in range(30))
    other = " ".join(f"ro{i}" for i in range(30))
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "midx")
    match_dedup_batch(mk([(1, base)]), idx)
    match_dedup_batch(mk([(2, "a second small file of index rows")]), idx)

    real_match = di._match_frames
    classified: list[int] = []

    def counted(*a, **k):
        classified.append(1)
        return real_match(*a, **k)

    monkeypatch.setattr(di, "_match_frames", counted)
    if competitor == "append":
        _racing_commit(
            monkeypatch, lambda: di.append_to_index(mk([(20, other)]), idx)
        )
    else:
        _racing_commit(monkeypatch, lambda: di.compact_match_index(spark, idx))
    got = {r["doc_id"]: (r["status"], r["match_id"])
           for r in match_dedup_batch(
               mk([(10, other), (11, base + " tail")]), idx).collect()}

    exact = {r["doc_id"] for r in scan(spark, idx, "exact").collect()}
    if competitor == "append":
        assert len(classified) == 2  # classified again after the conflict
        assert got == {10: ("exact", 20), 11: ("near", 1)}
        assert exact == {1, 2, 20}  # 'other' admitted once, as doc 20
    else:
        assert len(classified) == 1  # rebased, not classified again
        assert got == {10: ("fresh", None), 11: ("near", 1)}
        assert exact == {1, 2, 10}
    bands = scan(spark, idx, "bands")
    assert bands.count() == bands.dropDuplicates().count()


def test_index_code_never_renames(spark, tmp_path, monkeypatch, sf_dir):
    """No index write path renames anything: with ``os.rename``,
    ``os.replace`` and ``shutil.move`` raising, two match-sink passes
    and two span-sink passes, each compacting after every batch, the
    maintenance task, two publishes of each frozen-model artifact and
    both artifact refresh tasks all run, and the sinks decide like the
    batch operators."""
    import importlib
    import os

    import tern_ep_data_pipeline_spark.tasks_builtin as builtin_mod
    from tern_ep_data_pipeline_spark import tasks as task_mod
    from tern_ep_data_pipeline_spark.operators.dedup import release_staged
    from tern_ep_data_pipeline_spark.operators.quality_model import (
        HEURISTIC_FEATURES,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import (
        load_dsir_ratio,
        load_quality_model,
        match_deduped_stream_sink,
        span_deduped_stream_sink,
        write_dsir_ratio_artifact,
        write_quality_model_artifact,
    )

    importlib.reload(builtin_mod)
    phrase = " ".join(f"nr{i}" for i in range(10))
    rows = [
        (1, f"first holder doc {phrase} original ending"),
        (2, "plain novel doc nothing shared with any other"),
        (11, f"first holder doc {phrase} original ending"),
        (12, f"mid copier piece {phrase} different framing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for b, chunk in enumerate((rows[:2], rows[2:])):
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.parquet(
            str(tmp_path / "src" / f"b{b}")
        )

    def renamed(*a, **k):
        raise AssertionError("index code renamed a path")

    for mod, name in ((os, "rename"), (os, "replace"), (shutil, "move")):
        monkeypatch.setattr(mod, name, renamed)

    def run(sink, tag, **kw):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "src") + "/b*")
        )
        q = sink(
            stream, str(tmp_path / "idx"), str(tmp_path / f"out_{tag}"),
            str(tmp_path / f"ckpt_{tag}"), compact_every=1, **kw,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()
        release_staged(spark)
        return spark.read.parquet(str(tmp_path / f"out_{tag}"))

    match = {r["doc_id"]: r["status"]
             for r in run(match_deduped_stream_sink, "match").collect()}
    assert (match[1], match[2], match[11]) == ("fresh", "fresh", "exact")
    span = {r["doc_id"]: r["n_removed_tokens"]
            for r in run(span_deduped_stream_sink, "span",
                         min_tokens=8).collect()}
    assert span[12] == 10 and span[1] == 0

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    matrix = task_mod.SiteTaskMatrix({"TestSite": {"compact_dedup_indexes": True}})
    res = task_mod.run_task(spark, "compact_dedup_indexes", matrix)
    assert res[0].ok, res[0].error
    assert set(res[0].result) == {"path", "grams", "match"}

    n = len(HEURISTIC_FEATURES)
    weights = {"cols": list(HEURISTIC_FEATURES), "mean": [0.0] * n,
               "std": [1.0] * n, "w": [0.5] * n, "b": 0.0}
    for v in (1, 2):
        assert write_dsir_ratio_artifact(
            docs, docs, str(tmp_path / "ratio"), buckets=64, vocab_top_k=v
        )["version"] == v
        assert write_quality_model_artifact(
            weights, str(tmp_path / "qm"), spark=spark
        )["version"] == v
    assert load_dsir_ratio(spark, str(tmp_path / "ratio"))[1]["version"] == 2
    assert load_quality_model(str(tmp_path / "qm"), spark=spark)["version"] == 2
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_DSIR_RATIO_DIR", str(tmp_path / "ratio"))
    monkeypatch.setenv("SPARK_GRAFT_DSIR_BUCKETS", "64")
    monkeypatch.setenv("SPARK_GRAFT_QM_MODEL_DIR", str(tmp_path / "qm"))
    for task in ("refresh_dsir_ratio", "refresh_quality_model"):
        matrix = task_mod.SiteTaskMatrix({"TestSite": {task: True}})
        res = task_mod.run_task(spark, task, matrix)
        assert res[0].ok and res[0].result["version"] == 3, res[0].error


def test_span_dedup_batch_auto_bloom_regime_gate(spark, tmp_path):
    """The span sink's index read engages the batch-keyed prune only
    past the broadcast-threshold regime: the bootstrap batch has no
    index to read, a young index under the default threshold stays
    direct, and an index whose measured size crosses the threshold
    flips to the prune — decisions identical either way."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        span_dedup_batch,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"sg{i}w{j}" for j in range(30))) for i in range(30)],
        "doc_id long, text string",
    )
    sc = spark.sparkContext

    # batch 0 bootstraps (no index yet): nothing to read, nothing to gate
    idx = str(tmp_path / "gidx")
    span_dedup_batch(docs.where("doc_id < 10"), idx).collect()
    assert sc.getLocalProperty("tern.span_dedup.plan") == "bootstrap"
    twin = str(tmp_path / "gidx_twin")
    shutil.copytree(idx, twin)

    # young index under the default 10MB threshold: direct
    b1 = docs.where("doc_id >= 10 and doc_id < 20")
    sc.setLocalProperty("tern.index_prune", None)
    young = sorted(map(tuple, span_dedup_batch(b1, idx).collect()))
    assert sc.getLocalProperty("tern.span_dedup.plan") == "dir"
    assert sc.getLocalProperty("tern.index_prune") == "direct"

    # a threshold below the index's measured bytes: the gate prunes, and
    # the twin index (same history) read the same batch gives the same rows
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        sc.setLocalProperty("tern.index_prune", None)
        crossed = sorted(map(tuple, span_dedup_batch(b1, twin).collect()))
        assert sc.getLocalProperty("tern.index_prune") == "prune"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert crossed == young
