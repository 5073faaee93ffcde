"""Structured Streaming ingest + multimodal binary-column operators."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, make_cmapss_pdf, write_cmapss_txt
from turbine_maintenance_etl_spark.llm.multimodal import (
    attach_binary_metadata,
    extract_image_features,
    sample_frames,
)
from turbine_maintenance_etl_spark.queries import normalize_event_ts
from turbine_maintenance_etl_spark.streaming.ingest import (
    stream_cmapss_ingest,
    stream_tumbling_event_counts,
)


def test_stream_ingest_exactly_once(spark, tmp_path):
    inp = tmp_path / "incoming"
    inp.mkdir()
    pdf = make_cmapss_pdf(n_units=3, seed=5)
    write_cmapss_txt(pdf, str(inp / "batch1.txt"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    stream_cmapss_ingest(spark, str(inp), out, ckpt, sensors=["sensor2", "sensor3"])
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 == len(pdf)
    assert "mean5_sensor2" in first.columns and "z_sensor3" in first.columns

    # second file lands; re-trigger picks up ONLY the new file (exactly once)
    pdf2 = make_cmapss_pdf(n_units=2, seed=6)
    write_cmapss_txt(pdf2, str(inp / "batch2.txt"))
    stream_cmapss_ingest(spark, str(inp), out, ckpt, sensors=["sensor2", "sensor3"])
    assert spark.read.parquet(out).count() == n1 + len(pdf2)


def test_stream_tumbling_matches_batch(spark):
    """The streaming windowed agg, driven to completion on a static
    parquet stream, equals the batch groupBy on the same data."""
    src = "/root/testdata/sf0.001"
    schema = spark.read.parquet(f"{src}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{src}")
        .where(F.col("event_id").isNotNull())
    )
    stream = normalize_event_ts(stream)
    agg = stream_tumbling_event_counts(spark, stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("stream_out")
    batch = (
        normalize_event_ts(spark.read.parquet(f"{src}/events.parquet"))
        .groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.unix_micros("win.start").alias("win_start_us"), "event_type", "n", "total_value")
    )
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0


def test_multimodal_binary_pipeline(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "media": [b"\x89PNG_fake_bytes_1", b"\xff\xd8jpeg_fake_2", b""],
        }
    )
    df = spark.createDataFrame(pdf)
    meta = attach_binary_metadata(df)
    rows = {r["doc_id"]: r for r in meta.collect()}
    assert rows[1]["media_bytes"] == 17
    assert len(rows[1]["media_sha256"]) == 64
    feats = extract_image_features(df).orderBy("doc_id").collect()
    # none of the three payloads decodes: each is a pill row with NULL
    # dimensions and its true byte count
    assert [r["n_bytes"] for r in feats] == [17, 13, 0]
    assert all(r["width"] is None and r["height"] is None and r["channels"] is None
               for r in feats)


def test_sample_frames(spark):
    frames = spark.range(100).select(
        F.lit(1).alias("video_id"), F.col("id").alias("frame_idx")
    )
    assert sample_frames(frames, every_nth=10).count() == 10


def test_stream_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batches:
    after two file batches the emitted totals equal the batch groupBy
    over all data seen."""
    import shutil

    from turbine_maintenance_etl_spark.streaming.ingest import (
        stream_stateful_user_totals,
    )

    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    events = raw.select("user_id", "value")
    in_dir, ckpt, out_dir = str(tmp_path / "in"), str(tmp_path / "ckpt"), tmp_path / "out"
    # split by ROW parity so every user has rows in BOTH batches — run 2's
    # emissions are only correct if run 1's state survived the checkpoint
    half1 = raw.filter(F.col("event_id") % 2 == 0).select("user_id", "value")
    half2 = raw.filter(F.col("event_id") % 2 == 1).select("user_id", "value")
    half1.write.mode("overwrite").parquet(in_dir)

    def drain(run):
        stream = spark.readStream.schema(events.schema).parquet(in_dir)
        q = (
            stream_stateful_user_totals(stream)
            .writeStream.foreachBatch(
                lambda bdf, _e: bdf.write.mode("append").parquet(str(out_dir / run))
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("run1")
    half2.write.mode("append").parquet(in_dir)
    drain("run2")
    out = spark.read.parquet(str(out_dir / "run2")).toPandas()

    expected = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .toPandas()
    )
    merged = out.merge(expected, on="user_id", suffixes=("_got", "_exp"))
    assert len(merged) == len(out) and len(out) > 0
    assert (merged["n_events_got"] == merged["n_events_exp"]).all()
    assert (abs(merged["total_value_got"] - merged["total_value_exp"]) < 1e-6).all()
    shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids across micro-batches are emitted once."""
    import datetime as dt

    from turbine_maintenance_etl_spark.streaming.ingest import stream_dedup_events

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 10.0),
        (2, base + dt.timedelta(minutes=1), 20.0),
        (1, base + dt.timedelta(minutes=2), 10.0),  # dup of event 1
        (3, base + dt.timedelta(minutes=3), 30.0),
        (2, base + dt.timedelta(minutes=4), 20.0),  # dup of event 2
    ]
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    src = spark.createDataFrame(rows, "event_id int, ts timestamp, value double")
    src.repartition(2).write.parquet(in_dir)
    stream = spark.readStream.schema(src.schema).parquet(in_dir)
    q = (
        stream_dedup_events(stream, keys=["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("dedup_sink").toPandas()
    assert sorted(out["event_id"]) == [1, 2, 3]


def test_stream_upsert_sink_latest_wins(spark, tmp_path):
    """Replayed/updated rows merge by key across streamed batches."""
    from turbine_maintenance_etl_spark.streaming.ingest import stream_upsert_sink

    in_dir = str(tmp_path / "in")
    out, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1)], "unit int, pred double, version int"
    )
    b1.write.mode("append").parquet(in_dir)
    schema = b1.schema

    def run():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        stream_upsert_sink(stream, out, ckpt, keys=("unit",), order_col="version")

    run()
    spark.createDataFrame(
        [(2, 99.0, 2), (3, 30.0, 2)], "unit int, pred double, version int"
    ).write.mode("append").parquet(in_dir)
    run()
    got = {r["unit"]: r["pred"] for r in spark.read.parquet(out).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}


def _encode_png(px, filters=None):
    """Minimal PNG encoder for tests: applies the given per-row filter
    types (default all 0/None) so the decoder's unfiltering paths are
    genuinely exercised."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    filters = filters or [0] * h
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int64)
    raw = bytearray()
    recon = np.zeros((h, stride), dtype=np.int64)
    for y in range(h):
        recon[y] = flat[y]
        f = filters[y]
        prior = recon[y - 1] if y else np.zeros(stride, dtype=np.int64)
        line = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = recon[y, x - ch] if x >= ch else 0
            b = prior[x]
            c = prior[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[x] = (flat[y, x] - pred) % 256
        raw.append(f)
        raw += bytes(line.astype(np.uint8))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_round_trip_all_filters():
    """Pixel-exact decode of PNGs encoded with every filter type
    (None/Sub/Up/Average/Paeth) across channel counts."""
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import decode_png_pixels

    rng = np.random.default_rng(7)
    for ch in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(7, 5, ch), dtype=np.uint8)
        filters = [y % 5 for y in range(7)]  # hit all five filters
        data = _encode_png(px, filters)
        got = decode_png_pixels(data)
        assert got.shape == px.shape
        assert (got == px).all(), f"pixel mismatch for {ch}-channel PNG"


def test_extract_image_features_real_png_decoder(spark):
    """End-to-end Spark path with the REAL decoder: mapInPandas over
    binary PNG payloads yields exact dimensions."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (1, _encode_png(rng.integers(0, 256, (12, 9, 3), dtype=np.uint8))),
        (2, _encode_png(rng.integers(0, 256, (4, 20, 1), dtype=np.uint8))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    feats = {r["doc_id"]: r for r in extract_image_features(df).collect()}
    assert (feats[1]["width"], feats[1]["height"], feats[1]["channels"]) == (9, 12, 3)
    assert (feats[2]["width"], feats[2]["height"], feats[2]["channels"]) == (20, 4, 1)


def test_extract_image_features_default_returns_true_dimensions(spark):
    """The default call decodes: PNG, JPEG and GIF rows report their
    real width/height/channels and byte count."""
    import numpy as np

    from turbine_maintenance_etl_spark.llm.gif import encode_gif
    from turbine_maintenance_etl_spark.llm.jpeg import encode_jpeg_baseline
    from turbine_maintenance_etl_spark.llm.multimodal import encode_png

    rng = np.random.default_rng(5)
    blobs = {
        1: encode_png(rng.integers(0, 256, (5, 300, 4), dtype=np.uint8)),
        2: encode_png(rng.integers(0, 256, (700, 3, 2), dtype=np.uint8)),
        3: encode_jpeg_baseline(rng.integers(0, 256, (33, 17, 3), dtype=np.uint8)),
        4: encode_gif([rng.integers(0, 4, (9, 260), dtype=np.uint8)],
                      rng.integers(0, 256, (4, 3), dtype=np.uint8)),
    }
    df = spark.createDataFrame(list(blobs.items()), "doc_id long, media binary")
    got = {
        r["doc_id"]: (r["width"], r["height"], r["channels"], r["n_bytes"])
        for r in extract_image_features(df).collect()
    }
    assert got == {
        1: (300, 5, 4, len(blobs[1])),
        2: (3, 700, 2, len(blobs[2])),
        3: (17, 33, 3, len(blobs[3])),
        4: (260, 9, 3, len(blobs[4])),
    }


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (views within 2h after a
    purchase), drained with processAllAvailable, equals the same join
    computed in batch — and the plan carries watermarks on BOTH sides."""
    import shutil

    from turbine_maintenance_etl_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    src_dir = str(tmp_path / "events_src")
    (tmp_path / "events_src").mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir)
    batch_events = normalize_event_ts(spark.read.parquet(src_dir))

    def streamed():
        s = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        return normalize_event_ts(s)

    purchases = streamed().where(F.col("event_type") == "purchase")
    views = streamed().where(F.col("event_type") == "view")
    joined = stream_stream_interval_join(purchases, views)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("ssj_out")

    bp = batch_events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    bv = batch_events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("view_value"),
    )
    expected = bp.join(
        bv,
        F.expr(
            "p_user_id = v_user_id AND v_ts >= p_ts"
            " AND v_ts <= p_ts + interval 2 hours"
        ),
    ).select(
        "purchase_id",
        "view_id",
        F.col("p_user_id").alias("user_id"),
        F.unix_micros("p_ts").alias("p_ts_us"),
        F.unix_micros("v_ts").alias("v_ts_us"),
        "view_value",
    )
    assert got.count() == expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def _encode_wav(samples, rate=8000, bits=16, channels=1):
    """Minimal PCM WAV writer for tests (float samples in [-1, 1])."""
    import struct

    if bits == 16:
        import numpy as np

        raw = (np.asarray(samples) * 32767).astype("<i2").tobytes()
    else:
        import numpy as np

        raw = ((np.asarray(samples) * 127) + 128).astype("u1").tobytes()
    byte_rate = rate * channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byte_rate, channels * bits // 8, bits)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )


def test_wav_decode_round_trip():
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import decode_wav_samples

    t = np.arange(800) / 8000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    samples, rate = decode_wav_samples(_encode_wav(sig))
    assert rate == 8000 and samples.shape == (800, 1)
    assert abs(float(np.abs(samples[:, 0]).max()) - 0.5) < 0.01
    # 8-bit path
    s8, _ = decode_wav_samples(_encode_wav(sig, bits=8))
    assert abs(float(np.abs(s8[:, 0]).max()) - 0.5) < 0.02


def test_extract_audio_features_real_wav_decoder(spark):
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import extract_audio_features

    t = np.arange(1600) / 8000.0
    rows = [
        (1, bytearray(_encode_wav(0.5 * np.sin(2 * np.pi * 440 * t)))),
        (2, bytearray(_encode_wav(np.zeros(400)))),   # silence
        (3, bytearray(b"not audio at all")),           # poison pill -> NULLs
        (4, None),                                     # missing media
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["doc_id"]: r.asDict() for r in extract_audio_features(df).collect()}
    assert got[1]["sample_rate"] == 8000 and got[1]["n_channels"] == 1
    assert abs(got[1]["duration_s"] - 0.2) < 1e-6
    assert abs(got[1]["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert got[2]["rms"] == 0.0 and got[2]["peak"] == 0.0
    assert got[3]["sample_rate"] is None and got[4]["sample_rate"] is None


def test_wav_zero_channel_header_is_poison_not_crash(spark):
    """A crafted fmt chunk declaring 0 channels / 0 rate must surface
    NULL features (ValueError path), never ZeroDivisionError."""
    import struct

    from turbine_maintenance_etl_spark.llm.multimodal import extract_audio_features

    def bad_wav(channels, rate):
        fmt = struct.pack("<HHIIHH", 1, channels, rate, 8, 2, 16)
        raw = b"\x00\x00" * 4
        return (
            b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(raw)) + raw
        )

    df = spark.createDataFrame(
        [(1, bytearray(bad_wav(0, 8000))), (2, bytearray(bad_wav(1, 0)))],
        "doc_id long, media binary",
    )
    got = {r["doc_id"]: r.asDict() for r in extract_audio_features(df).collect()}
    assert got[1]["sample_rate"] is None and got[2]["sample_rate"] is None


def test_wav_truncated_fmt_chunk_is_poison_not_crash(spark):
    """A fmt chunk whose body is under 16 bytes (or whose declared size
    overruns the buffer) must surface NULL features — struct.error
    escaping the per-row handler would kill the whole batch."""
    import struct

    from turbine_maintenance_etl_spark.llm.multimodal import (
        decode_wav_samples,
        extract_audio_features,
    )

    # ≥44 bytes total (past the cheap length gate), fmt chunk truncated:
    # a junk chunk pads the file, then fmt declares 16 bytes but only 4
    # remain before EOF
    short_fmt = (
        b"RIFF" + struct.pack("<I", 44) + b"WAVE"
        + b"JUNK" + struct.pack("<I", 20) + b"\x00" * 20
        + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"
    )
    # declared fmt size overruns the remaining buffer
    overrun = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + b"fmt " + struct.pack("<I", 64) + b"\x00" * 30
    )
    for payload in (short_fmt, overrun):
        try:
            decode_wav_samples(payload)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass
    df = spark.createDataFrame(
        [(1, bytearray(short_fmt)), (2, bytearray(overrun))],
        "doc_id long, media binary",
    )
    got = {r["doc_id"]: r.asDict() for r in extract_audio_features(df).collect()}
    assert got[1]["sample_rate"] is None and got[2]["sample_rate"] is None


def test_stream_session_windows_match_batch(spark):
    """Streaming session windows (watermarked session_window agg),
    driven to completion over a static parquet stream, equal the batch
    session_window_agg on the same data — one sessionization code path
    for both modes."""
    from turbine_maintenance_etl_spark.streaming.ingest import (
        session_window_agg,
        stream_session_windows,
    )

    src = "/root/testdata/sf0.001"
    schema = spark.read.parquet(f"{src}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(src)
    )
    stream = normalize_event_ts(stream)
    q = (
        stream_session_windows(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("sess_out")
    batch = session_window_agg(
        normalize_event_ts(spark.read.parquet(f"{src}/events.parquet"))
    )
    assert got.count() == batch.count() > 0
    assert got.exceptAll(batch).count() == 0


def test_stream_incremental_dedup_matches_batch(spark, tmp_path):
    """New documents arriving as TWO stream files, probed per batch
    against the static corpus LSH index, produce exactly the batch
    incremental_lsh_candidates pair set for the same new docs."""
    from turbine_maintenance_etl_spark.llm.dedup import (
        incremental_lsh_candidates,
        lsh_band_buckets,
    )
    from turbine_maintenance_etl_spark.streaming.ingest import (
        stream_incremental_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    existing = docs.filter(F.col("doc_id") % 4 != 0)
    new_batch = docs.filter(F.col("doc_id") % 4 == 0)
    index = lsh_band_buckets(existing)

    in_dir, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    new_batch.filter(F.col("doc_id") % 8 == 0).write.parquet(f"{in_dir}/part1")
    new_batch.filter(F.col("doc_id") % 8 != 0).write.parquet(f"{in_dir}/part2")

    stream = (
        spark.readStream.schema(new_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(in_dir)
    )
    stream_incremental_dedup(stream, index, out, ckpt)

    got = {
        (r["new_id"], r["existing_id"])
        for r in spark.read.parquet(out).select("new_id", "existing_id").collect()
    }
    want = {
        (r["new_id"], r["existing_id"])
        for r in incremental_lsh_candidates(new_batch, index).collect()
    }
    assert got == want and len(want) > 0


def test_session_window_boundary_exact_gap_merges(spark, tmp_path):
    """Spark session_window semantics at the boundary, pinned
    empirically: an event landing EXACTLY gap after the previous one
    still merges (window extends to last + gap, boundary inclusive for
    merging); only a strictly larger gap starts a new session. Guards
    the events_session_window oracle's > break rule against data that
    actually hits the boundary (the sf corpus never does)."""
    import datetime as dt

    from turbine_maintenance_etl_spark.streaming.ingest import session_window_agg

    t0 = dt.datetime(2026, 1, 1)
    mk = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    rows = [
        (10, 1, mk(0), 1.0),
        (12, 1, mk(30), 2.0),   # exactly 30-min gap: merges
        (11, 1, mk(30), 3.0),   # duplicate ts, reversed id order
        (13, 1, mk(61), 4.0),   # 31 min after: new session
        (20, 2, mk(0), 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {
        (r["user_id"], r["session_start_us"]): r.asDict()
        for r in session_window_agg(df).collect()
    }
    us = lambda m: int(mk(m).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)  # noqa: E731
    s1 = out[(1, us(0))]
    assert s1["n_events"] == 3 and s1["session_end_us"] == us(60)
    s2 = out[(1, us(61))]
    assert s2["n_events"] == 1 and s2["session_end_us"] == us(91)
    assert out[(2, us(0))]["n_events"] == 1


def test_stream_user_totals_v2_matches_v1_and_batch(spark, tmp_path):
    """State API v2 (transformWithStateInPandas) twin: after draining
    the same two-batch stream, final per-user totals equal both the v1
    operator's and the plain batch aggregate. Requires protobuf (the
    v2 state-server wire protocol) and the RocksDB provider."""
    pytest.importorskip("google.protobuf")
    import shutil

    from turbine_maintenance_etl_spark.streaming.ingest import stream_user_totals_v2

    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    events = raw.select("user_id", "value")
    in_dir, ckpt, out_dir = str(tmp_path / "in"), str(tmp_path / "ckpt"), tmp_path / "out"
    half1 = raw.filter(F.col("event_id") % 2 == 0).select("user_id", "value")
    half2 = raw.filter(F.col("event_id") % 2 == 1).select("user_id", "value")
    half1.write.mode("overwrite").parquet(in_dir)

    def drain(run):
        stream = spark.readStream.schema(events.schema).parquet(in_dir)
        q = (
            stream_user_totals_v2(stream)
            .writeStream.foreachBatch(
                lambda bdf, _e: bdf.write.mode("append").parquet(str(out_dir / run))
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("run1")
    half2.write.mode("append").parquet(in_dir)
    drain("run2")  # state must survive the restart for run2 to be right
    out = spark.read.parquet(str(out_dir / "run2")).toPandas()

    expected = (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .toPandas()
    )
    merged = out.merge(expected, on="user_id", suffixes=("_got", "_exp"))
    assert len(merged) == len(out) and len(out) > 0
    assert (merged["n_events_got"] == merged["n_events_exp"]).all()
    assert (abs(merged["total_value_got"] - merged["total_value_exp"]) < 1e-6).all()
    shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_user_totals_v2_plans_without_protobuf(spark):
    """Even without protobuf (needed only by the v2 state server at
    RUNTIME), the transformWithStateInPandas operator must build and
    carry the declared output schema."""
    stream = (
        spark.readStream.format("rate")
        .load()
        .selectExpr("value as user_id", "CAST(value AS DOUBLE) as value")
    )
    from turbine_maintenance_etl_spark.streaming.ingest import stream_user_totals_v2

    out = stream_user_totals_v2(stream)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id", "n_events", "total_value",
    ]


def test_encode_png_round_trips_exactly():
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for shape in ((5, 8, 1), (6, 4, 2), (12, 9, 3), (3, 3, 4)):
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_png_pixels(encode_png(px)), px)


def test_resize_nearest_semantics():
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import resize_nearest

    px = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    # identity
    assert np.array_equal(resize_nearest(px, 4, 4), px)
    # 2x2 downsample picks pixel centers (rows/cols 1 and 3)
    small = resize_nearest(px, 2, 2)
    assert small[:, :, 0].tolist() == [[5, 7], [13, 15]]
    # upsample replicates
    big = resize_nearest(px, 8, 8)
    assert big.shape == (8, 8, 1)
    assert np.array_equal(resize_nearest(big, 4, 4), px)


def test_resize_images_distributed_with_poison_pill(spark):
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import (
        decode_png_pixels,
        resize_images,
    )

    rng = np.random.default_rng(3)
    px1 = rng.integers(0, 256, (16, 12, 3), dtype=np.uint8)
    px2 = rng.integers(0, 256, (7, 7, 1), dtype=np.uint8)
    rows = [
        (1, bytearray(_encode_png(px1))),
        (2, bytearray(_encode_png(px2))),
        (3, bytearray(b"not a png at all")),  # poison pill
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in resize_images(df, 8, 8).collect()}
    for d, src in ((1, px1), (2, px2)):
        r = out[d]
        assert r["err"] is None and (r["out_width"], r["out_height"]) == (8, 8)
        got = decode_png_pixels(bytes(r["resized"]))
        assert got.shape == (8, 8, src.shape[2])
        # spot-check top-left pixel against the direct resample
        from turbine_maintenance_etl_spark.llm.multimodal import resize_nearest

        assert np.array_equal(got, resize_nearest(src, 8, 8))
    for d in (3, 4):  # bad rows survive with err set, job completes
        assert out[d]["resized"] is None and out[d]["err"] is not None


def test_encode_wav_round_trip():
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import (
        decode_wav_samples,
        encode_wav,
    )

    rng = np.random.default_rng(11)
    for shape in ((400, 1), (256, 2)):
        x = (rng.random(shape).astype(np.float32) * 2 - 1) * 0.9
        got, rate = decode_wav_samples(encode_wav(x, 8000))
        assert rate == 8000 and got.shape == x.shape
        assert np.abs(got - x).max() < 1.0 / 16000  # 16-bit quantization + 32767/32768 scale


def test_resample_linear_semantics():
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import resample_linear

    x = np.arange(8, dtype=np.float32).reshape(8, 1)
    same = resample_linear(x, 8000, 8000)
    assert same is x  # no-op passthrough
    up = resample_linear(x, 8000, 16000)
    assert up.shape == (16, 1)
    # linear interp of a ramp is the finer ramp (boundary clamps to the
    # last input sample — np.interp edge behavior)
    assert np.allclose(up[:, 0], np.minimum(np.arange(16) * 0.5, 7.0), atol=1e-6)
    down = resample_linear(x, 8000, 4000)
    assert down.shape == (4, 1)
    assert np.allclose(down[:, 0], [0, 2, 4, 6], atol=1e-6)


def test_resample_audio_distributed_with_poison_pill(spark):
    import numpy as np

    from turbine_maintenance_etl_spark.llm.multimodal import (
        decode_wav_samples,
        resample_audio,
    )

    t = np.arange(800) / 8000.0
    sig = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    # a 2 MB PCM16 WAV whose header declares sample_rate=1: it decodes,
    # but resampling it to 16 kHz would allocate ~119 GiB
    crafted = _encode_wav(np.zeros(1 << 20, dtype=np.float32), rate=1)
    rows = [
        (1, bytearray(_encode_wav(sig, rate=8000))),
        (2, bytearray(b"definitely not audio")),
        (3, None),
        (4, bytearray(crafted)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in resample_audio(df, target_rate=16000).collect()}
    ok = out[1]
    assert ok["err"] is None and ok["out_rate"] == 16000
    assert ok["n_frames"] == 1600 and ok["n_channels"] == 1
    dec, rate = decode_wav_samples(bytes(ok["resampled"]))
    assert rate == 16000 and dec.shape == (1600, 1)
    # energy preserved through the resample (same sine, finer grid)
    assert abs(float(np.sqrt((dec[:, 0] ** 2).mean())) - 0.5 / np.sqrt(2)) < 0.01
    for d in (2, 3, 4):
        assert out[d]["resampled"] is None and out[d]["err"] is not None
    assert out[4]["err"].startswith("ValueError")
