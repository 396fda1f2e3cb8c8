"""Multimodal plumbing + Structured Streaming operators on real testdata."""

import pytest

from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.functions.hashing import h60_py
from spark_ml_spatialjointransformer_spark.operators import multimodal
from spark_ml_spatialjointransformer_spark.sources.tables import load_events, load_table
from spark_ml_spatialjointransformer_spark.streaming import windowed

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def binary_docs(spark):
    """Documents' text bytes standing in for image/audio payloads."""
    return (
        load_table(spark, SF, "documents")
        .limit(50)
        .select("doc_id", F.encode("text", "utf-8").alias("content"))
    )


class TestMultimodal:
    def test_media_meta_jvm_side(self, spark, binary_docs):
        out = multimodal.with_media_meta(binary_docs, "content", "text/plain")
        row = out.orderBy("doc_id").first()
        got_fields = [
            (f.name, f.dataType) for f in out.schema["content_meta"].dataType.fields
        ]
        assert got_fields == [
            (f.name, f.dataType) for f in multimodal.MEDIA_META_SCHEMA.fields
        ]
        assert row.content_meta.mime == "text/plain"
        assert row.content_meta.n_bytes == len(bytes(row.content))
        assert row.content_meta.checksum == h60_py(bytes(row.content))

    def test_extract_features_deterministic(self, spark, binary_docs):
        out = multimodal.extract_features(binary_docs, "content", dim=8)
        rows = {r.doc_id: list(r.features) for r in out.collect()}
        assert all(len(v) == 8 for v in rows.values())
        # deterministic: re-running yields identical vectors
        rows2 = {
            r.doc_id: list(r.features)
            for r in multimodal.extract_features(binary_docs, "content", dim=8).collect()
        }
        assert rows == rows2
        # matches the python kernel directly
        pdf = binary_docs.orderBy("doc_id").limit(3).collect()
        for r in pdf:
            expected = multimodal._fake_feature(bytes(r.content), 8)
            assert rows[r.doc_id] == pytest.approx(list(expected))

    def test_sample_frames_explodes_rows(self, spark, binary_docs):
        out = multimodal.sample_frames(
            binary_docs, "content", frame_bytes=64, stride=2, id_cols=("doc_id",)
        )
        pdf = out.toPandas()
        assert set(pdf.columns) == {"doc_id", "frame_idx", "frame"}
        assert len(pdf) > 50  # one-to-many explosion happened
        multi = pdf.groupby("doc_id").size()
        doc = multi[multi >= 2].index[0]  # a doc long enough to have 2+ kept frames
        one = pdf[pdf.doc_id == doc].sort_values("frame_idx")
        assert list(one.frame_idx)[:2] == [0, 2]  # stride respected
        assert all(len(f) <= 64 for f in one.frame)

    def test_ppm_roundtrip_and_resize(self):
        import numpy as np

        img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        back = multimodal.decode_image(multimodal.encode_ppm(img))
        assert (back == img).all()
        # comment + extra whitespace in the header must parse
        hdr = b"P6\n# a comment\n 3  2\n255\n" + img.tobytes()
        assert (multimodal.decode_image(hdr) == img).all()
        # nearest-neighbor upscale: src = (dst * src_dim) // dst_dim
        up = multimodal.resize_nn(img, 6, 2)
        assert up.shape == (2, 6, 3)
        assert (up[:, ::2] == img[:, (np.arange(6)[::2] * 3) // 6]).all()

    def test_bmp_decode(self):
        import struct

        import numpy as np

        # hand-built 2x2 24-bit BMP: rows bottom-up, BGR, 4-byte padded
        px = {  # (x, y) -> RGB
            (0, 0): (255, 0, 0), (1, 0): (0, 255, 0),
            (0, 1): (0, 0, 255), (1, 1): (10, 20, 30),
        }
        rows = b""
        for y in (1, 0):  # bottom-up
            r = b""
            for x in (0, 1):
                rgb = px[(x, y)]
                r += bytes((rgb[2], rgb[1], rgb[0]))  # BGR
            rows += r + b"\x00\x00"  # pad 6 -> 8
        hdr = b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
        img = multimodal.decode_image(hdr + info + rows)
        assert img.shape == (2, 2, 3)
        for (x, y), rgb in px.items():
            assert tuple(img[y, x]) == rgb

    def test_resize_images_real_codec(self, spark, binary_docs):
        # text payloads are not decodable images -> NULL, never a crash
        out = multimodal.resize_images(binary_docs, "content", 4, 4)
        pdf = out.toPandas()
        assert pdf["resized"].isna().all()
        # synthesized PPMs decode, resize, and round-trip
        ids = spark.range(5).select(F.col("id").alias("doc_id"))
        imgs = multimodal.synth_ppm_images(ids, "doc_id", 8, 6, out_col="img")
        small = multimodal.resize_images(imgs, "img", 4, 3, out_col="small")
        stats = multimodal.image_stats(small, "small", prefix="s_").toPandas()
        assert (stats["s_width"] == 4).all() and (stats["s_height"] == 3).all()
        # independent replay of synth + floor-map resize for one row
        import numpy as np

        xs, ys = np.meshgrid((np.arange(4) * 8) // 4, (np.arange(3) * 6) // 3)
        i = int(stats["doc_id"][0])
        want = int(
            ((3 * xs + 5 * ys + i) % 256).sum()
            + ((xs + 2 * ys) % 256).sum()
            + ((i + xs * ys) % 256).sum()
        )
        got = int(stats.loc[stats.doc_id == i, "s_pix_sum"].iloc[0])
        assert got == want

    def test_image_ahash_bits(self, spark, binary_docs):
        import numpy as np

        # undecodable payloads -> NULL hash, never a crash
        out = multimodal.image_ahash(binary_docs, "content").toPandas()
        assert out["ahash"].isna().all()
        # hand-built 2x2 image: luminances 0, 3, 6, 300 -> mean test
        # L*4 >= 309 sets only the brightest pixel (bit 3, row-major)
        px = np.zeros((2, 2, 3), dtype=np.uint8)
        px[0, 1] = (1, 1, 1)
        px[1, 0] = (2, 2, 2)
        px[1, 1] = (100, 100, 100)
        df = spark.createDataFrame(
            [(0, bytearray(multimodal.encode_ppm(px)))], "id long, img binary"
        )
        got = multimodal.image_ahash(df, "img").toPandas()["ahash"].iloc[0]
        assert int(got) == 1 << 3
        # uniform image: every L*n == total -> all n bits set
        flat = np.full((2, 3, 3), 7, dtype=np.uint8)
        df = spark.createDataFrame(
            [(0, bytearray(multimodal.encode_ppm(flat)))], "id long, img binary"
        )
        got = multimodal.image_ahash(df, "img").toPandas()["ahash"].iloc[0]
        assert int(got) == (1 << 6) - 1
        # >63 pixels must refuse loudly, not truncate
        big = multimodal.synth_ppm_images(
            spark.range(1).select(F.col("id").alias("doc_id")), "doc_id", 16, 12
        )
        with pytest.raises(Exception, match="63"):
            multimodal.image_ahash(big, "img").collect()

    def test_audio_fingerprint_bits(self, spark, binary_docs):
        import numpy as np

        # undecodable payloads -> NULL fingerprint, never a crash
        out = multimodal.audio_fingerprint(
            binary_docs, "content", n_windows=4
        ).toPandas()
        assert out["afp"].isna().all()
        # hand-built 8-sample wave, 4 windows of 2: |a| window sums are
        # 0, 2, 4, 200 -> e_w*4 >= 206 only for the loud window (bit 3)
        s = np.array([0, 0, 1, -1, 2, 2, 100, -100], dtype=np.int64)
        df = spark.createDataFrame(
            [(0, bytearray(multimodal.encode_wav(s, 8000)))],
            "id long, wav binary",
        )
        got = multimodal.audio_fingerprint(df, "wav", n_windows=4).toPandas()
        assert int(got["afp"].iloc[0]) == 1 << 3
        # flat wave: every window ties the mean -> all bits set
        flat = np.full(8, 5, dtype=np.int64)
        df = spark.createDataFrame(
            [(0, bytearray(multimodal.encode_wav(flat, 8000)))],
            "id long, wav binary",
        )
        got = multimodal.audio_fingerprint(df, "wav", n_windows=4).toPandas()
        assert int(got["afp"].iloc[0]) == (1 << 4) - 1
        # sample count not divisible by windows must refuse loudly
        odd = np.zeros(10, dtype=np.int64)
        df = spark.createDataFrame(
            [(0, bytearray(multimodal.encode_wav(odd, 8000)))],
            "id long, wav binary",
        )
        with pytest.raises(Exception, match="equal windows"):
            multimodal.audio_fingerprint(df, "wav", n_windows=4).collect()

    def test_wav_codec_roundtrip(self):
        import struct

        import numpy as np

        s = (np.arange(100) * 31 % 65536 - 32768).astype(np.int64)
        b = multimodal.encode_wav(s, 8000)
        arr, sr = multimodal.decode_wav(b)
        assert sr == 8000 and arr.shape == (100, 1)
        assert (arr[:, 0] == s.astype(np.int16)).all()
        # chunk-walk tolerance: a LIST chunk (odd size -> word alignment)
        # between fmt and data must be skipped, not break the parse
        extra = b[:12] + b"LIST" + struct.pack("<I", 5) + b"abcde\x00" + b[12:]
        arr2, _ = multimodal.decode_wav(extra)
        assert (arr2 == arr).all()
        # stereo interleave: (n, 2) channel shape
        stereo_pcm = np.arange(12, dtype="<i2").tobytes()
        st = (
            b"RIFF" + struct.pack("<I", 36 + len(stereo_pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
            + b"data" + struct.pack("<I", len(stereo_pcm)) + stereo_pcm
        )
        arr3, _ = multimodal.decode_wav(st)
        assert arr3.shape == (6, 2) and tuple(arr3[1]) == (2, 3)
        # malformed inputs degrade to None, never raise
        assert multimodal.decode_wav(b[:20]) is None
        assert multimodal.decode_wav(b"not audio") is None
        assert multimodal.decode_wav(None) is None

    def test_audio_stats_nulls_on_poison(self, spark, binary_docs):
        # text payloads are not WAVs -> null stats, never a crash
        out = multimodal.audio_stats(binary_docs, "content", prefix="a_")
        pdf = out.toPandas()
        assert pdf["a_n_samples"].isna().all()
        # synthesized WAVs decode; stats match an independent numpy replay
        ids = spark.range(4).select(F.col("id").alias("doc_id"))
        wavs = multimodal.synth_wav(ids, "doc_id", n_samples=64, sample_rate=8000)
        stats = multimodal.audio_stats(wavs, "wav", prefix="a_").toPandas()
        assert (stats["a_sample_rate"] == 8000).all()
        assert (stats["a_n_samples"] == 64).all()
        import numpy as np

        t = np.arange(64, dtype=np.int64)
        for _, row in stats.iterrows():
            v = (int(row.doc_id) * 7919 + t * 2654435761) % 65536 - 32768
            assert int(row.a_peak) == int(np.abs(v).max())
            assert int(row.a_sum_abs) == int(np.abs(v).sum())
            assert int(row.a_energy) == int((v * v).sum())


class TestStreaming:
    def test_hourly_stream_matches_batch(self, spark):
        stream_out = windowed.run_to_memory(
            windowed.hourly_event_counts_stream(spark, f"{SF}/events.parquet"),
            "t_hourly",
            output_mode="complete",
        ).collect()
        got = {(r.hour_ts, r.event_type): (r.n_events, r.sum_value_e4) for r in stream_out}

        ev = load_events(spark, SF)
        batch = (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(
                    "CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT))"
                    " AS BIGINT)"
                ).alias("s"),
            )
            .select(F.unix_timestamp("w.start").alias("h"), "event_type", "n", "s")
            .collect()
        )
        expected = {(r.h, r.event_type): (r.n, r.s) for r in batch}
        assert got == expected
        assert len(got) > 100

    def test_stateful_user_counts_match_batch(self, spark):
        stream_out = windowed.run_to_memory(
            windowed.sessionized_counts_stream(spark, f"{SF}/events.parquet"),
            "t_state",
            output_mode="update",
        ).collect()
        # update mode: keep the final emission per user (max n_events)
        got = {}
        for r in stream_out:
            if r.user_id not in got or r.n_events > got[r.user_id][0]:
                got[r.user_id] = (r.n_events, r.total_value_e4)

        batch = (
            load_events(spark, SF)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(
                    "CAST(sum(CAST(floor(value * 10000e0 + 0.5e0) AS BIGINT))"
                    " AS BIGINT)"
                ).alias("t"),
            )
            .collect()
        )
        expected = {r.user_id: (r.n, r.t) for r in batch}
        assert got == expected

class TestStreamSourceEncodingAdaptivity:
    """The streaming source must adapt to whatever physical ``ts`` encoding
    the events parquet carries — the driver's testdata has shipped BOTH
    TIMESTAMP(NANOS)-as-long and timestamp[us] across rounds, and
    hard-coding either silently corrupts every streamed timestamp 1000×
    (the r3 e2/e6 regression)."""

    def _rows(self):
        import datetime as dt

        base = dt.datetime(2024, 1, 1, 0, 0, 0)
        return [
            (i, base + dt.timedelta(minutes=90 * i), i % 3, "t", 1.0, "{}")
            for i in range(8)
        ]

    def _write(self, path, unit):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = self._rows()
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp(unit)),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows]),
            }
        )
        pq.write_table(table, path)

    def test_both_encodings_stream_identically(self, spark, tmp_path):
        import os

        outs = {}
        for unit in ("ns", "us"):
            d = tmp_path / unit
            os.makedirs(d)
            self._write(str(d / "events.parquet"), unit)
            res = windowed.run_to_memory(
                windowed.hourly_event_counts_stream(spark, str(d / "events.parquet")),
                f"t_enc_{unit}",
                output_mode="complete",
            ).collect()
            outs[unit] = sorted((r.hour_ts, r.event_type, r.n_events) for r in res)
        assert outs["ns"] == outs["us"]
        # 8 events at 90-min spacing span 12 distinct hours — collapsed
        # windows (the unit-bug signature) would yield far fewer
        assert len(outs["us"]) == 8
        # absolute epoch check: first window is 2024-01-01T00:00:00Z
        assert outs["us"][0][0] == 1704067200


class TestStreamingKMV:
    def test_multi_trigger_merge_equals_batch_sketch(self, spark, tmp_path):
        """Split documents over 3 part files so maxFilesPerTrigger=1 forces
        THREE triggers: the KMV state must merge across triggers to the
        same k-smallest set the batch sketch (t30) computes in one pass."""
        from spark_ml_spatialjointransformer_spark.queries import QUERIES

        src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        sf_dir = str(tmp_path)
        src.repartition(3).write.parquet(f"{sf_dir}/documents.parquet")

        stream = QUERIES["e11_kmv_stream"].fn(spark, sf_dir)
        got = {(r.source, r.est_kmv) for r in stream.collect()}
        batch = QUERIES["t30_kmv_distinct"].fn(spark, sf_dir)
        want = {(r.source, r.est_kmv) for r in batch.collect()}
        assert got == want and len(got) > 0
        # and the stream really saw every occurrence across all triggers
        n_seen = {r.source: r.n_seen for r in stream.collect()}
        occ = {
            r.source: r.occ
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr(
                "source",
                "CASE WHEN size(split(trim(text), ' ')) >= 3"
                " THEN size(split(trim(text), ' ')) - 2 ELSE 0 END AS k",
            )
            .groupBy("source")
            .agg(F.sum("k").alias("occ"))
            .collect()
        }
        assert n_seen == occ


class TestWatermarkSemantics:
    """Watermark contract, demonstrated with controlled file-per-trigger
    arrival: a late row inside the watermark still aggregates; a row later
    than the watermark is DROPPED from finalized state (append mode) —
    the bounded-state guarantee that lets windowed aggregation run
    forever at 100 TB."""

    def test_late_within_watermark_counted_beyond_dropped(self, spark, tmp_path):
        import pandas as pd

        src = str(tmp_path / "events")
        schema = "event_id LONG, ts TIMESTAMP, value DOUBLE"

        def write_file(rows, name):
            pdf = pd.DataFrame(
                rows, columns=["event_id", "ts", "value"]
            ).astype({"ts": "datetime64[us]"})
            spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        t0 = pd.Timestamp("2024-01-01 00:10:00")
        h = pd.Timedelta
        # file 1: two events in hour 0, then an event in hour 3 that
        # advances the watermark to 3:10 - 0:30 = 2:40 -> hour-0 and
        # hour-1 windows finalize
        write_file(
            [(1, t0, 1.0), (2, t0 + h("5 min"), 1.0), (3, t0 + h("3 hours"), 1.0)],
            "f1",
        )

        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp("w.start").alias("h"), "n")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_wm")
            .start()
        )
        try:
            q.processAllAvailable()  # batch 1: watermark advances to 2:40
            # file 2 arrives AFTER the watermark moved: one late row still
            # inside it (hour-2 window end 3:00 > 2:40 -> counted), one too
            # late for hour 0 (window end 1:00 < 2:40 -> dropped)
            write_file(
                [(4, t0 + h("2 hours"), 1.0), (5, t0 + h("1 min"), 1.0)],
                "f2",
            )
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r.h: r.n for r in spark.sql("SELECT * FROM t_wm").collect()}
        base = 1704067200  # 2024-01-01T00:00:00Z
        # hour 0 finalized with ONLY the two on-time rows: event 5 arrived
        # beyond the watermark and was dropped; hour-2/hour-3 windows are
        # not finalized yet in append mode (watermark still 2:40)
        assert got == {base: 2}


class TestStreamingHeavyHitters:
    def test_multi_trigger_counts_equal_batch_topk(self, spark, tmp_path):
        """Split documents over 3 part files so maxFilesPerTrigger=1 forces
        THREE triggers: the per-language count map must accumulate across
        triggers to the same top-3 the batch rank window (t22) computes in
        one pass — and only the FINAL emission (max n_seen cursor) may
        survive the snapshot filter."""
        from spark_ml_spatialjointransformer_spark.queries import QUERIES

        src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        sf_dir = str(tmp_path)
        src.repartition(3).write.parquet(f"{sf_dir}/documents.parquet")

        stream = QUERIES["e13_heavy_hitters_stream"].fn(spark, sf_dir)
        got = sorted((r.lang, r.token, r.cnt, r.rank) for r in stream.collect())
        batch = QUERIES["t22_heavy_hitters"].fn(spark, sf_dir)
        want = sorted((r.lang, r.token, r.cnt, r.rank) for r in batch.collect())
        assert got == want and len(got) > 0


class TestOuterJoinStream:
    """Stream-stream LEFT OUTER interval join: the NULL no-show rows are
    emitted by watermark state eviction, driven through the flush-sentinel
    files — and must reproduce the batch LEFT JOIN exactly."""

    def _write_events(self, path, unit="us"):
        import datetime as dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        base = dt.datetime(2024, 1, 1, 0, 0, 0)
        rows = [
            # user 1: click with TWO purchases in the 120-min window
            (1, base, 1, "click"),
            (2, base + dt.timedelta(minutes=30), 1, "purchase"),
            (3, base + dt.timedelta(minutes=60), 1, "purchase"),
            # user 2: click whose only purchase is OUTSIDE the window
            (4, base, 2, "click"),
            (5, base + dt.timedelta(minutes=121), 2, "purchase"),
            # user 3: click, no purchase at all; purchase BEFORE the
            # click must not match either
            (6, base + dt.timedelta(minutes=10), 3, "click"),
            (7, base, 3, "purchase"),
        ]
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp(unit)),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows]),
                    "value": pa.array([0.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            path,
        )

    def test_matches_nulls_and_window_edges(self, spark, tmp_path):
        import os

        p = os.path.join(str(tmp_path), "events.parquet")
        self._write_events(p)
        out = windowed.run_to_memory(
            windowed.click_attribution_stream(spark, p),
            "t_oj",
            output_mode="append",
        )
        got = sorted(
            (r.event_id, r.p_id)
            for r in out.where(F.col("user_id") >= 0).collect()
        )
        # click 1 → purchases 2 and 3; clicks 4 and 6 → no-show NULLs
        assert got == [(1, 2), (1, 3), (4, None), (6, None)]

    def test_flush_files_order_after_data(self, spark, tmp_path):
        """The flush sentinels must sort AFTER the data file by mtime —
        flush-first would late-drop the entire replay (the failure mode
        actually hit when the testdata mtime postdated the pinned flush
        mtime)."""
        import os

        p = os.path.join(str(tmp_path), "events.parquet")
        self._write_events(p)
        d, n_data = windowed._flushed_events_dir(spark, p)
        assert n_data == 1
        data_m = os.stat(p).st_mtime
        flushes = [f for f in os.listdir(d) if f.startswith("flush")]
        assert len(flushes) == 2
        assert all(
            os.stat(os.path.join(d, f)).st_mtime > data_m for f in flushes
        )

    def _assert_flush_dir(self, spark, d, n_data):
        """The flush-dir contract: n_data data links that resolve, n_data
        + 1 sentinels of the CURRENT data generation (timestamps after
        every data row), each sorting after every data file by mtime (the
        file source batches by mtime; flush-first would late-drop the
        whole replay)."""
        import os

        flush = [f for f in os.listdir(d) if f.startswith("flush")]
        data = [f for f in os.listdir(d) if not f.startswith("flush")]
        assert len(flush) == n_data + 1
        assert len(data) == n_data
        assert all(os.path.exists(os.path.join(d, f)) for f in data)
        fm = min(os.stat(os.path.join(d, f)).st_mtime for f in flush)
        dm = max(os.stat(os.path.join(d, f)).st_mtime for f in data)
        assert fm > dm
        rows = spark.read.parquet(d).select("user_id", "ts").collect()
        sent = [r.ts for r in rows if r.user_id == -1]
        real = [r.ts for r in rows if r.user_id != -1]
        assert len(sent) == 2 * (n_data + 1)
        assert min(sent) > max(real)

    @pytest.mark.parametrize("n_parts", [1, 2, 3])
    def test_sentinels_are_n_data_plus_one(self, spark, tmp_path, n_parts):
        """run_to_memory disables no-data micro-batches, so NULL emission
        must come from data batches alone: n_data + 1 sentinels always
        span two post-data triggers under maxFilesPerTrigger = n_data.
        A repeat call returns the same directory without rebuilding."""
        import os

        import pyarrow.parquet as pq

        p = os.path.join(str(tmp_path), "events.parquet")
        self._write_events(p)
        if n_parts > 1:
            t = pq.read_table(p)
            p = os.path.join(str(tmp_path), "events_dir.parquet")
            os.makedirs(p)
            step = -(-t.num_rows // n_parts)
            for i in range(n_parts):
                pq.write_table(
                    t.slice(i * step, step),
                    os.path.join(p, f"part-{i}.parquet"),
                )
        d, n_data = windowed._flushed_events_dir(spark, p)
        assert n_data == n_parts
        self._assert_flush_dir(spark, d, n_data)
        assert windowed._flushed_events_dir(spark, p) == (d, n_data)

    @pytest.mark.parametrize("shift_days", [31, 0])
    def test_regenerated_source_gets_fresh_sentinels(
        self, spark, tmp_path, shift_days
    ):
        """A source regenerated within the session — with newer data
        (shift_days=31) or the same rows rewritten in place (0) — yields
        a directory holding only that generation's sentinels, pinned
        after the new data files."""
        import os

        import pandas as pd

        path = str(tmp_path / "events")

        def write(days):
            pdf = pd.DataFrame(
                {
                    "event_id": [0, 1],
                    "ts": pd.to_datetime(["2024-01-01", "2024-01-02"])
                    + pd.Timedelta(days=days),
                    "user_id": [1, 2],
                    "event_type": ["click", "purchase"],
                }
            )
            spark.createDataFrame(pdf).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)

        write(0)
        d1, n1 = windowed._flushed_events_dir(spark, path)
        self._assert_flush_dir(spark, d1, n1)
        write(shift_days)
        d2, n2 = windowed._flushed_events_dir(spark, path)
        self._assert_flush_dir(spark, d2, n2)

    def test_multi_file_dataset_dir(self, spark, tmp_path):
        """A Spark-written dataset DIRECTORY (several row-sliced part
        files) must stream correctly: all parts ingest in ONE trigger —
        split across triggers, the later parts would be late-dropped
        against the watermark the earlier ones advanced (the failure mode
        actually hit on the 5x-replicated dataset)."""
        import os

        import pyarrow.parquet as pq

        p1 = os.path.join(str(tmp_path), "events.parquet")
        self._write_events(p1)
        # re-slice the same rows into a 2-part dataset dir
        t = pq.read_table(p1)
        d2 = os.path.join(str(tmp_path), "events_dir.parquet")
        os.makedirs(d2)
        pq.write_table(t.slice(0, 4), os.path.join(d2, "part-0.parquet"))
        pq.write_table(t.slice(4), os.path.join(d2, "part-1.parquet"))
        out = windowed.run_to_memory(
            windowed.click_attribution_stream(spark, d2),
            "t_oj_dir",
            output_mode="append",
        )
        got = sorted(
            (r.event_id, r.p_id)
            for r in out.where(F.col("user_id") >= 0).collect()
        )
        assert got == [(1, 2), (1, 3), (4, None), (6, None)]


def test_audio_frame_energy_known_waveform(spark):
    """Framing against a hand-computable waveform: constant amplitude A
    over n samples framed at f gives ceil(n/f) frames, each full frame
    with energy f·A², the trailing partial with (n mod f)·A²."""
    import numpy as np

    from spark_ml_spatialjointransformer_spark.operators.multimodal import (
        audio_frame_energy,
        encode_wav,
    )

    wav = encode_wav(np.full(10, 3, dtype=np.int64))  # 10 samples of A=3
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id LONG, wav BINARY")
    rows = sorted(
        audio_frame_energy(df, "wav", frame_len=4, id_cols=("doc_id",))
        .collect(),
        key=lambda r: r.frame_idx,
    )
    assert [(r.frame_idx, r.frame_energy) for r in rows] == [
        (0, 4 * 9), (1, 4 * 9), (2, 2 * 9)  # trailing partial frame kept
    ]
    # undecodable payload is dropped, not poisoned
    bad = spark.createDataFrame(
        [(2, bytearray(b"not a wav"))], "doc_id LONG, wav BINARY"
    )
    assert audio_frame_energy(bad, "wav").count() == 0


def test_image_sharpness_flat_vs_step(spark):
    """A constant image has zero second differences; a vertical step edge
    contributes |Δ²| = step at the two columns bracketing the edge, per
    row and per channel."""
    import numpy as np

    from spark_ml_spatialjointransformer_spark.operators.multimodal import (
        encode_ppm,
        image_sharpness,
    )

    flat = np.full((4, 6, 3), 7, dtype=np.uint8)
    step = np.zeros((4, 6, 3), dtype=np.uint8)
    step[:, 3:, :] = 10  # luma jumps 30 between x=2 and x=3
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(flat))), (2, bytearray(encode_ppm(step)))],
        "doc_id LONG, img BINARY",
    )
    got = {r.doc_id: (r.sharpness, r.n_px)
           for r in image_sharpness(df, "img", prefix="").collect()}
    assert got[1] == (0, 24)
    # per row: |luma[1]-2*luma[2]+luma[3]| = 30 at x-window (2,3,4)... and
    # 30 at (1,2,3): two windows see the edge -> 2*30 per row, 4 rows
    assert got[2] == (4 * 2 * 30, 24)
