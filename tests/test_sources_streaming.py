"""Tests for the rate-limited API source, streaming jobs, multimodal
plumbing, and sketch-dedup operators."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from groove_to_helpscout_migration_tool_spark.sources.api import (
    paginated_source,
    point_lookup_source,
)
from groove_to_helpscout_migration_tool_spark.sources.ratelimit import TokenBucket, per_task_rate


PAGE_SCHEMA = T.StructType([
    T.StructField("rec_id", T.LongType()),
    T.StructField("payload", T.StringType()),
])


def make_fake_fetch_page():
    # returned as a closure so cloudpickle serializes it BY VALUE (a
    # module-level function would pickle by reference to this test
    # module, which Spark's Python workers cannot import)
    def fake_fetch_page(page: int, per_page: int) -> list[dict]:
        total = 237
        start = (page - 1) * per_page
        return [
            {"rec_id": i, "payload": f"rec-{i}"}
            for i in range(start, min(start + per_page, total))
        ]

    return fake_fetch_page


fake_fetch_page = make_fake_fetch_page()


class TestRateLimit:
    def test_bucket_allows_rate_then_sleeps(self):
        bucket = TokenBucket(rate=3, window=0.2)
        t0 = time.monotonic()
        for _ in range(4):  # 4th acquire must wait for the window
            bucket.acquire()
        assert time.monotonic() - t0 >= 0.15
        assert bucket.slept > 0

    def test_per_task_rate_conservative(self):
        assert per_task_rate(30, 4) == 7          # floor
        assert per_task_rate(30, 100) == 1        # never zero
        assert per_task_rate(200, 1) == 200


class TestPaginatedSource:
    def test_full_scan_all_pages(self, spark):
        df = paginated_source(
            spark, fake_fetch_page, total_count=237, schema=PAGE_SCHEMA,
            per_page=50, requests_per_minute=600,
        )
        assert df.count() == 237
        # last partial page included (the reference's off-by-one FIXED)
        assert df.agg(F.max("rec_id")).first()[0] == 236
        assert df.select("page").distinct().count() == 5

    def test_resume_page_range(self, spark):
        # T2: pages [1..5] == [1..2] + [3..5]  (resume equivalence)
        full = paginated_source(
            spark, fake_fetch_page, 237, PAGE_SCHEMA, 50, 600,
        )
        a = paginated_source(
            spark, fake_fetch_page, 237, PAGE_SCHEMA, 50, 600, start_page=1, stop_page=2,
        )
        b = paginated_source(
            spark, fake_fetch_page, 237, PAGE_SCHEMA, 50, 600, start_page=3,
        )
        resumed = a.unionByName(b)
        assert resumed.count() == full.count()
        assert full.exceptAll(resumed).count() == 0

    def test_empty_range(self, spark):
        df = paginated_source(
            spark, fake_fetch_page, 237, PAGE_SCHEMA, 50, 600, start_page=9, stop_page=5,
        )
        assert df.count() == 0

    def test_stop_page_zero_fetches_nothing(self, spark, tmp_path):
        # stop_page=0 is a resume point before page 1, not "no limit"
        calls = tmp_path / "calls"

        def fetch_page(page: int, per_page: int) -> list[dict]:
            with open(calls, "a") as fh:
                fh.write(f"{page}\n")
            return fake_fetch_page(page, per_page)

        df = paginated_source(
            spark, fetch_page, 237, PAGE_SCHEMA, 50, 600, stop_page=0,
        )
        assert df.count() == 0
        assert not calls.exists()

    def test_point_lookup(self, spark):
        def fetch_by_id(i):
            return {"rec_id": int(i), "payload": f"rec-{i}"} if int(i) < 300 else None

        df = point_lookup_source(
            spark, fetch_by_id, ["5", "17", "999"], PAGE_SCHEMA, requests_per_minute=600
        )
        rows = {r["rec_id"] for r in df.collect()}
        assert rows == {5, 17}  # missing id skipped, not an error


class TestStreaming:
    def test_streaming_matches_batch_window_agg(self, spark, sf_dir, tmp_path):
        from groove_to_helpscout_migration_tool_spark.streaming import streaming_event_counts
        from groove_to_helpscout_migration_tool_spark.streaming.events import run_to_memory
        from groove_to_helpscout_migration_tool_spark import catalog

        stream = streaming_event_counts(spark, sf_dir)
        got = run_to_memory(stream, "ev_counts")
        batch = catalog.QUERIES["t01_tumbling_window_events"].fn(spark, sf_dir)
        s = {(str(r["window_start"]), r["event_type"], r["n_events"], r["total_value"])
             for r in got.collect()}
        b = {(str(r["window_start"]), r["event_type"], r["n_events"], r["total_value"])
             for r in batch.collect()}
        assert s == b

    def test_streaming_matches_batch_hopping_agg(self, spark, sf_dir):
        from groove_to_helpscout_migration_tool_spark.streaming.events import (
            run_to_memory,
            streaming_hopping_counts,
        )
        from groove_to_helpscout_migration_tool_spark import catalog

        got = run_to_memory(streaming_hopping_counts(spark, sf_dir), "ev_hops")
        batch = catalog.QUERIES["t03_hopping_window_events"].fn(spark, sf_dir)
        s = {(str(r["window_start"]), r["event_type"], r["n_events"], r["total_value"])
             for r in got.collect()}
        b = {(str(r["window_start"]), r["event_type"], r["n_events"], r["total_value"])
             for r in batch.collect()}
        assert s == b

    def test_streaming_session_window_runs(self, spark, sf_dir):
        from groove_to_helpscout_migration_tool_spark.streaming import streaming_session_counts
        from groove_to_helpscout_migration_tool_spark.streaming.events import run_to_memory

        got = run_to_memory(
            streaming_session_counts(spark, sf_dir), "ev_sessions"
        )
        assert got.count() > 0


class TestMultimodal:
    @pytest.fixture(scope="class")
    def payloads(self, spark):
        rows = [
            (1, b"\x89PNG\r\n\x1a\n" + b"x" * 100),
            (2, b"\xff\xd8\xff\xe0" + b"y" * 50),
            (3, None),
        ]
        return spark.createDataFrame(rows, "doc_id long, payload binary")

    def test_sniff_mime_magic_bytes(self, spark, payloads):
        from groove_to_helpscout_migration_tool_spark.multimodal import sniff_mime

        got = {r["doc_id"]: r["m"] for r in payloads.select(
            "doc_id", sniff_mime(F.col("payload")).alias("m")).collect()}
        assert got == {1: "image/png", 2: "image/jpeg", 3: None}

    # real magic prefixes for every family the widened sniffer claims
    # (finfo-parity direction, r5): prefix-table rows plus the container
    # subtypes that need a deeper probe (RIFF form type, ftyp brand, zip
    # first-entry name)
    SNIFF_CASES = [
        (b"\x89PNG\r\n\x1a\n" + b"\x00" * 16, "image/png"),
        (b"\xff\xd8\xff\xe0\x00\x10JFIF", "image/jpeg"),
        (b"GIF89a\x0a\x00\x0a\x00", "image/gif"),
        (b"%PDF-1.7\n", "application/pdf"),
        (b"BM\x36\x00\x00\x00", "image/bmp"),
        (b"II*\x00\x08\x00\x00\x00", "image/tiff"),
        (b"MM\x00*\x00\x00\x00\x08", "image/tiff"),
        (b"\x1f\x8b\x08\x00", "application/gzip"),
        (b"ID3\x03\x00", "audio/mpeg"),
        (b"OggS\x00\x02", "audio/ogg"),
        (b"fLaC\x00\x00\x00\x22", "audio/flac"),
        (b"\x1aE\xdf\xa3\x93B\x82\x88", "video/x-matroska"),
        (b"Rar!\x1a\x07\x00", "application/x-rar"),
        (b"7z\xbc\xaf\x27\x1c\x00\x04", "application/x-7z-compressed"),
        (b"PK\x05\x06" + b"\x00" * 18, "application/zip"),
        (b"RIFF\x24\x00\x00\x00WAVEfmt ", "audio/wav"),
        (b"RIFF\x24\x00\x00\x00AVI LIST", "video/x-msvideo"),
        (b"RIFF\x24\x00\x00\x00WEBPVP8 ", "image/webp"),
        (b"RIFF\x24\x00\x00\x00JUNK", "application/octet-stream"),
        (b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00", "video/mp4"),
        (b"\x00\x00\x00\x20ftypmp42", "video/mp4"),
        (b"\x00\x00\x00\x1cftypM4A \x00\x00\x00\x00", "audio/mp4"),
        (b"PK\x03\x04" + b"\x00" * 26 + b"[Content_Types].xml",
         "application/vnd.openxmlformats-officedocument"),
        (b"PK\x03\x04" + b"\x00" * 26 + b"mimetypeapplication",
         "application/zip"),
        # r6: the last finfo-gap types a helpdesk plausibly attaches
        (b"{\\rtf1\\ansi\\deff0", "application/rtf"),
        (b"BEGIN:VCALENDAR\r\nVERSION:2.0", "text/calendar"),
        (b"Return-Path: <a@example.com>\r\n", "message/rfc822"),
        (b"Received: from mx.example.com\r\n", "message/rfc822"),
        (b"Delivered-To: ops@example.com\r\n", "message/rfc822"),
        (b"MIME-Version: 1.0\r\n", "message/rfc822"),
        (b"Message-ID: <x@y>\r\n", "message/rfc822"),
        (b"\x00\x00\x00\x18ftypheic\x00\x00\x00\x00", "image/heic"),
        (b"\x00\x00\x00\x18ftypheix\x00\x00\x00\x00", "image/heic"),
        (b"\x00\x00\x00\x18ftypmif1\x00\x00\x00\x00", "image/heif"),
        (b"\x00\x00\x00\x18ftypmsf1\x00\x00\x00\x00", "image/heif"),
        (b"\x00\x00\x00\x1cftypavif\x00\x00\x00\x00", "image/avif"),
        (b"\x00\x00\x00\x14ftypqt  \x00\x00\x00\x00", "video/quicktime"),
        # r7: archive/db/font/exe tail + tar-at-257 + IFF audio
        (b"\xfd7zXZ\x00\x00\x04", "application/x-xz"),
        (b"BZh91AY&SY", "application/x-bzip2"),
        (b"\x28\xb5\x2f\xfd\x04\x00", "application/zstd"),
        (b"SQLite format 3\x00\x10\x00", "application/vnd.sqlite3"),
        (b"PAR1\x15\x04", "application/vnd.apache.parquet"),
        (b"MThd\x00\x00\x00\x06", "audio/midi"),
        (b"8BPS\x00\x01", "image/vnd.adobe.photoshop"),
        (b"wOFF\x00\x01\x00\x00", "font/woff"),
        (b"wOF2\x00\x01\x00\x00", "font/woff2"),
        (b"MZ\x90\x00\x03\x00", "application/x-dosexec"),
        (b"\x00" * 257 + b"ustar\x0000", "application/x-tar"),
        (b"FORM\x00\x00\x00\x24AIFFCOMM", "audio/aiff"),
        (b"FORM\x00\x00\x00\x24AIFCCOMM", "audio/aiff"),
        (b"FORM\x00\x00\x00\x248SVXVHDR", "application/octet-stream"),
        (b"Hello world, plain text", "application/octet-stream"),
        (b"", "application/octet-stream"),
    ]

    def test_sniff_mime_widened_table(self, spark):
        from groove_to_helpscout_migration_tool_spark.multimodal import sniff_mime

        rows = [(i, payload) for i, (payload, _) in enumerate(self.SNIFF_CASES)]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r["doc_id"]: r["m"] for r in df.select(
            "doc_id", sniff_mime(F.col("payload")).alias("m")).collect()}
        for i, (payload, want) in enumerate(self.SNIFF_CASES):
            assert got[i] == want, (payload[:16], got[i], want)

    def test_decode_images_stub_raises_without_fake(self, payloads):
        from groove_to_helpscout_migration_tool_spark.multimodal import decode_images

        with pytest.raises(Exception, match="NotImplementedError|image codecs"):
            decode_images(payloads).collect()

    def test_decode_images_fake_path(self, payloads):
        from groove_to_helpscout_migration_tool_spark.multimodal import decode_images

        meta = {r["doc_id"]: r for r in decode_images(payloads, fake=True).collect()}
        assert meta[1]["mime"] == "image/png"
        assert meta[1]["n_bytes"] == 108
        assert meta[3]["n_bytes"] == 0

    def test_video_frame_fanout(self, payloads):
        from groove_to_helpscout_migration_tool_spark.multimodal import sample_video_frames

        frames = sample_video_frames(payloads, every_n=1, fake=True).collect()
        assert len(frames) > 3  # 1:N explosion (doc 1: 3 frames, doc 2: 1, doc 3: 1)
        assert {f["doc_id"] for f in frames} == {1, 2, 3}
        assert max(f["frame_idx"] for f in frames) >= 2


class TestSketchOperators:
    def test_minhash_identical_docs_jaccard_1(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators.dedup import minhash_lsh_pairs

        text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [(1, text), (2, text), (3, "completely different words nothing shared here at all")],
            "doc_id long, text string",
        )
        pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
        assert len(pairs) == 1
        assert (pairs[0]["doc_i"], pairs[0]["doc_j"], pairs[0]["jaccard"]) == (1, 2, 1.0)

    def test_simhash_identical_docs_hamming_0(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators.dedup import simhash_neardup_pairs

        text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [(1, text), (2, text)], "doc_id long, text string"
        )
        pairs = simhash_neardup_pairs(docs, max_hamming=8).collect()
        assert len(pairs) == 1 and pairs[0]["hamming"] == 0

    def test_short_doc_no_shingles_is_dropped(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.createDataFrame(
            [(1, "two words"), (2, "two words")], "doc_id long, text string"
        )
        # <3 tokens -> no shingles -> no candidates (and no crash)
        assert minhash_lsh_pairs(docs).count() == 0


class TestStatefulQuota:
    def test_quota_matches_batch_twin(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from groove_to_helpscout_migration_tool_spark.streaming.events import (
            run_to_memory,
            streaming_user_quota,
        )

        got = run_to_memory(
            streaming_user_quota(spark, sf_dir, quota=50),
            "quota_test",
            output_mode="update",
        )
        batch = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        want = {
            (r["user_id"], r["n"], min(r["n"], 50), r["n"] - min(r["n"], 50))
            for r in batch.collect()
        }
        have = {
            (r["user_id"], r["n_seen"], r["n_accepted"], r["n_rejected"])
            for r in got.collect()
        }
        assert have == want


class TestResizeImages:
    def test_resize_fake_path_sizes_output(self, spark):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import resize_images

        df = spark.createDataFrame(
            [(1, b"\x89PNG" + b"x" * 100), (2, b"yz"), (3, None)],
            "doc_id long, payload binary",
        )
        out = resize_images(df, width=16, height=16, fake=True).collect()
        by_id = {r["doc_id"]: r for r in out}
        assert len(out) == 3
        assert all(len(r["resized"]) == 16 * 16 // 64 for r in out)
        assert by_id[1]["resized"][:4] == b"\x89PNG"
        assert (by_id[1]["width"], by_id[1]["height"]) == (16, 16)

    def test_resize_stub_raises_without_fake(self, spark):
        import pytest as _pytest

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import resize_images

        df = spark.createDataFrame([(1, b"abc")], "doc_id long, payload binary")
        with _pytest.raises(Exception, match="codecs unavailable|NotImplementedError"):
            resize_images(df, 8, 8).collect()


class TestForeachBatchMerge:
    def test_rerun_publishes_zero_duplicates(self, spark, sf_dir, tmp_path):
        from groove_to_helpscout_migration_tool_spark.streaming.events import (
            streaming_merge_to_parquet,
        )

        sink = str(tmp_path / "sink")
        total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        n1 = streaming_merge_to_parquet(spark, sf_dir, sink, str(tmp_path / "ck1"))
        assert n1 == total
        # second run: fresh checkpoint (full replay), same sink -> all dups
        n2 = streaming_merge_to_parquet(spark, sf_dir, sink, str(tmp_path / "ck2"))
        assert n2 == 0
        assert spark.read.parquet(sink).count() == total


class TestCompaction:
    def test_target_size_controls_file_count(self, spark, sf_dir, tmp_path):
        import glob

        from groove_to_helpscout_migration_tool_spark.sources.compact import write_compacted

        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        n_small = write_compacted(df, str(tmp_path / "small"), target_mb=0.05)
        n_big = write_compacted(df, str(tmp_path / "big"), target_mb=1024)
        assert n_big == 1 and n_small > n_big
        assert len(glob.glob(str(tmp_path / "big" / "*.parquet"))) == 1
        assert (
            spark.read.parquet(str(tmp_path / "small")).count() == df.count()
        )

    def test_write_release_partition_layout(self, spark, sf_dir, tmp_path):
        """The release writer must produce the Hive layout of the split
        op with ~one file per leaf (the pre-shuffle contract), and read
        back losslessly including the partition columns."""
        import glob
        import os

        from groove_to_helpscout_migration_tool_spark import catalog
        from groove_to_helpscout_migration_tool_spark.sources.compact import (
            write_release,
        )

        df = catalog.QUERIES["llm_train_val_test_split"].fn(spark, sf_dir)
        out = str(tmp_path / "release")
        write_release(df, out, ["split", "shard"])
        # layout: split=train|val|test / shard=N
        splits = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(out, "split=*"))
        }
        assert splits == {"split=train", "split=val", "split=test"}
        leaves = glob.glob(os.path.join(out, "split=*", "shard=*"))
        assert leaves
        for leaf in leaves:
            files = glob.glob(os.path.join(leaf, "*.parquet"))
            assert len(files) == 1, leaf  # one task owns each leaf
        back = spark.read.parquet(out)
        a = {tuple(sorted(r.asDict().items())) for r in back.collect()}
        b = {tuple(sorted(r.asDict().items())) for r in df.collect()}
        assert a == b


class TestParseImageHeader:
    """Pure-byte header parsing -- real dimensions, no codec library."""

    def test_png_ihdr(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        b = (
            b"\x89PNG\r\n\x1a\n"
            + (13).to_bytes(4, "big") + b"IHDR"
            + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
            + b"\x08\x02\x00\x00\x00"
        )
        assert parse_image_header(b) == ("image/png", 640, 480)

    def test_gif_logical_screen(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        b = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
        assert parse_image_header(b) == ("image/gif", 320, 200)

    def test_jpeg_sof0_after_app0(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (1080).to_bytes(2, "big") + (1920).to_bytes(2, "big")
        )
        assert parse_image_header(b"\xff\xd8" + app0 + sof0) == (
            "image/jpeg", 1920, 1080,
        )

    def test_jpeg_progressive_sof2(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        sof2 = (
            b"\xff\xc2" + (17).to_bytes(2, "big") + b"\x08"
            + (10).to_bytes(2, "big") + (20).to_bytes(2, "big")
        )
        assert parse_image_header(b"\xff\xd8" + sof2) == ("image/jpeg", 20, 10)

    def test_jpeg_skips_dht(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        dht = b"\xff\xc4" + (4).to_bytes(2, "big") + b"\x00\x00"
        sof0 = (
            b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (7).to_bytes(2, "big") + (9).to_bytes(2, "big")
        )
        assert parse_image_header(b"\xff\xd8" + dht + sof0) == ("image/jpeg", 9, 7)

    @staticmethod
    def _bmp_hdr(h: int) -> bytes:
        # well-formed BITMAPINFOHEADER prefix: the validation added in
        # round 3 (ADVICE r2) rejects zero header-size/planes/bpp
        return (
            b"BM" + b"\x00" * 12
            + (40).to_bytes(4, "little")
            + (800).to_bytes(4, "little")
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little")
            + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little")
        )

    def test_bmp(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        assert parse_image_header(self._bmp_hdr(600)) == ("image/bmp", 800, 600)

    def test_bmp_topdown_negative_height(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        assert parse_image_header(self._bmp_hdr(-600)) == ("image/bmp", 800, 600)

    def test_unparseable_returns_none(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        assert parse_image_header(b"") is None
        assert parse_image_header(b"hello world") is None
        assert parse_image_header(b"\x89PNG\r\n\x1a\nxxxxxxxxxxxx") is None
        assert parse_image_header(b"\xff\xd8\xff\xe0\x79\x79rest") is None


class TestParseWav:
    def _wav(self, samples, rate=8000):
        import struct

        data = b"".join(struct.pack("<h", s) for s in samples)
        byte_rate = rate * 2
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, byte_rate, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    def test_pcm16_duration_and_rms(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_wav_pcm16

        got = parse_wav_pcm16(self._wav([16384] * 8000))
        assert got is not None
        duration, rms = got
        assert duration == 1.0
        assert abs(rms - 0.5) < 1e-9

    def test_silence_rms_zero(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_wav_pcm16

        assert parse_wav_pcm16(self._wav([0] * 100)) == (100 * 2 / 16000, 0.0)

    def test_skips_extra_chunks(self):
        import struct

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_wav_pcm16

        wav = self._wav([100] * 10)
        # splice a LIST chunk between WAVE and fmt
        extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
        spliced = wav[:12] + extra + wav[12:]
        spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        got = parse_wav_pcm16(spliced)
        assert got is not None and got[0] == 10 * 2 / 16000

    def test_non_wav_returns_none(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_wav_pcm16

        assert parse_wav_pcm16(b"") is None
        assert parse_wav_pcm16(b"RIFFxxxxAVI ") is None
        assert parse_wav_pcm16(b"\xff\xd8\xff\xe0") is None

    def test_compressed_format_not_parsed(self):
        import struct

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_wav_pcm16

        # audio_format=85 (MP3-in-WAV) must fall to the codec-needed path
        b = (
            b"RIFF" + struct.pack("<I", 36) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 85, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", 0)
        )
        assert parse_wav_pcm16(b) is None


class TestBmpResize:
    def _bmp(self, pixels):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import encode_bmp

        return encode_bmp(np.array(pixels, dtype="uint8"))

    def test_roundtrip_parse_encode(self):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            encode_bmp,
            parse_bmp_pixels,
        )

        px = np.arange(5 * 3 * 3, dtype="uint8").reshape(5, 3, 3)
        got = parse_bmp_pixels(encode_bmp(px))
        assert got is not None
        w, h, back = got
        assert (w, h) == (3, 5)
        assert (back == px).all()

    def test_nearest_neighbor_downsample_picks_centers(self):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import resize_nearest

        # 4x4 quadrant image -> 2x2 must pick one pixel per quadrant
        px = np.zeros((4, 4, 3), dtype="uint8")
        px[:2, 2:] = 10
        px[2:, :2] = 20
        px[2:, 2:] = 30
        small = resize_nearest(px, 2, 2)
        assert small[0, 0].tolist() == [0, 0, 0]
        assert small[0, 1].tolist() == [10, 10, 10]
        assert small[1, 0].tolist() == [20, 20, 20]
        assert small[1, 1].tolist() == [30, 30, 30]

    def test_distributed_real_resize(self, spark):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            parse_bmp_pixels,
            resize_images,
        )

        px = np.zeros((4, 4, 3), dtype="uint8")
        px[2:, 2:] = 99
        df = spark.createDataFrame(
            [(1, bytearray(self._bmp(px)))], "doc_id long, payload binary"
        )
        out = resize_images(df, width=2, height=2).collect()[0]
        w, h, back = parse_bmp_pixels(bytes(out["resized"]))
        assert (w, h) == (2, 2)
        assert back[1, 1].tolist() == [99, 99, 99]
        assert back[0, 0].tolist() == [0, 0, 0]

    def test_distributed_mixed_container_resize(self, spark):
        """One resize_images call over BMP + PNG + GIF payloads of the
        same solid color must produce byte-identical BMP outputs -- the
        cross-codec consistency the llm_image_resize_multiformat catalog
        entry checks at scale."""
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            encode_bmp,
            encode_gif,
            encode_png,
            resize_images,
        )

        px = np.full((5, 7, 3), [40, 80, 120], dtype=np.uint8)
        rows = [
            (1, bytearray(encode_bmp(px))),
            (2, bytearray(encode_png(px))),
            (3, bytearray(encode_gif(px))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        out = {r["doc_id"]: bytes(r["resized"]) for r in
               resize_images(df, width=3, height=2).collect()}
        assert out[1] == out[2] == out[3]
        assert out[1][:2] == b"BM"

    def test_non_bmp_without_fake_raises(self, spark):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import resize_images

        df = spark.createDataFrame(
            [(1, bytearray(b"\x89PNG\r\n\x1a\nrest"))], "doc_id long, payload binary"
        )
        import pytest as _pytest

        with _pytest.raises(Exception, match="NotImplementedError|not 24-bit"):
            resize_images(df, width=2, height=2).collect()


class TestJpegCodec:
    """Baseline JPEG codec (multimodal/jpeg.py): pure numpy/stdlib,
    internally consistent encode->decode with Annex K tables."""

    def test_solid_color_roundtrip_exact(self):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            encode_jpeg,
            parse_jpeg_pixels,
        )

        for color in [(13, 91, 169), (0, 0, 0), (255, 255, 255), (7, 255, 128)]:
            px = np.zeros((5, 3, 3), dtype=np.uint8)
            px[:, :] = color
            w, h, dec = parse_jpeg_pixels(encode_jpeg(px))
            assert (w, h) == (3, 5)
            # all-ones quant + RGB component ids: solid blocks survive
            # the DCT round-trip bit-exactly
            assert np.array_equal(dec, px)

    def test_arbitrary_image_near_lossless(self):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            encode_jpeg,
            parse_jpeg_pixels,
        )

        rng = np.random.default_rng(42)
        px = rng.integers(0, 256, size=(21, 13, 3), dtype=np.uint8)
        w, h, dec = parse_jpeg_pixels(encode_jpeg(px))
        assert (w, h) == (13, 21)
        # quant step 1: the only loss is DCT coefficient rounding
        assert np.abs(dec.astype(int) - px.astype(int)).max() <= 2

    def test_rejects_non_baseline_and_garbage(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            parse_jpeg_pixels,
        )

        assert parse_jpeg_pixels(b"\xff\xd8\xff\xc2\x00\x05aaa") is None  # SOF2
        assert parse_jpeg_pixels(b"notjpeg") is None
        assert parse_jpeg_pixels(b"") is None

    def test_header_parse_agrees_with_pixel_decoder(self):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            parse_image_header,
        )
        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            encode_jpeg,
        )

        px = np.zeros((7, 4, 3), dtype=np.uint8)
        b = encode_jpeg(px)
        assert parse_image_header(b) == ("image/jpeg", 4, 7)


class TestAviMjpeg:
    def test_roundtrip_and_sampling(self, spark):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.avi import (
            encode_avi_mjpeg,
            parse_avi_frames,
        )
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            sample_mjpeg_frames,
        )

        frames = []
        for k in range(5):
            f = np.zeros((4, 6, 3), dtype=np.uint8)
            f[:, :] = (20 + k, 50 + 2 * k, 200 - 3 * k)
            frames.append(f)
        payload = encode_avi_mjpeg(frames, fps=25)
        meta = parse_avi_frames(payload, decode=True)
        assert (meta["width"], meta["height"], meta["n_frames"]) == (6, 4, 5)
        assert meta["us_per_frame"] == 1_000_000 // 25
        for k, fr in enumerate(meta["frames"]):
            assert np.array_equal(fr["pixels"], frames[k])

        df = spark.createDataFrame([(9, payload)], "doc_id long, payload binary")
        rows = sample_mjpeg_frames(df, every_n=2).collect()
        assert [r["frame_idx"] for r in rows] == [0, 2, 4]
        assert rows[1]["pixel_hex"] == "%02X%02X%02X" % (22, 54, 194)

    def test_non_avi_rejected(self):
        from groove_to_helpscout_migration_tool_spark.multimodal.avi import (
            parse_avi_frames,
        )

        assert parse_avi_frames(b"RIFF\x04\x00\x00\x00WAVE") is None
        assert parse_avi_frames(b"\x89PNG") is None


class TestStreamingStateDedup:
    def test_duplicated_stream_dedups_to_batch_counts(self, spark, sf_dir):
        from groove_to_helpscout_migration_tool_spark.session import load_tables
        from groove_to_helpscout_migration_tool_spark.streaming.events import (
            run_to_memory,
            streaming_dedup_counts,
        )

        got = {
            (r["event_type"], r["n_events"])
            for r in run_to_memory(
                streaming_dedup_counts(spark, sf_dir), "t3_state_dedup"
            ).collect()
        }
        t = load_tables(spark, sf_dir, ["events"])
        want = {
            (r["event_type"], r["n"])
            for r in t.events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # every replayed event died in the state store
        assert got == want
