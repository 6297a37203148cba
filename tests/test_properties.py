"""Property-based tests (hypothesis) for the quirky reference semantics
SURVEY.md section 7 says must hold bit-for-bit, plus the resume-
equivalence property (T2). Each property runs ONE Spark job over a
generated batch (never a job per example) to keep the suite fast."""

from __future__ import annotations

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from groove_to_helpscout_migration_tool_spark.functions import (
    split_and_validate_emails,
    split_full_name,
)

SETTINGS = dict(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

NAME_ALPHABET = string.ascii_letters + string.digits + " -'."


def py_split_full_name(name: str):
    """Driver-side mirror of the engine's P2 semantics
    (APIHelper.php:166-176): split on FIRST space, trim the remainder,
    no space -> last is NULL."""
    i = name.find(" ")
    if i < 0:
        return name, None
    return name[:i], name[i + 1 :].strip()


class TestNameSplitProperty:
    @settings(**SETTINGS)
    @given(st.lists(st.text(alphabet=NAME_ALPHABET, min_size=1, max_size=60), min_size=1, max_size=30))
    def test_matches_reference_semantics(self, spark, names):
        df = spark.createDataFrame([(n,) for n in names], ["full_name"])
        split = split_full_name(F.col("full_name"))
        got = df.select(
            "full_name",
            split.getField("first_name").alias("f"),
            split.getField("last_name").alias("l"),
        ).collect()
        for row in got:
            f, l = py_split_full_name(row["full_name"])
            assert (row["f"], row["l"]) == (f, l), row["full_name"]


EMAIL_FRAG = st.one_of(
    st.from_regex(r"[a-z]{1,8}@[a-z]{1,8}\.[a-z]{2,3}", fullmatch=True),  # valid
    st.from_regex(r"[a-z]{1,10}", fullmatch=True),  # invalid (no @)
)


class TestEmailSplitProperty:
    @settings(**SETTINGS)
    @given(
        st.lists(
            st.tuples(
                st.lists(EMAIL_FRAG, min_size=1, max_size=4),
                st.sampled_from([" ", ";", ","]),
            ),
            min_size=1,
            max_size=20,
        )
    )
    def test_any_invalid_keeps_original(self, spark, cases):
        """P4 (CustomerProcessor.php:90-133): if EVERY fragment validates,
        primary = first fragment; if ANY fails, the ORIGINAL unsplit
        string survives as the single email."""
        rows = [(sep.join(frags), frags) for frags, sep in cases]
        df = spark.createDataFrame([(raw,) for raw, _ in rows], ["email_raw"])
        res = split_and_validate_emails(F.col("email_raw"))
        got = df.select(
            "email_raw",
            res.getField("all_valid").alias("ok"),
            res.getField("primary").alias("primary"),
            F.size(res.getField("emails")).alias("n"),
        ).collect()
        by_raw = {r["email_raw"]: r for r in got}
        for raw, frags in rows:
            r = by_raw[raw]
            all_valid = all("@" in f for f in frags)
            assert r["ok"] == all_valid, raw
            if all_valid:
                assert r["primary"] == frags[0]
                assert r["n"] == len(frags)
            else:
                assert r["primary"] == raw
                assert r["n"] == 1


class TestResumeEquivalence:
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.integers(min_value=1, max_value=97), st.integers(min_value=1, max_value=97))
    def test_split_scan_equals_full_scan(self, spark, total, split_at):
        """T2 (SyncCustomers.php:17,51): pages [1..n] == [1..k] + [k+1..n]
        for any resume point k."""
        from pyspark.sql import types as T

        from groove_to_helpscout_migration_tool_spark.sources.api import paginated_source

        per_page = 10
        schema = T.StructType([T.StructField("id", T.LongType())])

        def fetch(page, pp):
            lo = (page - 1) * pp
            return [{"id": i} for i in range(lo, min(lo + pp, total))]

        full = paginated_source(spark, fetch, total, schema, per_page=per_page)
        k = min(split_at, (total + per_page - 1) // per_page)
        part1 = paginated_source(
            spark, fetch, total, schema, per_page=per_page, stop_page=k
        )
        part2 = paginated_source(
            spark, fetch, total, schema, per_page=per_page, start_page=k + 1
        )
        # sorted lists, not sets: a page fetched twice must show
        want = sorted(r["id"] for r in full.collect())
        have = sorted(r["id"] for r in part1.unionByName(part2).collect())
        assert have == want == list(range(total))


class TestByteParserRoundtrips:
    """Frame -> parse roundtrips for the real multimodal byte parsers:
    whatever dimensions/samples we encode must come back exactly."""

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=65535),
        h=st.integers(min_value=1, max_value=65535),
    )
    def test_png_roundtrip(self, w, h):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        b = (
            b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
        )
        assert parse_image_header(b) == ("image/png", w, h)

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=65535),
        h=st.integers(min_value=1, max_value=65535),
        n_app=st.integers(min_value=0, max_value=3),
    )
    def test_jpeg_roundtrip_with_leading_segments(self, w, h, n_app):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_image_header

        app = b"\xff\xe1" + (10).to_bytes(2, "big") + b"\x00" * 8
        sof = (
            b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        )
        assert parse_image_header(b"\xff\xd8" + app * n_app + sof) == (
            "image/jpeg", w, h,
        )

    @settings(max_examples=50, deadline=None)
    @given(
        samples=st.lists(
            st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200
        ),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def test_wav_roundtrip(self, samples, rate):
        import math
        import struct

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_wav_pcm16

        data = b"".join(struct.pack("<h", s) for s in samples)
        wav = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )
        got = parse_wav_pcm16(wav)
        assert got is not None
        duration, rms = got
        assert abs(duration - len(data) / (rate * 2)) < 1e-12
        want_rms = math.sqrt(
            sum((s / 32768.0) ** 2 for s in samples) / len(samples)
        )
        assert abs(rms - want_rms) < 1e-9

    @settings(max_examples=30, deadline=None)
    @given(junk=st.binary(max_size=64))
    def test_junk_never_parses_as_image_or_wav(self, junk):
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            parse_image_header,
            parse_wav_pcm16,
        )

        # exclude byte strings that happen to start with a real magic
        if junk[:8] == b"\x89PNG\r\n\x1a\n" or junk[:2] in (b"\xff\xd8", b"BM"):
            return
        if junk[:6] in (b"GIF87a", b"GIF89a") or junk[:4] == b"RIFF":
            return
        assert parse_image_header(junk) is None
        assert parse_wav_pcm16(junk) is None

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=65535),
        h=st.integers(min_value=1, max_value=65535),
        delays=st.lists(
            st.integers(min_value=0, max_value=65535), min_size=1, max_size=8
        ),
    )
    def test_gif_frame_walk_roundtrip(self, w, h, delays):
        """Frame an animated GIF -> parse_gif_frames must recover every
        frame's offset, dims and GCE delay exactly."""
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import parse_gif_frames

        le2 = lambda v: v.to_bytes(2, "little")  # noqa: E731
        b = b"GIF89a" + le2(w) + le2(h) + b"\x00\x00\x00"
        offsets = []
        for d in delays:
            b += b"\x21\xf9\x04\x00" + le2(d) + b"\x00\x00"
            offsets.append(len(b))
            b += b"\x2c\x00\x00\x00\x00" + le2(w) + le2(h) + b"\x00"
            b += b"\x02\x01\x80\x00"
        b += b"\x3b"
        frames = parse_gif_frames(b)
        assert frames is not None and len(frames) == len(delays)
        for k, fr in enumerate(frames):
            assert (fr["offset"], fr["width"], fr["height"], fr["delay_cs"]) == (
                offsets[k], w, h, delays[k],
            )
        # truncating the trailer must fail structurally, not mis-parse
        assert parse_gif_frames(b[:-1]) is None

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=24),
        h=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_png_pixel_roundtrip(self, w, h, seed):
        """encode_png -> parse_png_pixels is the identity on arbitrary
        (H, W, 3) images -- the zlib inflate + unfilter path is exact."""
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            encode_png,
            parse_png_pixels,
        )

        px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
        got = parse_png_pixels(encode_png(px))
        assert got is not None
        assert (got[0], got[1]) == (w, h)
        assert np.array_equal(got[2], px)
        # structural truncation must fail cleanly, never mis-decode
        assert parse_png_pixels(encode_png(px)[:20]) is None

    def test_png_all_five_scanline_filters_decode(self):
        """Hand-filter the same image with each PNG filter type (None/
        Sub/Up/Average/Paeth); parse_png_pixels must invert every one."""
        import struct
        import zlib

        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            parse_png_pixels,
        )

        px = np.random.default_rng(3).integers(0, 256, (9, 7, 3), dtype=np.uint8)
        rgb = px[:, :, ::-1]

        def chunk(t, d):
            return (
                len(d).to_bytes(4, "big") + t + d
                + zlib.crc32(t + d).to_bytes(4, "big")
            )

        for ftype in range(5):
            rows, prev = [], np.zeros(7 * 3, dtype=np.int16)
            for y in range(9):
                cur = rgb[y].reshape(-1).astype(np.int16)
                left = np.zeros(7 * 3, dtype=np.int16)
                left[3:] = cur[:-3]
                if ftype == 0:
                    filt = cur
                elif ftype == 1:
                    filt = (cur - left) % 256
                elif ftype == 2:
                    filt = (cur - prev) % 256
                elif ftype == 3:
                    filt = (cur - (left + prev) // 2) % 256
                else:  # Paeth
                    filt = np.zeros(7 * 3, dtype=np.int16)
                    for x in range(7 * 3):
                        a = int(cur[x - 3]) if x >= 3 else 0
                        b_ = int(prev[x])
                        c = int(prev[x - 3]) if x >= 3 else 0
                        p = a + b_ - c
                        pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                        pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)
                        filt[x] = (int(cur[x]) - pred) % 256
                rows.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))
                prev = cur
            b = (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 9, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + chunk(b"IEND", b"")
            )
            got = parse_png_pixels(b)
            assert got is not None and np.array_equal(got[2], px), f"filter {ftype}"

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=16),
        h=st.integers(min_value=1, max_value=16),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_gif_pixel_roundtrip(self, w, h, seed):
        """encode_gif -> parse_gif_pixels is the identity: the literal-
        code LZW stream decompresses back to the exact palette indices."""
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            encode_gif,
            parse_gif_pixels,
        )

        # values quantized to 4 levels keep the palette well under 256
        px = (
            np.random.default_rng(seed).integers(0, 4, (h, w, 3), dtype=np.uint8) * 85
        )
        got = parse_gif_pixels(encode_gif(px))
        assert got is not None
        assert (got[0], got[1]) == (w, h)
        assert np.array_equal(got[2], px)

    def test_gif_interlaced_rows_reordered(self):
        """An interlaced GIF stores rows in 8/8/4/2 passes; the decoder
        must put them back in display order."""
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            encode_gif,
            parse_gif_pixels,
        )

        h, w = 10, 3
        px = np.zeros((h, w, 3), dtype=np.uint8)
        for y in range(h):
            px[y] = y * 20  # one distinct solid color per row
        plain = bytearray(encode_gif(px))
        # rewrite the stream with the interlace bit set and rows permuted
        # into pass order; the decoder must invert the permutation
        order = [y for y in range(0, h, 8)] + [y for y in range(4, h, 8)] \
            + [y for y in range(2, h, 4)] + [y for y in range(1, h, 2)]
        permuted = px[order]
        b = bytearray(encode_gif(permuted))
        # image descriptor: find 0x2C after the 13-byte header + GCT
        gct_n = 2 << (b[10] & 0x07)
        desc = 13 + 3 * gct_n
        assert b[desc] == 0x2C
        b[desc + 9] |= 0x40  # set interlace flag
        got = parse_gif_pixels(bytes(b))
        assert got is not None
        assert np.array_equal(got[2], px)

    def test_ascii_text_with_magic_prefix_rejected(self):
        """A text document starting with ASCII 'BM' or 'GIF87a' must NOT
        be misclassified as an image with garbage dimensions: the BMP
        branch validates BITMAPINFOHEADER fields, the GIF branch requires
        nonzero dims (ADVICE r2)."""
        from groove_to_helpscout_migration_tool_spark.multimodal.decode import (
            parse_image_header,
        )

        assert parse_image_header(b"BMW sales figures for Q3 grew by 12%....") is None
        assert parse_image_header(b"GIF87a\x00\x00\x00\x00 is an ancient format") is None
        # and a well-formed minimal BMP still parses
        hdr = (
            b"BM" + (70).to_bytes(4, "little") + b"\x00\x00\x00\x00"
            + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + (2).to_bytes(4, "little", signed=True)
            + (2).to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little")
        )
        assert parse_image_header(hdr) == ("image/bmp", 2, 2)


# ---------------------------------------------------------------------------
# Near-dup invariants (VERDICT r2 ask #9): capping only ever SHRINKS the
# pair set, dedup assignment never invents links outside the pair
# closure, and clustering is invariant to doc_id relabeling.
# ---------------------------------------------------------------------------
_WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu",
]

corpus_st = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=8, max_size=16).map(" ".join),
    min_size=6,
    max_size=12,
)

NEARDUP_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _docs_df(spark, texts, ids=None):
    ids = list(ids) if ids is not None else list(range(len(texts)))
    return spark.createDataFrame(
        list(zip(ids, texts)), "doc_id long, text string"
    )


class TestNearDupInvariants:
    @settings(**NEARDUP_SETTINGS)
    @given(texts=corpus_st)
    def test_capped_pairs_subset_of_uncapped(self, spark, texts):
        from groove_to_helpscout_migration_tool_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
            simhash_neardup_pairs,
        )

        docs = _docs_df(spark, texts)
        for fn, kw, cap in (
            (minhash_lsh_pairs, dict(jaccard_threshold=0.5), "bucket_cap"),
            (simhash_neardup_pairs, dict(max_hamming=8), "bucket_cap"),
            (ngram_jaccard_pairs, dict(jaccard_threshold=0.4), "anchor_cap"),
        ):
            full = {
                (r["doc_i"], r["doc_j"]) for r in fn(docs, **kw).collect()
            }
            capped = {
                (r["doc_i"], r["doc_j"])
                for r in fn(docs, **{cap: 2}, **kw).collect()
            }
            assert capped <= full, (fn.__name__, capped - full)

    @settings(**NEARDUP_SETTINGS)
    @given(texts=corpus_st)
    def test_assign_links_within_pair_closure(self, spark, texts):
        from groove_to_helpscout_migration_tool_spark.operators.dedup import (
            simhash_dedup_assign,
            simhash_neardup_pairs,
        )

        docs = _docs_df(spark, texts)
        pairs = {
            (r["doc_i"], r["doc_j"]): r["hamming"]
            for r in simhash_neardup_pairs(docs, max_hamming=8).collect()
        }
        for r in simhash_dedup_assign(docs, max_hamming=8).collect():
            assert r["rep_id"] < r["doc_id"]
            link = (r["rep_id"], r["doc_id"])
            assert link in pairs, ("assign link outside pair closure", r)
            assert pairs[link] == r["hamming"], (r, pairs[link])

    @settings(max_examples=3, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(texts=corpus_st, seed=st.integers(min_value=1, max_value=10**6))
    def test_clustering_invariant_to_relabeling(self, spark, texts, seed):
        from groove_to_helpscout_migration_tool_spark.operators.dedup import (
            neardup_clusters,
        )

        n = len(texts)
        # deterministic permutation of doc_ids derived from the seed
        perm = sorted(range(n), key=lambda i: ((i + 1) * seed) % 7919 * n + i)
        base = {
            frozenset(
                r["doc_id"]
                for r in neardup_clusters(_docs_df(spark, texts)).collect()
                if r["cluster_id"] == cid
            )
            for cid in {
                r["cluster_id"]
                for r in neardup_clusters(_docs_df(spark, texts)).collect()
            }
        }
        relabeled = neardup_clusters(
            _docs_df(spark, texts, ids=[perm[i] for i in range(n)])
        ).collect()
        inv = {perm[i]: i for i in range(n)}
        remapped = {
            frozenset(
                inv[r["doc_id"]] for r in relabeled if r["cluster_id"] == cid
            )
            for cid in {r["cluster_id"] for r in relabeled}
        }
        assert base == remapped


class TestJpegCodecProperty:
    """Pure-python property checks on the baseline JPEG codec -- no
    Spark session, so hypothesis can afford real example counts."""

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=20),
        h=st.integers(min_value=1, max_value=20),
        b=st.integers(min_value=0, max_value=255),
        g=st.integers(min_value=0, max_value=255),
        r=st.integers(min_value=0, max_value=255),
    )
    def test_solid_roundtrip_exact_any_dims(self, w, h, b, g, r):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            encode_jpeg,
            parse_jpeg_pixels,
        )

        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :] = (b, g, r)
        got_w, got_h, dec = parse_jpeg_pixels(encode_jpeg(px))
        assert (got_w, got_h) == (w, h)
        assert np.array_equal(dec, px)

    @settings(max_examples=10, deadline=None)
    @given(seed=st.integers(min_value=0, max_value=2**32 - 1))
    def test_random_image_error_bounded(self, seed):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            encode_jpeg,
            parse_jpeg_pixels,
        )

        rng = np.random.default_rng(seed)
        h, w = int(rng.integers(1, 25)), int(rng.integers(1, 25))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        _, _, dec = parse_jpeg_pixels(encode_jpeg(px))
        # all-ones quant: only DCT coefficient rounding can perturb
        assert np.abs(dec.astype(int) - px.astype(int)).max() <= 2

    @settings(max_examples=15, deadline=None)
    @given(data=st.binary(min_size=0, max_size=400))
    def test_garbage_never_crashes(self, data):
        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            parse_jpeg_pixels,
        )

        # arbitrary bytes (including ones that start like a JPEG) must
        # return None or a valid tuple, never raise
        out = parse_jpeg_pixels(b"\xff\xd8" + data)
        assert out is None or len(out) == 3

    def test_non_interleaved_scan_rejected_not_misdecoded(self):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            encode_jpeg,
            parse_jpeg_pixels,
        )

        # splice the encoder's 3-component SOS into a 1-component scan
        # header: a legal baseline NON-interleaved stream (one scan per
        # component) that the decoder does not support -- it must return
        # None like the SOF2/subsampled guards, not decode one plane and
        # leave the rest zero (ADVICE r4)
        px = np.full((8, 8, 3), 200, dtype=np.uint8)
        b = encode_jpeg(px)
        sos_at = b.find(b"\xff\xda")
        assert sos_at > 0
        old_seglen = int.from_bytes(b[sos_at + 2 : sos_at + 4], "big")
        entropy = b[sos_at + 2 + old_seglen :]
        one_comp_sos = b"\xff\xda" + (8).to_bytes(2, "big") + bytes(
            [1, 0x52, 0x00, 0, 63, 0]
        )
        assert parse_jpeg_pixels(b[:sos_at] + one_comp_sos + entropy) is None

    def test_bitreader_acc_stays_bounded(self):
        import numpy as np

        from groove_to_helpscout_migration_tool_spark.multimodal.jpeg import (
            _BitReader,
            encode_jpeg,
        )

        # the accumulator must be masked to the live bit window as the
        # scan is consumed; an unmasked acc grows into a bignum spanning
        # the whole scan and makes decode quadratic (ADVICE r4)
        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
        scan = encode_jpeg(px)
        br = _BitReader(scan)
        for _ in range(2000):
            try:
                br.bit()
            except ValueError:
                break
            assert br.acc.bit_length() <= 40, br.acc.bit_length()


class TestTwoPhaseTopKProperty:
    """The salted two-phase top-k (operators/similarity.two_phase_topk,
    also the shape inside llm_rag_retrieve_sparse) must equal a naive
    global window ranking for ANY scored relation -- including ties on
    the score (broken by id) and groups smaller than k."""

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),      # qid
                st.integers(min_value=0, max_value=200),    # nid
                st.integers(min_value=-5, max_value=5),     # coarse score (forces ties)
                st.integers(min_value=0, max_value=9),      # nlabel
            ),
            min_size=1, max_size=80,
        )
    )
    def test_equals_global_window(self, spark, rows):
        from pyspark.sql import Window as W

        from groove_to_helpscout_migration_tool_spark.operators.similarity import (
            two_phase_topk,
        )

        # dedupe nid within qid (the operator's inputs are keyed pairs)
        seen = set()
        uniq = []
        for qid, nid, sc, lab in rows:
            if (qid, nid) in seen:
                continue
            seen.add((qid, nid))
            uniq.append((qid, nid, float(sc) / 2.0, lab))
        df = spark.createDataFrame(uniq, ["qid", "nid", "cosine", "nlabel"])
        k = 3
        got = (
            two_phase_topk(df, "qid", k, salt_mod=4, label_col="nlabel")
            .select("qid", "rank", "nid")
            .collect()
        )
        w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
        want = (
            df.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "nid")
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),      # qid
                st.integers(min_value=0, max_value=200),    # nid
                st.integers(min_value=-5, max_value=5),     # coarse score (forces ties)
            ),
            min_size=1, max_size=80,
        )
    )
    def test_bounded_input_equals_salted(self, spark, rows):
        """two_phase_topk(bounded_input=True) -- the r13 single-exchange
        merge for constant-bounded inputs (sq8's final re-rank) -- must
        return EXACTLY the salted form's rows for any input, ties and
        small groups included."""
        from groove_to_helpscout_migration_tool_spark.operators.similarity import (
            two_phase_topk,
        )

        seen = set()
        uniq = []
        for qid, nid, sc in rows:
            if (qid, nid) in seen:
                continue
            seen.add((qid, nid))
            uniq.append((qid, nid, float(sc) / 2.0))
        df = spark.createDataFrame(uniq, ["qid", "nid", "cosine"])
        k = 3
        cols = ["qid", "rank", "nid", "cosine"]
        salted = two_phase_topk(df, "qid", k, salt_mod=4).select(*cols).collect()
        bounded = (
            two_phase_topk(df, "qid", k, salt_mod=4, bounded_input=True)
            .select(*cols)
            .collect()
        )
        assert sorted(map(tuple, bounded)) == sorted(map(tuple, salted))


class TestBigramPrefixDerivationProperty:
    """The r13 bigram-persist narrowing drops w1 from the persisted
    stream and re-derives it as substring_index(bigram, ' ', 1). That
    is only sound because tokens() splits on \\s+ (a token can never
    contain the ' ' separator, so bigram holds exactly one space).
    Property: for ANY text -- exotic whitespace, NBSP (which is NOT
    regex \\s), punctuation, empty -- the derived w1 equals the w1 the
    old struct form carried, position by position."""

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        st.lists(
            st.text(
                alphabet=string.ascii_lowercase + " \t\n .'-7",
                max_size=40,
            ),
            min_size=1, max_size=30,
        )
    )
    def test_derived_w1_equals_carried_w1(self, spark, texts):
        from groove_to_helpscout_migration_tool_spark.functions import text as TX

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(texts)], ["doc_id", "text"]
        ).select("doc_id", TX.tokens(F.lower(F.col("text"))).alias("t"))
        old_pairs = F.when(
            F.size("t") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.concat_ws(
                        " ", F.element_at("t", i), F.element_at("t", i + 1)
                    ).alias("bigram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,bigram:string>>"))
        rows = (
            df.select("doc_id", F.posexplode(old_pairs).alias("pos", "s"))
            .select(
                "doc_id",
                "pos",
                F.col("s.w1").alias("w1_carried"),
                F.substring_index(F.col("s.bigram"), " ", 1).alias("w1_derived"),
            )
            .collect()
        )
        for r in rows:
            assert r.w1_derived == r.w1_carried, (r.doc_id, r.pos)


class TestShardedCumsumProperty:
    """The token-budget sampler's two-phase cumulative sum (ordered
    key-prefix shards + shard offsets) must equal the one-window-per-
    group running sum for ANY (group, key, weight) relation, including
    shards that receive no rows and single-row groups."""

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),        # group
                st.integers(min_value=0, max_value=2**60 - 1),  # key
                st.integers(min_value=0, max_value=50),       # weight
            ),
            min_size=1, max_size=60,
        )
    )
    def test_equals_single_window(self, spark, rows):
        from pyspark.sql import Window as W

        uniq = {}
        for g, h, w_ in rows:
            uniq[(g, h)] = w_  # (group, key) unique like (source, doc key)
        data = [(g, h, w_) for (g, h), w_ in uniq.items()]
        df = spark.createDataFrame(data, ["src", "h", "n"])
        shard = F.shiftright(F.col("h"), 54)
        d2 = df.withColumn("shard", shard)
        intra = d2.withColumn("ic", F.sum("n").over(
            W.partitionBy("src", "shard").orderBy("h")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ))
        tot = d2.groupBy("src", "shard").agg(F.sum("n").alias("tot"))
        off = tot.withColumn(
            "off",
            F.sum("tot").over(
                W.partitionBy("src").orderBy("shard")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ) - F.col("tot"),
        ).select("src", "shard", "off")
        got = {
            (r["src"], r["h"]): r["cum"]
            for r in intra.join(off, ["src", "shard"])
            .withColumn("cum", F.col("off") + F.col("ic"))
            .collect()
        }
        naive_w = (
            W.partitionBy("src").orderBy("h")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        want = {
            (r["src"], r["h"]): r["cum"]
            for r in df.withColumn("cum", F.sum("n").over(naive_w)).collect()
        }
        assert got == want


class TestBpeMergeFoldProperty:
    """The expression-only (out, carry) merge fold must equal the
    reference left-to-right non-overlapping BPE merge for ARBITRARY
    symbol sequences and pair choices -- including degenerate pairs
    (a, a) over runs, where greedy selection parity is the whole
    difficulty."""

    @settings(**SETTINGS)
    @given(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6), min_size=5, max_size=40
        ),
        st.sampled_from(["a", "b", "aa", "ab"]),
        st.sampled_from(["a", "b", "bb", "ab"]),
    )
    def test_fold_equals_reference_merge(self, spark, words, la, ra):
        def py_merge(word: str):
            out, carry = [], None
            for s in word:  # chars as symbols
                if carry == la and s == ra:
                    out.append(la + ra)
                    carry = None
                else:
                    if carry is not None:
                        out.append(carry)
                    carry = s
            if carry is not None:
                out.append(carry)
            return out

        from groove_to_helpscout_migration_tool_spark.catalog.modelprep_ops import (
            _bpe_merge_fold,
        )

        df = spark.createDataFrame([(w,) for w in words], ["word"]).select(
            "word", F.expr("regexp_extract_all(word, '.', 0)").alias("syms")
        )
        got = df.select(
            "word", _bpe_merge_fold("syms", la, ra).alias("m")
        ).collect()
        for row in got:
            # multi-char la/ra never matches single-char symbols -- the
            # reference agrees because py_merge compares the same way
            assert row["m"] == py_merge(row["word"]), (row["word"], la, ra)


class TestPackedArgmax:
    """The bit-packed (score DESC, doc_id ASC) argmax used by
    llm_dedup_keep_best / llm_neardup_pagerank-family ops: a plain
    integer max over packed values must agree with the tuple order, and
    the unpack must round-trip, including NEGATIVE scores (where naive
    truncating division would mis-unpack)."""

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=-(1 << 22) + 1, max_value=(1 << 22) - 1),
                st.integers(min_value=0, max_value=(1 << 40) - 1),
            ),
            min_size=1,
            max_size=50,
        )
    )
    @settings(deadline=None, max_examples=200)
    def test_packed_max_equals_tuple_argmax(self, pairs):
        from groove_to_helpscout_migration_tool_spark.catalog.audit_ops import KB

        packed = [s * KB + (KB - 1 - d) for s, d in pairs]
        best = max(packed)
        # unpack with the pmod + exact-multiple-division scheme
        r = ((best % KB) + KB) % KB
        doc = KB - 1 - r
        score = (best - r) // KB
        want_score, want_doc = max(pairs, key=lambda p: (p[0], -p[1]))
        assert (score, doc) == (want_score, want_doc)

    @given(
        st.integers(min_value=-(1 << 22) + 1, max_value=(1 << 22) - 1),
        st.integers(min_value=0, max_value=(1 << 40) - 1),
    )
    @settings(deadline=None, max_examples=300)
    def test_pack_roundtrip_int64(self, s, d):
        from groove_to_helpscout_migration_tool_spark.catalog.audit_ops import KB

        p = s * KB + (KB - 1 - d)
        assert -(1 << 63) <= p < (1 << 63)  # int64-safe by the guards
        r = ((p % KB) + KB) % KB
        assert (KB - 1 - r, (p - r) // KB) == (d, s)
