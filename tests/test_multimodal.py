"""Multimodal plumbing: schemas, mapInPandas batch shapes, 1->N frame
expansion — real Spark pipelines over stubbed decoders."""

import numpy as np
import pytest

from streetview_naturevisibility_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synth_media(spark, 90)


class TestMultimodal:
    def test_image_features_schema_and_determinism(self, spark, media):
        a = mm.image_features(media).orderBy("media_id").toPandas()
        b = mm.image_features(media.repartition(7)).orderBy("media_id").toPandas()
        assert a["media_id"].tolist() == b["media_id"].tolist()
        assert a["sha256"].tolist() == b["sha256"].tolist()
        assert all(len(e) == 16 for e in a["embedding"])
        # embeddings are normalized histograms
        assert all(abs(sum(e) - 1.0) < 1e-5 for e in a["embedding"])
        # only image rows processed
        assert len(a) == 30

    def test_frame_sampling_expansion(self, spark, media):
        frames = mm.video_frame_features(media, every_ms=1000).toPandas()
        # one video every 3 ids, duration (i%7+1)*1500ms -> >=1 frame each
        vids = frames["media_id"].unique()
        assert len(vids) == 30
        per = frames.groupby("media_id").size()
        import math

        for mid, n in per.items():
            dur = (mid % 7 + 1) * 1500
            if mid % 12 == 11:  # opaque fallback: duration-based count
                assert n == max(dur // 1000, 1)
            else:  # real MP4: sample-table times 0..dur-500 step 500,
                # sampled at multiples of 1000 -> ceil(dur/1000)
                assert n == math.ceil(dur / 1000)

    def test_stub_decoder_raises_on_empty_payload(self):
        with pytest.raises(NotImplementedError):
            mm._fake_decode_image(b"", 4, 4)


class TestRealDecoders:
    def test_pgm_roundtrip_exact(self):
        import numpy as np

        from streetview_naturevisibility_spark.operators.multimodal import (
            decode_pnm,
            synth_pgm,
        )

        for i in (0, 3, 9):
            payload = synth_pgm(i, w=20, h=12)
            grid = decode_pnm(payload)
            yy, xx = np.mgrid[0:12, 0:20]
            expect = ((xx * 7 + yy * 13 + i * 31) % 256).astype(np.uint8)
            assert grid.shape == (12, 20)
            assert (grid == expect).all()

    def test_pgm_with_comment_header(self):
        import numpy as np

        from streetview_naturevisibility_spark.operators.multimodal import decode_pnm

        body = bytes(range(6))
        payload = b"P5\n# a comment\n3 2\n255\n" + body
        grid = decode_pnm(payload)
        assert (grid == np.arange(6, dtype=np.uint8).reshape(2, 3)).all()

    def test_bmp_24bit(self):
        import struct

        import numpy as np

        from streetview_naturevisibility_spark.operators.multimodal import decode_bmp

        w, h = 3, 2  # stride = 12 (w*3=9 padded to 12)
        px = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
        stride = (w * 3 + 3) & ~3
        rows = b""
        for y in range(h - 1, -1, -1):  # bottom-up
            rows += px[y].tobytes() + b"\x00" * (stride - w * 3)
        header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 54)
        header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
        grid = decode_bmp(header + rows)
        assert grid.shape == (h, w)
        assert (grid == px.mean(axis=2).astype(np.uint8)).all()

    def test_image_features_use_real_pgm_decode(self, spark, media):
        """The synth fixture now ships REAL PGM payloads; the feature
        histogram must equal a NumPy recompute of the decoded pixels."""
        import numpy as np

        from streetview_naturevisibility_spark.operators.multimodal import (
            decode_pnm,
            image_features,
        )

        feats = image_features(media).orderBy("media_id").toPandas()
        raw = {r.media_id: bytes(r.payload) for r in media.where("kind = 'image'").collect()}
        assert len(feats) == len(raw) > 0
        for r in feats.itertuples():
            grid = decode_pnm(raw[r.media_id])
            hist = np.histogram(grid, bins=16, range=(0, 256))[0] / grid.size
            assert np.allclose(np.array(r.embedding), hist, atol=1e-6)


class TestPngDecoder:
    """Real stdlib-zlib PNG decoder: all 5 scanline filters, gray/RGB
    color types, and the full Spark feature pipeline over PNG bytes."""

    def test_roundtrip_every_filter_type(self):
        from streetview_naturevisibility_spark.operators.multimodal import (
            decode_png,
            encode_png_gray,
        )

        rng = np.random.RandomState(11)
        for ft in [0, 1, 2, 3, 4, None]:  # None = per-row cycling
            g = rng.randint(0, 256, (13, 29)).astype(np.uint8)
            assert (decode_png(encode_png_gray(g, filter_type=ft)) == g).all()

    def test_rgb_decode_channel_mean(self):
        """Hand-built color-type-2 PNG (filter 0 rows): the decoder
        must inflate, strip filter bytes, and average the channels."""
        import struct
        import zlib

        from streetview_naturevisibility_spark.operators.multimodal import decode_png

        h, w = 4, 5
        rng = np.random.RandomState(5)
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        raw = b"".join(b"\x00" + rgb[r].tobytes() for r in range(h))

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        assert (decode_png(png) == rgb.mean(axis=2).astype(np.uint8)).all()

    def test_rejects_unsupported(self):
        from streetview_naturevisibility_spark.operators.multimodal import decode_png

        with pytest.raises(ValueError):
            decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
        with pytest.raises(ValueError):
            decode_png(b"JUNK")

    def test_image_features_over_png_media(self, spark):
        """kind=png media through the same mapInPandas pipeline: the
        embedding must equal the histogram of the REAL decoded grid
        (i.e. the known synth gradient, not the payload-hash fake)."""
        from streetview_naturevisibility_spark.operators.multimodal import (
            image_features,
            synth_png,
        )

        rows = [(i, "image", bytearray(synth_png(i)), "image/png", 24, 16, None) for i in range(40)]
        media = spark.createDataFrame(
            rows,
            "media_id long, kind string, payload binary, mime string, "
            "width int, height int, duration_ms int",
        )
        feats = image_features(media).orderBy("media_id").toPandas()
        assert len(feats) == 40
        yy, xx = np.mgrid[0:16, 0:24]
        for r in feats.itertuples():
            exp_grid = ((xx * 7 + yy * 13 + int(r.media_id) * 31) % 256).astype(np.uint8)
            hist = np.histogram(exp_grid, bins=16, range=(0, 256))[0] / exp_grid.size
            assert np.allclose(np.array(r.embedding), hist, atol=1e-6)


class TestJpegCodec:
    def test_uniform_roundtrip_exact(self):
        import numpy as np

        from streetview_naturevisibility_spark.functions.jpegcodec import (
            decode_jpeg,
            encode_jpeg,
        )

        img = np.full((16, 24), 128, dtype=np.uint8)
        assert np.array_equal(decode_jpeg(encode_jpeg(img)), img)

    def test_psnr_bounds_and_shapes(self):
        import numpy as np

        from streetview_naturevisibility_spark.functions.jpegcodec import (
            decode_jpeg,
            encode_jpeg,
        )

        def psnr(a, b):
            mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
            return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)

        rng = np.random.RandomState(0)
        yy, xx = np.mgrid[0:19, 0:29]
        gray = ((yy * 7 + xx * 3) % 256).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(gray))
        assert out.shape == gray.shape and psnr(gray, out) > 40
        rgb = np.stack(
            [(yy * 5) % 200 + 20, (xx * 6) % 180 + 30, ((yy + xx) * 4) % 160 + 40],
            axis=-1,
        ).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(rgb))
        assert out.shape == rgb.shape and psnr(rgb, out) > 38
        noise = rng.randint(0, 256, (24, 24), dtype=np.uint8)
        assert psnr(noise, decode_jpeg(encode_jpeg(noise))) > 30
        for shape in ((1, 1), (8, 1), (3, 40)):
            im = rng.randint(0, 256, shape, dtype=np.uint8)
            assert decode_jpeg(encode_jpeg(im)).shape == im.shape

    def test_rejections(self):
        import struct

        import numpy as np
        import pytest as _pt

        from streetview_naturevisibility_spark.functions.jpegcodec import (
            decode_jpeg,
            encode_jpeg,
        )

        with _pt.raises(ValueError):
            decode_jpeg(b"\x89PNG\r\n")
        # progressive SOF2 must be rejected, not faked
        seg = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
        prog = b"\xff\xd8\xff\xc2" + struct.pack(">H", len(seg) + 2) + seg + b"\xff\xd9"
        with _pt.raises(ValueError, match="progressive"):
            decode_jpeg(prog)
        # truncated entropy data
        full = encode_jpeg(np.full((16, 16), 77, dtype=np.uint8))
        with _pt.raises(ValueError):
            decode_jpeg(full[: len(full) // 2])

    def test_media_pipeline_over_jpeg(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from streetview_naturevisibility_spark.operators.multimodal import (
            decode_image,
            image_features,
            synth_jpeg,
        )

        rows = [
            (i, "image", bytearray(synth_jpeg(i)), "image/jpeg", 24, 16, None)
            for i in range(30)
        ]
        media = spark.createDataFrame(
            rows,
            "media_id: long, kind: string, payload: binary, mime: string, "
            "width: int, height: int, duration_ms: int",
        )
        a = image_features(media).orderBy("media_id").collect()
        b = image_features(media).orderBy("media_id").collect()
        assert [r.asDict() for r in a] == [r.asDict() for r in b]
        # decoded mean tracks the true pre-encode grayscale mean
        yy, xx = np.mgrid[0:16, 0:24]
        img0 = np.stack(
            [(yy * 7 + xx * 3) % 256, (yy * 5 + xx * 11) % 256, (yy * 3 + xx * 13) % 256],
            axis=-1,
        ).astype(np.uint8)
        want = np.round(img0.mean(axis=-1)).astype(np.uint8).mean()
        got = decode_image(synth_jpeg(0), 24, 16).mean()
        assert abs(got - want) < 3.0


class TestMp4Container:
    def test_mux_demux_byte_exact(self):
        from streetview_naturevisibility_spark.functions.mp4box import (
            encode_mp4,
            extract_frames,
            mp4_samples,
        )

        samples = [bytes([i]) * (10 + 3 * i) for i in range(7)]
        mp4 = encode_mp4(samples, sample_dur_ms=500)
        got = mp4_samples(mp4)
        assert len(got) == 7
        for i, (off, size, t) in enumerate(got):
            assert mp4[off : off + size] == samples[i]
            assert t == 500.0 * i
        fr = extract_frames(mp4, every_ms=1000)
        assert [t for _, _, t in fr] == [0.0, 1000.0, 2000.0, 3000.0]
        assert fr[1][1] == samples[2]

    def test_malformed_rejected(self):
        import pytest as _pt

        from streetview_naturevisibility_spark.functions.mp4box import mp4_samples

        with _pt.raises(ValueError):
            mp4_samples(b"\x00\x00\x00\x08abcdjunk")
        with _pt.raises(ValueError):
            mp4_samples(b"\x00\x00\x00\x0cftypisom")  # no moov

    def test_spark_frame_sampling_real_bytes(self, spark):
        from streetview_naturevisibility_spark.functions.mp4box import mp4_samples
        from streetview_naturevisibility_spark.operators.multimodal import (
            decode_image,
            synth_mp4,
            video_frame_features,
        )

        rows = [
            (i, "video", bytearray(synth_mp4(i)), "video/mp4", 8, 8, 3000)
            for i in range(10)
        ]
        media = spark.createDataFrame(
            rows,
            "media_id: long, kind: string, payload: binary, mime: string, "
            "width: int, height: int, duration_ms: int",
        )
        out = video_frame_features(media, every_ms=1000).orderBy(
            "media_id", "frame_idx"
        ).collect()
        # 6 frames at 500ms span 0..2500ms; sampling every 1000ms keeps
        # t in {0,1000,2000} = 3 frames per video
        assert len(out) == 30
        # the features are of the REAL frame bytes from the container
        payload = synth_mp4(3)
        s0 = mp4_samples(payload)[0]
        want = decode_image(payload[s0[0] : s0[0] + s0[1]], 0, 0)
        got = [r for r in out if r.media_id == 3 and r.frame_idx == 0][0]
        assert got.codec == "mjpeg" and got.t_ms == 0.0
        assert got.mean_luma == np.float32(want.mean())


class TestCodecEdgeCases:
    def test_jpeg_fill_bytes_before_marker(self):
        """T.81 B.1.1.2: runs of 0xFF fill bytes may pad before any
        marker code — the decoder must skip them, not parse 0xFF as a
        segment marker (review finding)."""
        import numpy as np

        from streetview_naturevisibility_spark.functions.jpegcodec import (
            decode_jpeg,
            encode_jpeg,
        )

        img = ((np.mgrid[0:16, 0:24][0] * 9 + 31) % 256).astype(np.uint8)
        payload = encode_jpeg(img)
        base = decode_jpeg(payload)
        # insert fill bytes right after SOI, in front of the next marker
        padded = payload[:2] + b"\xff\xff\xff" + payload[2:]
        assert np.array_equal(decode_jpeg(padded), base)

    def test_mp4_zero_timescale_is_valueerror(self):
        """A malformed mdhd with timescale=0 must surface as ValueError
        (the module's malformed-stream policy), not ZeroDivisionError."""
        import struct

        import pytest as _pt

        from streetview_naturevisibility_spark.functions.mp4box import (
            encode_mp4,
            mp4_samples,
        )

        payload = bytearray(encode_mp4([b"x" * 10, b"y" * 10]))
        p = bytes(payload).find(b"mdhd")
        assert p > 0
        # version-0 mdhd: tag(4) + ver/flags(4) + ctime(4) + mtime(4)
        # -> timescale at tag+16
        assert payload[p + 16 : p + 20] == struct.pack(">I", 1000)
        payload[p + 16 : p + 20] = struct.pack(">I", 0)
        with _pt.raises(ValueError, match="timescale"):
            mp4_samples(bytes(payload))


class TestMjpegVideoDecode:
    def test_uniform_frames_decode_to_planted_constant(self, spark):
        """MJPEG end-to-end: mux uniform-luma JPEG frames, extract via
        the real sample tables, decode via the real T.81 codec — the
        decoded grid must be EXACTLY the planted constant (uniform
        grids are DC-only and roundtrip exactly for all 256 values)."""
        import numpy as np

        rows = [
            (i, "video", bytearray(mm.synth_mp4(i, uniform=True)), "video/mp4",
             None, None, 3000)
            for i in range(8)
        ]
        media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        out = mm.video_frame_features(media, every_ms=1000).toPandas()
        assert (out["codec"] == "mjpeg").all()
        assert len(out) == 8 * 3  # 6 frames @500ms sampled at 0/1000/2000
        for r in out.itertuples():
            k = int(r.t_ms // 500)
            want = mm.frame_luma(r.media_id, k)
            assert abs(r.mean_luma - want) < 1e-6
            assert r.std_luma == 0.0

    def test_gradient_frames_match_direct_jpeg_decode(self, spark):
        import numpy as np

        from streetview_naturevisibility_spark.functions.jpegcodec import decode_jpeg
        from streetview_naturevisibility_spark.functions.mp4box import extract_frames

        payload = mm.synth_mp4(4)
        media = spark.createDataFrame(
            [(4, "video", bytearray(payload), "video/mp4", None, None, 3000)],
            mm.MEDIA_SCHEMA,
        )
        out = (
            mm.video_frame_features(media, every_ms=1000)
            .orderBy("frame_idx")
            .toPandas()
        )
        want = [
            (float(decode_jpeg(fb).mean()), float(decode_jpeg(fb).std()))
            for _, fb, _ in extract_frames(payload, 1000)
        ]
        assert len(out) == len(want)
        for r, (wm, ws) in zip(out.itertuples(), want):
            assert abs(r.mean_luma - wm) < 1e-4 and abs(r.std_luma - ws) < 1e-4

    def test_fake_path_only_for_non_jpeg(self, spark, media):
        out = mm.video_frame_features(media, every_ms=1000).toPandas()
        by_codec = out.groupby(out["media_id"] % 12 == 11)["codec"].unique()
        assert list(by_codec[True]) == ["fake"]
        assert list(by_codec[False]) == ["mjpeg"]

    def test_determinism_across_partitioning(self, spark, media):
        a = mm.video_frame_features(media).orderBy("media_id", "frame_idx").toPandas()
        b = (
            mm.video_frame_features(media.repartition(7))
            .orderBy("media_id", "frame_idx")
            .toPandas()
        )
        assert a.equals(b)

    def test_undecodable_jpeg_frame_falls_back_to_fake(self, spark):
        """A frame with the JPEG SOI signature but a non-baseline
        stream (progressive SOF2) must take the documented fake path,
        not fail the Spark task (review finding)."""
        import struct

        from streetview_naturevisibility_spark.functions.mp4box import encode_mp4

        seg = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
        prog = (
            b"\xff\xd8\xff\xc2" + struct.pack(">H", len(seg) + 2) + seg + b"\xff\xd9"
        )
        payload = encode_mp4([prog, prog], sample_dur_ms=500)
        media = spark.createDataFrame(
            [(1, "video", bytearray(payload), "video/mp4", None, None, 1000)],
            mm.MEDIA_SCHEMA,
        )
        out = mm.video_frame_features(media, every_ms=1000).toPandas()
        assert len(out) == 1 and (out["codec"] == "fake").all()

    def test_truncated_jpeg_frame_falls_back_to_fake(self, spark):
        """A baseline JPEG frame truncated mid-scan (ending in a bare
        0xFF after the fill-byte skip) must also take the fake path —
        the from-scratch codec does raw byte indexing, so malformed
        streams can surface as IndexError/struct.error and the
        dispatch site must treat them like ValueError (review
        finding)."""
        from streetview_naturevisibility_spark.functions.mp4box import (
            encode_mp4,
            extract_frames,
        )

        good = mm.synth_mp4(4)
        fb = extract_frames(good, 1000)[0][1]
        trunc = fb[: len(fb) // 2]
        if not trunc.endswith(b"\xff"):
            trunc += b"\xff"
        payload = encode_mp4([trunc, trunc], sample_dur_ms=500)
        media = spark.createDataFrame(
            [(3, "video", bytearray(payload), "video/mp4", None, None, 1000)],
            mm.MEDIA_SCHEMA,
        )
        out = mm.video_frame_features(media, every_ms=1000).toPandas()
        assert len(out) == 1 and (out["codec"] == "fake").all()

    def test_null_duration_non_container_payload(self, spark):
        """NULL duration_ms + non-MP4 payload: one fake frame, no
        NaN-to-int crash (review finding)."""
        media = spark.createDataFrame(
            [(2, "video", bytearray(b"opaque-bytes"), "video/x-opaque",
              None, None, None)],
            mm.MEDIA_SCHEMA,
        )
        out = mm.video_frame_features(media, every_ms=1000).toPandas()
        assert len(out) == 1 and out["codec"].iloc[0] == "fake"


class TestPngPropertyRoundtrip:
    """Hypothesis property tests: any uint8 grid, any filter type,
    gray and RGB — encode -> decode must be the identity."""

    def test_gray_random_shapes(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=25, deadline=None)
        @given(
            st.integers(min_value=1, max_value=20),
            st.integers(min_value=1, max_value=20),
            st.sampled_from([0, 1, 2, 3, 4, None]),
            st.integers(min_value=0, max_value=2**32 - 1),
        )
        def case(h, w, ft, seed):
            rng = np.random.RandomState(seed)
            g = rng.randint(0, 256, (h, w)).astype(np.uint8)
            assert np.array_equal(mm.decode_png(mm.encode_png_gray(g, ft)), g)

        case()

    def test_rgb_random_shapes(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=25, deadline=None)
        @given(
            st.integers(min_value=1, max_value=16),
            st.integers(min_value=1, max_value=16),
            st.sampled_from([0, 1, 2, 3, 4, None]),
            st.integers(min_value=0, max_value=2**32 - 1),
        )
        def case(h, w, ft, seed):
            rng = np.random.RandomState(seed)
            rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            out = mm.decode_png_channels(mm.encode_png_rgb(rgb, ft))
            assert np.array_equal(out, rgb)

        case()
