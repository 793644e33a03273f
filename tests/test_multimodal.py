"""Codec round-trips for the self-contained multimodal decoders:
PNG (encode/decode incl. non-zero scanline filters), PCM16 WAV, the
CSV1 video container, baseline JPEG and the resize kernel; any other
mime raises at the decode seam."""

import struct
import zlib

import numpy as np
import pytest

from crawlspark import multimodal as M


class TestPng:
    def test_rgb_roundtrip(self):
        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
        assert np.array_equal(M.decode_png(M.encode_png(px)), px)

    def test_gray_roundtrip(self):
        rng = np.random.default_rng(8)
        px = rng.integers(0, 256, (9, 5), dtype=np.uint8)
        assert np.array_equal(M.decode_png(M.encode_png(px)), px)

    def test_nonzero_filters_decode(self):
        """Hand-build a PNG whose scanlines use filters 1 (Sub),
        2 (Up), 3 (Average) and 4 (Paeth) — the decoder must invert
        each (PNG spec §6)."""
        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
        h, w, ch = px.shape
        stride = w * ch
        flat = px.reshape(h, stride).astype(np.int32)
        lines = []
        for y, f in enumerate((1, 2, 3, 4)):
            cur = flat[y]
            prev = flat[y - 1] if y else np.zeros(stride, dtype=np.int32)
            left = np.concatenate([[0] * ch, cur[:-ch]])
            ul = np.concatenate([[0] * ch, prev[:-ch]]) if y else np.zeros(stride, dtype=np.int32)
            if f == 1:
                enc = (cur - left) % 256
            elif f == 2:
                enc = (cur - prev) % 256
            elif f == 3:
                enc = (cur - (left + prev) // 2) % 256
            else:
                pa = np.abs(prev - ul)
                pb = np.abs(left - ul)
                pc = np.abs(left + prev - 2 * ul)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, prev, ul))
                enc = (cur - pred) % 256
            lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (b"\x89PNG\r\n\x1a\n"
                + M._png_chunk(b"IHDR", ihdr)
                + M._png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
                + M._png_chunk(b"IEND", b""))
        assert np.array_equal(M.decode_png(data), px)

    def test_rejects_non_png(self):
        with pytest.raises(ValueError):
            M.decode_png(b"GIF89a....")


class TestOtherCodecs:
    def test_wav_roundtrip(self):
        t = np.arange(4000)
        samples = (12000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
        out, rate = M.decode_wav(M.encode_wav(samples, 16000))
        assert rate == 16000
        assert np.array_equal(out, samples)

    def test_video_container_and_sampling(self):
        frames = [np.full((8, 8, 3), k * 20, dtype=np.uint8) for k in range(10)]
        blob = M.encode_video(frames)
        decoded = [M.decode_png(p) for p in M.iter_video_frames(blob)]
        assert len(decoded) == 10
        assert all(np.array_equal(a, b) for a, b in zip(decoded, frames))
        feat, n = M.decode_and_featurize(blob, "video", "video/x-csv1",
                                         frame_stride=4)
        assert n == 3  # frames 0, 4, 8
        assert len(feat) == M.FEATURE_DIM

    @pytest.mark.parametrize("kind,mime", [
        ("image", "image/x-portable-pixmap"),
        ("image", "image/gif"),
        ("video", "video/mp4"),
    ])
    def test_mimes_without_a_codec_raise(self, kind, mime):
        """The catalog writes PNG, JPEG, WAV and CSV1 only; any other
        mime raises at the decode seam instead of decoding."""
        px = np.zeros((2, 2, 3), dtype=np.uint8)
        payload = b"P6 2 2 255\n" + px.tobytes()
        with pytest.raises(NotImplementedError):
            M.decode_and_featurize(payload, kind, mime)

    def test_resize_nearest(self):
        px = np.arange(64, dtype=np.uint8).reshape(8, 8)
        t = M.resize_nearest(px, 4, 4)
        assert t.shape == (4, 4)
        assert t[0, 0] == px[0, 0] and t[3, 3] == px[6, 6]


class TestFeatures:
    def test_audio_feature_separates_tones(self):
        t = np.arange(8000)
        low = (10000 * np.sin(2 * np.pi * 100 * t / 16000)).astype(np.int16)
        high = (10000 * np.sin(2 * np.pi * 6000 * t / 16000)).astype(np.int16)
        fl = M.audio_feature(low, 16000)
        fh = M.audio_feature(high, 16000)
        # energy concentrates in different FFT bands
        assert np.argmax(fl[2:10]) < np.argmax(fh[2:10])
        # zero-crossing rate much higher for the high tone
        assert fh[1] > fl[1] * 5

    def test_image_feature_reflects_brightness(self):
        dark = np.zeros((16, 16, 3), dtype=np.uint8)
        bright = np.full((16, 16, 3), 250, dtype=np.uint8)
        fd = M.image_feature(dark)
        fb = M.image_feature(bright)
        assert fb[0] > 0.9 and fd[0] < 0.1          # channel means
        assert fd[6] == 1.0 and fb[13] == 1.0       # histogram extremes


class TestSparkPath:
    """The catalog path: gen_media_pandas → createDataFrame(MEDIA_SCHEMA)
    → extract_features. Round 2's media_features row crashed because the
    generator emitted float64 width/height/duration_ms (int+None upcast);
    this pins the full Spark path, not just the codecs."""

    def test_gen_media_dtypes_accepted_by_schema(self, spark):
        pdf = M.gen_media_pandas(12)
        for col in ("width", "height", "duration_ms"):
            assert str(pdf[col].dtype) == "Int32", col
        df = spark.createDataFrame(pdf, schema=M.MEDIA_SCHEMA)
        assert df.count() == 12

    def test_gen_media_rows_raw_tuples(self):
        # The catalog path must NOT depend on pandas dtype preservation:
        # every metadata value is a Python int or None, never numpy/float.
        for row in M.gen_media_rows(12):
            mid, kind, payload, mime, w, h, dur = row
            assert type(mid) is int
            assert payload is None or isinstance(payload, bytes)
            for v in (w, h, dur):
                assert v is None or type(v) is int, row

    def test_media_features_without_arrow(self, spark):
        """Round-3 red row: the driver's harness runs a vanilla session
        (no Arrow), where createDataFrame(pandas) falls back to
        to_records() and coerces Int32→float64. The catalog query must
        survive that exact config."""
        from crawlspark.queries import QUERIES

        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            rows = QUERIES["media_features"][0](spark, None).limit(3).collect()
            assert len(rows) == 3
        finally:
            spark.conf.set(key, prev)

    def test_media_features_query_runs(self, spark):
        from crawlspark.queries import QUERIES
        rows = QUERIES["media_features"][0](spark, None).collect()
        assert len(rows) == 120
        kinds = {r.kind for r in rows}
        assert kinds == {"image", "audio", "video"}
        # the catalog row flattens the vector to a %.5f string (r5 —
        # the driver's pandas canonicalization cannot sort list cells);
        # still exactly FEATURE_DIM parseable floats per row
        for r in rows:
            assert r.feature is not None
            assert len([float(x) for x in r.feature.split(",")]) \
                == M.FEATURE_DIM
        # videos sample multiple frames; images exactly one
        by_kind = {k: [r for r in rows if r.kind == k] for k in kinds}
        assert all(r.n_frames == 1 for r in by_kind["image"])
        assert all(r.n_frames > 1 for r in by_kind["video"])


class TestJpeg:
    def _img(self, h=24, w=40):
        gx = np.linspace(0, 255, w)
        gy = np.linspace(0, 255, h).reshape(-1, 1)
        return np.stack([np.tile(gx, (h, 1)), np.tile(gy, (1, w)),
                         np.full((h, w), 128.0)], axis=-1).astype(np.uint8)

    def test_rgb_roundtrip_close(self):
        from crawlspark.jpegc import decode_jpeg, encode_jpeg

        img = self._img()
        dec = decode_jpeg(encode_jpeg(img))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert np.abs(dec.astype(float) - img.astype(float)).mean() < 4.0

    def test_gray_roundtrip_close(self):
        from crawlspark.jpegc import decode_jpeg, encode_jpeg

        g = self._img()[..., 0]
        dec = decode_jpeg(encode_jpeg(g))
        assert dec.shape == g.shape
        assert np.abs(dec.astype(float) - g.astype(float)).mean() < 2.0

    def test_odd_dims_pad_and_crop(self):
        from crawlspark.jpegc import decode_jpeg, encode_jpeg

        img = self._img(h=13, w=19)
        assert decode_jpeg(encode_jpeg(img)).shape == (13, 19, 3)

    def test_marker_structure_is_spec_valid(self):
        from crawlspark.jpegc import encode_jpeg

        data = encode_jpeg(self._img())
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        # walk segments up to SOS without desync
        import struct
        pos, seen = 2, []
        while data[pos + 1] != 0xDA:
            assert data[pos] == 0xFF
            seen.append(data[pos + 1])
            (ln,) = struct.unpack(">H", data[pos + 2:pos + 4])
            pos += 2 + ln
        assert 0xC0 in seen and 0xDB in seen and 0xC4 in seen

    @staticmethod
    def _drop(data, marker):
        """The stream without its header segments of one marker type."""
        out, pos = data[:2], 2
        while data[pos + 1] != 0xDA:
            (ln,) = struct.unpack(">H", data[pos + 2:pos + 4])
            if data[pos + 1] != marker:
                out += data[pos:pos + 2 + ln]
            pos += 2 + ln
        return out + data[pos:]

    def test_unsupported_features_raise(self):
        """Shapes the codec does not decode are refused: lossless (SOF3)
        and progressive (SOF2) frames, a subsampled component (the Y
        sampling byte 0x22 a 4:2:0 stream declares) and a restart
        interval (a DRI segment before the scan)."""
        from crawlspark.jpegc import decode_jpeg, encode_jpeg

        data = encode_jpeg(self._img())
        i = data.index(b"\xff\xc0")
        sos = data.index(b"\xff\xda")
        for bad in (data[:i + 1] + b"\xc3" + data[i + 2:],
                    data[:i + 1] + b"\xc2" + data[i + 2:],
                    data[:i + 11] + b"\x22" + data[i + 12:],
                    data[:sos] + b"\xff\xdd\x00\x04\x00\x02" + data[sos:]):
            with pytest.raises(NotImplementedError):
                decode_jpeg(bad)

    def test_corrupt_streams_raise_value_error(self):
        """A broken stream raises ValueError, not whatever the decoder
        trips on: entropy data cut short after the SOS, a scan with no
        frame header (SOF) before it, a scan whose Huffman (DHT) or
        quantization (DQT) tables were never declared, and a scan that
        leaves out a frame component."""
        from crawlspark.jpegc import decode_jpeg, encode_jpeg

        data = encode_jpeg(self._img())
        sos = data.index(b"\xff\xda")
        for bad in (data[:sos + 20], self._drop(data, 0xC0),
                    self._drop(data, 0xC4), self._drop(data, 0xDB),
                    data[:sos + 5] + b"\x09" + data[sos + 6:]):
            with pytest.raises(ValueError):
                decode_jpeg(bad)

    def test_dispatch_and_feature_parity_with_png(self):
        """A JPEG of the same image featurizes ~like its PNG (lossy
        but the 14-dim stats stay close) through the real seam."""
        img = self._img()
        fp, _ = M.decode_and_featurize(M.encode_png(img), "image", "image/png")
        from crawlspark.jpegc import encode_jpeg

        fj, n = M.decode_and_featurize(encode_jpeg(img), "image", "image/jpeg")
        assert n == 1
        assert max(abs(a - b) for a, b in zip(fp[:6], fj[:6])) < 0.05
