"""Round-4: REAL multimodal codecs (24-bit BMP, PCM WAV) with no external
libraries, verified analytically — constructed pixels/waveforms roundtrip
through real file bytes and the Spark feature stages recover the known
ground truth."""

import math
import tracemalloc

import numpy as np
import pytest

from pyspark.sql import functions as F

from poppy_spark.spark.multimodal import (
    decode_bmp,
    decode_image,
    decode_wav,
    encode_bmp,
    encode_wav,
    extract_audio_features,
    extract_media_features,
    resize_nearest,
)


class TestBmp:
    def test_roundtrip_exact(self):
        rng = np.random.default_rng(3)
        for h, w in [(1, 1), (3, 5), (16, 16), (7, 13)]:  # odd widths: padding
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert (decode_bmp(encode_bmp(px)) == px).all()

    def test_known_file_structure(self):
        px = np.zeros((2, 2, 3), dtype=np.uint8)
        px[0, 0] = [255, 0, 0]  # top-left red
        raw = encode_bmp(px)
        assert raw[:2] == b"BM"
        # bottom-up storage: the LAST row in the file is the TOP image row,
        # BGR order -> blue=0, green=0, red=255
        assert raw[-8:-5] == bytes([0, 0, 255])
        back = decode_bmp(raw)
        assert tuple(back[0, 0]) == (255, 0, 0)

    def test_validation(self):
        with pytest.raises(ValueError):
            decode_bmp(b"nope")
        with pytest.raises(ValueError):
            decode_bmp(b"BM" + b"\0" * 100)  # bpp 0

    def test_resize_nearest(self):
        img = np.arange(16, dtype=np.uint8).reshape(4, 4)
        small = resize_nearest(img, 2, 2)
        assert small.shape == (2, 2)
        assert small[0, 0] == img[0, 0] and small[1, 1] == img[2, 2]
        up = resize_nearest(img, 8, 8)
        assert up.shape == (8, 8) and up[0, 0] == img[0, 0]

    def test_decode_image_bmp_luma(self):
        # pure white -> luma 1.0; pure black -> 0.0
        white = np.full((4, 4, 3), 255, dtype=np.uint8)
        plane = decode_image(encode_bmp(white), 4, 4)
        assert plane.shape == (4, 4)
        assert np.allclose(plane, 1.0, atol=1e-3)


class TestWav:
    def test_sine_features_analytic(self):
        rate, freq, amp, dur = 16_000, 440.0, 0.5, 1.0
        t = np.arange(int(rate * dur)) / rate
        raw = encode_wav(amp * np.sin(2 * math.pi * freq * t), rate)
        x, r = decode_wav(raw)
        assert r == rate and x.size == rate
        # RMS of a sine = A / sqrt(2); ZCR = 2f/fs
        assert np.sqrt((x ** 2).mean()) == pytest.approx(amp / math.sqrt(2), rel=1e-3)
        zcr = np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))
        assert zcr == pytest.approx(2 * freq / rate, rel=0.01)

    def test_stereo_averages_to_mono(self):
        import io as _io
        import wave as _wave

        left = (np.ones(100) * 0.5 * 32767).astype("<i2")
        right = (np.ones(100) * -0.5 * 32767).astype("<i2")
        inter = np.empty(200, dtype="<i2")
        inter[0::2], inter[1::2] = left, right
        out = _io.BytesIO()
        with _wave.open(out, "wb") as f:
            f.setnchannels(2)
            f.setsampwidth(2)
            f.setframerate(8000)
            f.writeframes(inter.tobytes())
        x, r = decode_wav(out.getvalue())
        assert x.size == 100 and abs(x.mean()) < 1e-4  # L/R cancel


class TestPooledFeatures:
    """``_pooled_features``, the decode-and-pool kernel of
    ``extract_media_features``."""

    @pytest.mark.filterwarnings("ignore::RuntimeWarning")  # the reference's empty cells
    def test_equals_per_plane_means(self, monkeypatch):
        """Bit-equal to each plane's per-cell ``.mean()`` across chunk
        edges, mixed shapes, planes too small for 8 cells and NULL rows."""
        from poppy_spark.spark import multimodal

        monkeypatch.setattr(multimodal, "_POOL_CHUNK_ROWS", 16)
        rng = np.random.default_rng(5)
        shapes = [(int(rng.integers(1, 30)), int(rng.integers(1, 30))) for _ in range(70)]
        bufs = [
            None if i % 9 == 0 else encode_bmp(rng.integers(0, 256, (h, w, 3)).astype(np.uint8))
            for i, (h, w) in enumerate(shapes)
        ]
        ws, hs = [w for _, w in shapes], [h for h, _ in shapes]
        got = {}
        for idxs, pooled in multimodal._pooled_features(bufs, ws, hs, allow_fake=False):
            got.update(zip(idxs, pooled))
        assert sorted(got) == [i for i, b in enumerate(bufs) if b is not None]
        for i, vals in got.items():
            plane = decode_image(bufs[i], ws[i], hs[i])
            want = [
                float(c.mean())
                for row in np.array_split(plane, 8, axis=0)
                for c in np.array_split(row, 8, axis=1)
            ]
            np.testing.assert_array_equal(vals, want)

    def test_peak_memory_within_one_chunk(self):
        """Five chunks of 32x32 planes peak within one chunk's bound (its
        planes held once as a list and once stacked, the pooled rows of it
        and of the chunk before), not the whole input's planes."""
        from poppy_spark.spark.multimodal import _POOL_CHUNK_ROWS, _pooled_features

        n = 5 * _POOL_CHUNK_ROWS
        bufs = [i.to_bytes(8, "little") for i in range(n)]
        per_row = 32 * 32 * 4 + 256  # a plane's bytes and its ndarray object
        bound = _POOL_CHUNK_ROWS * (2 * per_row + 2 * 64 * 8) + (1 << 20)
        tracemalloc.start()
        try:
            rows = sum(len(idxs) for idxs, _ in _pooled_features(bufs, [32] * n, [32] * n, True))
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert rows == n
        assert peak <= bound, peak
        assert n * per_row > bound


class TestSparkStages:
    def test_image_features_real_bmp(self, spark):
        """Real BMPs through the Arrow feature stage: a half-black /
        half-white image's 8x8 mean-pool grid must read 0 on one side and
        1 on the other."""
        px = np.zeros((32, 32, 3), dtype=np.uint8)
        px[:, 16:] = 255
        rows = [(1, bytearray(encode_bmp(px)), "image", 32, 32, None)]
        df = spark.createDataFrame(
            rows, "id long, media binary, media_type string, media_w int, "
            "media_h int, media_ms int"
        )
        out = extract_media_features(df, allow_fake=False).collect()[0]
        feat = np.array(out["feat"]).reshape(8, 8)
        assert np.allclose(feat[:, :4], 0.0, atol=1e-3)
        assert np.allclose(feat[:, 4:], 1.0, atol=1e-3)

    def test_audio_features_stage(self, spark):
        rate = 8000
        t = np.arange(rate // 2) / rate  # 500 ms
        quiet = 0.1 * np.sin(2 * math.pi * 100 * t)
        loud = 0.8 * np.sin(2 * math.pi * 1000 * t)
        rows = [
            (1, bytearray(encode_wav(quiet, rate)), "audio", None, None, 500),
            (2, bytearray(encode_wav(loud, rate)), "audio", None, None, 500),
            (3, None, "audio", None, None, None),
        ]
        df = spark.createDataFrame(
            rows, "id long, media binary, media_type string, media_w int, "
            "media_h int, media_ms int"
        )
        got = {r["id"]: r for r in extract_audio_features(df).collect()}
        assert got[1]["audio_ms"] == 500 and got[2]["audio_ms"] == 500
        assert got[2]["audio_rms"] > 5 * got[1]["audio_rms"]
        assert got[2]["audio_zcr"] > got[1]["audio_zcr"]  # 1 kHz vs 100 Hz
        assert got[1]["audio_zcr"] == pytest.approx(2 * 100 / rate, rel=0.02)
        assert got[3]["audio_rms"] is None  # NULL passes through


class TestAudioFingerprint:
    def _tone(self, freq, rate=16_000, sec=0.5, amp=0.5, rng=None):
        import math
        t = np.arange(int(rate * sec)) / rate
        x = amp * np.sin(2 * math.pi * freq * t)
        if rng is not None:
            x = x + rng.normal(0, 0.01, x.shape)
        return np.clip(x, -1, 1)

    def test_gain_invariance(self):
        from poppy_spark.spark.multimodal import audio_fingerprint64
        x = self._tone(440)
        # positive gain rescales every band energy by the same factor:
        # the delta-sign bits cannot move
        assert audio_fingerprint64(x) == audio_fingerprint64(0.3 * x)

    def test_noise_stays_near_tone_far(self):
        from poppy_spark.spark.multimodal import audio_fingerprint64
        rng = np.random.default_rng(5)
        # a sweep has direction-ful band deltas (a steady tone's deltas sit
        # at the noise floor); small additive noise flips at most a few bits
        rate = 16_000
        t = np.arange(rate // 2) / rate
        sweep = 0.5 * np.sin(2 * np.pi * (200 + 4000 * t) * t)
        a = audio_fingerprint64(sweep)
        b = audio_fingerprint64(np.clip(sweep + rng.normal(0, 0.005, sweep.shape), -1, 1))
        c = audio_fingerprint64(sweep[::-1].copy())  # reversed sweep: deltas invert
        ham_ab = bin((a ^ b) & ((1 << 64) - 1)).count("1")
        ham_ac = bin((a ^ c) & ((1 << 64) - 1)).count("1")
        assert ham_ab <= 6
        assert ham_ac > 20

    def test_short_clip_none(self):
        from poppy_spark.spark.multimodal import audio_fingerprint64
        assert audio_fingerprint64(np.zeros(5)) is None

    def test_audio_near_pairs_spark(self, spark):
        from poppy_spark.spark.multimodal import audio_near_pairs, encode_wav
        rng = np.random.default_rng(9)
        rate = 16_000
        t = np.arange(rate // 2) / rate
        sweep = 0.5 * np.sin(2 * np.pi * (200 + 4000 * t) * t)
        near = np.clip(sweep + rng.normal(0, 0.005, sweep.shape), -1, 1)
        other = 0.5 * np.sin(2 * np.pi * (4000 - 3800 * t) * t)
        rows = [
            (1, bytearray(encode_wav(sweep, rate))),
            (2, bytearray(encode_wav(near, rate))),
            (3, bytearray(encode_wav(other, rate))),
            (4, None),
            (5, bytearray(b"not a wav at all")),
            (6, bytearray(b"RIFF\x10\x00\x00\x00WAVEtruncated-garbage")),
        ]
        df = spark.createDataFrame(rows, "id bigint, media binary")
        pairs = {
            (r["id_a"], r["id_b"])
            for r in audio_near_pairs(df, max_hamming=6).collect()
        }
        assert (1, 2) in pairs
        assert all(3 not in p for p in pairs)
