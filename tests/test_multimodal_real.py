"""Real-format multimodal decode: BMP and WAV payloads built
byte-by-byte HERE (independent of the operator's parser) must decode
to exactly the pixels/samples they were built from, through the full
Spark mapInPandas path. Covers the format's actual corner cases: BMP
4-byte row padding, bottom-up vs top-down row order, 24 vs 32 bpp,
WAV 8-bit unsigned vs 16-bit signed PCM, odd-sized (word-padded)
chunks, and the degrade-never-guess contract for non-decodable
payloads."""

from __future__ import annotations

import struct

import numpy as np
import pytest


def make_bmp(pixels_bgr: np.ndarray, bpp: int = 24, top_down: bool = False) -> bytes:
    """Build an uncompressed BI_RGB BMP from an (h, w, 3) uint8 BGR
    grid — straight from the public format spec, sharing no code with
    the operator under test."""
    h, w, _ = pixels_bgr.shape
    nch = bpp // 8
    row_size = ((bpp * w + 31) // 32) * 4
    rows = []
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        row = bytearray()
        for x in range(w):
            b, g, r = pixels_bgr[y, x]
            row += bytes([b, g, r] + ([0] if nch == 4 else []))
        row += b"\x00" * (row_size - len(row))
        rows.append(bytes(row))
    pix = b"".join(rows)
    pix_off = 14 + 40
    height_field = -h if top_down else h
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, height_field, 1, bpp, 0, len(pix), 2835, 2835, 0, 0
    )
    hdr = struct.pack("<2sIHHI", b"BM", pix_off + len(pix), 0, 0, pix_off)
    return hdr + dib + pix


def make_wav(
    frames: np.ndarray, rate: int = 8000, bits: int = 16, extra_chunk: bool = False
) -> bytes:
    """Build a RIFF/WAVE PCM payload from an (n, channels) int array.
    extra_chunk inserts an odd-length LIST chunk before fmt to force
    the word-aligned chunk walk."""
    n, ch = frames.shape
    if bits == 16:
        data = frames.astype("<i2").tobytes()
    else:
        data = (frames + 128).astype(np.uint8).tobytes()
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, bits)
    chunks = b""
    if extra_chunk:
        body = b"INFO\x00"  # 5 bytes -> odd, needs a pad byte
        chunks += b"LIST" + struct.pack("<I", len(body)) + body + b"\x00"
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def blob_df(spark, blobs: list[bytes]):
    return spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)], "doc_id long, blob binary"
    )


class TestBmpDecode:
    def test_exact_geometry_and_channel_means(self, spark):
        from ursa_major_choir_etl_spark.operators.multimodal import decode_bmp_stats

        rng = np.random.RandomState(7)
        # width 3 -> row size 9 pads to 12: exercises the padding path
        grids = [
            rng.randint(0, 256, (5, 3, 3), dtype=np.uint8),
            rng.randint(0, 256, (2, 8, 3), dtype=np.uint8),
        ]
        out = {
            r["doc_id"]: r
            for r in decode_bmp_stats(
                blob_df(spark, [make_bmp(g) for g in grids])
            ).collect()
        }
        for i, g in enumerate(grids):
            r = out[i]
            assert r["valid"] and (r["width"], r["height"]) == (
                g.shape[1],
                g.shape[0],
            )
            assert r["n_pixels"] == g.shape[0] * g.shape[1]
            want = g.astype(np.float64).mean(axis=(0, 1))
            got = np.array([r["mean_b"], r["mean_g"], r["mean_r"]])
            assert np.allclose(got, want, atol=1e-12)

    def test_top_down_and_32bpp_agree_with_bottom_up_24bpp(self):
        from ursa_major_choir_etl_spark.operators.multimodal import _decode_bmp_one

        rng = np.random.RandomState(11)
        g = rng.randint(0, 256, (6, 4, 3), dtype=np.uint8)
        variants = [
            make_bmp(g, bpp=24, top_down=False),
            make_bmp(g, bpp=24, top_down=True),
            make_bmp(g, bpp=32, top_down=False),
        ]
        # the decoder behind decode_bmp_stats must reproduce the SAME
        # original pixel grid from all three encodings
        for blob in variants:
            w, h, _, px = _decode_bmp_one(blob)
            assert (w, h) == (4, 6)
            assert px.tobytes() == g.tobytes()

    def test_non_bmp_degrades_to_invalid_row(self, spark):
        from ursa_major_choir_etl_spark.operators.multimodal import decode_bmp_stats

        junk = [b"not an image at all", b"BM" + b"\x00" * 10]
        rows = decode_bmp_stats(blob_df(spark, junk)).collect()
        assert [r["valid"] for r in rows] == [False, False]
        assert all(r["width"] is None and r["mean_r"] is None for r in rows)


class TestWavDecode:
    def test_16bit_stereo_exact_rms_and_peak(self, spark):
        from ursa_major_choir_etl_spark.operators.multimodal import (
            decode_wav_features,
        )

        t = np.arange(400)
        left = (3000 * np.sin(2 * np.pi * t / 50)).astype(np.int32)
        right = (-1500 * np.cos(2 * np.pi * t / 25)).astype(np.int32)
        frames = np.stack([left, right], axis=1)
        r = decode_wav_features(
            blob_df(spark, [make_wav(frames, rate=44100, bits=16)])
        ).collect()[0]
        assert r["valid"]
        assert (r["sample_rate"], r["channels"], r["bits_per_sample"]) == (
            44100,
            2,
            16,
        )
        assert r["n_frames"] == 400
        f64 = frames.astype(np.float64)
        assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(f64 * f64))), rel=0)
        assert r["peak"] == int(np.max(np.abs(frames)))

    def test_8bit_mono_and_word_padded_chunk_walk(self, spark):
        from ursa_major_choir_etl_spark.operators.multimodal import (
            decode_wav_features,
        )

        frames = np.array([[-128], [0], [127], [5], [-5]], dtype=np.int32)
        blob = make_wav(frames, rate=8000, bits=8, extra_chunk=True)
        r = decode_wav_features(blob_df(spark, [blob])).collect()[0]
        assert r["valid"] and r["bits_per_sample"] == 8 and r["channels"] == 1
        assert r["n_frames"] == 5 and r["peak"] == 128
        f64 = frames.astype(np.float64)
        assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(f64 * f64))), rel=0)

    def test_non_wav_degrades_to_invalid_row(self, spark):
        from ursa_major_choir_etl_spark.operators.multimodal import (
            decode_wav_features,
        )

        rows = decode_wav_features(
            blob_df(spark, [b"RIFFxxxxNOPE", b""])
        ).collect()
        assert [r["valid"] for r in rows] == [False, False]


class TestDecodeRoundTripProperties:
    """Generative round-trip: ANY pixel grid / PCM signal, built into
    a valid file by the spec-following builders above, must decode
    back exactly. Spark-free — the property targets the parser kernel
    itself (_decode_bmp_one/_decode_wav_one), which the mapInPandas
    operators wrap verbatim."""

    def test_bmp_round_trip_exact(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from ursa_major_choir_etl_spark.operators.multimodal import (
            _decode_bmp_one,
        )

        @settings(max_examples=60, deadline=None)
        @given(
            w=st.integers(1, 9),
            h=st.integers(1, 7),
            bpp=st.sampled_from([24, 32]),
            top_down=st.booleans(),
            seed=st.integers(0, 2**31 - 1),
        )
        def check(w, h, bpp, top_down, seed):
            g = np.random.RandomState(seed).randint(
                0, 256, (h, w, 3), dtype=np.uint8
            )
            dec = _decode_bmp_one(make_bmp(g, bpp=bpp, top_down=top_down))
            assert dec is not None
            dw, dh, dbpp, px = dec
            assert (dw, dh, dbpp) == (w, h, bpp)
            assert np.array_equal(px, g)

        check()

    def test_wav_round_trip_exact(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from ursa_major_choir_etl_spark.operators.multimodal import (
            _decode_wav_one,
        )

        @settings(max_examples=60, deadline=None)
        @given(
            n=st.integers(1, 200),
            ch=st.integers(1, 3),
            bits=st.sampled_from([8, 16]),
            extra=st.booleans(),
            seed=st.integers(0, 2**31 - 1),
        )
        def check(n, ch, bits, extra, seed):
            rng = np.random.RandomState(seed)
            lo, hi = (-128, 128) if bits == 8 else (-32768, 32768)
            frames = rng.randint(lo, hi, (n, ch)).astype(np.int32)
            dec = _decode_wav_one(
                make_wav(frames, rate=16000, bits=bits, extra_chunk=extra)
            )
            assert dec is not None
            rate, dch, dbits, got = dec
            assert (rate, dch, dbits) == (16000, ch, bits)
            assert np.array_equal(got, frames)

        check()
