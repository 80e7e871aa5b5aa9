"""FLAC codec tests (round 12).

Three independence layers:
- a stream hand-assembled byte-by-byte from the format spec in THIS
  file (own CRC implementations, no encoder/decoder helpers) decodes
  to the exact hand-chosen samples;
- encoder round-trips assert against the closed-form sample function,
  not against anything the decoder computed;
- random bit-flips over full streams must NEVER yield wrong samples —
  the CRC-8 / CRC-16 / STREAMINFO-MD5 triple guard either rejects the
  stream or the flip was in a byte that provably doesn't affect audio.
"""

from __future__ import annotations

import hashlib
import random
import struct

from ursa_major_choir_etl_spark.operators.multimodal import (
    _crc8_flac,
    _crc16_flac,
    _decode_flac_one,
    _FlacBitReader,
    _FlacBitWriter,
    _flac_sample,
    synth_flac_blob,
)


def _crc8(data: bytes) -> int:  # reimplemented here, not imported
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _hand_built_constant_stream() -> bytes:
    """Mono 8-bit 8000 Hz, one 4-sample frame, CONSTANT subframe with
    value 5 — every byte placed by hand from the spec."""
    streaminfo = (
        struct.pack(">HH", 4, 4)  # min/max blocksize
        + b"\x00" * 6  # min/max framesize unknown
        # rate=8000 (20b) | ch-1=0 (3b) | bits-1=7 (5b) | total=4 (36b)
        + bytes([0x01, 0xF4, 0x00, 0x70, 0x00, 0x00, 0x00, 0x04])
        + hashlib.md5(b"\x05\x05\x05\x05").digest()
    )
    assert len(streaminfo) == 34
    header = bytes(
        [
            0xFF,
            0xF8,  # sync 11111111111110, reserved 0, fixed blocksize
            0x60,  # blocksize code 0110 (8-bit at end), rate code 0000
            0x02,  # channels code 0000, sample size 001 (8b), reserved
            0x00,  # frame number 0
            0x03,  # blocksize - 1
        ]
    )
    header += bytes([_crc8(header)])
    subframe = bytes([0x00, 0x05])  # CONSTANT type, value 5
    frame = header + subframe
    frame += struct.pack(">H", _crc16(frame))
    return (
        b"fLaC" + bytes([0x80]) + struct.pack(">I", 34)[1:] + streaminfo + frame
    )


class TestHandBuiltStream:
    def test_decodes_to_exact_samples(self):
        dec = _decode_flac_one(_hand_built_constant_stream())
        assert dec is not None
        rate, ch, bits, frames = dec
        assert (rate, ch, bits) == (8000, 1, 8)
        assert frames == [[5], [5], [5], [5]]

    def test_wrong_header_crc_rejected(self):
        blob = bytearray(_hand_built_constant_stream())
        blob[4 + 4 + 34 + 6] ^= 0xFF  # the CRC-8 byte itself
        assert _decode_flac_one(bytes(blob)) is None

    def test_wrong_md5_rejected(self):
        blob = bytearray(_hand_built_constant_stream())
        blob[4 + 4 + 18] ^= 0x01  # first MD5 byte in STREAMINFO
        assert _decode_flac_one(bytes(blob)) is None


class TestEncoderRoundTrip:
    def test_all_subset_shapes_reconstruct_exactly(self):
        for d in range(60):  # covers verbatim/fixed1/fixed2 x 8/16 x 1/2ch
            dec = _decode_flac_one(synth_flac_blob(d))
            if d % 10 == 7:
                assert dec is None
                continue
            rate, ch, bits, frames = dec
            assert rate == 8000 + (d % 4) * 1000
            assert ch == 1 + d % 2
            assert bits == (8 if d % 5 == 0 else 16)
            assert len(frames) == 16 + d % 16
            for t, fr in enumerate(frames):
                for c, s in enumerate(fr):
                    assert s == _flac_sample(d, t, c, bits)

    def test_bit_flips_never_yield_wrong_samples(self):
        rnd = random.Random(12)
        checked = 0
        for _ in range(200):
            d = rnd.randrange(200)
            if d % 10 == 7:
                continue
            blob = bytearray(synth_flac_blob(d))
            blob[rnd.randrange(len(blob))] ^= 1 << rnd.randrange(8)
            dec = _decode_flac_one(bytes(blob))
            if dec is None:
                checked += 1
                continue
            rate, ch, bits, frames = dec
            want = [
                [_flac_sample(d, t, c, bits) for c in range(ch)]
                for t in range(16 + d % 16)
            ]
            assert frames == want  # flip hit a don't-care byte
            checked += 1
        assert checked > 150


class TestBitLevelPrimitives:
    def test_crcs_match_published_check_values(self):
        """CRC-8/SMBUS and CRC-16/UMTS (the FLAC frame CRCs) give their
        catalogued check values on "123456789", and agree with this
        file's own implementations on random data."""
        assert _crc8_flac(b"123456789") == 0xF4
        assert _crc16_flac(b"123456789") == 0xFEE8
        rnd = random.Random(3)
        for n in range(64):
            data = bytes(rnd.randrange(256) for _ in range(n))
            assert _crc8_flac(data) == _crc8(data)
            assert _crc16_flac(data) == _crc16(data)

    def test_bit_writer_and_reader_roundtrip(self):
        """Fixed-width fields, two's-complement fields and unary codes
        written MSB-first read back unchanged, across byte boundaries
        and an alignment pad."""
        rnd = random.Random(5)
        fields = []
        for _ in range(300):
            kind = rnd.choice(["unsigned", "signed", "unary"])
            bits = rnd.randrange(1, 33)
            if kind == "unsigned":
                value = rnd.randrange(1 << bits)
            elif kind == "signed":
                value = rnd.randrange(-(1 << (bits - 1)), 1 << (bits - 1))
            else:
                value = rnd.randrange(40)
            fields.append((kind, bits, value))
        w = _FlacBitWriter()
        for kind, bits, value in fields:
            if kind == "unary":
                w.write_unary(value)
            else:
                w.write(value, bits)
        w.align()
        w.write(0xA5, 8)
        r = _FlacBitReader(bytes(w.buf))
        for kind, bits, value in fields:
            if kind == "unary":
                got = r.read_unary()
            elif kind == "signed":
                got = r.read_signed(bits)
            else:
                got = r.read(bits)
            assert got == value, (kind, bits)
        r.align()
        assert r.read(8) == 0xA5 and r.byte_pos() == len(w.buf)


class TestSparkPath:
    def test_decode_flac_features_mixed_batch(self, spark):
        from ursa_major_choir_etl_spark.operators import multimodal

        docs = spark.range(0, 40).select(
            multimodal.F.col("id").alias("doc_id")
        )
        rows = {
            r["doc_id"]: r
            for r in multimodal.decode_flac_features(
                multimodal.with_synth_blob(docs, "flac")
            ).collect()
        }
        assert len(rows) == 40
        for d, r in rows.items():
            if d % 10 == 7:
                assert r["valid"] is False and r["rms"] is None
                continue
            assert r["valid"] is True
            assert r["sample_rate"] == 8000 + (d % 4) * 1000
            bits = 8 if d % 5 == 0 else 16
            nf, ch = 16 + d % 16, 1 + d % 2
            assert (r["bits_per_sample"], r["n_frames"]) == (bits, nf)
            ss = [
                _flac_sample(d, t, c, bits)
                for t in range(nf)
                for c in range(ch)
            ]
            assert r["peak"] == max(abs(s) for s in ss)
            want_rms = (sum(s * s for s in ss) / len(ss)) ** 0.5
            assert abs(r["rms"] - want_rms) < 1e-9


class TestAdversarialRobustness:
    """Round-13 hardening (ADVICE r12): a corrupt stream must DEGRADE
    to None, never crash the mapInPandas task. The specific reported
    crash: a single subframe-header bit flip that pushes wasted-bits
    to >= the bit depth drove read_signed into a negative shift
    (ValueError) before the CRC-16 could reject; FIXED reconstruction
    could also overflow struct.pack('<h') in the MD5 check."""

    def test_every_single_bit_flip_decodes_or_degrades(self):
        # EXHAUSTIVE single-bit flips over a few small blobs: each
        # result is either None or the exact true samples. No
        # exception may escape (the bug class ADVICE r12 reported).
        # d=95 pins the reported crash: flipping bit 0 of byte 50
        # (the wasted-bits flag of a subframe header) made the old
        # decoder call read_signed with eff <= 0 -> ValueError
        # ('negative shift count') before the CRC-16 could reject.
        for d in (0, 2, 13, 95):
            blob = bytearray(synth_flac_blob(d))
            bits = 8 if d % 5 == 0 else 16
            want = [
                [_flac_sample(d, t, c, bits) for c in range(1 + d % 2)]
                for t in range(16 + d % 16)
            ]
            for byte in range(len(blob)):
                for bit in range(8):
                    blob[byte] ^= 1 << bit
                    dec = _decode_flac_one(bytes(blob))
                    assert dec is None or dec[3] == want, (d, byte, bit)
                    blob[byte] ^= 1 << bit

    def test_random_multibyte_corruption_never_crashes(self):
        rnd = random.Random(13)
        for _ in range(300):
            d = rnd.randrange(200)
            blob = bytearray(synth_flac_blob(d))
            for _ in range(rnd.randint(1, 6)):
                blob[rnd.randrange(len(blob))] = rnd.randrange(256)
            dec = _decode_flac_one(bytes(blob))  # must not raise
            if dec is not None and d % 10 != 7:
                bits = 8 if d % 5 == 0 else 16
                want = [
                    [
                        _flac_sample(d, t, c, bits)
                        for c in range(1 + d % 2)
                    ]
                    for t in range(16 + d % 16)
                ]
                assert dec[3] == want

    def test_truncated_and_garbage_prefixes_degrade(self):
        blob = synth_flac_blob(3)
        for cut in range(len(blob)):
            assert _decode_flac_one(blob[:cut]) is None
        assert _decode_flac_one(b"\xff" * 64) is None
        assert _decode_flac_one(b"") is None
