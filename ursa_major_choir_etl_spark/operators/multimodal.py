"""Multimodal column plumbing (north-star set).

Images/audio/video are opaque ``binary`` columns with typed metadata.
The decode / feature-extract steps are Arrow-batched ``mapInPandas``
transforms — the real 100 TB shape: the binary payload never leaves
the executor, batches flow through Arrow, output schemas are explicit
StructTypes.

Codec coverage is honest and explicit:

- REAL, no codec library needed: uncompressed BI_RGB BMP
  (``decode_bmp_stats``), RIFF/WAVE PCM (``decode_wav_features``),
  baseline-sequential JPEG
  (``encode_jpeg_baseline``/``decode_jpeg_stats`` — full ITU-T.81
  marker/Huffman/IDCT path in struct+numpy), and PNG
  (``encode_png``/``decode_png_stats`` — stdlib zlib inflate +
  scanline unfilter, CRC-verified). All verified against
  independently-built files and closed-form pixel/sample functions
  in tests and the q25x decode value gates.
- STUBS, clearly marked (``decode_image_metadata``,
  ``embed_blob_stub``): formats whose decode genuinely needs codec
  libraries the package does not depend on (progressive JPEG, MP3/AAC
  DSP, video codecs). The Spark plumbing
  around them — schema, Arrow batching, 1->N fan-out — is
  production-real and swapping the inner kernel changes nothing
  else.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "doc_id long, n_bytes int, format string, width int, height int, n_channels int"
)


def with_fake_blob(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a deterministic binary column (the utf-8 text bytes —
    stand-in for an image payload)."""
    return df.select(F.col(id_col), F.encode(F.col(text_col), "utf-8").alias("blob"))


def decode_image_metadata(
    blobs: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Arrow-batched decode: mapInPandas over (id, blob) -> metadata.

    STUB metadata: a fixed ``fake/rgb8`` format and a geometry derived
    from the payload length, the swap point for a real decoder (e.g.
    PIL.Image.open where codecs are installed). Per-batch pandas work,
    no per-row Python dispatch; partitioning of the input is preserved
    (narrow transform)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Vectorized over the batch: the only per-row Python is
            # len() on the payload. Building a dict per row and then
            # pd.DataFrame(list_of_dicts) re-infers dtypes row-at-a-time
            # and was the dominant cost of this stage (~3x the Arrow
            # transfer at sf0.1). A REAL decoder stays per-row (codecs
            # are), but the metadata assembly around it should still be
            # columnar like this.
            n = pdf[blob_col].map(len).astype("int32")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "n_bytes": n,
                    "format": "fake/rgb8",
                    "width": (64 + (n % 64)).astype("int32"),
                    "height": (64 + ((n // 64) % 64)).astype("int32"),
                    "n_channels": 3,
                }
            )

    return blobs.mapInPandas(decode, schema=IMAGE_META_SCHEMA)


def embed_blob_stub(
    blobs: DataFrame,
    dims: int = 16,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Blob -> embedding plumbing (the decode->embed->index pipeline's
    middle stage): L2-normalized byte-value histogram as a
    deterministic stand-in for a model forward pass. Output
    (id, embedding array<float>) feeds the similarity/ANN operators
    unchanged. Vectorized per Arrow batch — one numpy bincount per
    row, no model dispatch."""
    import numpy as np

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for blob in pdf[blob_col].values:
                arr = np.frombuffer(blob, dtype=np.uint8)
                hist = np.bincount(arr // (256 // dims), minlength=dims).astype(
                    np.float64
                )
                norm = np.linalg.norm(hist)
                vecs.append((hist / norm if norm > 0 else hist).astype(np.float32))
            yield pd.DataFrame({id_col: pdf[id_col].values, "embedding": vecs})

    return blobs.mapInPandas(embed, schema=f"{id_col} long, embedding array<float>")


# ---------------------------------------------------------------------------
# REAL decoders — formats parseable with stdlib struct + numpy alone.
#
# JPEG/PNG/MP3/MP4 genuinely need codec libraries this container does
# not ship, so those stay behind the stubs above. Uncompressed BMP
# (BITMAPINFOHEADER, BI_RGB 24/32bpp) and RIFF/WAVE PCM are public,
# fixed-layout formats a few struct.unpack calls decode exactly —
# so THESE decode paths are real, not fakes: real pixels, real PCM
# samples, verified against independently-constructed files in tests.
# The Spark shape is identical to the stubs (narrow Arrow-batched
# mapInPandas, binary in -> typed columns out, no shuffle), which is
# the point: swapping fake for real decode changes only the inner
# kernel, exactly as the stub docstrings promise.
# ---------------------------------------------------------------------------

BMP_DECODE_SCHEMA = (
    "doc_id long, valid boolean, width int, height int, bpp int,"
    " n_pixels long, mean_b double, mean_g double, mean_r double"
)


def _decode_bmp_one(blob: bytes):
    """Parse one uncompressed BI_RGB 24/32bpp BMP; returns the decoded
    (width, height, bpp, HxWx3 BGR uint8 array) or None if the payload
    is not a BMP this decoder supports (magic/compression/bpp check —
    never a guess)."""
    import struct

    import numpy as np

    if len(blob) < 54 or blob[:2] != b"BM":
        return None
    pix_off = struct.unpack_from("<I", blob, 10)[0]
    hdr_size = struct.unpack_from("<I", blob, 14)[0]
    if hdr_size < 40:  # BITMAPCOREHEADER etc. — out of scope
        return None
    width, height = struct.unpack_from("<ii", blob, 18)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    compression = struct.unpack_from("<I", blob, 30)[0]
    if planes != 1 or compression != 0 or bpp not in (24, 32) or width <= 0:
        return None
    top_down = height < 0
    height = abs(height)
    nch = bpp // 8
    row_size = ((bpp * width + 31) // 32) * 4  # rows pad to 4 bytes
    need = pix_off + row_size * height
    if height == 0 or len(blob) < need:
        return None
    rows = (
        np.frombuffer(blob, dtype=np.uint8, count=row_size * height, offset=pix_off)
        .reshape(height, row_size)[:, : width * nch]
        .reshape(height, width, nch)
    )
    if not top_down:
        rows = rows[::-1]  # BMP stores bottom-up by default
    return width, height, bpp, rows[:, :, :3]  # BGR (alpha dropped)


def decode_bmp_stats(
    blobs: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL image decode: per-payload BMP parse -> geometry + exact
    per-channel means (doubles over the true pixel grid). Non-BMP or
    malformed payloads yield valid=false with NULL stats — degrade,
    never guess. One numpy reshape per row inside an Arrow batch."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in (
                    id_col,
                    "valid",
                    "width",
                    "height",
                    "bpp",
                    "n_pixels",
                    "mean_b",
                    "mean_g",
                    "mean_r",
                )
            }
            for rid, blob in zip(pdf[id_col].values, pdf[blob_col].values):
                dec = _decode_bmp_one(bytes(blob))
                out[id_col].append(rid)
                if dec is None:
                    out["valid"].append(False)
                    for k in ("width", "height", "bpp", "n_pixels"):
                        out[k].append(None)
                    for k in ("mean_b", "mean_g", "mean_r"):
                        out[k].append(None)
                    continue
                w, h, bpp, px = dec
                means = px.astype(np.float64).mean(axis=(0, 1))
                out["valid"].append(True)
                out["width"].append(w)
                out["height"].append(h)
                out["bpp"].append(bpp)
                out["n_pixels"].append(w * h)
                out["mean_b"].append(float(means[0]))
                out["mean_g"].append(float(means[1]))
                out["mean_r"].append(float(means[2]))
            yield pd.DataFrame(out)

    return blobs.mapInPandas(decode, schema=BMP_DECODE_SCHEMA)


WAV_DECODE_SCHEMA = (
    "doc_id long, valid boolean, sample_rate int, channels int,"
    " bits_per_sample int, n_frames long, rms double, peak int"
)


def _decode_wav_one(blob: bytes):
    """Parse one RIFF/WAVE PCM payload (fmt chunk walked properly, 8
    or 16 bit) -> (sample_rate, channels, bits, frames int32 array
    shaped [n_frames, channels]) or None when not decodable PCM."""
    import struct

    import numpy as np

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        csz = struct.unpack_from("<I", blob, pos + 4)[0]
        body = blob[pos + 8 : pos + 8 + csz]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or channels < 1 or bits not in (8, 16):
        return None
    if bits == 16:
        samples = np.frombuffer(
            data, dtype="<i2", count=(len(data) // 2 // channels) * channels
        ).astype(np.int32)
    else:  # 8-bit WAV PCM is unsigned, centered at 128
        samples = (
            np.frombuffer(
                data, dtype=np.uint8, count=(len(data) // channels) * channels
            ).astype(np.int32)
            - 128
        )
    if samples.size == 0:
        return None
    return rate, channels, bits, samples.reshape(-1, channels)


def decode_wav_features(
    blobs: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL audio decode: RIFF/WAVE PCM parse -> format fields + exact
    RMS / peak over the true samples. Non-WAV payloads yield
    valid=false rows."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {
                k: []
                for k in (
                    id_col,
                    "valid",
                    "sample_rate",
                    "channels",
                    "bits_per_sample",
                    "n_frames",
                    "rms",
                    "peak",
                )
            }
            for rid, blob in zip(pdf[id_col].values, pdf[blob_col].values):
                dec = _decode_wav_one(bytes(blob))
                cols[id_col].append(rid)
                if dec is None:
                    cols["valid"].append(False)
                    for k in (
                        "sample_rate",
                        "channels",
                        "bits_per_sample",
                        "n_frames",
                        "rms",
                        "peak",
                    ):
                        cols[k].append(None)
                    continue
                rate, ch, bits, frames = dec
                f64 = frames.astype(np.float64)
                cols["valid"].append(True)
                cols["sample_rate"].append(rate)
                cols["channels"].append(ch)
                cols["bits_per_sample"].append(bits)
                cols["n_frames"].append(frames.shape[0])
                cols["rms"].append(float(np.sqrt(np.mean(f64 * f64))))
                cols["peak"].append(int(np.max(np.abs(frames))))
            yield pd.DataFrame(cols)

    return blobs.mapInPandas(decode, schema=WAV_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic synthetic payload builders.
#
# The grading tables carry no binary columns, so the multimodal value
# oracles manufacture their own: each doc_id maps to a REAL, spec-
# conformant BMP / WAV whose every pixel / sample is a closed-form
# integer function of (doc_id, position) — which a SQL oracle can
# recompute without parsing a single byte. The decode queries then run
# blob -> real decoder -> stats with a full value-hash gate: the
# encoder exercises padding, bottom-up vs top-down rows, 24/32bpp,
# 8/16-bit PCM, multi-channel interleave, and unknown RIFF chunks; the
# oracle certifies the decoder's arithmetic end-to-end. A slice of ids
# gets a deliberately undecodable payload to pin the degrade-never-
# guess contract (valid=false, NULL stats) in the same hash.
# ---------------------------------------------------------------------------


def synth_bmp_blob(doc_id: int) -> bytes:
    """Spec-built BMP for ``doc_id``: w=1+id%7, h=1+id%5,
    32bpp when id%3==0 else 24bpp, TOP-DOWN rows when id%7==0,
    channel c of decoded pixel (y, x) = (id*7 + y*11 + x*13 + c*17)
    % 256 (c: 0=B 1=G 2=R; 32bpp alpha is filler the decoder drops).
    ids with id%10==3 get a non-BMP payload (valid=false path)."""
    import struct

    d = int(doc_id)
    if d % 10 == 3:
        return b"JUNK" + bytes([(d + k) % 256 for k in range(16)])
    w, h = 1 + d % 7, 1 + d % 5
    bpp = 32 if d % 3 == 0 else 24
    top_down = d % 7 == 0
    nch = bpp // 8
    row_size = ((bpp * w + 31) // 32) * 4
    rows = bytearray()
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        row = bytearray()
        for x in range(w):
            for c in range(3):
                row.append((d * 7 + y * 11 + x * 13 + c * 17) % 256)
            if nch == 4:
                row.append((d + x + y) % 256)
        row += b"\x00" * (row_size - len(row))
        rows += row
    pix_off = 54
    header = b"BM" + struct.pack("<IHHI", pix_off + len(rows), 0, 0, pix_off)
    dib = struct.pack(
        "<IiiHHIIiiII",
        40,
        w,
        -h if top_down else h,
        1,
        bpp,
        0,
        len(rows),
        2835,
        2835,
        0,
        0,
    )
    return bytes(header + dib + rows)


def synth_wav_blob(doc_id: int) -> bytes:
    """Spec-built RIFF/WAVE PCM for ``doc_id``: rate=8000+(id%4)*1000,
    channels=1+id%2, 8-bit when id%5==0 else 16-bit, frames=16+id%16,
    decoded sample (frame t, channel c) =
    ((id*31 + t*7 + c*3) % 2001) - 1000   [16-bit]
    ((id*31 + t*7 + c*3) % 256) - 128     [8-bit, stored unsigned].
    A LIST chunk precedes data (the walker must skip unknown chunks).
    ids with id%10==7 get a RIFF-but-not-WAVE payload."""
    import struct

    d = int(doc_id)
    if d % 10 == 7:
        return b"RIFF" + struct.pack("<I", 4) + b"JUNK"
    rate = 8000 + (d % 4) * 1000
    ch = 1 + d % 2
    bits = 8 if d % 5 == 0 else 16
    nf = 16 + d % 16
    data = bytearray()
    for t in range(nf):
        for c in range(ch):
            v = d * 31 + t * 7 + c * 3
            if bits == 16:
                data += struct.pack("<h", (v % 2001) - 1000)
            else:
                data.append(v % 256)
    fmt = struct.pack(
        "<HHIIHH", 1, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits
    )
    note = b"synthetic fixture"  # odd length: exercises word alignment
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"LIST" + struct.pack("<I", len(note)) + note
    if len(note) % 2:
        chunks += b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + bytes(data)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def with_synth_blob(
    df: DataFrame, kind: str, id_col: str = "doc_id"
) -> DataFrame:
    """(id) -> (id, blob) with the deterministic spec-built payload of
    ``kind`` ('bmp' | 'wav' | 'jpeg' | 'png' | 'flac') — Arrow-batched, one
    narrow projection,
    no shuffle; the binary-ingest stage of the decode value oracles."""
    builder = {
        "bmp": synth_bmp_blob,
        "wav": synth_wav_blob,
        "jpeg": synth_jpeg_blob,
        "png": synth_png_blob,
        "flac": synth_flac_blob,
    }[kind]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].values
            yield pd.DataFrame(
                {id_col: ids, "blob": [builder(int(i)) for i in ids]}
            )

    return df.select(id_col).mapInPandas(
        gen, schema=f"{id_col} long, blob binary"
    )


# ---------------------------------------------------------------------------
# REAL JPEG (baseline sequential DCT) — pure struct + numpy, no codec
# library. The public ITU-T.81 bitstream layout: marker segments (DQT/
# SOF0/DHT/DRI/SOS), canonical Huffman entropy coding with 0xFF byte
# stuffing and RSTn restart markers, zigzag + dequant + 8x8 IDCT,
# h/v-factor chroma upsampling, JFIF YCbCr->RGB. Progressive (SOF2),
# arithmetic coding, and 12-bit precision are out of scope and decode
# to None — degrade, never guess. A matching baseline ENCODER lives
# here too: it is the fixture generator for the decode value gates
# (constant 8x8 tiles survive quant-1 DCT EXACTLY, so a SQL oracle can
# recompute decoded stats closed-form) and a real operator in its own
# right (pixels -> .jpg payload for a multimodal sink).
# ---------------------------------------------------------------------------

#: zigzag index -> natural (row-major) index, ITU-T.81 Figure A.6
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

#: flat-length canonical Huffman specs (counts-by-length, symbols).
#: DC: 12 categories at 4 bits (Kraft 12/16); AC: EOB + 160 run/size
#: pairs + ZRL, all at 8 bits (Kraft 162/256). Neither assigns the
#: all-ones code. Self-describing via DHT, so any spec-conformant
#: decoder reads them; flat lengths keep encode/decode trivial.
_JPEG_DC_SYMBOLS = tuple(range(12))
_JPEG_AC_SYMBOLS = (
    (0x00,)
    + tuple((r << 4) | s for r in range(16) for s in range(1, 11))
    + (0xF0,)
)


def _jpeg_dct_matrix():
    """Orthonormal 8-point DCT-II matrix M (M @ s @ M.T == ITU FDCT:
    row 0 scales by sqrt(1/8), the rest by 1/2 — S(0,0) = 8 * mean,
    matching (1/4)C(0)C(0)*sum in the spec's normalization)."""
    import numpy as np

    n = np.arange(8)
    m = 0.5 * np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    m[0, :] = 1.0 / (8**0.5)
    return m


def _huff_canonical(counts_by_symbol_lengths):
    """(symbol, length) list -> {(length, code): symbol} via the
    canonical assignment DHT implies (ITU-T.81 Annex C)."""
    code, last_len = 0, 0
    table = {}
    for sym, ln in counts_by_symbol_lengths:
        code <<= ln - last_len
        table[(ln, code)] = sym
        code += 1
        last_len = ln
    return table


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def pad_to_byte(self):
        while self.nbits:
            self.put(1, 1)  # pad with 1-bits per spec


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, nbits: int) -> int:
        while self.nbits < nbits:
            if self.pos >= len(self.data):
                raise EOFError
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= nbits
        v = (self.acc >> self.nbits) & ((1 << nbits) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v


def _huff_decode(reader: _BitReader, table) -> int:
    code, ln = 0, 0
    while ln <= 16:
        code = (code << 1) | reader.read(1)
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _jpeg_huff_specs():
    """Shared (symbol, length) lists + DHT payloads for the flat
    canonical tables used by the encoder (decoders read them from the
    DHT segments, so the bitstream is self-describing)."""
    dc = [(s, 4) for s in _JPEG_DC_SYMBOLS]
    ac = [(s, 8) for s in _JPEG_AC_SYMBOLS]

    def dht_payload(tc: int, th: int, pairs):
        counts = [0] * 16
        for _, ln in pairs:
            counts[ln - 1] += 1
        return bytes([tc << 4 | th]) + bytes(counts) + bytes(
            s for s, _ in pairs
        )

    return dc, ac, dht_payload


def encode_jpeg_baseline(
    pixels,
    quant: int = 1,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """REAL baseline-JPEG encoder (ITU-T.81 sequential DCT): grayscale
    (HxW) or RGB (HxWx3) uint8 -> .jpg bytes. ``quant`` fills the
    whole quantization table (1 = near-lossless: constant 8x8 tiles
    roundtrip EXACTLY, which is what the decode value oracle leans
    on); ``subsample`` emits 4:2:0 chroma; ``restart_interval`` > 0
    emits DRI + RSTn markers. Quantized coefficients are clamped to
    baseline's 10-bit category ceiling."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = px.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
        samp = [(2, 2), (1, 1), (1, 1)] if subsample else [
            (1, 1), (1, 1), (1, 1)
        ]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)

    def comp_plane(plane, sh, sv):
        # pad to MCU grid by edge replication, then box-average down
        # to the component's sampling resolution
        ph, pw = mcus_y * mcu_h, mcus_x * mcu_w
        p = np.pad(
            plane, ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )
        fy, fx = vmax // sv, hmax // sh
        if fy > 1 or fx > 1:
            p = p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        return p

    comps = [comp_plane(p, s[0], s[1]) for p, s in zip(planes, samp)]
    M = _jpeg_dct_matrix()
    dc_pairs, ac_pairs, dht_payload = _jpeg_huff_specs()
    dc_codes = {}
    code, last = 0, 0
    for s, ln in dc_pairs:
        code <<= ln - last
        dc_codes[s] = (code, ln)
        code += 1
        last = ln
    ac_codes = {}
    code, last = 0, 0
    for s, ln in ac_pairs:
        code <<= ln - last
        ac_codes[s] = (code, ln)
        code += 1
        last = ln

    def encode_block(wtr, block, pred):
        coef = M @ (block - 128.0) @ M.T
        q = np.rint(coef / quant).astype(np.int64)
        q = np.clip(q, -1023, 1023)
        zz = [int(q.flat[_JPEG_ZIGZAG[i]]) for i in range(64)]
        diff = zz[0] - pred
        s = _category(diff)
        c, ln = dc_codes[s]
        wtr.put(c, ln)
        if s:
            wtr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for i in range(1, last_nz + 1):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]
                wtr.put(c, ln)
                run -= 16
            s = _category(v)
            c, ln = ac_codes[(run << 4) | s]
            wtr.put(c, ln)
            wtr.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            c, ln = ac_codes[0x00]
            wtr.put(c, ln)
        return zz[0]

    wtr = _BitWriter()
    preds = [0] * len(comps)
    mcu_idx = 0
    rst = 0
    body = bytearray()

    def flush_segment():
        wtr.pad_to_byte()
        body.extend(wtr.out)
        wtr.out = bytearray()

    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                flush_segment()
                body.extend(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) % 8
                preds = [0] * len(comps)
            for ci, (plane, (sh, sv)) in enumerate(zip(comps, samp)):
                for v in range(sv):
                    for u in range(sh):
                        by = (my * sv + v) * 8
                        bx = (mx * sh + u) * 8
                        block = plane[by : by + 8, bx : bx + 8]
                        preds[ci] = encode_block(wtr, block, preds[ci])
            mcu_idx += 1
    flush_segment()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2
        ) + payload

    qtab = bytes([0]) + bytes(
        min(255, quant) for _ in range(64)
    )  # zigzag order, all equal so order is moot
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xDB, qtab)  # DQT, table 0
    ncomp = 1 if gray else 3
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ncomp))
    for ci in range(ncomp):
        sof += bytes([ci + 1, samp[ci][0] << 4 | samp[ci][1], 0])
    out += seg(0xC0, bytes(sof))  # SOF0
    out += seg(0xC4, dht_payload(0, 0, dc_pairs))  # DC table 0
    out += seg(0xC4, dht_payload(1, 0, ac_pairs))  # AC table 0
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])  # Ss, Se, Ah/Al (baseline fixed)
    out += seg(0xDA, bytes(sos))
    out += body
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _decode_jpeg_one(blob: bytes):
    """Parse one baseline-sequential JPEG (SOF0, Huffman, 8-bit) ->
    (width, height, n_components, HxW or HxWx3 uint8 array — grayscale
    luma or RGB) or None when the payload is not a baseline JPEG this
    decoder supports (progressive/arithmetic/12-bit -> None, never a
    guess)."""
    import struct

    import numpy as np

    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    sof = None
    restart_interval = 0
    scan = None
    try:
        while pos + 4 <= len(blob):
            if blob[pos] != 0xFF:
                return None
            marker = blob[pos + 1]
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = struct.unpack_from(">H", blob, pos + 2)
            payload = blob[pos + 4 : pos + 2 + seglen]
            pos += 2 + seglen
            if marker == 0xDB:  # DQT (possibly several tables)
                p = 0
                while p < len(payload):
                    pq, tq = payload[p] >> 4, payload[p] & 15
                    p += 1
                    if pq == 0:
                        vals = np.frombuffer(
                            payload[p : p + 64], dtype=np.uint8
                        ).astype(np.int32)
                        p += 64
                    else:
                        vals = np.frombuffer(
                            payload[p : p + 128], dtype=">u2"
                        ).astype(np.int32)
                        p += 128
                    nat = np.zeros(64, np.int32)
                    nat[list(_JPEG_ZIGZAG)] = vals
                    qtabs[tq] = nat
            elif marker == 0xC4:  # DHT (possibly several tables)
                p = 0
                while p < len(payload):
                    tc, th = payload[p] >> 4, payload[p] & 15
                    counts = payload[p + 1 : p + 17]
                    p += 17
                    pairs = []
                    for ln in range(1, 17):
                        for _ in range(counts[ln - 1]):
                            pairs.append((payload[p], ln))
                            p += 1
                    htabs[(tc, th)] = _huff_canonical(pairs)
            elif marker == 0xC0:  # SOF0 baseline
                prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
                if prec != 8 or nc not in (1, 3):
                    return None
                comps = []
                for ci in range(nc):
                    cid, hv, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                    comps.append((cid, hv >> 4, hv & 15, tq))
                sof = (w, h, comps)
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-baseline frame types: out of scope
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack_from(">H", payload, 0)
            elif marker == 0xDA:  # SOS — entropy data follows
                ns = payload[0]
                stabs = {}
                for si in range(ns):
                    cid, tt = payload[1 + 2 * si], payload[2 + 2 * si]
                    stabs[cid] = (tt >> 4, tt & 15)
                # locate the end of the entropy-coded segment
                end = pos
                while end + 1 < len(blob):
                    if blob[end] == 0xFF and blob[end + 1] not in (
                        0x00,
                        *range(0xD0, 0xD8),
                    ):
                        break
                    end += 1
                scan = (stabs, blob[pos:end])
                pos = end
            # other markers (APPn, COM): skipped via seglen
        if sof is None or scan is None:
            return None
        w, h, comps = sof
        if w == 0 or h == 0:
            return None
        stabs, data = scan
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        if not all(
            hmax % c[1] == 0 and vmax % c[2] == 0 for c in comps
        ):
            return None
        mcu_w, mcu_h = 8 * hmax, 8 * vmax
        mcus_x, mcus_y = -(-w // mcu_w), -(-h // mcu_h)
        planes = [
            np.zeros((mcus_y * c[2] * 8, mcus_x * c[1] * 8), np.float64)
            for c in comps
        ]
        for cid, _, _, tq in comps:
            if tq not in qtabs or cid not in stabs:
                return None
            td, ta = stabs[cid]
            if (0, td) not in htabs or (1, ta) not in htabs:
                return None
        M = _jpeg_dct_matrix()
        # split the stream at restart markers; each segment is
        # unstuffed independently and resets predictors
        segments = []
        seg_start = 0
        i = 0
        while i + 1 < len(data):
            if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7:
                segments.append(data[seg_start:i])
                seg_start = i + 2
                i += 2
            else:
                i += 1
        segments.append(data[seg_start:])
        readers = [
            _BitReader(seg.replace(b"\xff\x00", b"\xff"))
            for seg in segments
        ]
        seg_i = 0
        reader = readers[0]
        preds = [0] * len(comps)
        mcu_idx = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if (
                    restart_interval
                    and mcu_idx
                    and mcu_idx % restart_interval == 0
                ):
                    seg_i += 1
                    if seg_i >= len(readers):
                        return None
                    reader = readers[seg_i]
                    preds = [0] * len(comps)
                for ci, (cid, sh, sv, tq) in enumerate(comps):
                    td, ta = stabs[cid]
                    dct, act = htabs[(0, td)], htabs[(1, ta)]
                    q = qtabs[tq]
                    for v in range(sv):
                        for u in range(sh):
                            zz = np.zeros(64, np.int64)
                            s = _huff_decode(reader, dct)
                            diff = _extend(reader.read(s), s) if s else 0
                            preds[ci] += diff
                            zz[0] = preds[ci]
                            k = 1
                            while k < 64:
                                rs = _huff_decode(reader, act)
                                if rs == 0x00:
                                    break
                                if rs == 0xF0:
                                    k += 16
                                    continue
                                k += rs >> 4
                                if k > 63:
                                    return None
                                zz[k] = _extend(
                                    reader.read(rs & 15), rs & 15
                                )
                                k += 1
                            nat = np.zeros(64, np.float64)
                            nat[list(_JPEG_ZIGZAG)] = zz
                            coef = (nat * q).reshape(8, 8)
                            block = M.T @ coef @ M + 128.0
                            by = (my * sv + v) * 8
                            bx = (mx * sh + u) * 8
                            planes[ci][by : by + 8, bx : bx + 8] = block
                mcu_idx += 1
        full = []
        for (cid, sh, sv, tq), plane in zip(comps, planes):
            up = np.repeat(
                np.repeat(plane, vmax // sv, axis=0), hmax // sh, axis=1
            )
            full.append(up[:h, :w])
        if len(full) == 1:
            out = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
            return w, h, 1, out
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, g, b], axis=2)
        return w, h, 3, np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    except (EOFError, ValueError, IndexError, struct.error):
        return None


JPEG_DECODE_SCHEMA = (
    "doc_id long, valid boolean, width int, height int,"
    " n_components int, n_pixels long, mean_px double"
)


def decode_jpeg_stats(
    blobs: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL JPEG decode: full baseline bitstream parse (Huffman,
    dequant, IDCT, upsample, color transform) -> geometry + exact
    mean over every decoded channel value. Non-JPEG / non-baseline
    payloads yield valid=false with NULL stats."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {
                k: []
                for k in (
                    id_col,
                    "valid",
                    "width",
                    "height",
                    "n_components",
                    "n_pixels",
                    "mean_px",
                )
            }
            for rid, blob in zip(pdf[id_col].values, pdf[blob_col].values):
                dec = _decode_jpeg_one(bytes(blob))
                cols[id_col].append(rid)
                if dec is None:
                    cols["valid"].append(False)
                    for k in ("width", "height", "n_components", "n_pixels"):
                        cols[k].append(None)
                    cols["mean_px"].append(None)
                    continue
                w, h, nc, px = dec
                cols["valid"].append(True)
                cols["width"].append(w)
                cols["height"].append(h)
                cols["n_components"].append(nc)
                cols["n_pixels"].append(w * h)
                cols["mean_px"].append(float(px.astype(np.float64).mean()))
            yield pd.DataFrame(cols)

    return blobs.mapInPandas(decode, schema=JPEG_DECODE_SCHEMA)


def synth_jpeg_blob(doc_id: int) -> bytes:
    """Spec-built baseline JPEG for ``doc_id``: GRAYSCALE image of
    constant 8x8 tiles — w = 8*(1+id%3), h = 8*(1+id%2), tile (by,bx)
    = (id*7 + by*11 + bx*13) % 256 — encoded with quant=1, and with
    restart markers every 2 MCUs when id%4==1. Constant tiles survive
    the DCT+quant roundtrip EXACTLY (all AC are zero; the DC is an
    exact integer), so a SQL oracle recomputes the decoded mean
    closed-form. ids with id%10==6 get a non-JPEG payload."""
    import numpy as np

    d = int(doc_id)
    if d % 10 == 6:
        return b"\x89JNK" + bytes([(d + k) % 256 for k in range(12)])
    bw, bh = 1 + d % 3, 1 + d % 2
    img = np.zeros((8 * bh, 8 * bw), np.uint8)
    for by in range(bh):
        for bx in range(bw):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                d * 7 + by * 11 + bx * 13
            ) % 256
    return encode_jpeg_baseline(
        img, quant=1, restart_interval=2 if d % 4 == 1 else 0
    )


# ---------------------------------------------------------------------------
# REAL PNG — stdlib zlib + struct + numpy (DEFLATE ships with Python;
# no codec library involved). Full chunk walk, CRC verification,
# scanline unfiltering (None/Sub/Up/Average/Paeth), 8-bit gray / RGB /
# RGBA, non-interlaced. PNG is LOSSLESS, so decode is bit-exact by
# construction — the strongest value-oracle surface of the image
# formats here. Interlaced (Adam7) and sub-8-bit depths decode to
# None. The encoder is the fixture generator (it can cycle every
# filter type so the decoder's unfilter paths are all exercised) and
# a real pixels -> .png sink operator.
# ---------------------------------------------------------------------------


def encode_png(pixels, filter_mode: str = "none") -> bytes:
    """REAL PNG encoder: grayscale (HxW), RGB (HxWx3) or RGBA (HxWx4)
    uint8 -> .png bytes. ``filter_mode``: 'none' (filter 0 rows) or
    'cycle' (row r uses filter r % 5 — exercises every unfilter path
    in the decoder; identical pixels either way, PNG is lossless)."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nch = px.shape
    color_type = {1: 0, 3: 2, 4: 6}[nch]
    bpp = nch  # bytes per pixel at bit depth 8
    raw = bytearray()
    prev = np.zeros((w, nch), np.int32)
    for r in range(h):
        row = px[r].astype(np.int32)
        f = (r % 5) if filter_mode == "cycle" else 0
        flat = row.reshape(-1)
        if f == 0:
            enc = flat
        elif f == 1:  # Sub
            left = np.vstack([np.zeros((1, nch), np.int32), row[:-1]])
            enc = (row - left).reshape(-1) % 256
        elif f == 2:  # Up
            enc = (row - prev).reshape(-1) % 256
        elif f == 3:  # Average
            left = np.vstack([np.zeros((1, nch), np.int32), row[:-1]])
            enc = (row - (left + prev) // 2).reshape(-1) % 256
        else:  # Paeth
            left = np.vstack([np.zeros((1, nch), np.int32), row[:-1]])
            ul = np.vstack([np.zeros((1, nch), np.int32), prev[:-1]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = (row - pred).reshape(-1) % 256
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _decode_png_one(blob: bytes):
    """Parse one 8-bit non-interlaced PNG (gray / RGB / RGBA) ->
    (width, height, n_channels, HxWxC uint8) or None when not a PNG
    this decoder supports. Chunk CRCs are verified — corrupt data
    degrades to None, never to silently wrong pixels."""
    import struct
    import zlib

    import numpy as np

    sig = b"\x89PNG\r\n\x1a\n"
    if len(blob) < len(sig) + 12 or blob[: len(sig)] != sig:
        return None
    pos = len(sig)
    ihdr = None
    idat = bytearray()
    try:
        while pos + 12 <= len(blob):
            (clen,) = struct.unpack_from(">I", blob, pos)
            tag = blob[pos + 4 : pos + 8]
            payload = blob[pos + 8 : pos + 8 + clen]
            (crc,) = struct.unpack_from(">I", blob, pos + 8 + clen)
            if zlib.crc32(tag + payload) != crc:
                return None
            pos += 12 + clen
            if tag == b"IHDR":
                w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                    ">IIBBBBB", payload
                )
                if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
                    return None
                nch = {0: 1, 2: 3, 6: 4}.get(ctype)
                if nch is None or w == 0 or h == 0:
                    return None
                ihdr = (w, h, nch)
            elif tag == b"IDAT":
                idat.extend(payload)
            elif tag == b"IEND":
                break
        if ihdr is None or not idat:
            return None
        w, h, nch = ihdr
        raw = zlib.decompress(bytes(idat))
        stride = w * nch
        if len(raw) != h * (stride + 1):
            return None
        out = np.zeros((h, w, nch), np.int32)
        prev = np.zeros((w, nch), np.int32)
        for r in range(h):
            f = raw[r * (stride + 1)]
            line = np.frombuffer(
                raw, np.uint8, stride, r * (stride + 1) + 1
            ).astype(np.int32).reshape(w, nch)
            if f == 0:
                row = line
            elif f == 2:  # Up
                row = (line + prev) % 256
            elif f in (1, 3, 4):  # Sub / Average / Paeth: left-to-right
                row = np.zeros((w, nch), np.int32)
                left = np.zeros(nch, np.int32)
                for x in range(w):
                    up = prev[x]
                    ul = prev[x - 1] if x else np.zeros(nch, np.int32)
                    if f == 1:
                        pred = left
                    elif f == 3:
                        pred = (left + up) // 2
                    else:
                        p = left + up - ul
                        pa = np.abs(p - left)
                        pb = np.abs(p - up)
                        pc = np.abs(p - ul)
                        pred = np.where(
                            (pa <= pb) & (pa <= pc),
                            left,
                            np.where(pb <= pc, up, ul),
                        )
                    row[x] = (line[x] + pred) % 256
                    left = row[x]
            else:
                return None
            out[r] = row
            prev = row
        return w, h, nch, out.astype(np.uint8)
    except (zlib.error, struct.error, IndexError, ValueError):
        return None


PNG_DECODE_SCHEMA = (
    "doc_id long, valid boolean, width int, height int,"
    " n_channels int, n_pixels long, mean_px double"
)


def decode_png_stats(
    blobs: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL PNG decode: zlib inflate + scanline unfilter -> geometry
    + exact mean over every channel value. Non-PNG / interlaced /
    CRC-corrupt payloads yield valid=false with NULL stats."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {
                k: []
                for k in (
                    id_col,
                    "valid",
                    "width",
                    "height",
                    "n_channels",
                    "n_pixels",
                    "mean_px",
                )
            }
            for rid, blob in zip(pdf[id_col].values, pdf[blob_col].values):
                dec = _decode_png_one(bytes(blob))
                cols[id_col].append(rid)
                if dec is None:
                    cols["valid"].append(False)
                    for k in ("width", "height", "n_channels", "n_pixels"):
                        cols[k].append(None)
                    cols["mean_px"].append(None)
                    continue
                w, h, nch, px = dec
                cols["valid"].append(True)
                cols["width"].append(w)
                cols["height"].append(h)
                cols["n_channels"].append(nch)
                cols["n_pixels"].append(w * h)
                cols["mean_px"].append(float(px.astype(np.float64).mean()))
            yield pd.DataFrame(cols)

    return blobs.mapInPandas(decode, schema=PNG_DECODE_SCHEMA)


def synth_png_blob(doc_id: int) -> bytes:
    """Spec-built PNG for ``doc_id``: channels = 1/3/4 by id%3, w =
    2 + id%6, h = 2 + id%4, pixel (y, x) channel c = (id*5 + y*17 +
    x*29 + c*43) % 256, filter types cycling 0-4 across rows (PNG is
    lossless, so decoded pixels equal the closed form EXACTLY no
    matter the filter). ids with id%10==2 get a CRC-corrupted
    payload — the decoder must refuse it, not return wrong pixels."""
    import numpy as np

    d = int(doc_id)
    nch = (1, 3, 4)[d % 3]
    w, h = 2 + d % 6, 2 + d % 4
    y, x, c = np.ogrid[0:h, 0:w, 0:nch]
    px = ((d * 5 + y * 17 + x * 29 + c * 43) % 256).astype(np.uint8)
    blob = encode_png(px.reshape(h, w, nch), filter_mode="cycle")
    if d % 10 == 2:
        b = bytearray(blob)
        b[len(b) // 2] ^= 0x55  # flip one IDAT byte: CRC check must refuse
        return bytes(b)
    return blob


def _sniff_decode(blob: bytes):
    """Magic-sniffed decode to an HxWxC uint8 pixel array: BMP, PNG,
    or baseline JPEG (grayscale promotes to C=1). None when no real
    decoder accepts the payload."""
    if blob[:2] == b"BM":
        dec = _decode_bmp_one(blob)
        if dec is None:
            return None
        _, _, _, px = dec
        return px[:, :, ::-1]  # BGR storage order -> RGB
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        dec = _decode_png_one(blob)
        if dec is None:
            return None
        return dec[3]
    if blob[:2] == b"\xff\xd8":
        dec = _decode_jpeg_one(blob)
        if dec is None:
            return None
        px = dec[3]
        return px[:, :, None] if px.ndim == 2 else px
    return None


def image_dhash(
    blobs: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Perceptual difference-hash over REAL decoded pixels — the
    image-side near-dup fingerprint (the dedup family's visual
    sibling of text fingerprints): decode (BMP/PNG/baseline JPEG,
    magic-sniffed) -> channel-mean luma -> 9x8 nearest-neighbor grid
    -> 64 horizontal gradient signs packed into one BIGINT. Identical
    images hash identically at any encoding; near-identical images
    differ in few bits, so Hamming-banded grouping (the simhash
    machinery) applies downstream unchanged. Undecodable payloads
    yield valid=false, NULL hash."""
    import numpy as np

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, valid, hs = [], [], []
            for rid, blob in zip(pdf[id_col].values, pdf[blob_col].values):
                px = _sniff_decode(bytes(blob))
                ids.append(rid)
                if px is None:
                    valid.append(False)
                    hs.append(None)
                    continue
                luma = px.astype(np.float64).mean(axis=2)
                h, w = luma.shape
                yi = (np.arange(8) * h) // 8
                xi = (np.arange(9) * w) // 9
                grid = luma[np.ix_(yi, xi)]
                bits = (grid[:, 1:] > grid[:, :-1]).reshape(-1)
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                # store as signed 64-bit (Spark LongType)
                if val >= 1 << 63:
                    val -= 1 << 64
                valid.append(True)
                hs.append(val)
            yield pd.DataFrame(
                {id_col: ids, "valid": valid, "dhash": pd.array(hs, dtype="Int64")}
            )

    return blobs.mapInPandas(
        hashes, schema=f"{id_col} long, valid boolean, dhash long"
    )


def image_thumbnail_png(
    blobs: DataFrame,
    out_w: int = 8,
    out_h: int = 8,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """The real thumbnail pipeline, end to end on real codecs: decode
    (BMP/PNG/baseline JPEG) -> nearest-neighbor resize -> encode PNG.
    Output (id, png binary); undecodable inputs are dropped (the
    stats operators are the quarantine surface). PNG out because the
    thumbnail must be LOSSLESS: downstream consumers (dhash, stats,
    training tensors) read exactly the resampled pixels."""
    import numpy as np

    def thumbs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, pngs = [], []
            for rid, blob in zip(pdf[id_col].values, pdf[blob_col].values):
                px = _sniff_decode(bytes(blob))
                if px is None:
                    continue
                h, w = px.shape[:2]
                yi = (np.arange(out_h) * h) // out_h
                xi = (np.arange(out_w) * w) // out_w
                ids.append(rid)
                pngs.append(encode_png(px[np.ix_(yi, xi)]))
            yield pd.DataFrame({id_col: ids, "blob": pngs})

    return blobs.mapInPandas(thumbs, schema=f"{id_col} long, blob binary")


def audio_energy_fingerprint(
    blobs: DataFrame,
    n_windows: int = 16,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Audio near-dup fingerprint over REAL decoded PCM — the audio
    sibling of image_dhash: decode WAV -> per-window integer energy
    (sum of squared samples over ``n_windows`` equal frame windows,
    all channels) -> n-1 rising-energy signs packed into one BIGINT.
    Energy sums are exact integers, so the fingerprint is
    bit-reproducible in SQL; identical recordings hash identically
    and re-encoded/level-shifted copies agree on the energy SHAPE.
    Undecodable payloads yield valid=false, NULL fingerprint."""
    import numpy as np

    def fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, valid, fp = [], [], []
            for rid, blob in zip(pdf[id_col].values, pdf[blob_col].values):
                dec = _decode_wav_one(bytes(blob))
                ids.append(rid)
                if dec is None:
                    valid.append(False)
                    fp.append(None)
                    continue
                _, _, _, frames = dec
                nf = frames.shape[0]
                widx = (np.arange(nf) * n_windows) // nf
                persample = (frames.astype(np.int64) ** 2).sum(axis=1)
                # integer energies (< 2^53): exact in the float64
                # bincount accumulator
                energy = np.bincount(
                    widx, weights=persample, minlength=n_windows
                )
                bits = energy[1:] > energy[:-1]
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                valid.append(True)
                fp.append(val)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "valid": valid,
                    "fingerprint": pd.array(fp, dtype="Int64"),
                }
            )

    return blobs.mapInPandas(
        fps, schema=f"{id_col} long, valid boolean, fingerprint long"
    )


def image_near_dup_pairs(
    blobs: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Image near-duplicate PAIRS, end to end on real codecs: dhash
    every payload, then the Manku pigeonhole block join the simhash
    path uses — 4 x 16-bit bands of the hash, candidates must agree
    on >= 1 band (Hamming <= 3 per 16-bit miss is guaranteed; larger
    ``max_hamming`` keeps the join as a RECALL filter over a verified
    exact Hamming check, the standard trade) — and exact
    bit_count(xor) verification. No all-pairs expansion anywhere:
    candidates are an equi-join on (band_idx, band_value).

    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= threshold.
    """
    hashed = image_dhash(blobs, id_col=id_col, blob_col=blob_col).filter(
        F.col("valid")
    )
    from ursa_major_choir_etl_spark.caching import stage

    hashed = stage(hashed.select(id_col, "dhash"))
    bands = hashed.select(
        F.col(id_col),
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        # bitwiseAND, NOT % 65536: Spark's % follows the
                        # dividend's sign, and shiftrightunsigned(h, 0)
                        # keeps a negative dhash negative — band 0 of a
                        # negative hash would band as low16-65536 while
                        # the same low bits of a non-negative hash band
                        # as low16, so such pairs never equi-join and
                        # the 4x16-bit pigeonhole guarantee breaks
                        # (round-10 ADVICE, high). AND is sign-blind.
                        F.shiftrightunsigned(F.col("dhash"), 16 * b)
                        .bitwiseAND(F.lit(65535))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "dhash", "_b.band_idx", "_b.band_val")
    a = bands.select(
        F.col(id_col).alias("id_a"),
        F.col("dhash").alias("_ha"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("id_b"),
        F.col("dhash").alias("_hb"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ha", "_hb")
        .distinct()
    )
    ham = F.bit_count(F.expr("_ha").bitwiseXOR(F.expr("_hb")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# FLAC (round 12): the one compressed audio codec buildable without
# codec libraries — lossless, stdlib-only (bit ops + hashlib.md5).
# synth_flac_blob is a REAL spec-conformant encoder (RFC 9639 /
# xiph.org format spec): STREAMINFO with the true audio MD5, one frame
# with CRC-8-guarded header and CRC-16-guarded footer, and per-channel
# VERBATIM / FIXED(1) / FIXED(2) subframes with Rice-coded residuals.
# decode_flac_features is the matching GENERAL decoder: it walks any
# metadata blocks, parses every blocksize/rate/sample-size code class,
# supports CONSTANT / VERBATIM / FIXED(0-4) subframes with arbitrary
# Rice partition orders and wasted bits, VERIFIES both CRCs and the
# STREAMINFO MD5 against the reconstructed audio, and degrades to
# valid=false (never guesses) on anything it cannot prove correct.
# Mid/side stereo and LPC subframes are out of the encoder's subset
# and decode as not-decodable by policy (documented, not silent).
# ---------------------------------------------------------------------------


class _FlacBitWriter:
    """MSB-first bit packer (FLAC is big-endian at the bit level)."""

    def __init__(self) -> None:
        self._acc = 0
        self._n = 0
        self.buf = bytearray()

    def write(self, value: int, bits: int) -> None:
        value &= (1 << bits) - 1
        self._acc = (self._acc << bits) | value
        self._n += bits
        while self._n >= 8:
            self._n -= 8
            self.buf.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_unary(self, q: int) -> None:
        for _ in range(q):
            self.write(0, 1)
        self.write(1, 1)

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)


class _FlacBitReader:
    """MSB-first bit reader over bytes; raises IndexError past end."""

    def __init__(self, data: bytes, pos_bytes: int = 0) -> None:
        self.data = data
        self.pos = pos_bytes * 8

    def read(self, bits: int) -> int:
        out = 0
        for _ in range(bits):
            byte = self.data[self.pos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return out

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v >= (1 << (bits - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


def _crc8_flac(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — the frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — the frame CRC."""
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


def _flac_sample(d: int, t: int, c: int, bits: int) -> int:
    """The shared closed-form fixture sample (same function as the WAV
    fixtures, so the SQL oracle replays it without parsing a byte)."""
    v = d * 31 + t * 7 + c * 3
    return (v % 2001) - 1000 if bits == 16 else (v % 256) - 128


def _audio_md5(frames, bits: int) -> bytes:
    """STREAMINFO MD5: the unencoded audio as channel-interleaved
    little-endian SIGNED integers (the spec's definition)."""
    import hashlib
    import struct

    raw = bytearray()
    fmt = "<h" if bits == 16 else "b"
    for frame in frames:
        for s in frame:
            raw += struct.pack(fmt, s)
    return hashlib.md5(bytes(raw)).digest()


def synth_flac_blob(doc_id: int) -> bytes:
    """Spec-built FLAC for ``doc_id``: rate=8000+(id%4)*1000,
    channels=1+id%2, 8-bit when id%5==0 else 16-bit, one frame of
    16+id%16 samples; channel c uses VERBATIM / FIXED(1) / FIXED(2)
    by (id+c)%3, residuals Rice-coded in a single partition. The
    decoded sample function is the WAV fixtures' closed form, so
    _oracle_q256's arithmetic certifies this codec too. ids with
    id%10==7 get a fLaC-but-truncated payload (decode must degrade)."""
    import struct

    d = int(doc_id)
    if d % 10 == 7:
        return b"fLaC" + b"\x00\x00\x00"  # truncated metadata header
    rate = 8000 + (d % 4) * 1000
    ch = 1 + d % 2
    bits = 8 if d % 5 == 0 else 16
    nf = 16 + d % 16
    frames = [
        [_flac_sample(d, t, c, bits) for c in range(ch)] for t in range(nf)
    ]

    # ---- STREAMINFO ----
    si = _FlacBitWriter()
    si.write(nf, 16)  # min blocksize
    si.write(nf, 16)  # max blocksize
    si.write(0, 24)  # min framesize unknown
    si.write(0, 24)  # max framesize unknown
    si.write(rate, 20)
    si.write(ch - 1, 3)
    si.write(bits - 1, 5)
    si.write(nf, 36)  # total samples
    streaminfo = bytes(si.buf) + _audio_md5(frames, bits)
    assert len(streaminfo) == 34

    # ---- frame header ----
    hw = _FlacBitWriter()
    hw.write(0b11111111111110, 14)  # sync
    hw.write(0, 1)  # reserved
    hw.write(0, 1)  # fixed-blocksize stream
    hw.write(0b0111, 4)  # blocksize: 16-bit value-1 at header end
    hw.write(0b0000, 4)  # sample rate: from STREAMINFO
    hw.write(ch - 1, 4)  # independent channels
    hw.write({8: 0b001, 16: 0b100}[bits], 3)
    hw.write(0, 1)  # reserved
    hw.align()
    header = bytes(hw.buf) + b"\x00"  # frame number 0 (UTF-8 coded)
    header += struct.pack(">H", nf - 1)
    header += bytes([_crc8_flac(header)])

    # ---- subframes ----
    bw = _FlacBitWriter()
    for c in range(ch):
        xs = [frames[t][c] for t in range(nf)]
        kind = (d + c) % 3  # 0 verbatim, 1 fixed(1), 2 fixed(2)
        order = 0 if kind == 0 else kind
        bw.write(0, 1)  # padding bit
        if kind == 0:
            bw.write(0b000001, 6)  # VERBATIM
        else:
            bw.write(0b001000 | order, 6)  # FIXED(order)
        bw.write(0, 1)  # no wasted bits
        if kind == 0:
            for s in xs:
                bw.write(s, bits)
            continue
        for s in xs[:order]:  # warmup
            bw.write(s, bits)
        if order == 1:
            res = [xs[t] - xs[t - 1] for t in range(1, nf)]
        else:
            res = [
                xs[t] - 2 * xs[t - 1] + xs[t - 2] for t in range(2, nf)
            ]
        zz = [(r << 1) ^ (r >> 63) if r >= 0 else ((-r) << 1) - 1 for r in res]
        p = max(0, max(zz).bit_length() - 2) if zz and max(zz) else 0
        bw.write(0b00, 2)  # rice method, 4-bit params
        bw.write(0, 4)  # partition order 0: one partition
        bw.write(p, 4)
        for z in zz:
            bw.write_unary(z >> p)
            if p:
                bw.write(z & ((1 << p) - 1), p)
    bw.align()
    frame = header + bytes(bw.buf)
    frame += struct.pack(">H", _crc16_flac(frame))

    return (
        b"fLaC"
        + bytes([0x80])  # last metadata block, type 0 = STREAMINFO
        + struct.pack(">I", 34)[1:]  # 24-bit length
        + streaminfo
        + frame
    )


#: u16 blocksize table for frame-header codes 0001-0101 and 1000-1111.
_FLAC_BLOCKSIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192,
    14: 16384, 15: 32768,
}
_FLAC_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _decode_flac_one(blob: bytes):
    """Parse one FLAC payload -> (rate, channels, bits, frames list of
    per-sample channel lists) or None when not provably decodable.
    Verifies the header CRC-8, the frame CRC-16, AND the STREAMINFO
    MD5 of the reconstructed audio — a corrupt stream degrades, it
    never yields wrong samples. Subset policy: independent channels
    with CONSTANT / VERBATIM / FIXED subframes (any Rice partition
    order, wasted bits honored); mid/side and LPC return None."""
    try:
        if blob[:4] != b"fLaC":
            return None
        pos, streaminfo = 4, None
        while True:
            hdr = blob[pos : pos + 4]
            if len(hdr) < 4:
                return None
            last, btype = hdr[0] >> 7, hdr[0] & 0x7F
            blen = int.from_bytes(hdr[1:4], "big")
            body = blob[pos + 4 : pos + 4 + blen]
            if len(body) < blen:
                return None
            if btype == 0:
                streaminfo = body
            pos += 4 + blen
            if last:
                break
        if streaminfo is None or len(streaminfo) != 34:
            return None
        sr = _FlacBitReader(streaminfo)
        sr.read(16)  # min blocksize
        sr.read(16)  # max blocksize
        sr.read(24)
        sr.read(24)
        rate = sr.read(20)
        ch = sr.read(3) + 1
        bits = sr.read(5) + 1
        total = sr.read(36)
        md5_want = streaminfo[18:34]
        if bits not in (8, 16) or total == 0:
            return None

        frames = []
        while len(frames) < total:
            fstart = pos
            br = _FlacBitReader(blob, pos)
            if br.read(14) != 0b11111111111110 or br.read(1) != 0:
                return None
            br.read(1)  # blocking strategy
            bs_code = br.read(4)
            rate_code = br.read(4)
            ch_code = br.read(4)
            size_code = br.read(3)
            if br.read(1) != 0:
                return None
            # UTF-8 coded frame/sample number: walk its bytes
            lead = br.read(8)
            if lead >= 0x80:
                n_cont = 0
                while lead & (0x40 >> n_cont):
                    n_cont += 1
                for _ in range(n_cont):
                    if br.read(8) & 0xC0 != 0x80:
                        return None
            if bs_code == 0:
                return None
            elif bs_code == 6:
                blocksize = br.read(8) + 1
            elif bs_code == 7:
                blocksize = br.read(16) + 1
            else:
                blocksize = _FLAC_BLOCKSIZES[bs_code]
            if rate_code == 12:
                br.read(8)
            elif rate_code in (13, 14):
                br.read(16)
            elif rate_code == 15:
                return None
            if ch_code >= 8:
                return None  # mid/side: outside the decode subset
            if ch_code + 1 != ch:
                return None
            fbits = bits if size_code == 0 else _FLAC_BITS.get(size_code)
            if fbits != bits:
                return None
            br.align()
            if _crc8_flac(blob[fstart : br.byte_pos()]) != blob[
                br.byte_pos()
            ]:
                return None
            br.read(8)  # consume the header CRC byte

            chans = []
            for _ in range(ch):
                if br.read(1) != 0:
                    return None
                stype = br.read(6)
                wasted = 0
                if br.read(1):
                    wasted = br.read_unary() + 1
                eff = bits - wasted
                if eff <= 0:
                    # wasted-bits >= bit depth is unrepresentable: a
                    # corrupt header, not a decodable subframe —
                    # degrade before read_signed(0) raises.
                    return None
                if stype == 0:  # CONSTANT
                    v = br.read_signed(eff) << wasted
                    xs = [v] * blocksize
                elif stype == 1:  # VERBATIM
                    xs = [
                        br.read_signed(eff) << wasted
                        for _ in range(blocksize)
                    ]
                elif 8 <= stype <= 12:  # FIXED(order)
                    order = stype & 0x07
                    if order > 4:
                        return None
                    warm = [br.read_signed(eff) for _ in range(order)]
                    method = br.read(2)
                    if method > 1:
                        return None
                    pbits = 4 if method == 0 else 5
                    escape = (1 << pbits) - 1
                    po = br.read(4)
                    res = []
                    nparts = 1 << po
                    for part in range(nparts):
                        n = blocksize >> po
                        if part == 0:
                            n -= order
                        p = br.read(pbits)
                        if p == escape:
                            raw = br.read(5)
                            res.extend(
                                br.read_signed(raw) if raw else 0
                                for _ in range(n)
                            )
                        else:
                            for _ in range(n):
                                q = br.read_unary()
                                z = (q << p) | (br.read(p) if p else 0)
                                res.append(
                                    (z >> 1) ^ -(z & 1)
                                )
                    xs = list(warm)
                    coefs = _FIXED_COEFS[order]
                    for r in res:
                        pred = sum(
                            co * xs[-i - 1] for i, co in enumerate(coefs)
                        )
                        xs.append(r + pred)
                    xs = [x << wasted for x in xs]
                else:  # LPC (1xxxxx) or reserved: outside the subset
                    return None
                chans.append(xs)
            br.align()
            crc_pos = br.byte_pos()
            want = int.from_bytes(blob[crc_pos : crc_pos + 2], "big")
            if _crc16_flac(blob[fstart:crc_pos]) != want:
                return None
            pos = crc_pos + 2
            for t in range(blocksize):
                frames.append([chans[c][t] for c in range(ch)])
        if len(frames) != total:
            return None
        if _audio_md5(frames, bits) != md5_want:
            return None
        return rate, ch, bits, frames
    except (IndexError, KeyError, ValueError, OverflowError, struct.error):
        # Contract: ANY unprovable payload degrades to None (valid =
        # false), never a task crash. Beyond truncated reads (Index/
        # KeyError), corrupt-but-CRC-passing headers can drive
        # read_signed into a negative shift (ValueError) and FIXED
        # reconstruction can overflow the int16 MD5 pack
        # (struct.error / OverflowError) before verification rejects.
        return None


FLAC_DECODE_SCHEMA = WAV_DECODE_SCHEMA  # identical report contract


def decode_flac_features(
    blobs: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL compressed-audio decode: FLAC parse (CRC-8 + CRC-16 +
    STREAMINFO-MD5 verified) -> format fields + exact RMS / peak over
    the reconstructed samples — the decode_wav_features contract on a
    compressed stream. Non-FLAC / corrupt / out-of-subset payloads
    yield valid=false rows."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {
                k: []
                for k in (
                    id_col,
                    "valid",
                    "sample_rate",
                    "channels",
                    "bits_per_sample",
                    "n_frames",
                    "rms",
                    "peak",
                )
            }
            for rid, blob in zip(pdf[id_col].values, pdf[blob_col].values):
                dec = _decode_flac_one(bytes(blob))
                cols[id_col].append(rid)
                if dec is None:
                    cols["valid"].append(False)
                    for k in (
                        "sample_rate",
                        "channels",
                        "bits_per_sample",
                        "n_frames",
                        "rms",
                        "peak",
                    ):
                        cols[k].append(None)
                    continue
                rate, ch, bits, frames = dec
                arr = np.array(frames, dtype=np.int64)
                f64 = arr.astype(np.float64)
                cols["valid"].append(True)
                cols["sample_rate"].append(rate)
                cols["channels"].append(ch)
                cols["bits_per_sample"].append(bits)
                cols["n_frames"].append(arr.shape[0])
                cols["rms"].append(float(np.sqrt(np.mean(f64 * f64))))
                cols["peak"].append(int(np.max(np.abs(arr))))
            yield pd.DataFrame(cols)

    return blobs.mapInPandas(decode, schema=FLAC_DECODE_SCHEMA)
