"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns plus a typed metadata struct;
all heavy per-item work (decode, resize, frame-sample, feature-extract)
runs as Arrow-batched pandas iterators (`mapInPandas`) so Python touches
each batch once, not each row.

Only ffmpeg-class codecs (video/audio containers needing external
libraries) are NOT in this container; those decode kernels are
stubbed: `decode_stub=True` produces a deterministic fake feature
vector derived from the payload bytes (so the whole distributed
pipeline — schema, batching, partitioning, UDF signatures — is real
and testable), and `decode_stub=False` raises NotImplementedError at
the point a real codec would be called. SIX decode chains are fully
real and oracle-gated byte-correct: magic-byte format detection
(`detect_format`), PPM, WAV PCM16, Y4M C420, PNG (zlib + CRC + all
five filters), GIF (variable-width LZW), and baseline JPEG (canonical
Huffman + dezigzag + dequant + Q14 integer IDCT) — plus the
pHash-dedup composition over decoded pixels.

CODEC BOUNDARY — FINAL (declared round 13 after seven honest
retreats: PPM -> PNG -> GIF -> JPEG grayscale -> color 4:2:0 ->
restart markers -> spectral-selection progressive -> successive
approximation, which closes libjpeg's default progressive output
entirely — Huffman JPEG is now decoded in FULL). What remains outside
the boundary, and why each is out rather than next:

* Arithmetic-coded JPEG (SOF9/10/..., DAC): refused loudly at the SOF
  marker. The QM-coder is specified by T.81 Annex D's NORMATIVE
  113-row Qe probability-state table — constants, not derivable
  structure. Without the spec text in the build environment, a
  from-memory reconstruction would self-roundtrip (our encoder, our
  decoder) while being silently nonconformant on real streams; a
  decoder that returns confident wrong pixels is strictly worse than
  one that refuses. (Successive approximation carries no such
  normative-constant dependency — its refinement flow is structure,
  self-checked here by exact coefficient reconstruction against the
  baseline coding of the same values — which is why it could land
  honestly and arithmetic cannot.)
* ffmpeg-class codecs (H.264/VP9/AAC/MP3...): external-library
  territory by any engineering standard — motion compensation, CABAC,
  psychoacoustic transforms; a from-scratch build is a codec project,
  not an analytics-engine component. These stay behind the documented
  decode_stub seam, which keeps the Spark-side plumbing (schema,
  Arrow batching, partitioning) fully real and swappable for the real
  libraries in a production image.

The boundary is enforced, not aspirational: every refusal is a loud,
message-specific error (pytest-pinned), never a silent wrong decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

# spread(): a small single-file scan yields ONE input partition, which
# would serialize every per-payload synth/decode kernel below on one
# core; at real scale inputs already have >= cores partitions and it
# is a no-op (see fuzzy_dedup.spread's docstring).
from fb_ads_bigquery_etl_spark.operators.fuzzy_dedup import spread

FEATURE_DIM = 16

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real encoder: md5-seeded vector."""
    d = hashlib.md5(payload or b"").digest()
    return [d[i] / 255.0 for i in range(FEATURE_DIM)]


def extract_features(df: DataFrame, *, decode_stub: bool = True) -> DataFrame:
    """binary payload -> fixed-dim feature vector, Arrow-batched.

    Real pipeline shape: mapInPandas over (media_id, media_type, payload)
    with a small output schema, so the wide binary column is projected
    away immediately after decode — the downstream plan never shuffles
    raw media bytes.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg (not in container); "
                    "run with decode_stub=True"
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload_bytes": pdf["payload"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "features": pdf["payload"].map(_fake_features),
                }
            )

    return df.select("media_id", "media_type", "payload").mapInPandas(
        kernel, schema=_FEATURES_SCHEMA
    )


def sample_frames(
    df: DataFrame, *, every_ms: int = 1000, decode_stub: bool = True
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame.

    Stub synthesizes frame offsets from meta.duration_ms; a real build
    would demux the payload. Output explodes rows, so the kernel yields
    more rows than it consumes — mapInPandas handles that natively.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("offset_ms", T.LongType()),
            T.StructField("frame_features", T.ArrayType(T.FloatType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError("real demux requires ffmpeg")
            rows = []
            for _, r in pdf.iterrows():
                dur = r["duration_ms"] or 0
                payload = r["payload"] or b""
                for i, off in enumerate(range(0, int(dur), every_ms)):
                    rows.append(
                        {
                            "media_id": r["media_id"],
                            "frame_idx": i,
                            "offset_ms": off,
                            "frame_features": _fake_features(
                                payload + off.to_bytes(8, "little")
                            ),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    flat = df.select(
        "media_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    )
    return flat.mapInPandas(kernel, schema=out_schema)


# (format, hex-prefix at byte 1) — detection is pure JVM expressions on
# the payload's first bytes; no codec needed, so unlike the decode
# kernels this is NOT stubbed. MP4 is special-cased below: its 'ftyp'
# brand sits at byte offset 5, after the 4-byte box size.
MAGIC_PREFIXES: tuple[tuple[str, str], ...] = (
    ("jpeg", "FFD8FF"),
    ("png", "89504E47"),
    ("gif", "474946"),
    ("riff", "52494646"),  # wav/avi/webp container
    ("pdf", "25504446"),
)


def detect_format(payload) -> "F.Column":
    """Magic-byte container-format sniffing over a binary column.

    Reads the first 12 payload bytes (one narrow substring — the wide
    binary column itself is never copied), hexes them, and matches
    known signatures; 'mp4' matches the ftyp brand at byte offset 5.
    Returns a lowercase format tag or 'unknown'. The real-data audit
    this feeds: payloads whose bytes contradict their declared type —
    the corrupt/mislabeled-media gate a multimodal ingest runs before
    spending decode time.
    """
    h = F.hex(F.substring(payload, 1, 12))
    expr = F.when(h.startswith("FFD8FF"), F.lit("jpeg"))
    for name, magic in MAGIC_PREFIXES[1:]:
        expr = expr.when(h.startswith(magic), F.lit(name))
    return expr.when(
        F.substring(h, 9, 8) == "66747970", F.lit("mp4")
    ).otherwise(F.lit("unknown"))


EXPECTED_FORMAT = {"image": "png", "audio": "riff", "video": "mp4"}


def format_mismatch_audit(df: DataFrame) -> DataFrame:
    """(media_type, detected_format) matrix with mismatch counts.

    One narrow projection + one map-side-combined groupBy over
    metadata-sized keys; `is_mismatch` compares the sniffed format to
    the EXPECTED_FORMAT for the declared media_type.
    """
    expected = F.create_map(
        *[F.lit(x) for kv in EXPECTED_FORMAT.items() for x in kv]
    )
    out = df.select(
        "media_type",
        detect_format(F.col("payload")).alias("detected_format"),
    ).withColumn(
        "is_mismatch",
        F.col("detected_format") != expected[F.col("media_type")],
    )
    return (
        out.groupBy("media_type", "detected_format")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count_if("is_mismatch").cast("long").alias("n_mismatch"),
        )
        .orderBy("media_type", "detected_format")
    )


# --- REAL decode: uncompressed PPM (P6) ------------------------------
#
# The ffmpeg-class codecs stay stubbed above — their
# libraries are not in this container — but PPM is a full image format
# a few lines of numpy decode for real: "P6\n<w> <h>\n255\n" + raw RGB
# bytes. These kernels give the multimodal family a genuinely unstubbed
# decode -> resize -> feature path: real header parsing, real byte
# buffers, real nearest-neighbor resampling, Arrow-batched like the
# production shape above. The `media_decode_features` oracle gate works
# because the synthesizer draws pixels from a closed-form function of
# (x, y, id, channel) that SQL can evaluate directly — hash parity of
# the decoded features against that formula proves the decode chain is
# byte-correct, not merely deterministic.


def synth_ppm(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload binary): a real P6 PPM per row, w/h varying with id
    (w = 16 + id%5, h = 12 + id%3), pixel channel c at (x, y) =
    (7x + 13y + (c+1)*id) % 256."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _mk_fn(ids):
        out = []
        for i in ids:
            w, h = 16 + int(i) % 5, 12 + int(i) % 3
            x = np.arange(w)[None, :, None]
            y = np.arange(h)[:, None, None]
            c = np.arange(3)[None, None, :]
            arr = ((7 * x + 13 * y + (c + 1) * int(i)) % 256).astype(
                np.uint8
            )
            out.append(b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes())
        return pd.Series(out)

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


_DECODE_SCHEMA = (
    "id long, w int, h int, sum_r long, sum_g long, sum_b long, "
    "resized_checksum long"
)


def decode_ppm_features(media: DataFrame) -> DataFrame:
    """REAL decode over (id, payload): parse the P6 header, reshape the
    raw buffer to (h, w, 3), and emit exact-integer features — per-
    channel pixel sums plus a checksum of the nearest-neighbor 8x8
    resize (r + 2g + 3b over the grid). mapInPandas: the wide binary
    column dies inside the kernel; only the narrow feature row leaves.
    Nothing here consults the generator's formula — features come from
    the decoded bytes alone (the oracle recomputes them from the
    formula, which is what makes the gate a decode proof)."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                buf = bytes(payload)
                if not buf.startswith(b"P6"):
                    raise ValueError("not a P6 PPM payload")
                # header: magic, dims, maxval — then exactly w*h*3 bytes
                magic, dims, maxval, rest = buf.split(b"\n", 3)
                w, h = (int(t) for t in dims.split())
                if int(maxval) != 255:
                    raise ValueError("only 8-bit PPM supported")
                arr = np.frombuffer(rest, dtype=np.uint8, count=w * h * 3)
                arr = arr.reshape(h, w, 3).astype(np.int64)
                iy = (np.arange(8) * h) // 8
                ix = (np.arange(8) * w) // 8
                small = arr[iy][:, ix]
                rows.append(
                    (
                        int(i),
                        w,
                        h,
                        int(arr[:, :, 0].sum()),
                        int(arr[:, :, 1].sum()),
                        int(arr[:, :, 2].sum()),
                        int(
                            (
                                small[:, :, 0]
                                + 2 * small[:, :, 1]
                                + 3 * small[:, :, 2]
                            ).sum()
                        ),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "w", "h", "sum_r", "sum_g", "sum_b",
                    "resized_checksum",
                ],
            )

    return media.mapInPandas(kernel, _DECODE_SCHEMA)


# --- REAL decode #2: uncompressed WAV (PCM16 mono) --------------------
#
# Same contract as the PPM chain above, for the AUDIO modality: WAV
# PCM needs no codec — RIFF/fmt/data chunk parsing plus an int16
# little-endian buffer. The synthesizer draws samples from a closed-form
# function of (n, id) that SQL evaluates directly, so the
# `media_decode_audio` oracle's hash parity proves the RIFF parse and
# sample decode are byte-correct.


def synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload binary): a real RIFF/WAVE PCM16-mono file per row,
    n_samples = 256 + id%7, sample[n] = ((n*n + 3*n*id + id*id) %
    65536) - 32768."""
    import struct

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _mk_fn(ids):
        out = []
        for i in ids:
            i = int(i)
            m = 256 + i % 7
            n = np.arange(m, dtype=np.int64)
            v = ((n * n + 3 * n * i + i * i) % 65536) - 32768
            data = v.astype("<i2").tobytes()
            rate = 16000
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            body = (
                b"WAVE"
                + b"fmt "
                + struct.pack("<I", len(fmt))
                + fmt
                + b"data"
                + struct.pack("<I", len(data))
                + data
            )
            out.append(b"RIFF" + struct.pack("<I", len(body)) + body)
        return pd.Series(out)

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


_AUDIO_SCHEMA = (
    "id long, n_samples int, sum_samples long, sum_abs long, "
    "zero_crossings long"
)


def decode_wav_features(media: DataFrame) -> DataFrame:
    """REAL RIFF/WAVE parse over (id, payload): validate the chunk
    structure (PCM16 mono only), decode the int16 LE sample buffer, and
    emit exact-integer features — sample count, sample sum, absolute
    sum, and zero crossings (sign flips between adjacent samples, zero
    counted as non-negative). Features come from the decoded bytes
    alone; the oracle recomputes them from the generator's closed
    form."""
    import struct

    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
                    raise ValueError("not a RIFF/WAVE payload")
                pos, data = 12, None
                while pos + 8 <= len(buf):
                    cid = buf[pos : pos + 4]
                    (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
                    body = buf[pos + 8 : pos + 8 + clen]
                    if cid == b"fmt ":
                        afmt, ch, _, _, _, bits = struct.unpack(
                            "<HHIIHH", body[:16]
                        )
                        if (afmt, ch, bits) != (1, 1, 16):
                            raise ValueError("only PCM16 mono supported")
                    elif cid == b"data":
                        data = body
                    pos += 8 + clen + (clen & 1)  # RIFF chunks pad to even
                if data is None:
                    raise ValueError("no data chunk")
                v = np.frombuffer(data, dtype="<i2").astype(np.int64)
                neg = v < 0
                rows.append(
                    (
                        int(i),
                        int(v.size),
                        int(v.sum()),
                        int(np.abs(v).sum()),
                        int((neg[:-1] != neg[1:]).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "n_samples", "sum_samples", "sum_abs",
                    "zero_crossings",
                ],
            )

    return media.mapInPandas(kernel, _AUDIO_SCHEMA)


# --- REAL decode #3: uncompressed Y4M video (YUV4MPEG2, C420) ---------
#
# Completes the modality triple: image (PPM), audio (WAV), and now
# VIDEO via yuv4mpeg — the uncompressed interchange format ffmpeg
# itself uses for raw pipes. A Y4M stream is a text header
# ("YUV4MPEG2 W.. H.. F.. C420\n") followed by "FRAME\n" + planar
# YUV420 bytes per frame, so parsing it exercises real container
# iteration AND the frame-sampling operator (every 2nd frame here)
# the stubbed `sample_frames` models. Same closed-form-pixel oracle
# contract as the PPM/WAV chains.


def synth_y4m(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload binary): a real YUV4MPEG2 C420 clip per row.
    w = 8 + 2*(id%3), h = 6 + 2*(id%2), frames = 3 + id%3;
    Y(x,y,f) = (5x + 11y + 17f + id) % 256,
    U(x,y,f) = (3x + 7y + 13f + 2id) % 256 (quarter-res plane),
    V(x,y,f) = (2x + 9y + 19f + 3id) % 256 (quarter-res plane)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _mk_fn(ids):
        out = []
        for i in ids:
            i = int(i)
            w, h, nf = 8 + 2 * (i % 3), 6 + 2 * (i % 2), 3 + i % 3
            buf = [b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)]
            xs = np.arange(w)[None, :]
            ys = np.arange(h)[:, None]
            cxs = np.arange(w // 2)[None, :]
            cys = np.arange(h // 2)[:, None]
            for f in range(nf):
                y = ((5 * xs + 11 * ys + 17 * f + i) % 256).astype(np.uint8)
                u = ((3 * cxs + 7 * cys + 13 * f + 2 * i) % 256).astype(
                    np.uint8
                )
                v = ((2 * cxs + 9 * cys + 19 * f + 3 * i) % 256).astype(
                    np.uint8
                )
                buf.append(b"FRAME\n" + y.tobytes() + u.tobytes() + v.tobytes())
            out.append(b"".join(buf))
        return pd.Series(out)

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


_VIDEO_SCHEMA = (
    "id long, w int, h int, n_frames int, n_sampled int, "
    "sum_y long, sum_u long, sum_v long"
)


def decode_y4m_features(media: DataFrame, *, stride: int = 2) -> DataFrame:
    """REAL Y4M parse over (id, payload): read the stream header
    (C420 only), walk the FRAME markers, and decode every `stride`-th
    frame's planar YUV420 buffers — the frame-sampling shape a video
    ingest runs so it never decodes frames it won't featurize. Emits
    exact-integer features (dims, total/sampled frame counts, per-plane
    pixel sums over SAMPLED frames) from the bytes alone."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                buf = bytes(payload)
                nl = buf.index(b"\n")
                header = buf[:nl].split(b" ")
                if header[0] != b"YUV4MPEG2":
                    raise ValueError("not a YUV4MPEG2 payload")
                params = {t[:1]: t[1:] for t in header[1:]}
                w, h = int(params[b"W"]), int(params[b"H"])
                if params.get(b"C", b"420") not in (b"420", b"420jpeg"):
                    raise ValueError("only C420 supported")
                ylen, clen = w * h, (w // 2) * (h // 2)
                pos, fidx = nl + 1, 0
                sum_y = sum_u = sum_v = 0
                n_sampled = 0
                while pos < len(buf):
                    fnl = buf.index(b"\n", pos)
                    if buf[pos : pos + 5] != b"FRAME":
                        raise ValueError("bad FRAME marker")
                    data = buf[fnl + 1 : fnl + 1 + ylen + 2 * clen]
                    if fidx % stride == 0:
                        y = np.frombuffer(data[:ylen], dtype=np.uint8)
                        u = np.frombuffer(
                            data[ylen : ylen + clen], dtype=np.uint8
                        )
                        v = np.frombuffer(data[ylen + clen :], dtype=np.uint8)
                        sum_y += int(y.astype(np.int64).sum())
                        sum_u += int(u.astype(np.int64).sum())
                        sum_v += int(v.astype(np.int64).sum())
                        n_sampled += 1
                    pos = fnl + 1 + ylen + 2 * clen
                    fidx += 1
                rows.append(
                    (int(i), w, h, fidx, n_sampled, sum_y, sum_u, sum_v)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "w", "h", "n_frames", "n_sampled",
                    "sum_y", "sum_u", "sum_v",
                ],
            )

    return media.mapInPandas(kernel, _VIDEO_SCHEMA)


# --- REAL decode #4: PNG (a genuinely COMPRESSED format) --------------
#
# PNG's compression is DEFLATE, which ships in the Python stdlib
# (zlib) — so unlike JPEG/ffmpeg, a real PNG codec needs no external
# library: chunk walk with CRC32 validation, IDAT inflation, and the
# five scanline filters (None/Sub/Up/Average/Paeth) inverted per row.
# The synthesizer VARIES the filter type per row ((row + id) % 5), so
# the decoder's unfiltering logic — including Paeth prediction — is
# genuinely exercised on every image, and the same closed-form-pixel
# oracle contract as the PPM/WAV/Y4M chains proves it byte-correct.


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload binary): a real 8-bit truecolor PNG per row
    (w = 12 + id%5, h = 9 + id%3, pixel channel c at (x, y) =
    (11x + 5y + (c+2)*id) % 256), scanline filter type (row + id) % 5
    — every image exercises all five PNG filters across its rows."""
    import struct
    import zlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def _mk_fn(ids):
        out = []
        for i in ids:
            i = int(i)
            w, h = 12 + i % 5, 9 + i % 3
            x = np.arange(w)[None, :, None]
            y = np.arange(h)[:, None, None]
            c = np.arange(3)[None, None, :]
            arr = ((11 * x + 5 * y + (c + 2) * i) % 256).astype(np.uint8)
            bpp = 3
            raw = bytearray()
            prior = np.zeros(w * bpp, dtype=np.int64)
            for row in range(h):
                line = arr[row].reshape(-1).astype(np.int64)
                left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
                upleft = np.concatenate(
                    [np.zeros(bpp, np.int64), prior[:-bpp]]
                )
                f = (row + i) % 5
                raw.append(f)
                # ENCODE filters depend only on the RAW line/prior, so
                # every type vectorizes (Paeth via where-chains)
                if f == 0:
                    enc = line
                elif f == 1:  # Sub
                    enc = line - left
                elif f == 2:  # Up
                    enc = line - prior
                elif f == 3:  # Average
                    enc = line - (left + prior) // 2
                else:  # Paeth
                    p = left + prior - upleft
                    pa, pb, pc = (
                        np.abs(p - left),
                        np.abs(p - prior),
                        np.abs(p - upleft),
                    )
                    pred = np.where(
                        (pa <= pb) & (pa <= pc),
                        left,
                        np.where(pb <= pc, prior, upleft),
                    )
                    enc = line - pred
                raw += (enc % 256).astype(np.uint8).tobytes()
                prior = line
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            out.append(
                b"\x89PNG\r\n\x1a\n"
                + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(bytes(raw)))
                + _chunk(b"IEND", b"")
            )
        return pd.Series(out)

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


def decode_png_features(media: DataFrame) -> DataFrame:
    """REAL PNG decode over (id, payload): validate the signature, walk
    the chunks CHECKING EVERY CRC32, require 8-bit truecolor, inflate
    the concatenated IDAT stream with zlib, invert the per-row scanline
    filter (all five types, including Paeth prediction), and emit the
    same exact-integer features as the PPM chain — per-channel sums and
    the nearest-neighbor 8x8 resize checksum — from the decoded pixels
    alone."""
    import struct
    import zlib

    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:8] != b"\x89PNG\r\n\x1a\n":
                    raise ValueError("not a PNG payload")
                pos, idat, dims = 8, bytearray(), None
                while pos + 12 <= len(buf):
                    (clen,) = struct.unpack(">I", buf[pos : pos + 4])
                    ctype = buf[pos + 4 : pos + 8]
                    data = buf[pos + 8 : pos + 8 + clen]
                    (crc,) = struct.unpack(
                        ">I", buf[pos + 8 + clen : pos + 12 + clen]
                    )
                    if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                        raise ValueError(f"CRC mismatch in {ctype!r}")
                    if ctype == b"IHDR":
                        w, h, depth, ctyp = struct.unpack(">IIBB", data[:10])
                        if (depth, ctyp) != (8, 2):
                            raise ValueError(
                                "only 8-bit truecolor supported"
                            )
                        dims = (w, h)
                    elif ctype == b"IDAT":
                        idat += data
                    elif ctype == b"IEND":
                        break
                    pos += 12 + clen
                if dims is None:
                    raise ValueError("no IHDR")
                w, h = dims
                raw = zlib.decompress(bytes(idat))
                bpp, stride = 3, w * 3
                arr = np.zeros((h, stride), dtype=np.int64)
                prior = np.zeros(stride, dtype=np.int64)
                for row in range(h):
                    f = raw[row * (stride + 1)]
                    line = np.frombuffer(
                        raw,
                        dtype=np.uint8,
                        count=stride,
                        offset=row * (stride + 1) + 1,
                    ).astype(np.int64)
                    # None/Up have no left-dependency (vector add); Sub
                    # is a per-channel running sum (cumsum mod 256);
                    # only Average/Paeth need the sequential walk
                    if f == 0:
                        out = line
                    elif f == 2:
                        out = (line + prior) % 256
                    elif f == 1:
                        out = (
                            np.cumsum(line.reshape(-1, bpp), axis=0) % 256
                        ).reshape(-1)
                    elif f in (3, 4):
                        out = np.zeros(stride, dtype=np.int64)
                        for k in range(stride):
                            a = out[k - bpp] if k >= bpp else 0
                            b_ = prior[k]
                            if f == 3:
                                v = line[k] + (a + b_) // 2
                            else:
                                c_ = prior[k - bpp] if k >= bpp else 0
                                v = line[k] + _paeth(
                                    int(a), int(b_), int(c_)
                                )
                            out[k] = v % 256
                    else:
                        raise ValueError(f"bad filter {f}")
                    arr[row] = out
                    prior = out
                px = arr.reshape(h, w, 3)
                iy = (np.arange(8) * h) // 8
                ix = (np.arange(8) * w) // 8
                small = px[iy][:, ix]
                rows.append(
                    (
                        int(i),
                        int(w),
                        int(h),
                        int(px[:, :, 0].sum()),
                        int(px[:, :, 1].sum()),
                        int(px[:, :, 2].sum()),
                        int(
                            (
                                small[:, :, 0]
                                + 2 * small[:, :, 1]
                                + 3 * small[:, :, 2]
                            ).sum()
                        ),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "w", "h", "sum_r", "sum_g", "sum_b",
                    "resized_checksum",
                ],
            )

    return media.mapInPandas(kernel, _DECODE_SCHEMA)


def _gif_lzw_encode(indices: list[int], mcs: int) -> bytes:
    """Real GIF-variant LZW: variable code width starting at mcs+1,
    CLEAR/EOI codes, dictionary growth with the GIF (no-early-change)
    width rule, codes packed LSB-first. The encoder's width bump fires
    when its post-add next_code reaches 2^width + 1 — one ahead of the
    decoder's 2^width rule, because the encoder adds each entry one
    code earlier than the decoder learns it."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    cur = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal cur, nbits
        cur |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(cur & 0xFF)
            cur >>= 8
            nbits -= 8

    width = mcs + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(1 << mcs)}
    next_code = eoi + 1
    emit(clear, width)
    prefix: tuple[int, ...] = ()
    for k in indices:
        cand = prefix + (int(k),)
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        prefix = (int(k),)
    if prefix:
        emit(table[prefix], width)
    emit(eoi, width)
    if nbits:
        out.append(cur & 0xFF)
    return bytes(out)


def synth_gif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload binary): a real GIF89a per row — logical screen
    descriptor, 8-color global palette (color c = ((37c + id) % 256,
    (59c + 2id) % 256, (83c + 3id) % 256)), image descriptor, and the
    pixel indices p(x, y) = (7x + 13y + id) % 8 (w = 10 + id%5,
    h = 8 + id%3) compressed with REAL variable-width LZW (dictionary
    growth, CLEAR/EOI, LSB-first packing, 255-byte sub-blocks)."""
    import struct

    from pyspark.sql.functions import pandas_udf

    def _mk_fn(ids):
        out = []
        for i in ids:
            i = int(i)
            w, h = 10 + i % 5, 8 + i % 3
            pal = bytearray()
            for c in range(8):
                pal += bytes(
                    ((37 * c + i) % 256, (59 * c + 2 * i) % 256,
                     (83 * c + 3 * i) % 256)
                )
            idx = [
                (7 * x + 13 * y + i) % 8
                for y in range(h)
                for x in range(w)
            ]
            lzw = _gif_lzw_encode(idx, 3)
            blocks = bytearray()
            for off in range(0, len(lzw), 255):
                chunk = lzw[off : off + 255]
                blocks.append(len(chunk))
                blocks += chunk
            blocks.append(0)
            payload = (
                b"GIF89a"
                + struct.pack("<HHBBB", w, h, 0xF2, 0, 0)
                + bytes(pal)
                + b"\x2c"
                + struct.pack("<HHHHB", 0, 0, w, h, 0)
                + bytes([3])
                + bytes(blocks)
                + b"\x3b"
            )
            out.append(payload)
        return pd.Series(out)

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


def decode_gif_features(media: DataFrame) -> DataFrame:
    """REAL GIF decode over (id, payload): validate the signature,
    parse the logical screen descriptor and global color table, walk
    the image descriptor and data sub-blocks, run a FULL LZW decode
    (variable code width with the GIF no-early-change rule, CLEAR
    resets, the KwKwK self-reference case), map indices through the
    palette, and emit the same exact-integer features as the other
    image chains (per-channel sums + 8x8 nearest-neighbor resize
    checksum) from the decoded pixels alone. Pure stdlib — LZW is
    stdlib-feasible the way PNG's zlib was; the remaining stub
    boundary is genuinely-unavailable codecs (ffmpeg-class; baseline
    JPEG is real too, see media_decode_jpeg)."""
    import struct

    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:6] not in (b"GIF87a", b"GIF89a"):
                    raise ValueError("not a GIF payload")
                sw, sh, packed, _bg, _ar = struct.unpack(
                    "<HHBBB", buf[6:13]
                )
                pos = 13
                if not packed & 0x80:
                    raise ValueError("global color table required")
                n_colors = 2 << (packed & 0x07)
                pal = np.frombuffer(
                    buf, dtype=np.uint8, count=3 * n_colors, offset=pos
                ).reshape(n_colors, 3).astype(np.int64)
                pos += 3 * n_colors
                if buf[pos] != 0x2C:
                    raise ValueError("expected image descriptor")
                _l, _t, w, h, ipacked = struct.unpack(
                    "<HHHHB", buf[pos + 1 : pos + 10]
                )
                if ipacked & 0xC0:
                    raise ValueError(
                        "local color table / interlace unsupported"
                    )
                pos += 10
                mcs = buf[pos]
                pos += 1
                data = bytearray()
                while True:
                    blen = buf[pos]
                    pos += 1
                    if blen == 0:
                        break
                    data += buf[pos : pos + blen]
                    pos += blen
                if buf[pos] != 0x3B:
                    raise ValueError("missing trailer")

                clear, eoi = 1 << mcs, (1 << mcs) + 1
                width = mcs + 1
                table: list[bytes] = [bytes([c]) for c in range(clear)]
                table += [b"", b""]  # CLEAR / EOI placeholders
                bitpos = 0
                total_bits = len(data) * 8
                out_idx = bytearray()
                prev: bytes | None = None

                def read_code(wd: int) -> int:
                    nonlocal bitpos
                    if bitpos + wd > total_bits:
                        raise ValueError("truncated LZW stream")
                    byte0 = bitpos // 8
                    shift = bitpos % 8
                    val = int.from_bytes(
                        data[byte0 : byte0 + 3], "little"
                    )
                    bitpos += wd
                    return (val >> shift) & ((1 << wd) - 1)

                while True:
                    code = read_code(width)
                    if code == clear:
                        table = [bytes([c]) for c in range(clear)]
                        table += [b"", b""]
                        width = mcs + 1
                        prev = None
                        continue
                    if code == eoi:
                        break
                    if prev is None:
                        entry = table[code]
                    elif code < len(table):
                        entry = table[code]
                        if len(table) < 4096:  # deferred-clear mirror
                            table.append(prev + entry[:1])
                    elif code == len(table) and len(table) < 4096:
                        entry = prev + prev[:1]  # KwKwK
                        table.append(entry)
                    else:
                        raise ValueError("corrupt LZW code")
                    if prev is not None and len(table) == (1 << width) \
                            and width < 12:
                        width += 1
                    out_idx += entry
                    prev = entry
                if len(out_idx) != w * h:
                    raise ValueError(
                        f"decoded {len(out_idx)} indices for {w}x{h}"
                    )
                idx = np.frombuffer(bytes(out_idx), dtype=np.uint8)
                if int(idx.max()) >= n_colors:
                    raise ValueError("palette index out of range")
                px = pal[idx].reshape(h, w, 3)
                iy = (np.arange(8) * h) // 8
                ix = (np.arange(8) * w) // 8
                small = px[iy][:, ix]
                rows.append(
                    (
                        int(i),
                        int(w),
                        int(h),
                        int(px[:, :, 0].sum()),
                        int(px[:, :, 1].sum()),
                        int(px[:, :, 2].sum()),
                        int(
                            (
                                small[:, :, 0]
                                + 2 * small[:, :, 1]
                                + 3 * small[:, :, 2]
                            ).sum()
                        ),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "w", "h", "sum_r", "sum_g", "sum_b",
                    "resized_checksum",
                ],
            )

    return media.mapInPandas(kernel, _DECODE_SCHEMA)


# --- Perceptual-hash image dedup ---------------------------------------
#
# The multimodal dedup a 100 TB image corpus actually runs: decode ->
# grayscale -> fixed-size resize -> low-frequency DCT block -> 63-bit
# pHash -> Hamming-banded candidate join -> exact Hamming verify.
# Everything integer fixed-point, so the hash — and therefore the final
# pair set — is bit-identical on any engine: the oracle re-derives each
# image's pHash arithmetically from the generator formula and states
# the BRUTE-FORCE all-pairs semantics, while the engine runs the banded
# plan; hash parity proves both the decode chain and the claim that
# 8-bit banding loses no pair at Hamming <= 7 (pigeonhole: 8 bands, >7
# differing bits needed to break all 8).

PHASH_DCT_SCALE = 16384  # Q14 fixed-point cosine table


def phash_dct_table() -> list[list[int]]:
    """Q14-quantized DCT-II basis rows u=0..7 over 16 samples:
    Q[u][i] = round(cos((2i+1) * u * pi / 32) * 16384). Computed once
    in Python and inlined as literals into BOTH the numpy kernel and
    the SQL oracle, so the two replay identical integers (the
    hyperplane_coeffs / jl_sign pattern)."""
    import math

    return [
        [
            round(math.cos((2 * i + 1) * u * math.pi / 32) * PHASH_DCT_SCALE)
            for i in range(16)
        ]
        for u in range(8)
    ]


def synth_ppm_groups(
    df: DataFrame, id_col: str = "doc_id", group_size: int = 5
) -> DataFrame:
    """(id, payload binary): P6 PPMs where ids in the same
    id//group_size group are NEAR-DUPLICATES by construction — the
    group fixes dimensions (w = 16 + g%5, h = 12 + g%3) and the base
    pattern (channel c at (x, y) = ((7 + g%6)x + (13 + g%8)y +
    (c+1)(11g+3)) % 251 — per-group spatial frequencies, so DISTINCT
    groups have far-apart pHashes), and each id adds sparse +1 noise
    on the red channel where (31x + 17y + 7*id) % 89 == 0 (~1% of
    pixels — perceptually invisible, bytes differ). Closed-form in
    (id, x, y, c), so SQL replays every pixel."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _mk_fn(ids):
        out = []
        for i in ids:
            i = int(i)
            g = i // group_size
            w, h = 16 + g % 5, 12 + g % 3
            x = np.arange(w)[None, :]
            y = np.arange(h)[:, None]
            a, b = 7 + g % 6, 13 + g % 8
            chans = [
                ((a * x + b * y + (c + 1) * (11 * g + 3)) % 251).astype(
                    np.int64
                )
                for c in range(3)
            ]
            chans[0] = chans[0] + (
                (31 * x + 17 * y + 7 * i) % 89 == 0
            ).astype(np.int64)
            arr = np.stack(chans, axis=2).astype(np.uint8)
            out.append(b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes())
        return pd.Series(out)

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


def phash_from_ppm(media: DataFrame) -> DataFrame:
    """(id, phash long) from DECODED P6 bytes alone — nothing here
    consults the generator formula (the decode-proof contract of the
    other media chains): parse the header, gray = r + 2g + b,
    nearest-neighbor 16x16 resize (iy = floor(j*h/16)), top-left 8x8
    block of the Q14 integer 2D DCT-II (T = Q G Q^T — exact int64:
    |gray| <= 1004, |q| <= 16384, 256 terms < 2^54), bit p = 1 iff AC
    coefficient p exceeds the median AC coefficient (the 32nd smallest
    of 63) — 63 bits, positions 0..62, DC excluded. Arrow-batched
    mapInPandas; the wide payload dies inside the kernel."""
    import numpy as np

    Q = np.array(phash_dct_table(), dtype=np.int64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                buf = bytes(payload)
                if not buf.startswith(b"P6"):
                    raise ValueError("not a P6 PPM payload")
                magic, dims, maxval, rest = buf.split(b"\n", 3)
                w, h = (int(t) for t in dims.split())
                arr = np.frombuffer(rest, dtype=np.uint8, count=w * h * 3)
                arr = arr.reshape(h, w, 3).astype(np.int64)
                gray = arr[:, :, 0] + 2 * arr[:, :, 1] + arr[:, :, 2]
                iy = (np.arange(16) * h) // 16
                ix = (np.arange(16) * w) // 16
                G = gray[iy][:, ix]
                T_ = Q @ G @ Q.T
                ac = [int(v) for v in T_.flatten()[1:]]
                med = sorted(ac)[31]
                ph = 0
                for p, v in enumerate(ac):
                    if v > med:
                        ph |= 1 << p
                rows.append((int(i), ph))
            yield pd.DataFrame(rows, columns=["id", "phash"])

    return media.mapInPandas(kernel, "id long, phash long")


def phash_dedup(
    hashes: DataFrame, *, max_hamming: int = 7, bands: int = 8
) -> DataFrame:
    """Near-duplicate image pairs: (id_a, id_b, hamming) for every pair
    with Hamming distance <= max_hamming, found WITHOUT an all-pairs
    join — the 63-bit hash splits into `bands` 8-bit bands; a pair is
    a candidate iff it collides in at least one band (pigeonhole: any
    pair within Hamming <= bands-1 must agree on some band, so with
    the defaults the banded plan is provably COMPLETE for <= 7), then
    exact bit_count(xor) verifies. At corpus scale the band bucket is
    the shuffle key — candidate volume is sum of per-bucket squares,
    never N^2; widen bands to 16 bits for lower collision at a
    tighter guarantee (<= 3), the standard LSH dial."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding with {bands} bands only guarantees completeness "
            f"up to Hamming {bands - 1}, got max_hamming={max_hamming}"
        )
    # persist the (id, phash) input: BOTH sides of the band self-join
    # consume it, and Catalyst does not reuse exchanges/subtrees across
    # self-join sides — without the cache the whole upstream fingerprint
    # pipeline (synth + decode kernels for the media gates) executes
    # once per side (measured 2x on media_video_dedup, r14). 16 B/row,
    # so the cache is id-table-sized at any corpus scale; same
    # discipline as fuzzy_dedup.shared().
    from pyspark.storagelevel import StorageLevel

    hashes = hashes.persist(StorageLevel.MEMORY_AND_DISK)
    bexpr = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("band"),
                    F.shiftright(F.col("phash"), 8 * k)
                    .bitwiseAND(F.lit(255))
                    .alias("val"),
                )
                for k in range(bands)
            ]
        )
    )
    banded = hashes.select("id", "phash", bexpr.alias("b")).select(
        "id", "phash", F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )
    left = banded.select(
        F.col("id").alias("id_a"), F.col("phash").alias("pa"), "band", "val"
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("phash").alias("pb"), "band", "val"
    )
    cand = (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb")
        .distinct()  # a pair may collide in several bands
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# --- REAL decode #6: baseline JPEG (grayscale, SOF0) -------------------
#
# The last stdlib-feasible codec: entropy coding is canonical Huffman
# (built from the DHT segment exactly as the spec says), the transform
# is an 8x8 IDCT. The synthesizer picks QUANTIZED COEFFICIENTS from a
# closed form (not pixels — JPEG is lossy, so a pixel-first roundtrip
# could never be gated exactly) and emits a fully standard baseline
# JFIF stream: DQT, SOF0, two DHTs (custom fixed-length canonical
# tables — any spec-compliant decoder reads them), SOS with byte
# stuffing and differential DC. The decoder consumes BYTES ONLY and
# uses a Q14 fixed-point integer IDCT (decoders choose their own IDCT
# within conformance bounds; an integer one makes every output pixel
# engine-exact), so the oracle can re-derive each pixel arithmetically
# from the coefficient formula: p = clamp(floor(S / 2^30) + 128) with
# S the integer sum over the same D-table literals. Remaining stub
# boundary after this: ffmpeg-class codecs only.

JPEG_W = JPEG_H = 16  # 2x2 blocks of 8x8, grayscale

_ZIGZAG = [  # natural index (u*8+v) in zigzag order — ISO 10918 fig A.6
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def jpeg_qtab() -> list[list[int]]:
    """Quant table q[u][v] = 2 + u + 2v (u = vertical frequency) —
    small, all-nonzero, shared by the synthesizer, the decoder (via
    the DQT segment) and the oracle (as literals)."""
    return [[2 + u + 2 * v for v in range(8)] for u in range(8)]


def jpeg_idct_table() -> list[list[int]]:
    """Q14 IDCT basis D[u][x] = round(c(u) * cos((2x+1)u*pi/16) *
    16384), c(0) = 1/sqrt(2) — pixel p(x,y) = floor(S / 2^30) + 128,
    S = sum_uv dq[u][v] * D[u][y?]... orientation: S(x, y) =
    sum_{u,v} dq[u][v] * D[u][y] * D[v][x] with u vertical. Computed
    once in Python; inlined into the kernel and the SQL oracle."""
    import math

    return [
        [
            round(
                (1 / math.sqrt(2) if u == 0 else 1.0)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                * 16384
            )
            for x in range(8)
        ]
        for u in range(8)
    ]


def jpeg_coef(i: int, b: int, u: int, v: int) -> int:
    """Closed-form quantized coefficient for image i, block b (raster
    0..3), natural position (u, v): DC = (7i + 5b) % 200 - 100; AC
    nonzero only on the (u+v+i+b) % 7 == 0 lattice, value
    ((i + 3u + 5v + b) % 15) - 7. Sparse ACs exercise runs, EOB and
    (for far-apart lattice hits) ZRL."""
    if u == 0 and v == 0:
        return (7 * i + 5 * b) % 200 - 100
    if (u + v + i + b) % 7 == 0:
        return (i + 3 * u + 5 * v + b) % 15 - 7
    return 0


def _jpeg_huff_tables():
    """(dc_symbols, ac_symbols): fixed-length canonical tables over the
    symbols the synthesizer can emit — DC size categories 0..8 at 4
    bits, AC (run, size<=4) plus EOB/ZRL at 6 bits. Valid DHT content
    (counts stay below the all-ones code), read back by the decoder's
    GENERAL canonical-code builder."""
    dc_syms = list(range(9))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 4)
    ]
    return dc_syms, ac_syms


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for k in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> k) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the JPEG canonical construction
    (ISO 10918 C.2): codes assigned in (length, listed-order)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _size_cat(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    """FF-marker segment framing (length includes its own two bytes) —
    shared by the grayscale and color synthesizers."""
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def synth_jpeg(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    restart_interval: int | None = None,
) -> DataFrame:
    """(id, payload binary): a real 16x16 grayscale baseline JFIF per
    row, quantized coefficients from `jpeg_coef`. Differential DC,
    run-length ACs with EOB/ZRL, byte-stuffed entropy stream, custom
    canonical Huffman tables declared in DHT. `restart_interval`
    (MCUs; a single-component scan's MCU is one block, so 16x16 has 4)
    emits a DRI segment and RSTn markers with byte-aligned flushes and
    DC-predictor resets — the framing real encoders emit so huge scans
    can be entropy-decoded in parallel chunks; pixels are identical
    with or without it (pytest-pinned)."""
    from pyspark.sql.functions import pandas_udf

    dc_syms, ac_syms = _jpeg_huff_tables()
    dc_bits = [0] * 16
    dc_bits[3] = len(dc_syms)  # all DC codes 4 bits
    ac_bits = [0] * 16
    ac_bits[5] = len(ac_syms)  # all AC codes 6 bits
    dc_codes = _canonical_codes(dc_bits, dc_syms)
    ac_codes = _canonical_codes(ac_bits, ac_syms)
    q = jpeg_qtab()

    def _encode_one(i: int) -> bytes:
        intervals = []
        bw = _BitWriter()
        prev_dc = 0
        for b in range(4):
            if restart_interval and b and b % restart_interval == 0:
                intervals.append(bw.flush())
                bw = _BitWriter()
                prev_dc = 0  # RST resets the DC predictor
            coefs = [
                jpeg_coef(i, b, n // 8, n % 8) for n in range(64)
            ]  # natural order
            zz = [coefs[_ZIGZAG[k]] for k in range(64)]
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            s = _size_cat(diff)
            code, ln = dc_codes[s]
            bw.write(code, ln)
            if s:
                bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
            run = 0
            for k in range(1, 64):
                a = zz[k]
                if a == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]
                    bw.write(code, ln)  # ZRL
                    run -= 16
                s = _size_cat(a)
                code, ln = ac_codes[(run << 4) | s]
                bw.write(code, ln)
                bw.write(a if a > 0 else a + (1 << s) - 1, s)
                run = 0
            if run:
                code, ln = ac_codes[0x00]
                bw.write(code, ln)  # EOB
        intervals.append(bw.flush())
        scan = intervals[0]
        for k, seg in enumerate(intervals[1:]):
            scan += bytes([0xFF, 0xD0 + (k % 8)]) + seg

        zz_q = bytes(q[_ZIGZAG[k] // 8][_ZIGZAG[k] % 8] for k in range(64))
        out = b"\xff\xd8"  # SOI
        out += _jpeg_seg(0xDB, b"\x00" + zz_q)  # DQT, Pq=0 Tq=0
        out += _jpeg_seg(
            0xC0,
            b"\x08"
            + JPEG_H.to_bytes(2, "big")
            + JPEG_W.to_bytes(2, "big")
            + b"\x01\x01\x11\x00",  # 1 component, 1x1 sampling, Tq 0
        )
        out += _jpeg_seg(0xC4, b"\x00" + bytes(dc_bits) + bytes(dc_syms))
        out += _jpeg_seg(0xC4, b"\x10" + bytes(ac_bits) + bytes(ac_syms))
        if restart_interval:
            out += _jpeg_seg(
                0xDD, int(restart_interval).to_bytes(2, "big")
            )
        out += _jpeg_seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        out += scan
        out += b"\xff\xd9"  # EOI
        return out

    def _mk_fn(ids):
        return pd.Series([_encode_one(int(i)) for i in ids])

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


def _jpeg_prog_tables():
    """Shared grayscale progressive Huffman table set — DC size
    categories 0..8 at 4 bits, AC (run, size<=3) plus EOB/EOB1/EOB2/
    ZRL at 6 bits (EOBn runs span <= 4 blocks here, so n <= 2) — used
    by BOTH progressive synthesizers so table shape fixes land once.
    Returns (dc_bits, dc_syms, dc_codes, ac_bits, ac_syms,
    ac_codes)."""
    dc_syms, _ = _jpeg_huff_tables()
    dc_bits = [0] * 16
    dc_bits[3] = len(dc_syms)
    ac_syms = [0x00, 0x10, 0x20, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 4)
    ]
    ac_bits = [0] * 16
    ac_bits[5] = len(ac_syms)
    return (
        dc_bits, dc_syms, _canonical_codes(dc_bits, dc_syms),
        ac_bits, ac_syms, _canonical_codes(ac_bits, ac_syms),
    )


def _jpeg_gray_prog_header(q, dc_bits, dc_syms, ac_bits, ac_syms) -> bytes:
    """SOI/DQT/SOF2/DHTx2 framing of a 16x16 grayscale progressive
    JFIF — shared by both progressive synthesizers."""
    zz_q = bytes(q[_ZIGZAG[k] // 8][_ZIGZAG[k] % 8] for k in range(64))
    out = b"\xff\xd8"
    out += _jpeg_seg(0xDB, b"\x00" + zz_q)
    out += _jpeg_seg(
        0xC2,  # SOF2: progressive DCT
        b"\x08"
        + JPEG_H.to_bytes(2, "big")
        + JPEG_W.to_bytes(2, "big")
        + b"\x01\x01\x11\x00",
    )
    out += _jpeg_seg(0xC4, b"\x00" + bytes(dc_bits) + bytes(dc_syms))
    out += _jpeg_seg(0xC4, b"\x10" + bytes(ac_bits) + bytes(ac_syms))
    return out


def synth_jpeg_progressive(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    bands: tuple[tuple[int, int], ...] = (
        (1, 5), (6, 29), (30, 40), (41, 63),
    ),
    redefine_ac_table: bool = False,
) -> DataFrame:
    """(id, payload binary): a real 16x16 grayscale PROGRESSIVE JFIF
    per row — SOF2, spectral-selection mode (Ah=Al=0): one DC scan
    (Ss=Se=0) followed by one AC scan per `bands` entry, each a
    separate SOS over the zigzag band [Ss, Se]. AC scans use EOBn
    end-of-band RUN codes accumulated ACROSS blocks (flushed before
    the next non-EOB symbol and at scan end) — the part of progressive
    entropy coding baseline doesn't have; the default band split is
    chosen so the (30, 40) band is all-zero across >=2 consecutive
    blocks in ~86% of gate images, really exercising EOBn with n >= 1. Coefficients are the same
    `jpeg_coef` closed form as synth_jpeg, so the progressive payload
    decodes to bit-identical pixels (pytest-pinned; the gate reuses
    the baseline oracle for exactly that reason). With
    `redefine_ac_table` each AC scan after the first re-emits a DHT
    for slot Tc=1/Th=0 with the symbol list ROTATED by the scan index
    (different canonical code assignment, same lengths) and encodes
    with the new codes — the per-scan table redefinition T.81 permits
    and libjpeg progressive output performs, which a decoder that
    accumulates DHT globally before decoding mis-reads."""
    from pyspark.sql.functions import pandas_udf

    (dc_bits, dc_syms, dc_codes,
     ac_bits, ac_syms, ac_codes) = _jpeg_prog_tables()
    q = jpeg_qtab()

    def _encode_one(i: int) -> bytes:
        blocks = []
        for b in range(4):
            coefs = [jpeg_coef(i, b, n // 8, n % 8) for n in range(64)]
            blocks.append([coefs[_ZIGZAG[k]] for k in range(64)])

        # DC scan (Ss=Se=0)
        bw = _BitWriter()
        prev_dc = 0
        for zz in blocks:
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            s = _size_cat(diff)
            code, ln = dc_codes[s]
            bw.write(code, ln)
            if s:
                bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        scans = [(0, 0, None, bw.flush())]

        # AC band scans with cross-block EOBRUN accumulation
        for j, (ss, se) in enumerate(bands):
            if redefine_ac_table and j:
                syms = ac_syms[j:] + ac_syms[:j]
                codes = _canonical_codes(ac_bits, syms)
                dht_body = b"\x10" + bytes(ac_bits) + bytes(syms)
            else:
                codes, dht_body = ac_codes, None
            bw = _BitWriter()
            eobrun = [0]

            def flush_eobrun():
                if not eobrun[0]:
                    return
                n = eobrun[0].bit_length() - 1
                code, ln = codes[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(eobrun[0] - (1 << n), n)
                eobrun[0] = 0

            for zz in blocks:
                band = zz[ss : se + 1]
                if not any(band):
                    eobrun[0] += 1
                    continue
                flush_eobrun()
                run = 0
                last = max(k for k, a in enumerate(band) if a)
                for k, a in enumerate(band):
                    if k > last:
                        break
                    if a == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = codes[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    s = _size_cat(a)
                    code, ln = codes[(run << 4) | s]
                    bw.write(code, ln)
                    bw.write(a if a > 0 else a + (1 << s) - 1, s)
                    run = 0
                if last < len(band) - 1:
                    eobrun[0] += 1  # trailing zeros end this band
            flush_eobrun()
            scans.append((ss, se, dht_body, bw.flush()))

        out = _jpeg_gray_prog_header(q, dc_bits, dc_syms, ac_bits, ac_syms)
        for ss, se, dht_body, data in scans:
            if dht_body is not None:
                out += _jpeg_seg(0xC4, dht_body)
            out += _jpeg_seg(
                0xDA, b"\x01\x01\x00" + bytes([ss, se, 0x00])
            )
            out += data
        out += b"\xff\xd9"
        return out

    def _mk_fn(ids):
        return pd.Series([_encode_one(int(i)) for i in ids])

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


def synth_jpeg_progressive_sa(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63)),
    dc_al: int = 1,
    ac_al: int = 2,
) -> DataFrame:
    """(id, payload binary): a real 16x16 grayscale progressive JFIF
    using SUCCESSIVE APPROXIMATION (T.81 G.1.2) — the scan script
    shape libjpeg emits by default for progressive output: DC first
    scan at reduced precision (diffs of dc >> dc_al), AC first scans
    per band at Al=ac_al (spectral coding of sign * (abs >> Al)), then
    AC REFINEMENT scans (Ah = Al+1) walking Al down to 0 — run/size
    symbols over zero-history coefficients only, one correction bit
    per already-nonzero coefficient interleaved in position order
    through ZRL advances and EOB runs (deferred and flushed after the
    EOBn symbol, exactly as a conformant decoder consumes them), newly
    significant coefficients as s=1 + explicit sign landing at
    +-(1 << Al) — and DC refinement scans appending one raw bit per
    block. Coefficients are the same `jpeg_coef` closed form, so the
    SA payload reconstructs them EXACTLY and decodes to bit-identical
    pixels with the baseline encoding (pytest-pinned; the gate reuses
    the baseline oracle for exactly that reason)."""
    from pyspark.sql.functions import pandas_udf

    (dc_bits, dc_syms, dc_codes,
     ac_bits, ac_syms, ac_codes) = _jpeg_prog_tables()
    q = jpeg_qtab()

    def _first_ac_scan(blocks, ss, se, al):
        """Spectral-selection coding of t = sign * (abs >> al)."""
        bw = _BitWriter()
        eobrun = [0]

        def flush_eobrun():
            if not eobrun[0]:
                return
            n = eobrun[0].bit_length() - 1
            code, ln = ac_codes[n << 4]
            bw.write(code, ln)
            if n:
                bw.write(eobrun[0] - (1 << n), n)
            eobrun[0] = 0

        for zz in blocks:
            band = [
                (1 if a > 0 else -1) * (abs(a) >> al)
                for a in zz[ss : se + 1]
            ]
            if not any(band):
                eobrun[0] += 1
                continue
            flush_eobrun()
            run = 0
            last = max(k for k, a in enumerate(band) if a)
            for k, a in enumerate(band):
                if k > last:
                    break
                if a == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s = _size_cat(a)
                code, ln = ac_codes[(run << 4) | s]
                bw.write(code, ln)
                bw.write(a if a > 0 else a + (1 << s) - 1, s)
                run = 0
            if last < len(band) - 1:
                eobrun[0] += 1
        flush_eobrun()
        return bw.flush()

    def _refine_ac_scan(blocks, ss, se, al):
        """Refinement pass: mirrors the decoder's advance exactly —
        symbols cover zero-history coefficients; correction bits for
        nonzero-history ones interleave in position order and defer
        across EOB runs."""
        bw = _BitWriter()
        eobrun = [0]
        eob_bits: list[int] = []

        def flush_eob():
            if not eobrun[0]:
                return
            n = eobrun[0].bit_length() - 1
            code, ln = ac_codes[n << 4]
            bw.write(code, ln)
            if n:
                bw.write(eobrun[0] - (1 << n), n)
            for b in eob_bits:
                bw.write(b, 1)
            eob_bits.clear()
            eobrun[0] = 0

        for zz in blocks:
            band = zz[ss : se + 1]
            temps = [abs(a) >> al for a in band]
            hist = [abs(a) >> (al + 1) for a in band]
            new = [h == 0 and t == 1 for t, h in zip(temps, hist)]
            if not any(new):
                eobrun[0] += 1
                eob_bits.extend(
                    t & 1 for t, h in zip(temps, hist) if h
                )
                continue
            flush_eob()
            last_new = max(k for k, x in enumerate(new) if x)
            i = 0
            while i <= last_new:
                r = 0
                bits: list[int] = []
                while True:
                    if hist[i]:
                        bits.append(temps[i] & 1)
                        i += 1
                        continue
                    if new[i]:
                        code, ln = ac_codes[(r << 4) | 1]
                        bw.write(code, ln)
                        bw.write(1 if band[i] > 0 else 0, 1)
                        for b in bits:
                            bw.write(b, 1)
                        i += 1
                        break
                    if r == 15:
                        code, ln = ac_codes[0xF0]
                        bw.write(code, ln)
                        for b in bits:
                            bw.write(b, 1)
                        i += 1
                        break
                    r += 1
                    i += 1
            if last_new < len(band) - 1:
                # block tail: covered by a (possibly multi-block) EOB
                # run; its correction bits defer until the run flushes
                eobrun[0] += 1
                eob_bits.extend(
                    temps[k] & 1
                    for k in range(last_new + 1, len(band))
                    if hist[k]
                )
        flush_eob()
        return bw.flush()

    def _encode_one(i: int) -> bytes:
        blocks = []
        for b in range(4):
            coefs = [jpeg_coef(i, b, n // 8, n % 8) for n in range(64)]
            blocks.append([coefs[_ZIGZAG[k]] for k in range(64)])

        scans = []  # (ss, se, ah, al, data)
        # DC first scan at reduced precision
        bw = _BitWriter()
        prev = 0
        for zz in blocks:
            v = zz[0] >> dc_al  # arithmetic shift: floor toward -inf
            diff = v - prev
            prev = v
            s = _size_cat(diff)
            code, ln = dc_codes[s]
            bw.write(code, ln)
            if s:
                bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        scans.append((0, 0, 0, dc_al, bw.flush()))
        # AC first scans per band, then refinements walking Al down
        for ss, se in bands:
            scans.append((ss, se, 0, ac_al,
                          _first_ac_scan(blocks, ss, se, ac_al)))
        for al in range(ac_al - 1, -1, -1):
            for ss, se in bands:
                scans.append((ss, se, al + 1, al,
                              _refine_ac_scan(blocks, ss, se, al)))
        # DC refinement scans: one raw bit per block
        for al in range(dc_al - 1, -1, -1):
            bw = _BitWriter()
            for zz in blocks:
                bw.write((zz[0] >> al) & 1, 1)
            scans.append((0, 0, al + 1, al, bw.flush()))

        out = _jpeg_gray_prog_header(q, dc_bits, dc_syms, ac_bits, ac_syms)
        for ss, se, ah, al, data in scans:
            out += _jpeg_seg(
                0xDA, b"\x01\x01\x00" + bytes([ss, se, (ah << 4) | al])
            )
            out += data
        out += b"\xff\xd9"
        return out

    def _mk_fn(ids):
        return pd.Series([_encode_one(int(i)) for i in ids])

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


def _jpeg_parse_dht(body: bytes) -> dict:
    """DHT segment -> {Tc<<4|Th: symbol -> (code, length)} via the
    general ISO C.2 canonical construction (any table content)."""
    tables = {}
    off = 0
    while off < len(body):
        tc_th = body[off]
        bits = list(body[off + 1 : off + 17])
        n = sum(bits)
        vals = list(body[off + 17 : off + 17 + n])
        tables[tc_th] = _canonical_codes(bits, vals)
        off += 17 + n
    return tables


def _jpeg_entropy_segments(buf: bytes, start: int):
    """Byte-unstuffed entropy data of ONE scan, split into restart
    segments at RSTn markers (each byte-aligned, independently
    decodable). Returns (segments, next_pos) with next_pos at the
    first non-RST marker so the caller's walk continues — progressive
    streams carry several SOS scans."""
    segments = [[]]
    p = start
    while p < len(buf):
        byte = buf[p]
        if byte == 0xFF:
            nxt = buf[p + 1]
            if nxt == 0x00:
                segments[-1].append(byte)
                p += 2
                continue
            if nxt == 0xFF:
                # 0xFF run: fill byte(s) (T.81 B.1.1.2) before whatever
                # the byte after the run is. Look past the run: a 0x00
                # there means the run's LAST 0xFF + 0x00 is a stuffed
                # data byte (fills precede it — the reading libjpeg
                # also applies), an RSTn continues the scan with a new
                # segment, anything else is a real marker and ends the
                # scan with p at the run start (the caller's walk
                # skips the fill).
                q = p + 1
                while q + 1 < len(buf) and buf[q + 1] == 0xFF:
                    q += 1
                if q + 1 < len(buf) and buf[q + 1] == 0x00:
                    segments[-1].append(0xFF)
                    p = q + 2
                    continue
                if q + 1 < len(buf) and 0xD0 <= buf[q + 1] <= 0xD7:
                    segments.append([])
                    p = q + 2
                    continue
                break
            if 0xD0 <= nxt <= 0xD7:
                segments.append([])
                p += 2
                continue
            break  # a real marker ends the scan
        segments[-1].append(byte)
        p += 1
    return segments, p


def _jpeg_decode_planes(buf: bytes, D):
    """Shared JPEG core, BYTES ONLY — one decoder for the grayscale,
    color and progressive kernels (they diverged once and a
    marker-walk fix would have had to land twice): marker walk
    (SOI/DQT(xN)/SOF0|SOF2/DHT(xN)/DRI/SOS(xN)/EOI), multi-component
    sampling factors + quant ids, per-scan Huffman selectors and
    spectral band (Ss, Se), byte-unstuffed restart-segmented bit
    reader, interleaved-MCU or single-component block order per scan,
    differential DC + EXTEND, progressive EOBRUN (baseline EOB is its
    n=0 case), dezigzag into a per-block COEFFICIENT store — scans
    accumulate coefficients; dequant + Q14 integer IDCT run once at
    the end (p = floor(S / 2^30) + 128, clamped), so a progressive
    stream of the same coefficients reconstructs bit-identical pixels
    to its baseline encoding. SUCCESSIVE APPROXIMATION (T.81 G.1.2,
    libjpeg's default progressive mode) decodes fully: first scans
    land values << Al (point transform), refinement scans append one
    magnitude bit per coefficient — raw DC bits OR-ed in at Al, AC
    run/size symbols over zero-history coefficients with correction
    bits interleaved through ZRL advances and EOB runs. Arithmetic
    entropy coding is refused — the declared boundary (the QM-coder
    needs Annex D's normative Qe table). Returns (w, h, comps,
    planes): comps = [(comp_id, h_i, v_i, tq)] in SOF order, planes =
    {comp_id: int64 array (8*v_i*mcuy, 8*h_i*mcux)}."""
    import numpy as np

    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, list[list[int]]] = {}
    huff = {}
    w = h = None
    comps = []  # (comp_id, h_i, v_i, tq)
    ri = 0  # DRI restart interval (0 = none)
    scans = []  # (scan_comps, Ss, Se, Ah, Al, ri, segments)
    while pos < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
            pos += 1  # skip fill bytes before the marker id (B.1.1.2)
        m = buf[pos + 1]
        if m == 0xD9:
            break
        ln = int.from_bytes(buf[pos + 2 : pos + 4], "big")
        body = buf[pos + 4 : pos + 2 + ln]
        if m == 0xDB:
            off = 0
            while off < len(body):
                if body[off] >> 4 != 0:
                    raise ValueError("only 8-bit DQT supported")
                tq = body[off] & 0x0F
                zz = list(body[off + 1 : off + 65])
                q = [[0] * 8 for _ in range(8)]
                for k, nat in enumerate(_ZIGZAG):
                    q[nat // 8][nat % 8] = zz[k]
                qtabs[tq] = q
                off += 65
        elif m in (0xC0, 0xC2):  # baseline / progressive frame
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            for c in range(nc):
                cid = body[6 + 3 * c]
                hv = body[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, body[8 + 3 * c]))
        elif m in (0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF) or m == 0xCC:
            # SOF9/10/11/13/14/15 + DAC: arithmetic entropy coding.
            # Declared FINAL boundary (module docstring): a conformant
            # QM-coder needs T.81 Annex D's normative 113-row Qe state
            # table — constants that cannot be re-derived from first
            # principles, and a from-memory reconstruction would decode
            # plausibly while being silently nonconformant on real
            # streams (the worst failure mode for a data engine).
            raise ValueError(
                "arithmetic-coded JPEG not supported (declared codec "
                "boundary: T.81 Annex D QM-coder)"
            )
        elif 0xC1 <= m <= 0xC7 and m != 0xC4:
            raise ValueError(
                f"unsupported SOF marker 0xFF{m:02X}: only baseline "
                "(SOF0) and Huffman progressive incl. successive "
                "approximation (SOF2)"
            )
        elif m == 0xC4:
            huff.update(_jpeg_parse_dht(body))
        elif m == 0xDD:
            ri = int.from_bytes(body[:2], "big")
        elif m == 0xDA:
            ns = body[0]
            sc = [
                (body[1 + 2 * c], body[2 + 2 * c] >> 4,
                 body[2 + 2 * c] & 0x0F)
                for c in range(ns)
            ]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah_al = body[3 + 2 * ns]
            segments, pos = _jpeg_entropy_segments(buf, pos + 2 + ln)
            # snapshot the Huffman table state AT this SOS (like ri):
            # later DHT segments may redefine slots 0/1 for the next
            # scan (T.81 permits it; libjpeg progressive output does
            # it routinely) and must not retroactively change this one
            scans.append(
                (sc, ss, se, ah_al >> 4, ah_al & 0x0F, ri, segments,
                 dict(huff))
            )
            continue  # pos already advanced past the entropy data
        pos += 2 + ln
    if not qtabs or w is None or not comps or not scans:
        raise ValueError("missing DQT/SOF0/SOS")

    by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # per-component COEFFICIENT store (natural order); scans accumulate
    coef = {
        cid: np.zeros((vi * mcuy, hi * mcux, 8, 8), dtype=np.int64)
        for cid, hi, vi, tq in comps
    }

    for sc, ss, se, ah, al, sri, segments, huff_s in scans:
        rev = {
            key: {v: k for k, v in tab.items()}
            for key, tab in huff_s.items()
        }
        state = {"seg": 0, "bp": 0}

        def read_bit() -> int:
            seg = segments[state["seg"]]
            bp = state["bp"]
            byte = seg[bp >> 3]
            bit = (byte >> (7 - (bp & 7))) & 1
            state["bp"] = bp + 1
            return bit

        def read_code(table) -> int:
            code, ln2 = 0, 0
            while ln2 < 16:
                code = (code << 1) | read_bit()
                ln2 += 1
                sym = table.get((code, ln2))
                if sym is not None:
                    return sym
            raise ValueError("invalid Huffman code in scan")

        def read_bits(n: int) -> int:
            v = 0
            for _ in range(n):
                v = (v << 1) | read_bit()
            return v

        def read_extend(size: int) -> int:
            if size == 0:
                return 0
            v = read_bits(size)
            if v < (1 << (size - 1)):
                v -= (1 << size) - 1
            return v

        prev_dc = {cid: 0 for cid, _, _ in sc}
        eobrun = [0]
        p1, m1 = 1 << al, -(1 << al)  # refinement increments

        def decode_block(cid, by, bx, dc_t, ac_t):
            # first pass (Ah=0): baseline, progressive spectral, and
            # successive-approximation FIRST scans — values arrive at
            # reduced precision (point transform) and store << Al
            store = coef[cid][by, bx]
            k = ss
            if ss == 0:
                s = read_code(rev[0x00 | dc_t])
                prev_dc[cid] += read_extend(s)
                store[0, 0] = prev_dc[cid] << al
                k = 1
            if k > se:
                return
            if eobrun[0] > 0:  # progressive end-of-band run
                eobrun[0] -= 1
                return
            ac = rev[0x10 | ac_t]
            while k <= se:
                sym = read_code(ac)
                r, s = sym >> 4, sym & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    run = 1 << r  # EOBn (baseline EOB = n=0)
                    if r:
                        run += read_bits(r)
                    eobrun[0] = run - 1
                    return
                k += r
                nat = _ZIGZAG[k]
                store[nat // 8, nat % 8] = read_extend(s) << al
                k += 1

        def decode_block_refine(cid, by, bx, dc_t, ac_t):
            # refinement pass (Ah = Al+1): one more magnitude bit per
            # coefficient (T.81 G.1.2). DC: one raw bit OR-ed in at Al
            # (exact on signed values — Python's infinite-precision
            # two's complement makes v == (v >> n << n) | low-bits).
            # AC: run/size symbols cover ZERO-HISTORY coefficients
            # only; every already-nonzero coefficient encountered while
            # advancing consumes a correction bit (1 -> grow magnitude
            # by 1 << Al), including across ZRL and EOB runs; a newly
            # significant coefficient carries s=1 + an explicit sign
            # bit and lands as +-(1 << Al).
            store = coef[cid][by, bx]
            if ss == 0:
                if read_bit():
                    store[0, 0] = int(store[0, 0]) | p1
                return
            k = ss
            if eobrun[0] == 0:
                ac = rev[0x10 | ac_t]
                while k <= se:
                    sym = read_code(ac)
                    r, s = sym >> 4, sym & 0x0F
                    newval = 0
                    if s == 0:
                        if r != 15:
                            run = 1 << r  # EOBn
                            if r:
                                run += read_bits(r)
                            eobrun[0] = run
                            break
                        # ZRL: advance past 16 zero-history coeffs
                    else:
                        newval = p1 if read_bit() else m1
                    while k <= se:
                        nat = _ZIGZAG[k]
                        v = int(store[nat // 8, nat % 8])
                        if v != 0:
                            if read_bit() and (v & p1) == 0:
                                store[nat // 8, nat % 8] = (
                                    v + p1 if v >= 0 else v + m1
                                )
                            k += 1
                            continue
                        if r == 0:
                            if s:
                                store[nat // 8, nat % 8] = newval
                            k += 1
                            break
                        r -= 1
                        k += 1
            if eobrun[0] > 0:
                # rest of this block's band: correction bits only
                while k <= se:
                    nat = _ZIGZAG[k]
                    v = int(store[nat // 8, nat % 8])
                    if v != 0 and read_bit() and (v & p1) == 0:
                        store[nat // 8, nat % 8] = (
                            v + p1 if v >= 0 else v + m1
                        )
                    k += 1
                eobrun[0] -= 1

        def restart() -> None:
            state["seg"] += 1
            state["bp"] = 0
            for c in prev_dc:
                prev_dc[c] = 0
            eobrun[0] = 0  # EOBRUN cannot cross a restart (E.2.4)

        block_fn = decode_block_refine if ah != 0 else decode_block
        n_units = 0
        if len(sc) > 1:  # interleaved: one MCU per unit
            for my in range(mcuy):
                for mx in range(mcux):
                    if sri and n_units and n_units % sri == 0:
                        restart()
                    n_units += 1
                    for cid, dc_t, ac_t in sc:
                        hi, vi, _ = by_id[cid]
                        for byy in range(vi):
                            for bxx in range(hi):
                                block_fn(
                                    cid,
                                    my * vi + byy,
                                    mx * hi + bxx,
                                    dc_t,
                                    ac_t,
                                )
        else:  # single-component scan: non-interleaved block raster
            cid, dc_t, ac_t = sc[0]
            hi, vi, _ = by_id[cid]
            bw_n = -(-(w * hi) // (8 * hmax))
            bh_n = -(-(h * vi) // (8 * vmax))
            for by in range(bh_n):
                for bx in range(bw_n):
                    if sri and n_units and n_units % sri == 0:
                        restart()
                    n_units += 1
                    block_fn(cid, by, bx, dc_t, ac_t)

    # dequant + IDCT once, after every scan has landed its band
    planes = {}
    for cid, hi, vi, tq in comps:
        Q = np.array(qtabs[tq], dtype=np.int64)
        arr = np.zeros((8 * vi * mcuy, 8 * hi * mcux), dtype=np.int64)
        store = coef[cid]
        for by in range(store.shape[0]):
            for bx in range(store.shape[1]):
                dq = store[by, bx] * Q
                # S[y][x] = sum_uv dq[u,v] D[u,y] D[v,x]
                S = D.T @ dq @ D
                blk = np.clip(S // (1 << 30) + 128, 0, 255)
                arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
        planes[cid] = arr
    return w, h, comps, planes


def decode_jpeg_features(media: DataFrame) -> DataFrame:
    """REAL baseline-JPEG decode over (id, payload) — BYTES ONLY, no
    consultation of the generator: the shared _jpeg_decode_planes core
    (marker walk, general ISO C.2 canonical Huffman construction from
    DHT, byte-unstuffed bit reader, differential DC with EXTEND,
    dezigzag, dequant via the DQT table, Q14 integer IDCT with
    p = floor(S / 2^30) + 128, clamped) — every pixel an exact integer
    the oracle re-derives. Refuses multi-component payloads (use
    decode_jpeg_color_features). Emits per image: (id, w, h, sum_pix,
    checksum) with checksum = sum p(x, y) * (1 + x + 2y) over global
    coords."""
    import numpy as np

    D = np.array(jpeg_idct_table(), dtype=np.int64)

    def _decode_one(i: int, buf: bytes):
        w, h, comps, planes = _jpeg_decode_planes(buf, D)
        if len(comps) != 1:
            raise ValueError(
                "multi-component JPEG: use decode_jpeg_color_features"
            )
        pix = planes[comps[0][0]][:h, :w]
        xg = np.arange(w)[None, :]
        yg = np.arange(h)[:, None]
        return (
            int(i),
            w,
            h,
            int(pix.sum()),
            int((pix * (1 + xg + 2 * yg)).sum()),
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _decode_one(i, bytes(payload))
                for i, payload in zip(pdf["id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows, columns=["id", "w", "h", "sum_pix", "checksum"]
            )

    return media.mapInPandas(
        kernel, "id long, w int, h int, sum_pix long, checksum long"
    )


def jpeg_qtab_chroma() -> list[list[int]]:
    """Chroma quant table q[u][v] = 1 + 2u + v — distinct from the
    luma table so the decoder's per-component Tq plumbing is actually
    exercised; all-nonzero, shared by synthesizer, decoder (via the
    second DQT segment) and the oracle (as literals)."""
    return [[1 + 2 * u + v for v in range(8)] for u in range(8)]


def jpeg_coef_color(i: int, comp: int, b: int, u: int, v: int) -> int:
    """Closed-form quantized coefficient for image i, component comp
    (0=Y with blocks b 0..3, 1=Cb, 2=Cr with b=0), natural (u, v):
    DC = (7i + 5b + 11*comp) % 200 - 100; AC nonzero on the
    (u+v+i+b+comp) % 7 == 0 lattice, value
    ((i + 3u + 5v + b + 2*comp) % 15) - 7."""
    if u == 0 and v == 0:
        return (7 * i + 5 * b + 11 * comp) % 200 - 100
    if (u + v + i + b + comp) % 7 == 0:
        return (i + 3 * u + 5 * v + b + 2 * comp) % 15 - 7
    return 0


def _jpeg_chroma_huff_tables():
    """Chroma (dc_symbols, ac_symbols) at DIFFERENT code lengths than
    the luma tables (DC 5 bits, AC 7 bits) so the decoder provably
    keys tables by the SOS selectors, not by reuse of table 0."""
    dc_syms = list(range(9))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 4)
    ]
    return dc_syms, ac_syms


def synth_jpeg_color(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload binary): a real 16x16 COLOR baseline JFIF per row —
    3 YCbCr components with 4:2:0 subsampling (Y 2x2 blocks, Cb/Cr one
    8x8 block each, one interleaved MCU), TWO quant tables (Tq0 luma,
    Tq1 chroma), FOUR canonical Huffman tables (DC0/AC0 luma at 4/6
    bits, DC1/AC1 chroma at 5/7 bits), per-component differential DC,
    run-length ACs with EOB/ZRL, byte-stuffed entropy stream.
    Coefficients from `jpeg_coef_color` (JPEG is lossy — the gate pins
    coefficients, not a pixel roundtrip)."""
    from pyspark.sql.functions import pandas_udf

    dc_syms, ac_syms = _jpeg_huff_tables()
    dc_bits = [0] * 16
    dc_bits[3] = len(dc_syms)
    ac_bits = [0] * 16
    ac_bits[5] = len(ac_syms)
    dc_codes = _canonical_codes(dc_bits, dc_syms)
    ac_codes = _canonical_codes(ac_bits, ac_syms)
    cdc_syms, cac_syms = _jpeg_chroma_huff_tables()
    cdc_bits = [0] * 16
    cdc_bits[4] = len(cdc_syms)  # 5-bit chroma DC codes
    cac_bits = [0] * 16
    cac_bits[6] = len(cac_syms)  # 7-bit chroma AC codes
    cdc_codes = _canonical_codes(cdc_bits, cdc_syms)
    cac_codes = _canonical_codes(cac_bits, cac_syms)
    qy = jpeg_qtab()
    qc = jpeg_qtab_chroma()

    def _write_block(bw, zz, prev_dc, dcc, acc):
        diff = zz[0] - prev_dc
        s = _size_cat(diff)
        code, ln = dcc[s]
        bw.write(code, ln)
        if s:
            bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        run = 0
        for k in range(1, 64):
            a = zz[k]
            if a == 0:
                run += 1
                continue
            while run > 15:
                code, ln = acc[0xF0]
                bw.write(code, ln)
                run -= 16
            s = _size_cat(a)
            code, ln = acc[(run << 4) | s]
            bw.write(code, ln)
            bw.write(a if a > 0 else a + (1 << s) - 1, s)
            run = 0
        if run:
            code, ln = acc[0x00]
            bw.write(code, ln)
        return zz[0]

    def _encode_one(i: int) -> bytes:
        bw = _BitWriter()
        prev = [0, 0, 0]  # per-component DC predictors
        # one MCU: Y blocks raster (b=0..3), then Cb, then Cr
        for comp, b, dcc, acc in (
            [(0, b, dc_codes, ac_codes) for b in range(4)]
            + [(1, 0, cdc_codes, cac_codes), (2, 0, cdc_codes, cac_codes)]
        ):
            coefs = [
                jpeg_coef_color(i, comp, b, n // 8, n % 8) for n in range(64)
            ]
            zz = [coefs[_ZIGZAG[k]] for k in range(64)]
            prev[comp] = _write_block(bw, zz, prev[comp], dcc, acc)
        scan = bw.flush()

        zzq_y = bytes(qy[_ZIGZAG[k] // 8][_ZIGZAG[k] % 8] for k in range(64))
        zzq_c = bytes(qc[_ZIGZAG[k] // 8][_ZIGZAG[k] % 8] for k in range(64))
        out = b"\xff\xd8"
        out += _jpeg_seg(0xDB, b"\x00" + zzq_y)  # DQT Tq0 (luma)
        out += _jpeg_seg(0xDB, b"\x01" + zzq_c)  # DQT Tq1 (chroma)
        out += _jpeg_seg(
            0xC0,
            b"\x08"
            + JPEG_H.to_bytes(2, "big")
            + JPEG_W.to_bytes(2, "big")
            + b"\x03"
            + b"\x01\x22\x00"  # Y: id 1, 2x2 sampling, Tq0
            + b"\x02\x11\x01"  # Cb: id 2, 1x1, Tq1
            + b"\x03\x11\x01",  # Cr: id 3, 1x1, Tq1
        )
        out += _jpeg_seg(0xC4, b"\x00" + bytes(dc_bits) + bytes(dc_syms))
        out += _jpeg_seg(0xC4, b"\x10" + bytes(ac_bits) + bytes(ac_syms))
        out += _jpeg_seg(0xC4, b"\x01" + bytes(cdc_bits) + bytes(cdc_syms))
        out += _jpeg_seg(0xC4, b"\x11" + bytes(cac_bits) + bytes(cac_syms))
        out += _jpeg_seg(
            0xDA,
            b"\x03"
            + b"\x01\x00"  # Y -> DC0/AC0
            + b"\x02\x11"  # Cb -> DC1/AC1
            + b"\x03\x11"  # Cr -> DC1/AC1
            + b"\x00\x3f\x00",
        )
        out += scan
        out += b"\xff\xd9"
        return out

    def _mk_fn(ids):
        return pd.Series([_encode_one(int(i)) for i in ids])

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


# JFIF/BT.601 YCbCr -> RGB in 16.16 fixed point (libjpeg's constants):
# R = y + (91881*(cr-128) + 32768) >> 16, etc., with FLOOR division so
# every channel is an exact integer both engines re-derive.
_JPEG_CR_R = 91881  # round(1.402 * 65536)
_JPEG_CB_G = 22554  # round(0.344136 * 65536)
_JPEG_CR_G = 46802  # round(0.714136 * 65536)
_JPEG_CB_B = 116130  # round(1.772 * 65536)


def decode_jpeg_color_features(media: DataFrame) -> DataFrame:
    """REAL color baseline-JPEG decode over (id, payload) — BYTES
    ONLY: extends decode_jpeg_features' marker walk to multi-component
    SOF0 (per-component sampling factors + quant-table ids), multi-
    table DQT/DHT, SOS Huffman-table selectors, INTERLEAVED MCU
    entropy decoding (per-component DC predictors), per-component
    dequant + Q14 integer IDCT into component planes, nearest-neighbor
    chroma upsampling (cx = x*h_i//hmax, cy = y*v_i//vmax — the 4:2:0
    replication rule), and exact fixed-point YCbCr->RGB (floor((y<<16
    + k*(c-128) + 32768) / 2^16), clamped — every channel an integer
    the oracle re-derives). Grayscale payloads decode too (1
    component; R=G=B=Y). Entropy/transform machinery is the shared
    _jpeg_decode_planes core — one decoder for both kernels. Emits per
    image: (id, w, h, sum_r, sum_g, sum_b, checksum), checksum =
    sum (r + 2g + 3b) * (1 + x + 2y) over global coords."""
    import numpy as np

    D = np.array(jpeg_idct_table(), dtype=np.int64)

    def _decode_one(i: int, buf: bytes):
        w, h, comps, planes = _jpeg_decode_planes(buf, D)
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)

        xg = np.arange(w)[None, :]
        yg = np.arange(h)[:, None]
        if len(comps) == 1:
            Y = planes[comps[0][0]][:h, :w]
            r = g = b = Y
        else:
            by_id = {cid: (hi, vi) for cid, hi, vi, _ in comps}
            cids = [c[0] for c in comps]
            yid, cbid, crid = cids[0], cids[1], cids[2]

            def up(cid):
                hi, vi = by_id[cid]
                return planes[cid][
                    (np.arange(h)[:, None] * vi) // vmax,
                    (np.arange(w)[None, :] * hi) // hmax,
                ]

            Y = up(yid)
            cb = up(cbid) - 128
            cr = up(crid) - 128
            half = 32768
            r = np.clip(
                Y + (_JPEG_CR_R * cr + half) // 65536, 0, 255
            )
            g = np.clip(
                Y + (-_JPEG_CB_G * cb - _JPEG_CR_G * cr + half) // 65536,
                0,
                255,
            )
            b = np.clip(
                Y + (_JPEG_CB_B * cb + half) // 65536, 0, 255
            )
        wgt = 1 + xg + 2 * yg
        return (
            int(i),
            w,
            h,
            int(r.sum()),
            int(g.sum()),
            int(b.sum()),
            int(((r + 2 * g + 3 * b) * wgt).sum()),
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _decode_one(i, bytes(payload))
                for i, payload in zip(pdf["id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows,
                columns=["id", "w", "h", "sum_r", "sum_g", "sum_b",
                         "checksum"],
            )

    return media.mapInPandas(
        kernel,
        "id long, w int, h int, sum_r long, sum_g long, sum_b long, "
        "checksum long",
    )


# --- Audio perceptual dedup: integer spectral fingerprint over the
# REAL WAV decode + the same Hamming-banded candidate join as pHash —
# the chromaprint shape (per-window filterbank energies, sign-of-delta
# bits), integer-exact so SQL replays every bit. ---


def synth_wav_groups(
    df: DataFrame, id_col: str = "doc_id", group_size: int = 5
) -> DataFrame:
    """(id, payload binary): real RIFF/WAVE PCM16-mono files where ids
    in the same id//group_size group are NEAR-DUPLICATES by
    construction — the group fixes the 256-sample base signal
    (sample[n] = (hash32('au:<g>:<n>') % 65536) - 32768, md5-derived
    per-sample noise exactly like portable.hash32, so distinct groups
    have INDEPENDENT spectra — smooth closed forms like quadratics
    make adjacent windows spectrally similar and groups collide) and
    each id adds sparse +1 noise inside the modulus where
    (7*n + id) % 97 == 0 (~2.6 samples — inaudible, bytes differ).
    Deterministic in (id, n); SQL replays every sample via md5."""
    import hashlib
    import struct

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _base(g: int):
        return np.array(
            [
                int(
                    hashlib.md5(f"au:{g}:{n}".encode()).hexdigest()[:8], 16
                )
                for n in range(256)
            ],
            dtype=np.int64,
        )

    def _mk_fn(ids):
        out = []
        n = np.arange(256, dtype=np.int64)
        bases: dict[int, "np.ndarray"] = {}
        for i in ids:
            i = int(i)
            g = i // group_size
            if g not in bases:
                bases[g] = _base(g)
            noise = ((7 * n + i) % 97 == 0).astype(np.int64)
            v = ((bases[g] + noise) % 65536) - 32768
            data = v.astype("<i2").tobytes()
            rate = 16000
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            body = (
                b"WAVE"
                + b"fmt "
                + struct.pack("<I", len(fmt))
                + fmt
                + b"data"
                + struct.pack("<I", len(data))
                + data
            )
            out.append(b"RIFF" + struct.pack("<I", len(body)) + body)
        return pd.Series(out)

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """(id, phash long): 60-bit spectral fingerprint from DECODED WAV
    bytes alone (nothing here consults a generator formula — the
    decode-proof contract of every media chain): parse the RIFF/WAVE
    chunk walk (PCM16 mono), frame the first 256 samples into 16
    windows of 16, per window compute the 4 low-frequency DCT-II
    filterbank energies E[w][u] = sum_i v[16w+i] * Q[u][i] for
    u = 1..4 over the shared Q14 integer table (phash_dct_table — an
    exact int64 sum: |v| <= 32768, |q| <= 16384, 16 terms < 2^34),
    then the chromaprint-style sign-of-delta bits: bit (w-1)*4+(u-1)
    is 1 iff E[w][u] > E[w-1][u] — 60 bits, robust to amplitude and
    sparse sample noise, flipped wholesale by a different spectrum.
    Column is named `phash` on purpose: the output plugs straight
    into phash_dedup's Hamming-banded candidate join (8x8-bit bands,
    provably complete at Hamming <= 7). Arrow-batched mapInPandas;
    the wide payload dies inside the kernel."""
    import struct

    import numpy as np

    Q = np.array(phash_dct_table(), dtype=np.int64)[1:5]  # u = 1..4

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
                    raise ValueError("not a RIFF/WAVE payload")
                pos, data, fmt_ok = 12, None, False
                while pos + 8 <= len(buf):
                    cid = buf[pos : pos + 4]
                    (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
                    body = buf[pos + 8 : pos + 8 + clen]
                    if cid == b"fmt ":
                        afmt, ch, _, _, _, bits = struct.unpack(
                            "<HHIIHH", body[:16]
                        )
                        if (afmt, ch, bits) != (1, 1, 16):
                            raise ValueError("only PCM16 mono supported")
                        fmt_ok = True
                    elif cid == b"data":
                        data = body
                    pos += 8 + clen + (clen & 1)
                if data is None:
                    raise ValueError("no data chunk")
                if not fmt_ok:
                    # a data chunk with no fmt chunk would otherwise be
                    # reinterpreted as PCM16 unvalidated
                    raise ValueError("no fmt chunk: cannot verify PCM16")
                v = np.frombuffer(data, dtype="<i2").astype(np.int64)
                if v.size < 256:
                    raise ValueError(
                        f"fingerprint needs >= 256 samples, got {v.size}"
                    )
                W = v[:256].reshape(16, 16)  # windows x samples
                E = W @ Q.T  # 16 windows x 4 bands, exact int64
                d = E[1:] > E[:-1]  # 15 x 4 sign-of-delta bits
                fp = 0
                for p, bit in enumerate(d.flatten()):
                    if bit:
                        fp |= 1 << p
                rows.append((int(i), fp))
            yield pd.DataFrame(rows, columns=["id", "phash"])

    return media.mapInPandas(kernel, "id long, phash long")


# --- Perceptual dedup, modality #3: VIDEO (temporal scene-hash over
# the real Y4M decode) -------------------------------------------------
#
# Completes the perceptual-dedup stack: pHash covers images
# (phash_from_ppm), the chromaprint-shape fingerprint covers audio
# (audio_fingerprint); this covers video with the scene-hash shape —
# per-SAMPLED-frame coarse luma signature (quadrant sums), then
# sign-of-delta bits ACROSS frames. Robust to per-pixel noise (a few
# +1s cannot flip a typical inter-frame quadrant delta), flipped
# wholesale by different content. Same 60-bit `phash` column contract,
# so the output plugs straight into phash_dedup's Hamming-banded
# candidate join — never all-pairs.


def synth_y4m_groups(
    df: DataFrame, id_col: str = "doc_id", group_size: int = 5
) -> DataFrame:
    """(id, payload binary): real YUV4MPEG2 C420 clips where ids in the
    same id//group_size group are NEAR-DUPLICATES by construction — the
    group fixes the base content (8x8, 31 frames; luma Y(x,y,f) =
    ((hq + 5x + 11y) % 251) with hq = hash32('vd:<g>:<f>:<q>') % 256
    md5-derived PER FRAME-QUADRANT q = x//4 + 2*(y//4), so distinct
    groups have independent quadrant-sum trajectories — smooth closed
    forms would correlate adjacent groups), and each id adds sparse +1
    luma noise where (31x + 17y + 13f + 7*id) % 101 == 0 (~20 of 1984
    pixels — perceptually invisible, bytes differ). Chroma planes are
    the synth_y4m closed forms (decoded, not fingerprinted).
    Deterministic in (id, x, y, f), so SQL replays every sampled
    pixel via md5."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    w, h, nf = 8, 8, 31

    def _hq(g: int, f: int, q: int) -> int:
        return (
            int(
                hashlib.md5(f"vd:{g}:{f}:{q}".encode()).hexdigest()[:8], 16
            )
            % 256
        )

    def _mk_fn(ids):
        out = []
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        cxs = np.arange(w // 2)[None, :]
        cys = np.arange(h // 2)[:, None]
        qd = (xs // 4) + 2 * (ys // 4)  # quadrant index per pixel
        bases: dict[int, list] = {}
        for i in ids:
            i = int(i)
            g = i // group_size
            if g not in bases:
                frames = []
                for f in range(nf):
                    # 4 hashes per frame (one per quadrant), indexed
                    # through the 8x8 quadrant grid — not one md5 per
                    # pixel
                    hq = np.array(
                        [_hq(g, f, q) for q in range(4)], dtype=np.int64
                    )[qd]
                    frames.append((hq + 5 * xs + 11 * ys) % 251)
                bases[g] = frames
            buf = [b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)]
            for f in range(nf):
                noise = (
                    (31 * xs + 17 * ys + 13 * f + 7 * i) % 101 == 0
                ).astype(np.int64)
                y = (bases[g][f] + noise).astype(np.uint8)
                u = ((3 * cxs + 7 * cys + 13 * f + 2 * i) % 256).astype(
                    np.uint8
                )
                v = ((2 * cxs + 9 * cys + 19 * f + 3 * i) % 256).astype(
                    np.uint8
                )
                buf.append(
                    b"FRAME\n" + y.tobytes() + u.tobytes() + v.tobytes()
                )
            out.append(b"".join(buf))
        return pd.Series(out)

    _mk_fn.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    _mk = pandas_udf(_mk_fn, "binary")
    return spread(df).select(
        F.col(id_col).alias("id"), _mk(F.col(id_col)).alias("payload")
    )


def video_fingerprint(media: DataFrame, *, stride: int = 2) -> DataFrame:
    """(id, phash long): 60-bit temporal fingerprint from DECODED Y4M
    bytes alone (nothing here consults a generator formula — the
    decode-proof contract of every media chain): parse the YUV4MPEG2
    header (C420 only), walk the FRAME markers decoding every
    `stride`-th frame ONLY (the frame-sampling discipline of
    decode_y4m_features — frames the fingerprint won't use are never
    materialized), per sampled frame compute the 4 QUADRANT luma sums
    S[fs][q] (the coarse spatial signature — exact int64), then the
    scene-hash sign-of-delta bits: bit (fs-1)*4 + q is 1 iff
    S[fs][q] > S[fs-1][q]. With the default 31 frames / stride 2 that
    is 16 sampled frames -> 15x4 = 60 bits, robust to sparse pixel
    noise (an inter-frame quadrant delta is typically hundreds of
    counts), flipped wholesale by different content. Column is named
    `phash` on purpose: the output plugs straight into phash_dedup's
    Hamming-banded candidate join (8x8-bit bands, provably complete at
    Hamming <= 7). Arrow-batched mapInPandas; the wide payload dies
    inside the kernel."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                buf = bytes(payload)
                if not buf.startswith(b"YUV4MPEG2"):
                    raise ValueError("not a YUV4MPEG2 payload")
                nl = buf.index(b"\n")
                header = buf[:nl].split(b" ")
                params = {t[:1]: t[1:] for t in header[1:]}
                w, h = int(params[b"W"]), int(params[b"H"])
                if params.get(b"C", b"420") not in (b"420", b"420jpeg"):
                    raise ValueError("only C420 supported")
                if w % 2 or h % 2:
                    raise ValueError("C420 needs even dimensions")
                ylen, clen = w * h, (w // 2) * (h // 2)
                pos, fidx = nl + 1, 0
                sums = []
                # 60-bit budget (the phash_dedup contract): at most 16
                # sampled frames -> 15x4 delta bits; the walk STOPS
                # there, so longer clips never decode past the budget
                while pos < len(buf) and len(sums) < 16:
                    fnl = buf.index(b"\n", pos)
                    if buf[pos : pos + 5] != b"FRAME":
                        raise ValueError("bad FRAME marker")
                    if fidx % stride == 0:
                        y = np.frombuffer(
                            buf[fnl + 1 : fnl + 1 + ylen], dtype=np.uint8
                        ).reshape(h, w).astype(np.int64)
                        half_h, half_w = h // 2, w // 2
                        sums.append(
                            [
                                int(y[:half_h, :half_w].sum()),
                                int(y[:half_h, half_w:].sum()),
                                int(y[half_h:, :half_w].sum()),
                                int(y[half_h:, half_w:].sum()),
                            ]
                        )
                    pos = fnl + 1 + ylen + 2 * clen
                    fidx += 1
                if len(sums) < 2:
                    raise ValueError(
                        "temporal fingerprint needs >= 2 sampled frames"
                    )
                fp = 0
                for fs in range(1, len(sums)):
                    for q in range(4):
                        if sums[fs][q] > sums[fs - 1][q]:
                            fp |= 1 << ((fs - 1) * 4 + q)
                rows.append((int(i), fp))
            yield pd.DataFrame(rows, columns=["id", "phash"])

    return media.mapInPandas(kernel, "id long, phash long")
