"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata columns beside them (the Spark-idiomatic equivalent of the
reference treating NetCDF blobs as opaque during conversion,
loca2.py:84-100). The stdlib-reachable decoders are REAL: PNG/JPEG
header parse (IHDR fields / SOF marker walk), WAV/RIFF chunk walk with
int16 PCM feature math, and full PNG pixel reconstruction (zlib IDAT
inflate + all-five-filter scanline reversal). Only the model-based
steps (frame embedding, learned features) remain clearly-marked
deterministic fakes — PIL/libav/torch are not in this container — behind
the same production plumbing: Arrow-batched ``mapInPandas`` with an
explicit output schema, partition-preserving, no driver collect.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from downscaledclimatedata_spark.plans import QuerySpec, register
from downscaledclimatedata_spark.sources.tables import load_table, load_table_parallel

DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("format", T.StringType()),
])


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize an opaque binary column (stand-in for image/audio bytes)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


# --- the two codec harnesses ------------------------------------------------
# Every uniform codec below is a stats function (bytes -> tuple or None) with
# an output schema, or a payload formula (abs(doc_id) -> bytes). The Arrow
# batch loop for each kind lives here once. The closures capture only what
# they are handed (nested codec functions and plain data), so they pickle by
# value like the codecs themselves.

def _decode_stats(df: DataFrame, stats_fn, schema: T.StructType) -> DataFrame:
    """REAL decode: binary payload -> one row of ``stats_fn`` values per
    input row. ``schema`` field 0 is ``doc_id``; the others take the stats
    tuple in order.

    A NULL payload, or one ``stats_fn`` rejects (returns None), becomes an
    all-NULL stats row rather than erroring the batch (row-level tolerance,
    SURVEY §2 T7). Int and bigint columns go out as nullable pandas
    Int32/Int64 so the NULLs survive the Arrow hand-back; other types
    (TIFF's ``byte_order`` string) pass through as plain lists.
    """
    fields = schema.fields[1:]
    names = [f.name for f in fields]
    dtypes = [("Int32" if isinstance(f.dataType, T.IntegerType) else
               "Int64" if isinstance(f.dataType, T.LongType) else None)
              for f in fields]
    nulls = (None,) * len(fields)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd
        for pdf in batches:
            cols = {k: [] for k in names}
            for payload in pdf["payload"]:
                st = stats_fn(bytes(payload)) if payload is not None else None
                for k, v in zip(names, nulls if st is None else st):
                    cols[k].append(v)
            out = {"doc_id": pdf["doc_id"]}
            for k, dtype in zip(names, dtypes):
                out[k] = pd.array(cols[k], dtype=dtype) if dtype else cols[k]
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(_decode, schema)


def _synthesize(df: DataFrame, blob_of) -> DataFrame:
    """doc_id -> ``blob_of(abs(doc_id))`` as an opaque binary payload.

    abs() keeps every formula identical cross-engine for any input ids;
    the formula is the ONLY thing an oracle knows about the payload.
    """
    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [blob_of(abs(int(d))) for d in pdf["doc_id"]]})

    return df.select("doc_id").mapInPandas(_synth, "doc_id long, payload binary")


def decode_payloads(df: DataFrame) -> DataFrame:
    """Arrow-batched fake decode: binary -> (dims, format) metadata rows.

    STUB: a real deployment replaces ``_fake_decode_batch``'s body with
    PIL/libav calls; the Spark-side contract (schema, batching,
    partitioning) is exactly what production needs.
    """
    # self-contained closure: executors need nothing from this package
    def _fake_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd
        for pdf in batches:
            # NULL payload -> NULL metadata (nullable Int32 keeps NA
            # through the arithmetic and the Arrow hand-back)
            n_bytes = pd.Series(
                pd.array([len(p) if p is not None else None
                          for p in pdf["payload"]], dtype="Int32"))
            # deterministic fake dims derived from payload size
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "width": (64 + (n_bytes % 193)).astype("Int32"),
                "height": (64 + (n_bytes % 97)).astype("Int32"),
                "format": (n_bytes % 3).map({0: "jpeg", 1: "png", 2: "webp"}),
            })

    return df.select("doc_id", "payload").mapInPandas(_fake_decode_batch, DECODED_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
    T.StructField("byte_offset", T.IntegerType()),
])

FRAME_SIZE = 16
FRAME_STRIDE = 64
MAX_FRAMES = 4

FEATURE_DIM = 16

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def sample_frames(df: DataFrame, frame_size: int = FRAME_SIZE,
                  stride: int = FRAME_STRIDE,
                  max_frames: int = MAX_FRAMES) -> DataFrame:
    """Video-style frame sampling: one binary payload -> N frame rows.

    The explode-shaped ``mapInPandas`` contract (output rows != input
    rows) a real video pipeline needs. STUB: a real deployment seeks
    keyframes with libav; here frames are fixed-stride byte windows, so
    the row fan-out, offsets, and binary slicing are real and
    deterministic.
    """
    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame": [], "byte_offset": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # row-level tolerance (SURVEY §2 T7)
                    continue
                blob = bytes(payload)
                n = min(max_frames, max(len(blob) - frame_size, 0) // stride + 1)
                for i in range(n):
                    off = i * stride
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame"].append(blob[off:off + frame_size])
                    out["byte_offset"].append(off)
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(_sample, FRAME_SCHEMA)


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Binary payload -> dense float feature vector (array<float>).

    The embedding-extraction contract for image/audio models. STUB: a
    real deployment runs an ONNX/torch encoder per Arrow batch; here the
    vector is a deterministic byte-histogram projection, so the schema
    (array<float> of fixed dim), batching, and downstream joinability
    with the similarity operators are real.
    """
    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd
        for pdf in batches:
            feats, ids = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # row-level tolerance (SURVEY §2 T7)
                    continue
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist = np.bincount(arr % dim, minlength=dim).astype("float32")
                norm = float(np.sqrt((hist * hist).sum())) or 1.0
                feats.append((hist / norm).tolist())
                ids.append(int(doc_id))
            if ids:  # an all-NULL batch yields nothing (empty numpy
                # columns would defeat Arrow's list<float> conversion)
                yield pd.DataFrame({"doc_id": ids, "feature": feats})

    return df.select("doc_id", "payload").mapInPandas(_extract, FEATURE_SCHEMA)


# --- real image header codecs (PNG IHDR / JPEG SOF segment walk) -------------

IMAGE_DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])

# dims synthesized as a pure function of doc_id so the oracle can recompute
# them; abs() keeps the formula identical cross-engine for any input ids
DIM_W_MOD = 240
DIM_H_MOD = 121


def _build_image_codecs():
    """Pure-Python image codec helpers (stdlib only: struct + zlib).

    Defined as nested functions so Spark closures capture them by value —
    executors never need to import this package. ``make_png`` emits a
    complete, spec-valid PNG (magic, IHDR, zlib IDAT, IEND, real CRCs);
    ``make_jpeg`` emits a structurally valid JFIF header stream
    (SOI → APP0 → COM → SOF0 → EOI). ``parse_header`` is a REAL decoder:
    it reads dimensions out of the bytes (PNG IHDR big-endian fields /
    JPEG marker-segment walk to SOF), knowing nothing about how the
    payload was produced.
    """
    import struct
    import zlib

    png_magic = b"\x89PNG\r\n\x1a\n"

    def make_png(width: int, height: int) -> bytes:
        def chunk(typ: bytes, data: bytes) -> bytes:
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
        ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
        raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
        return (png_magic + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw, 1)) + chunk(b"IEND", b""))

    def make_jpeg(width: int, height: int) -> bytes:
        app0 = (b"\xff\xe0" + struct.pack(">H", 16)
                + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1)
                + b"\x00\x00")
        # a COM segment before SOF forces the parser to actually walk
        com = b"\xff\xfe" + struct.pack(">H", 11) + b"synthetic"
        sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
                + struct.pack(">HH", height, width) + b"\x01\x11\x00")
        return b"\xff\xd8" + app0 + com + sof0 + b"\xff\xd9"

    def make_gif(width: int, height: int) -> bytes:
        # header + logical screen descriptor (LE dims) + 2-entry global
        # color table + trivial image descriptor/LZW body + trailer
        lsd = struct.pack("<HH", width, height) + b"\x80\x00\x00"
        gct = b"\x00\x00\x00\xff\xff\xff"
        img = (b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
               + b"\x00\x02\x02\x44\x01\x00")
        return b"GIF89a" + lsd + gct + img + b"\x3b"

    sof_markers = frozenset([0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF])

    def parse_header(blob: bytes):
        if blob[:8] == png_magic and len(blob) >= 24 and blob[12:16] == b"IHDR":
            w, h = struct.unpack(">II", blob[16:24])
            return ("png", w, h)
        if blob[:6] in (b"GIF87a", b"GIF89a") and len(blob) >= 10:
            w, h = struct.unpack("<HH", blob[6:10])  # GIF dims are LE
            return ("gif", w, h)
        if blob[:2] == b"\xff\xd8":
            i = 2
            while i + 4 <= len(blob):
                if blob[i] != 0xFF:
                    break
                marker = blob[i + 1]
                if marker in sof_markers:
                    if i + 9 <= len(blob):
                        h, w = struct.unpack(">HH", blob[i + 5:i + 9])
                        return ("jpeg", w, h)
                    break
                if marker == 0xD9:  # EOI before any SOF
                    break
                if 0xD0 <= marker <= 0xD8 or marker == 0x01:  # standalone
                    i += 2
                    continue
                (seglen,) = struct.unpack(">H", blob[i + 2:i + 4])
                if seglen < 2:
                    break
                i += 2 + seglen
        return ("unknown", None, None)

    return make_png, make_jpeg, make_gif, parse_header


# nested functions are pickled by value even via these module aliases,
# so both tests and Spark closures can use them directly
make_png, make_jpeg, make_gif, parse_image_header = _build_image_codecs()


def synthesize_image_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real PNG/JPEG byte stream with doc_id-derived dimensions.

    width = 16 + abs(doc_id) % DIM_W_MOD, height = 16 + abs(doc_id) %
    DIM_H_MOD; even ids become PNGs, odd ids JPEGs. The dims formula is
    the ONLY thing the oracle knows — the payload itself is genuine
    encoded bytes.
    """
    mk_png, mk_jpeg = make_png, make_jpeg
    w_mod, h_mod = DIM_W_MOD, DIM_H_MOD

    def blob_of(d: int) -> bytes:
        w, h = 16 + d % w_mod, 16 + d % h_mod
        return mk_png(w, h) if d % 2 == 0 else mk_jpeg(w, h)

    return _synthesize(df, blob_of)


def decode_image_headers(df: DataFrame) -> DataFrame:
    """REAL decode: binary payload -> (format, width, height) read from
    the bytes themselves (PNG IHDR fields / JPEG SOF segment walk).

    Same Arrow-batched mapInPandas contract as ``decode_payloads``, but
    nothing is faked — corrupt or unknown payloads come back as
    ('unknown', NULL, NULL) rather than erroring the batch (row-level
    tolerance, SURVEY §2 T7).
    """
    parse = parse_image_header

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd
        for pdf in batches:
            fmts, ws, hs = [], [], []
            for payload in pdf["payload"]:
                fmt, w, h = (parse(bytes(payload)) if payload is not None
                             else ("unknown", None, None))
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "format": fmts,
                "width": pd.array(ws, dtype="Int32"),
                "height": pd.array(hs, dtype="Int32")})

    return df.select("doc_id", "payload").mapInPandas(_decode, IMAGE_DECODED_SCHEMA)


# --- real audio codec (WAV/RIFF chunk walk + PCM amplitude features) ---------

AUDIO_DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("bits", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("peak_amp", T.LongType()),
    T.StructField("energy", T.LongType()),
    T.StructField("block_peak_sum", T.LongType()),
])

# synthesis parameters as pure functions of doc_id so the oracle can
# recompute every decoded value (same discipline as DIM_W_MOD/DIM_H_MOD)
WAV_FRAMES_BASE = 32
WAV_FRAMES_MOD = 33
WAV_RATE_BASE = 8000
WAV_RATE_STEP = 100
WAV_RATE_MOD = 5
WAV_SAMPLE_A = 7919      # sample i of doc d:
WAV_SAMPLE_B = 104729    # ((d*A + i*B) % 20001) - 10000  (int16-safe)
WAV_SAMPLE_MOD = 20001
WAV_SAMPLE_OFF = 10000
WAV_BLOCK_FRAMES = 16    # per-block amplitude window

# FIR box-filter parameters — single source of truth for BOTH the Python
# decoder (parse_wav_fir defaults, captured at closure-build time) and the
# SQL oracle string built in the FIR spec section below; defined here, before
# the codec builder, so the two can never silently desync.
FIR_TAPS = 4
FIR_HOT = 15_000


def _build_audio_codecs():
    """Pure-stdlib WAV/RIFF codec helpers (struct + array only).

    ``make_wav`` emits a complete, spec-valid RIFF/WAVE stream: RIFF
    header, a LIST/INFO chunk BEFORE fmt (forcing the parser to walk,
    like the JPEG COM segment), a 16-byte PCM fmt chunk, and a data
    chunk of little-endian int16 samples with the spec's odd-size pad.
    ``parse_wav_features`` is a REAL decoder: it walks the chunk list,
    reads (channels, sample rate, bit depth) out of fmt, decodes the PCM
    bytes, and computes amplitude features (global peak, total energy,
    per-block peak sum over ``WAV_BLOCK_FRAMES``-frame windows) knowing
    nothing about how the payload was produced. Returns None for
    non-RIFF or structurally broken payloads (row-level tolerance, T7).
    """
    import array
    import struct

    def make_wav(channels: int, sample_rate: int, samples: list[int]) -> bytes:
        data = b"".join(struct.pack("<h", s) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                          sample_rate * channels * 2, channels * 2, 16)
        info = b"INFOsynth."  # 10 bytes, even — no pad needed
        chunks = (b"LIST" + struct.pack("<I", len(info)) + info
                  + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(data)) + data
                  + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def parse_wav_pcm(blob: bytes):
        """RIFF walk shared by every WAV feature extractor: returns
        (channels, sample_rate, bits, int16 pcm array) or None."""
        if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            return None
        i, fmt, data = 12, None, None
        while i + 8 <= len(blob):
            cid = blob[i:i + 4]
            (sz,) = struct.unpack("<I", blob[i + 4:i + 8])
            body = blob[i + 8:i + 8 + sz]
            if cid == b"fmt " and len(body) >= 16:
                _, ch, sr, _, _, bits = struct.unpack("<HHIIHH", body[:16])
                fmt = (ch, sr, bits)
            elif cid == b"data":
                data = body
            i += 8 + sz + (sz & 1)  # RIFF chunks pad to even offsets
        if fmt is None or data is None:
            return None
        ch, sr, bits = fmt
        if ch < 1 or bits != 16:
            return None
        pcm = array.array("h")
        pcm.frombytes(data[: len(data) // 2 * 2])
        return ch, sr, bits, pcm

    def parse_wav_features(blob: bytes, block_frames: int = WAV_BLOCK_FRAMES):
        parsed = parse_wav_pcm(blob)
        if parsed is None:
            return None
        ch, sr, bits, pcm = parsed
        n_frames = len(pcm) // ch
        peak = max((abs(x) for x in pcm), default=0)
        energy = sum(x * x for x in pcm)  # python int: no wrap
        block_peak_sum = 0
        for b in range(0, n_frames, block_frames):
            lo, hi = b * ch, min(b + block_frames, n_frames) * ch
            block_peak_sum += max((abs(x) for x in pcm[lo:hi]), default=0)
        return ch, sr, bits, n_frames, peak, energy, block_peak_sum

    def parse_wav_zcr(blob: bytes):
        """Channel-0 zero-crossing count + amplitude stats from the
        decoded PCM: the classic voiced/unvoiced + noisiness signal an
        audio-quality gate computes. Sign convention is ``x >= 0`` on
        BOTH engines (int16 has no -0), counted over consecutive
        channel-0 frames of the de-interleaved stream."""
        parsed = parse_wav_pcm(blob)
        if parsed is None:
            return None
        ch, sr, bits, pcm = parsed
        ch0 = pcm[0::ch]
        n_frames = len(ch0)
        zcr = sum(1 for a, b in zip(ch0, ch0[1:])
                  if (a >= 0) != (b >= 0))
        peak0 = max((abs(x) for x in ch0), default=0)
        sum0 = sum(ch0)  # python int: exact
        return ch, n_frames, zcr, peak0, sum0

    def parse_wav_fir(blob: bytes, taps: int = FIR_TAPS,
                      hot: int = FIR_HOT):
        """Integer box-FIR over the de-interleaved channel-0 stream —
        the family's convolution discipline: y_f = sum(ch0[f:f+taps])
        in 'valid' mode (n_frames - taps + 1 outputs), features =
        (output count, peak |y|, exact sum, count of |y| > hot).
        Everything is python-int arithmetic (|y| <= taps * 32767, but
        no wrap is possible regardless)."""
        parsed = parse_wav_pcm(blob)
        if parsed is None:
            return None
        ch, sr, bits, pcm = parsed
        ch0 = pcm[0::ch]
        n_out = max(0, len(ch0) - taps + 1)
        run = sum(ch0[:taps]) if n_out else 0
        peak = abs(run) if n_out else 0
        tot = run if n_out else 0
        n_hot = 1 if (n_out and abs(run) > hot) else 0
        for f in range(1, n_out):
            run += ch0[f + taps - 1] - ch0[f - 1]
            peak = max(peak, abs(run))
            tot += run
            if abs(run) > hot:
                n_hot += 1
        return ch, n_out, peak, tot, n_hot

    return make_wav, parse_wav_features, parse_wav_zcr, parse_wav_fir


(make_wav, parse_wav_features, parse_wav_zcr,
 parse_wav_fir) = _build_audio_codecs()


def synthesize_wav_payloads(df: DataFrame,
                            corrupt_mod: int | None = None) -> DataFrame:
    """doc_id -> genuine RIFF/WAVE byte stream with doc_id-derived
    channels, sample rate, and PCM samples. The derivation formulas are
    the ONLY thing the oracle knows — the payload is real encoded bytes.
    With ``corrupt_mod``, every corrupt_mod-th doc is truncated to its
    first 8 bytes (a RIFF header with no WAVE tag) for in-band T7
    coverage; the default leaves every payload intact (the original
    `multimodal_decode_wav` contract)."""
    mk = make_wav
    fb, fm = WAV_FRAMES_BASE, WAV_FRAMES_MOD
    rb, rs, rm = WAV_RATE_BASE, WAV_RATE_STEP, WAV_RATE_MOD
    sa, sb, smod, soff = (WAV_SAMPLE_A, WAV_SAMPLE_B,
                          WAV_SAMPLE_MOD, WAV_SAMPLE_OFF)
    cmod = corrupt_mod

    def blob_of(d: int) -> bytes:
        ch = 1 + d % 2
        rate = rb + rs * (d % rm)
        n = (fb + d % fm) * ch
        samples = [((d * sa + i * sb) % smod) - soff
                   for i in range(n)]
        blob = mk(ch, rate, samples)
        if cmod is not None and d % cmod == 0:
            blob = blob[:8]
        return blob

    return _synthesize(df, blob_of)


def decode_wav_features(df: DataFrame) -> DataFrame:
    """REAL decode: RIFF chunk walk + PCM amplitude features read from
    the bytes themselves. Corrupt/non-WAV payloads come back as all-NULL
    feature rows rather than erroring the batch (T7)."""
    return _decode_stats(df, parse_wav_features, AUDIO_DECODED_SCHEMA)


# --- oracle-checked query entries -------------------------------------------

def multimodal_meta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-expression metadata over binary payloads (oracle-checkable)."""
    docs = with_binary_payload(load_table_parallel(spark, sf_dir, "documents", key="doc_id"))
    fmt = F.when(F.length("payload") % 3 == 0, "jpeg") \
        .when(F.length("payload") % 3 == 1, "png").otherwise("webp")
    return (docs.select(fmt.alias("format"), F.length("payload").alias("n_bytes"))
            .groupBy("format")
            .agg(F.count("*").alias("n_docs"), F.sum("n_bytes").alias("total_bytes")))


_MULTIMODAL_META_SQL = """
WITH p AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents)
SELECT CASE WHEN n_bytes % 3 = 0 THEN 'jpeg' WHEN n_bytes % 3 = 1 THEN 'png'
       ELSE 'webp' END AS format,
  COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
FROM p GROUP BY 1
"""


def multimodal_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas decode path. Oracle-checkable because the stub
    decoder is a pure function of payload length — the SQL mirror computes
    the same dims from octet_length, so the check verifies the whole
    Arrow round-trip (schema, batching, values), not just row counts."""
    docs = with_binary_payload(load_table_parallel(spark, sf_dir, "documents", key="doc_id"))
    return (decode_payloads(docs)
            .groupBy("format")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("width").alias("sum_width"),
                 F.sum("height").alias("sum_height")))


_MULTIMODAL_DECODE_SQL = """
WITH p AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents)
SELECT CASE WHEN n_bytes IS NULL THEN NULL
       WHEN n_bytes % 3 = 0 THEN 'jpeg' WHEN n_bytes % 3 = 1 THEN 'png'
       ELSE 'webp' END AS format,
  COUNT(*) AS n_docs,
  CAST(SUM(64 + n_bytes % 193) AS BIGINT) AS sum_width,
  CAST(SUM(64 + n_bytes % 97) AS BIGINT) AS sum_height
FROM p GROUP BY 1
"""


def multimodal_frames_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out histogram. The per-doc frame count is
    min(MAX_FRAMES, max(n_bytes-FRAME_SIZE,0) div FRAME_STRIDE + 1) — a
    pure function of payload length, so the oracle recomputes it and the
    check verifies the explode-shaped mapInPandas fan-out exactly."""
    docs = with_binary_payload(load_table_parallel(spark, sf_dir, "documents", key="doc_id"))
    frames = sample_frames(docs)
    return (frames.groupBy("doc_id").agg(F.count("*").alias("n_frames"))
            .groupBy("n_frames").agg(F.count("*").alias("n_docs")))


_MULTIMODAL_FRAMES_SQL = f"""
WITH p AS (SELECT octet_length(encode(text)) AS n_bytes FROM documents
           WHERE text IS NOT NULL),
f AS (SELECT CAST(LEAST({MAX_FRAMES},
        GREATEST(n_bytes - {FRAME_SIZE}, 0) // {FRAME_STRIDE} + 1) AS BIGINT)
        AS n_frames FROM p)
SELECT n_frames, COUNT(*) AS n_docs FROM f GROUP BY n_frames
"""


def multimodal_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction pipeline feeding the similarity operators.

    Oracle-checkable via derived invariants: the extractor L2-normalizes,
    so every non-empty payload's squared norm is 1 (within float32
    tolerance) and the dim is fixed. The oracle asserts exactly those
    facts per doc — the byte-histogram values themselves are covered by
    unit tests (tests/test_multimodal.py)."""
    docs = with_binary_payload(load_table_parallel(spark, sf_dir, "documents", key="doc_id"))
    feats = extract_features(docs)
    sq_norm = F.aggregate("feature", F.lit(0.0), lambda a, x: a + x * x)
    return feats.select(
        "doc_id", F.size("feature").alias("dim"),
        (F.abs(sq_norm - F.lit(1.0)) <= F.lit(1e-3)).alias("unit_norm"))


_MULTIMODAL_FEATURES_SQL = f"""
SELECT doc_id, {FEATURE_DIM} AS dim,
       octet_length(encode(text)) > 0 AS unit_norm
FROM documents WHERE text IS NOT NULL
"""


def multimodal_decode_png_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode end-to-end: synthesize genuine PNG/JPEG byte
    streams (complete IHDR/IDAT/IEND chunks with CRCs; JFIF marker
    segments), then parse dimensions back OUT OF THE BYTES with the real
    header decoder. The oracle recomputes dims from the doc_id formula
    alone, so a green row proves the encode → Arrow round-trip → byte-level
    parse pipeline end-to-end — unlike ``multimodal_decode_stub``, no
    length-derived fake is involved."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    decoded = decode_image_headers(synthesize_image_payloads(docs))
    return (decoded.groupBy("format")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("width").alias("sum_width"),
                 F.sum("height").alias("sum_height")))


_MULTIMODAL_DECODE_PNG_SQL = f"""
WITH p AS (
  SELECT CASE WHEN abs(doc_id) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         16 + abs(doc_id) % {DIM_W_MOD} AS width,
         16 + abs(doc_id) % {DIM_H_MOD} AS height
  FROM documents)
SELECT format, COUNT(*) AS n_docs,
  CAST(SUM(width) AS BIGINT) AS sum_width,
  CAST(SUM(height) AS BIGINT) AS sum_height
FROM p GROUP BY format
"""


def multimodal_decode_wav_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode end-to-end: synthesize genuine RIFF/WAVE byte
    streams (LIST + fmt + data chunks, int16 PCM), then walk the chunks
    and compute amplitude features back OUT OF THE BYTES. The oracle
    recomputes everything from the doc_id formulas alone, so a green row
    proves the encode → Arrow round-trip → chunk walk → PCM feature math
    end-to-end."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_wav_features(synthesize_wav_payloads(docs))


_MULTIMODAL_WAV_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST(1 + abs(doc_id) % 2 AS INT) AS channels,
    CAST({WAV_RATE_BASE} + {WAV_RATE_STEP} * (abs(doc_id) % {WAV_RATE_MOD})
         AS INT) AS sample_rate,
    CAST({WAV_FRAMES_BASE} + abs(doc_id) % {WAV_FRAMES_MOD} AS INT) AS n_frames
  FROM documents
), s AS (
  SELECT doc_id, channels, sample_rate, n_frames,
    list_transform(range(0, n_frames * channels),
      i -> (d * {WAV_SAMPLE_A} + i * {WAV_SAMPLE_B}) % {WAV_SAMPLE_MOD}
           - {WAV_SAMPLE_OFF}) AS smp
  FROM p
)
SELECT doc_id, channels, sample_rate, CAST(16 AS INT) AS bits, n_frames,
  CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak_amp,
  CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS energy,
  CAST(list_sum(list_transform(
    range(0, (n_frames + {WAV_BLOCK_FRAMES} - 1) // {WAV_BLOCK_FRAMES}),
    b -> list_max(list_transform(
      smp[b * {WAV_BLOCK_FRAMES} * channels + 1
          : least((b + 1) * {WAV_BLOCK_FRAMES}, n_frames) * channels],
      x -> abs(x))))) AS BIGINT) AS block_peak_sum
FROM s
"""


register(QuerySpec("multimodal_decode_wav", multimodal_decode_wav_query,
                   _MULTIMODAL_WAV_SQL,
                   description="real WAV/RIFF decode: chunk walk + PCM peak/energy/per-block amplitude from genuine bytes"))
register(QuerySpec("multimodal_decode_png", multimodal_decode_png_query,
                   _MULTIMODAL_DECODE_PNG_SQL,
                   description="real PNG/JPEG header decode: dims parsed from genuine bytes (IHDR / SOF segment walk)"))
register(QuerySpec("multimodal_frame_sample", multimodal_frames_query, _MULTIMODAL_FRAMES_SQL,
                   description="video-style frame sampling: 1 payload -> N frame rows via mapInPandas"))
register(QuerySpec("multimodal_feature_extract", multimodal_features_query, _MULTIMODAL_FEATURES_SQL,
                   description="binary -> array<float> feature extraction (deterministic stub encoder)"))
register(QuerySpec("multimodal_meta", multimodal_meta_query, _MULTIMODAL_META_SQL,
                   description="binary payload metadata via pure expressions"))
register(QuerySpec("multimodal_decode_stub", multimodal_decode_query, _MULTIMODAL_DECODE_SQL,
                   description="Arrow-batched mapInPandas decode plumbing (fake decode; real schema/batching)"))

# --- real PNG pixel decode (stdlib zlib: IDAT inflate + filter reversal) -----

PNG_PIXELS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_px", T.IntegerType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("pix_min", T.IntegerType()),
    T.StructField("pix_max", T.IntegerType()),
])

# synthesis parameters as pure functions of doc_id (oracle discipline as
# DIM_W_MOD / WAV_*): pixel (y, x) of doc d = (d*A + y*B + x*C) % 256
PNG_PIX_W_BASE = 8
PNG_PIX_W_MOD = 24
PNG_PIX_H_BASE = 8
PNG_PIX_H_MOD = 17
PNG_PIX_A = 7919
PNG_PIX_B = 104729
PNG_PIX_C = 1299721


def _build_png_pixel_codecs():
    """Pure-stdlib PNG pixel codec (struct + zlib).

    ``make_png_pixels`` writes a spec-valid 8-bit grayscale PNG whose
    scanline ``y`` is encoded with filter type ``y % 5`` — all five
    standard filters (None/Sub/Up/Average/Paeth) appear in every payload
    taller than 4 rows, so decode cannot shortcut filter reversal.
    ``decode_png_pixel_stats`` is a REAL pixel decoder: CRC-checks every
    chunk, concatenates multi-chunk IDAT, inflates with zlib, reverses
    the per-scanline filters, and aggregates pixel stats from the
    reconstructed bytes. Any structural defect (bad magic, CRC mismatch,
    truncated chunk, wrong inflated length, unsupported color type)
    returns None — row-level tolerance, never a batch error.
    """
    import struct
    import zlib

    png_magic = b"\x89PNG\r\n\x1a\n"

    def _chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    def _paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    def make_png_pixels(rows: list[bytes], split_idat: bool = False,
                        color_type: int = 0) -> bytes:
        """``color_type`` 0 = 8-bit grayscale (1 byte/px), 2 = 8-bit RGB
        (3 bytes/px). PNG filters operate per BYTE with the left
        neighbour ``bpp`` bytes back, so one loop serves both."""
        bpp = 3 if color_type == 2 else 1
        h = len(rows)
        nb = len(rows[0]) if rows else 0  # bytes per scanline
        w = nb // bpp
        out = bytearray()
        prev = bytes(nb)
        for y, row in enumerate(rows):
            ft = y % 5
            out.append(ft)
            if ft == 0:
                filt = bytes(row)
            elif ft == 1:  # Sub
                filt = bytes(
                    (row[x] - (row[x - bpp] if x >= bpp else 0)) & 0xFF
                    for x in range(nb))
            elif ft == 2:  # Up
                filt = bytes((row[x] - prev[x]) & 0xFF for x in range(nb))
            elif ft == 3:  # Average
                filt = bytes(
                    (row[x] - (((row[x - bpp] if x >= bpp else 0)
                                + prev[x]) >> 1)) & 0xFF
                    for x in range(nb))
            else:  # Paeth
                filt = bytes(
                    (row[x] - _paeth(row[x - bpp] if x >= bpp else 0, prev[x],
                                     prev[x - bpp] if x >= bpp else 0)) & 0xFF
                    for x in range(nb))
            out += filt
            prev = bytes(row)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        comp = zlib.compress(bytes(out), 6)
        if split_idat and len(comp) > 2:
            mid = len(comp) // 2
            idat = _chunk(b"IDAT", comp[:mid]) + _chunk(b"IDAT", comp[mid:])
        else:
            idat = _chunk(b"IDAT", comp)
        return png_magic + _chunk(b"IHDR", ihdr) + idat + _chunk(b"IEND", b"")

    def _parse_and_unfilter(blob: bytes, want_ctypes: tuple[int, ...]):
        """Chunk walk (CRC-checked) + inflate + per-scanline filter
        reversal with the color type's bpp. Returns (w, h, bpp, rows)
        where rows is the list of unfiltered scanline byte strings, or
        None on any structural defect."""
        if bytes(blob[:8]) != png_magic:
            return None
        i = 8
        w = h = depth = ctype = None
        idat = bytearray()
        while i + 12 <= len(blob):
            (ln,) = struct.unpack(">I", blob[i:i + 4])
            typ = bytes(blob[i + 4:i + 8])
            data = bytes(blob[i + 8:i + 8 + ln])
            if len(data) != ln or i + 12 + ln > len(blob):
                return None
            (crc,) = struct.unpack(">I", blob[i + 8 + ln:i + 12 + ln])
            if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                return None
            if typ == b"IHDR":
                if len(data) < 10:
                    return None
                w, h, depth, ctype = struct.unpack(">IIBB", data[:10])
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
            i += 12 + ln
        if not w or not h or depth != 8 or ctype not in want_ctypes:
            return None
        bpp = 3 if ctype == 2 else 1
        nb = w * bpp
        raw = zlib.decompress(bytes(idat))
        if len(raw) != h * (nb + 1):
            return None
        prev = bytes(nb)
        rows = []
        for y in range(h):
            ft = raw[y * (nb + 1)]
            line = raw[y * (nb + 1) + 1:(y + 1) * (nb + 1)]
            cur = bytearray(nb)
            if ft == 0:
                cur[:] = line
            elif ft == 1:
                for x in range(nb):
                    cur[x] = (line[x]
                              + (cur[x - bpp] if x >= bpp else 0)) & 0xFF
            elif ft == 2:
                for x in range(nb):
                    cur[x] = (line[x] + prev[x]) & 0xFF
            elif ft == 3:
                for x in range(nb):
                    cur[x] = (line[x]
                              + (((cur[x - bpp] if x >= bpp else 0)
                                  + prev[x]) >> 1)) & 0xFF
            elif ft == 4:
                for x in range(nb):
                    cur[x] = (line[x]
                              + _paeth(cur[x - bpp] if x >= bpp else 0,
                                       prev[x],
                                       prev[x - bpp] if x >= bpp else 0)) & 0xFF
            else:
                return None
            rows.append(bytes(cur))
            prev = bytes(cur)
        return (w, h, bpp, rows)

    def decode_png_pixel_stats(blob: bytes):
        try:
            got = _parse_and_unfilter(blob, (0,))
            if got is None:
                return None
            w, h, _, rows = got
            total = 0
            mn, mx = 255, 0
            for cur in rows:
                total += sum(cur)
                mn = min(mn, min(cur))
                mx = max(mx, max(cur))
            return (w, h, w * h, total, mn, mx)
        except Exception:
            return None

    def decode_png_rgb_stats(blob: bytes):
        """Color-type-2 variant: per-CHANNEL sums plus global min/max
        over all samples."""
        try:
            got = _parse_and_unfilter(blob, (2,))
            if got is None:
                return None
            w, h, _, rows = got
            sr = sg = sb = 0
            mn, mx = 255, 0
            for cur in rows:
                sr += sum(cur[0::3])
                sg += sum(cur[1::3])
                sb += sum(cur[2::3])
                mn = min(mn, min(cur))
                mx = max(mx, max(cur))
            return (w, h, w * h, sr, sg, sb, mn, mx)
        except Exception:
            return None

    def decode_png_gray_rows(blob: bytes):
        """(w, h, unfiltered scanlines) of a grayscale payload, or None
        — the raw-pixel accessor the resize stage consumes."""
        try:
            got = _parse_and_unfilter(blob, (0,))
            if got is None:
                return None
            w, h, _, rows = got
            return (w, h, rows)
        except Exception:
            return None

    return (make_png_pixels, decode_png_pixel_stats, decode_png_rgb_stats,
            decode_png_gray_rows)


(make_png_pixels, decode_png_pixel_stats,
 decode_png_rgb_stats, decode_png_gray_rows) = _build_png_pixel_codecs()


def synthesize_png_pixel_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real filtered PNG byte stream with doc_id-derived pixels.

    width = 8 + d % 24, height = 8 + d % 17, pixel (y, x) =
    (d*7919 + y*104729 + x*1299721) % 256 — the formula is the ONLY
    thing the oracle knows; the payload is genuine zlib-compressed,
    filter-encoded PNG bytes. Docs with d % 3 == 0 split IDAT into two
    chunks so the decoder's chunk concatenation is exercised.
    """
    mk = make_png_pixels
    wb, wm, hb, hm = PNG_PIX_W_BASE, PNG_PIX_W_MOD, PNG_PIX_H_BASE, PNG_PIX_H_MOD
    a, b, c = PNG_PIX_A, PNG_PIX_B, PNG_PIX_C

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        rows = [bytes((d * a + y * b + x * c) % 256 for x in range(w))
                for y in range(h)]
        return mk(rows, split_idat=(d % 3 == 0))

    return _synthesize(df, blob_of)


def decode_png_pixels(df: DataFrame) -> DataFrame:
    """REAL pixel decode: binary payload -> per-image pixel stats read
    from the reconstructed scanlines (zlib inflate + filter reversal).

    Corrupt payloads (bad CRC, truncation, wrong inflated size) yield a
    row of NULL stats rather than erroring the batch (SURVEY §2 T7).
    """
    return _decode_stats(df, decode_png_pixel_stats, PNG_PIXELS_SCHEMA)


def multimodal_decode_png_pixels_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG PIXEL decode end-to-end: synthesize genuine
    filter-encoded zlib IDAT payloads, then reconstruct the pixels back
    OUT OF THE BYTES (inflate + per-scanline filter reversal, all five
    standard filters) and aggregate stats. The oracle recomputes the
    stats from the doc_id pixel formula alone, so a green row proves the
    full encode -> Arrow round-trip -> inflate -> unfilter -> aggregate
    pipeline — the step beyond ``multimodal_decode_png``'s header-only
    parse."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_png_pixels(synthesize_png_pixel_payloads(docs))


_MULTIMODAL_PNG_PIXELS_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({PNG_PIX_W_BASE} + abs(doc_id) % {PNG_PIX_W_MOD} AS INT) AS width,
    CAST({PNG_PIX_H_BASE} + abs(doc_id) % {PNG_PIX_H_MOD} AS INT) AS height
  FROM documents
), px AS (
  SELECT doc_id, width, height,
    list_transform(range(0, width * height),
      i -> (d * {PNG_PIX_A} + (i // width) * {PNG_PIX_B}
            + (i % width) * {PNG_PIX_C}) % 256) AS vals
  FROM p
)
SELECT doc_id, width, height, CAST(width * height AS INT) AS n_px,
  CAST(list_sum(vals) AS BIGINT) AS pix_sum,
  CAST(list_min(vals) AS INT) AS pix_min,
  CAST(list_max(vals) AS INT) AS pix_max
FROM px
"""

register(QuerySpec("multimodal_decode_png_pixels",
                   multimodal_decode_png_pixels_query,
                   _MULTIMODAL_PNG_PIXELS_SQL,
                   description="real PNG pixel decode: zlib IDAT inflate + "
                               "all-5-filter scanline reversal, stats from "
                               "reconstructed pixels"))


# --- real PNG RGB pixel decode (color type 2, 3-byte pixels) -----------------

PNG_RGB_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_px", T.IntegerType()),
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("pix_min", T.IntegerType()),
    T.StructField("pix_max", T.IntegerType()),
])

PNG_RGB_W_BASE = 8
PNG_RGB_W_MOD = 21
PNG_RGB_H_BASE = 8
PNG_RGB_H_MOD = 13
PNG_RGB_A = 4423
PNG_RGB_B = 77977
PNG_RGB_C = 611953
PNG_RGB_D = 85661  # per-channel offset multiplier
PNG_RGB_CORRUPT_MOD = 9


def synthesize_png_rgb_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real color-type-2 PNG byte stream; every
    PNG_RGB_CORRUPT_MOD-th doc gets a TRUNCATED-SCANLINE payload (the
    final scanline's bytes are dropped from the raw stream before
    compression — chunks and CRCs all valid, inflated length wrong),
    exercising the length check, not just the CRC check.

    width = 8 + d % 21, height = 8 + d % 13, sample (y, x, c) =
    (d*4423 + y*77977 + x*611953 + c*85661) % 256 for c in (0,1,2).
    """
    wb, wm, hb, hm = PNG_RGB_W_BASE, PNG_RGB_W_MOD, PNG_RGB_H_BASE, PNG_RGB_H_MOD
    a, b, c_, dd, cmod = PNG_RGB_A, PNG_RGB_B, PNG_RGB_C, PNG_RGB_D, PNG_RGB_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        rows = [bytes((d * a + y * b + x * c_ + ch * dd) % 256
                      for x in range(w) for ch in range(3))
                for y in range(h)]
        blob = make_png_pixels(rows, color_type=2,
                               split_idat=(d % 4 == 0))
        if d % cmod == 0:
            import struct
            import zlib

            # rebuild the IDAT from a raw stream missing the
            # last scanline: valid chunks/CRCs, wrong length
            full = bytearray()
            for row in rows:
                full.append(0)  # filter None keeps it simple
                full += row
            comp = zlib.compress(bytes(full[:-(3 * w + 1)]), 6)
            magic = blob[:8]
            ihdr = blob[8:8 + 25]

            def _chunk(typ: bytes, data: bytes) -> bytes:
                return (struct.pack(">I", len(data)) + typ + data
                        + struct.pack(
                            ">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

            blob = (magic + ihdr + _chunk(b"IDAT", comp)
                    + _chunk(b"IEND", b""))
        return blob

    return _synthesize(df, blob_of)


def decode_png_rgb(df: DataFrame) -> DataFrame:
    """REAL RGB pixel decode: binary payload -> per-channel sums read
    from the reconstructed 3-byte-pixel scanlines (filters reverse
    per-byte at bpp=3). Corrupt payloads yield NULL rows (T7)."""
    return _decode_stats(df, decode_png_rgb_stats, PNG_RGB_SCHEMA)


def multimodal_decode_png_rgb_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real RGB PNG decode end-to-end: 3-byte pixels mean the filter
    left-neighbour is bpp=3 bytes back — the part a grayscale-only
    decoder gets wrong — and the oracle recomputes per-channel sums
    from the (doc_id, y, x, channel) formula alone, with NULLs for the
    planted truncated-scanline rows."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_png_rgb(synthesize_png_rgb_payloads(docs))


_PNG_RGB_CH_SQL = (
    "list_transform(range(0, width * height), "
    "i -> (d * {a} + (i // width) * {b} + (i % width) * {c} "
    "+ {{ch}} * {dd}) % 256)").format(
        a=PNG_RGB_A, b=PNG_RGB_B, c=PNG_RGB_C, dd=PNG_RGB_D)

_MULTIMODAL_PNG_RGB_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({PNG_RGB_W_BASE} + abs(doc_id) % {PNG_RGB_W_MOD} AS INT) AS width,
    CAST({PNG_RGB_H_BASE} + abs(doc_id) % {PNG_RGB_H_MOD} AS INT) AS height
  FROM documents
), s AS (
  SELECT doc_id, d, width, height,
    {_PNG_RGB_CH_SQL.format(ch=0)} AS vr,
    {_PNG_RGB_CH_SQL.format(ch=1)} AS vg,
    {_PNG_RGB_CH_SQL.format(ch=2)} AS vb
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {PNG_RGB_CORRUPT_MOD} = 0 THEN NULL ELSE width END AS width,
  CASE WHEN d % {PNG_RGB_CORRUPT_MOD} = 0 THEN NULL ELSE height END AS height,
  CASE WHEN d % {PNG_RGB_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(width * height AS INT) END AS n_px,
  CASE WHEN d % {PNG_RGB_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vr) AS BIGINT) END AS sum_r,
  CASE WHEN d % {PNG_RGB_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vg) AS BIGINT) END AS sum_g,
  CASE WHEN d % {PNG_RGB_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vb) AS BIGINT) END AS sum_b,
  CASE WHEN d % {PNG_RGB_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(least(list_min(vr), list_min(vg), list_min(vb)) AS INT)
       END AS pix_min,
  CASE WHEN d % {PNG_RGB_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(greatest(list_max(vr), list_max(vg), list_max(vb)) AS INT)
       END AS pix_max
FROM s
"""

register(QuerySpec("multimodal_decode_png_rgb",
                   multimodal_decode_png_rgb_query,
                   _MULTIMODAL_PNG_RGB_SQL,
                   description="real RGB PNG pixel decode: bpp=3 filter "
                               "reversal, per-channel sums; planted "
                               "truncated-scanline rows -> NULL"))


# --- real GIF pixel decode (stdlib LZW: variable-width codes, sub-blocks) ----

GIF_PIXELS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_px", T.IntegerType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("pix_min", T.IntegerType()),
    T.StructField("pix_max", T.IntegerType()),
])

# synthesis parameters as pure functions of doc_id (oracle discipline as
# PNG_PIX_*): pixel (y, x) of doc d = (d*A + y*B + x*C) % 256
GIF_PIX_W_BASE = 8
GIF_PIX_W_MOD = 23
GIF_PIX_H_BASE = 8
GIF_PIX_H_MOD = 19
GIF_PIX_A = 6151
GIF_PIX_B = 93911
GIF_PIX_C = 999983
GIF_PIX_CORRUPT_MOD = 11


def _build_gif_pixel_codecs():
    """Pure-stdlib GIF pixel codec (struct + hand-rolled GIF LZW).

    ``make_gif_pixels`` writes a spec-valid GIF89a: logical screen
    descriptor, 256-entry grayscale global color table, image
    descriptor, REAL LZW-compressed index stream (variable-width codes
    starting at min_code_size+1 bits, LSB-first bit packing, CLEAR
    emitted up front and again on table overflow at 4096, END code) in
    ≤255-byte sub-blocks, trailer. ``decode_gif_pixel_stats`` is a REAL
    pixel decoder: walks the block structure (skipping extensions),
    concatenates the image sub-blocks, LZW-decompresses with the
    matching width-growth rule (decoder's table lags the encoder's by
    one entry, so it widens at table size 2^w - 1 where the encoder
    widens at 2^w — the classic GIF off-by-one), maps indices through
    the palette, and aggregates pixel stats. Any structural defect
    (bad magic, truncated sub-block, out-of-range code, wrong pixel
    count) returns None — row-level tolerance, never a batch error.
    """
    import struct

    def lzw_encode(data: bytes, min_code_size: int) -> bytes:
        clear = 1 << min_code_size
        end = clear + 1
        out = bytearray()
        acc = 0
        nbits = 0

        def emit(code: int, size: int):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += size
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        code_size = min_code_size + 1
        emit(clear, code_size)
        w = b""
        for byte in data:
            wk = w + bytes([byte])
            if wk in table:
                w = wk
                continue
            emit(table[w], code_size)
            if next_code < 4096:
                table[wk] = next_code
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
            else:
                emit(clear, code_size)
                table = {bytes([i]): i for i in range(clear)}
                next_code = end + 1
                code_size = min_code_size + 1
            w = bytes([byte])
        if w:
            emit(table[w], code_size)
            # the decoder adds a table entry after EVERY data code it
            # reads — including this final one — so the encoder must
            # mirror that add's width bump (entry content is irrelevant:
            # nothing follows but END), else a table landing exactly on
            # 2^w - 1 at the last code desyncs the END code's width
            if next_code < 4096:
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
        emit(end, code_size)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def lzw_decode(data: bytes, min_code_size: int) -> bytes:
        clear = 1 << min_code_size
        end = clear + 1
        pos = 0
        acc = 0
        nbits = 0

        def read(size: int):
            nonlocal pos, acc, nbits
            while nbits < size:
                if pos >= len(data):
                    return None
                acc |= data[pos] << nbits
                pos += 1
                nbits += 8
            code = acc & ((1 << size) - 1)
            acc >>= size
            nbits -= size
            return code

        out = bytearray()
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code_size + 1
        prev = None
        while True:
            code = read(code_size)
            if code is None:
                raise ValueError("truncated LZW stream")
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                break
            if prev is None:
                if code >= len(table):
                    raise ValueError("bad first code")
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                elif code == len(table):
                    entry = prev + prev[:1]  # KwKwK
                else:
                    raise ValueError("code out of range")
                if len(table) < 4096:
                    table.append(prev + entry[:1])
                    if len(table) == (1 << code_size) - 1 and code_size < 12:
                        code_size += 1
            out += entry
            prev = entry
        return bytes(out)

    gray_gct = bytes(v for i in range(256) for v in (i, i, i))

    def make_gif_pixels(rows: list[bytes], block_size: int = 255) -> bytes:
        h = len(rows)
        w = len(rows[0]) if rows else 0
        # LSD: GCT present, 8 bits/px, 256-entry table
        lsd = struct.pack("<HH", w, h) + b"\xf7\x00\x00"
        desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        comp = lzw_encode(b"".join(bytes(r) for r in rows), 8)
        body = bytearray([8])  # LZW minimum code size
        for i in range(0, len(comp), block_size):
            chunk = comp[i:i + block_size]
            body.append(len(chunk))
            body += chunk
        body.append(0)  # block terminator
        return (b"GIF89a" + lsd + gray_gct + desc + bytes(body) + b"\x3b")

    def decode_gif_pixel_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if blob[:6] not in (b"GIF87a", b"GIF89a") or len(blob) < 13:
                return None
            sw, sh = struct.unpack("<HH", blob[6:10])
            packed = blob[10]
            i = 13
            palette = None
            if packed & 0x80:
                n_gct = 2 << (packed & 0x07)
                palette = blob[i:i + 3 * n_gct]
                if len(palette) != 3 * n_gct:
                    return None
                i += 3 * n_gct
            while i < len(blob):
                b0 = blob[i]
                if b0 == 0x3B:  # trailer before any image
                    return None
                if b0 == 0x21:  # extension: label + sub-blocks
                    i += 2
                    while i < len(blob) and blob[i] != 0:
                        i += 1 + blob[i]
                    if i >= len(blob):
                        return None
                    i += 1
                    continue
                if b0 != 0x2C:
                    return None
                left, top, iw, ih = struct.unpack("<HHHH", blob[i + 1:i + 9])
                ipacked = blob[i + 9]
                i += 10
                if ipacked & 0x40:  # interlaced: not emitted by writer
                    return None
                if ipacked & 0x80:  # local color table overrides
                    n_lct = 2 << (ipacked & 0x07)
                    palette = blob[i:i + 3 * n_lct]
                    if len(palette) != 3 * n_lct:
                        return None
                    i += 3 * n_lct
                if palette is None or i >= len(blob):
                    return None
                mcs = blob[i]
                i += 1
                if not 2 <= mcs <= 8:
                    return None
                comp = bytearray()
                while i < len(blob) and blob[i] != 0:
                    ln = blob[i]
                    chunk = blob[i + 1:i + 1 + ln]
                    if len(chunk) != ln:
                        return None
                    comp += chunk
                    i += 1 + ln
                if i >= len(blob):
                    return None
                idx = lzw_decode(bytes(comp), mcs)
                if len(idx) != iw * ih:
                    return None
                n_colors = len(palette) // 3
                if idx and max(idx) >= n_colors:
                    return None
                vals = [palette[3 * j] for j in idx]  # gray: R channel
                if not vals:
                    return None
                return (iw, ih, iw * ih, sum(vals), min(vals), max(vals))
            return None
        except (ValueError, IndexError, struct.error):
            return None

    return make_gif_pixels, decode_gif_pixel_stats, lzw_encode, lzw_decode


(make_gif_pixels, decode_gif_pixel_stats,
 gif_lzw_encode, gif_lzw_decode) = _build_gif_pixel_codecs()


def synthesize_gif_pixel_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real LZW-compressed GIF89a byte stream with
    doc_id-derived pixels; every GIF_PIX_CORRUPT_MOD-th doc gets a
    structurally-valid GIF whose LZW data bytes are garbage (all 0xFF:
    the first 9-bit code is 511, out of table range), so the corrupt-
    stream tolerance path is exercised in-band.

    width = 8 + d % 23, height = 8 + d % 19, pixel (y, x) =
    (d*6151 + y*93911 + x*999983) % 256 — the formula is the ONLY thing
    the oracle knows; the payload is genuine variable-width LZW bytes.
    Docs with d % 3 == 0 use 100-byte sub-blocks so multi-block
    concatenation is exercised.
    """
    mk = make_gif_pixels
    wb, wm, hb, hm = GIF_PIX_W_BASE, GIF_PIX_W_MOD, GIF_PIX_H_BASE, GIF_PIX_H_MOD
    a, b, c, cmod = GIF_PIX_A, GIF_PIX_B, GIF_PIX_C, GIF_PIX_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        if d % cmod == 0:
            # valid structure, garbage LZW: 20 bytes of 0xFF in
            # one sub-block
            return (b"GIF89a" + bytes([w & 0xFF, w >> 8, h & 0xFF, h >> 8])
                    + b"\xf7\x00\x00"
                    + bytes(v for i in range(256) for v in (i, i, i))
                    + b"\x2c" + bytes([0, 0, 0, 0, w & 0xFF, w >> 8,
                                       h & 0xFF, h >> 8, 0])
                    + b"\x08\x14" + b"\xff" * 20 + b"\x00\x3b")
        rows = [bytes((d * a + y * b + x * c) % 256 for x in range(w))
                for y in range(h)]
        return mk(rows, block_size=100 if d % 3 == 0 else 255)

    return _synthesize(df, blob_of)


def decode_gif_pixels(df: DataFrame) -> DataFrame:
    """REAL pixel decode: binary payload -> per-image pixel stats read
    from the LZW-decompressed index stream mapped through the palette.

    Corrupt payloads (truncated sub-blocks, out-of-range codes, wrong
    pixel count) yield a row of NULL stats rather than erroring the
    batch (SURVEY §2 T7).
    """
    return _decode_stats(df, decode_gif_pixel_stats, GIF_PIXELS_SCHEMA)


def multimodal_decode_gif_pixels_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF PIXEL decode end-to-end: synthesize genuine LZW-
    compressed GIF89a payloads, then reconstruct the pixels back OUT OF
    THE BYTES (sub-block walk + variable-width LZW decompression +
    palette mapping) and aggregate stats. The oracle recomputes the
    stats from the doc_id pixel formula alone — and NULLs for the
    planted corrupt-LZW rows — so a green row proves the full encode ->
    Arrow round-trip -> LZW decode -> palette -> aggregate pipeline, the
    step beyond ``multimodal_decode_gif``'s descriptor-only parse."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_gif_pixels(synthesize_gif_pixel_payloads(docs))


_MULTIMODAL_GIF_PIXELS_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({GIF_PIX_W_BASE} + abs(doc_id) % {GIF_PIX_W_MOD} AS INT) AS width,
    CAST({GIF_PIX_H_BASE} + abs(doc_id) % {GIF_PIX_H_MOD} AS INT) AS height
  FROM documents
), px AS (
  SELECT doc_id, d, width, height,
    list_transform(range(0, width * height),
      i -> (d * {GIF_PIX_A} + (i // width) * {GIF_PIX_B}
            + (i % width) * {GIF_PIX_C}) % 256) AS vals
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {GIF_PIX_CORRUPT_MOD} = 0 THEN NULL ELSE width END AS width,
  CASE WHEN d % {GIF_PIX_CORRUPT_MOD} = 0 THEN NULL ELSE height END AS height,
  CASE WHEN d % {GIF_PIX_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(width * height AS INT) END AS n_px,
  CASE WHEN d % {GIF_PIX_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vals) AS BIGINT) END AS pix_sum,
  CASE WHEN d % {GIF_PIX_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_min(vals) AS INT) END AS pix_min,
  CASE WHEN d % {GIF_PIX_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_max(vals) AS INT) END AS pix_max
FROM px
"""

register(QuerySpec("multimodal_decode_gif_pixels",
                   multimodal_decode_gif_pixels_query,
                   _MULTIMODAL_GIF_PIXELS_SQL,
                   description="real GIF pixel decode: sub-block walk + "
                               "variable-width LZW decompression + palette "
                               "mapping, stats from reconstructed pixels; "
                               "planted corrupt-LZW rows -> NULL"))


# --- real mu-law (G.711) audio decode -----------------------------------------

MULAW_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("peak_abs", T.IntegerType()),
    T.StructField("sum_pcm", T.LongType()),
    T.StructField("energy", T.LongType()),
])

MULAW_RATE = 8000        # G.711's native rate
MULAW_N_BASE = 64
MULAW_N_MOD = 257
MULAW_A = 2741
MULAW_B = 48271
MULAW_CORRUPT_MOD = 10


def _build_mulaw_sample():
    def mulaw_decode_sample(b: int) -> int:
        """One 8-bit mu-law byte -> linear 16-bit PCM (ITU-T G.711 decode
        expansion): complement, split sign/exponent/mantissa, expand
        ((8m + 132) << e) - 132. Pure integer formula — the SAME expression
        the DuckDB oracle evaluates, so decoded PCM is oracle-checked."""
        u = (~b) & 0xFF
        sign = u & 0x80
        e = (u >> 4) & 0x07
        m = u & 0x0F
        mag = ((8 * m + 132) << e) - 132
        return -mag if sign else mag

    return mulaw_decode_sample


# nested so closures calling it pickle it by value (see make_png)
mulaw_decode_sample = _build_mulaw_sample()


def _build_mulaw_codecs():
    import struct

    def make_mulaw_wav(mulaw_bytes: bytes,
                       sample_rate: int = MULAW_RATE) -> bytes:
        fmt = struct.pack("<HHIIHH", 7, 1, sample_rate, sample_rate, 1, 8)
        data = bytes(mulaw_bytes)
        chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(data)) + data
                  + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def decode_mulaw_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
                return None
            i, fmt, data = 12, None, None
            while i + 8 <= len(blob):
                cid = blob[i:i + 4]
                (sz,) = struct.unpack("<I", blob[i + 4:i + 8])
                body = blob[i + 8:i + 8 + sz]
                if len(body) != sz:
                    return None  # truncated chunk
                if cid == b"fmt " and len(body) >= 16:
                    tag, ch, sr, _, _, bits = struct.unpack("<HHIIHH", body[:16])
                    fmt = (tag, ch, sr, bits)
                elif cid == b"data":
                    data = body
                i += 8 + sz + (sz & 1)
            if fmt is None or data is None:
                return None
            tag, ch, sr, bits = fmt
            if tag != 7 or ch != 1 or bits != 8:
                return None
            pcm = [mulaw_decode_sample(b) for b in data]
            if not pcm:
                return None
            return (sr, len(pcm), max(abs(x) for x in pcm), sum(pcm),
                    sum(x * x for x in pcm))
        except Exception:
            return None

    return make_mulaw_wav, decode_mulaw_stats


make_mulaw_wav, decode_mulaw_stats = _build_mulaw_codecs()


def synthesize_mulaw_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real format-tag-7 RIFF/WAVE bytes whose data chunk is
    the mu-law byte stream b_i = (d*2741 + i*48271) % 256; every
    MULAW_CORRUPT_MOD-th doc's data chunk is truncated mid-declared-size
    (header says N bytes, fewer follow)."""
    mk = make_mulaw_wav
    nb, nm, a, b, cmod = (MULAW_N_BASE, MULAW_N_MOD, MULAW_A, MULAW_B,
                          MULAW_CORRUPT_MOD)

    def blob_of(d: int) -> bytes:
        n = nb + d % nm
        blob = mk(bytes((d * a + i * b) % 256 for i in range(n)))
        if d % cmod == 0:
            blob = blob[:-(n // 2)]  # truncate inside data chunk
        return blob

    return _synthesize(df, blob_of)


def decode_mulaw(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_mulaw_stats, MULAW_SCHEMA)


def multimodal_decode_mulaw_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real companded-audio decode end-to-end: G.711 mu-law bytes in a
    format-tag-7 RIFF container, expanded to linear PCM sample by
    sample. Unlike the PCM WAV spec (which reads samples), this one
    DECODES a compression format — and the expansion formula is pure
    integer arithmetic, so the oracle recomputes the decoded PCM
    itself. Planted truncated-data rows -> NULL."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_mulaw(synthesize_mulaw_payloads(docs))


# G.711 expansion of byte b in SQL (u = 255 - b is the complement):
_MULAW_PCM_SQL = (
    "(CASE WHEN ((255 - {b}) & 128) > 0 THEN -1 ELSE 1 END) * "
    "(((8 * ((255 - {b}) & 15) + 132) << (((255 - {b}) >> 4) & 7)) - 132)")

_MULTIMODAL_MULAW_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({MULAW_N_BASE} + abs(doc_id) % {MULAW_N_MOD} AS INT) AS n
  FROM documents
), s AS (
  SELECT doc_id, d, n,
    list_transform(range(0, n),
      i -> {_MULAW_PCM_SQL.format(b=f"((d * {MULAW_A} + i * {MULAW_B}) % 256)")}
    ) AS pcm
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {MULAW_CORRUPT_MOD} = 0 THEN NULL
       ELSE {MULAW_RATE} END AS sample_rate,
  CASE WHEN d % {MULAW_CORRUPT_MOD} = 0 THEN NULL ELSE n END AS n_samples,
  CASE WHEN d % {MULAW_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_max(list_transform(pcm, x -> abs(x))) AS INT)
       END AS peak_abs,
  CASE WHEN d % {MULAW_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(pcm) AS BIGINT) END AS sum_pcm,
  CASE WHEN d % {MULAW_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(list_transform(pcm, x -> x * x)) AS BIGINT)
       END AS energy
FROM s
"""

register(QuerySpec("multimodal_decode_mulaw", multimodal_decode_mulaw_query,
                   _MULTIMODAL_MULAW_SQL,
                   description="real G.711 mu-law audio decode: companded "
                               "bytes -> linear PCM via the integer "
                               "expansion formula, oracle-checked sample "
                               "math; truncated-data rows -> NULL"))


# --- real BMP pixel decode (24-bit uncompressed, stdlib struct) --------------

BMP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_px", T.IntegerType()),
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("first_px_r", T.IntegerType()),  # pixel (0,0): proves
    T.StructField("last_px_b", T.IntegerType()),   # row order + BGR read
])

BMP_W_BASE = 5
BMP_W_MOD = 22
BMP_H_BASE = 5
BMP_H_MOD = 15
BMP_A = 3271
BMP_B = 65993
BMP_C = 444443
BMP_D = 59999
BMP_CORRUPT_MOD = 12


def _build_bmp_codecs():
    """Pure-stdlib 24-bit BMP codec. The format's quirks are the test:
    pixel rows are stored BOTTOM-UP, samples are BGR (not RGB), and
    every row is zero-padded to a 4-byte boundary — a decoder that
    treats the pixel array as a flat top-down RGB buffer reads garbage
    on any width not divisible by 4. ``decode_bmp_stats`` validates
    magic, header sizes, bpp=24, compression=0, and the exact padded
    pixel-array length; any defect returns None (row-level tolerance).
    """
    import struct

    def make_bmp(rows_rgb: list[list[tuple]]) -> bytes:
        """rows_rgb[y][x] = (r, g, b), y=0 is the TOP row."""
        h = len(rows_rgb)
        w = len(rows_rgb[0]) if rows_rgb else 0
        pad = (-3 * w) % 4
        body = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up storage
            for (r, g, b) in rows_rgb[y]:
                body += bytes((b, g, r))  # BGR
            body += bytes(pad)
        pixel_off = 14 + 40
        file_size = pixel_off + len(body)
        header = (b"BM" + struct.pack("<IHHI", file_size, 0, 0, pixel_off)
                  + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                                len(body), 2835, 2835, 0, 0))
        return bytes(header + body)

    def decode_bmp_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if blob[:2] != b"BM" or len(blob) < 54:
                return None
            (pixel_off,) = struct.unpack("<I", blob[10:14])
            (dib_size, w, h, planes, bpp, comp) = struct.unpack(
                "<IiiHHI", blob[14:34])
            if dib_size != 40 or planes != 1 or bpp != 24 or comp != 0:
                return None
            if w <= 0 or h == 0:
                return None
            top_down = h < 0
            h = abs(h)
            pad = (-3 * w) % 4
            stride = 3 * w + pad
            body = blob[pixel_off:pixel_off + stride * h]
            if len(body) != stride * h:
                return None
            sr = sg = sb = 0
            first_r = last_b = None
            for yi in range(h):
                y = yi if top_down else h - 1 - yi  # logical row index
                line = body[yi * stride:yi * stride + 3 * w]
                sb += sum(line[0::3])
                sg += sum(line[1::3])
                sr += sum(line[2::3])
                if y == 0:
                    first_r = line[2]          # pixel (0,0) red sample
                if y == h - 1:
                    last_b = line[3 * (w - 1)]  # pixel (h-1,w-1) blue
            return (w, h, w * h, sr, sg, sb, first_r, last_b)
        except Exception:
            return None

    return make_bmp, decode_bmp_stats


make_bmp, decode_bmp_stats = _build_bmp_codecs()


def synthesize_bmp_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real 24-bit BMP bytes; every BMP_CORRUPT_MOD-th doc
    gets a pixel array one byte short (valid headers, wrong length).

    width = 5 + d % 22 (odd widths exercise row padding),
    height = 5 + d % 15, channel c of pixel (y, x) =
    (d*3271 + y*65993 + x*444443 + c*59999) % 256.
    """
    mk = make_bmp
    wb, wm, hb, hm = BMP_W_BASE, BMP_W_MOD, BMP_H_BASE, BMP_H_MOD
    a, b, c_, dd, cmod = BMP_A, BMP_B, BMP_C, BMP_D, BMP_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        rows = [[tuple((d * a + y * b + x * c_ + ch * dd) % 256
                       for ch in range(3)) for x in range(w)]
                for y in range(h)]
        blob = mk(rows)
        if d % cmod == 0:
            blob = blob[:-1]  # short pixel array
        return blob

    return _synthesize(df, blob_of)


def decode_bmp(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_bmp_stats, BMP_SCHEMA)


def multimodal_decode_bmp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP decode end-to-end: bottom-up BGR padded rows written and
    read back by stdlib codecs; first_px_r / last_px_b pin the row
    order and channel order against the formula (a top-down or RGB
    misread flips them); planted short-pixel-array rows -> NULL."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_bmp(synthesize_bmp_payloads(docs))


_MULTIMODAL_BMP_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({BMP_W_BASE} + abs(doc_id) % {BMP_W_MOD} AS INT) AS width,
    CAST({BMP_H_BASE} + abs(doc_id) % {BMP_H_MOD} AS INT) AS height
  FROM documents
), s AS (
  SELECT doc_id, d, width, height,
    list_transform(range(0, width * height),
      i -> (d * {BMP_A} + (i // width) * {BMP_B}
            + (i % width) * {BMP_C}) % 256) AS vr,
    list_transform(range(0, width * height),
      i -> (d * {BMP_A} + (i // width) * {BMP_B}
            + (i % width) * {BMP_C} + {BMP_D}) % 256) AS vg,
    list_transform(range(0, width * height),
      i -> (d * {BMP_A} + (i // width) * {BMP_B}
            + (i % width) * {BMP_C} + 2 * {BMP_D}) % 256) AS vb
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {BMP_CORRUPT_MOD} = 0 THEN NULL ELSE width END AS width,
  CASE WHEN d % {BMP_CORRUPT_MOD} = 0 THEN NULL ELSE height END AS height,
  CASE WHEN d % {BMP_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(width * height AS INT) END AS n_px,
  CASE WHEN d % {BMP_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vr) AS BIGINT) END AS sum_r,
  CASE WHEN d % {BMP_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vg) AS BIGINT) END AS sum_g,
  CASE WHEN d % {BMP_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vb) AS BIGINT) END AS sum_b,
  CASE WHEN d % {BMP_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST((d * {BMP_A}) % 256 AS INT) END AS first_px_r,
  CASE WHEN d % {BMP_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST((d * {BMP_A} + (height - 1) * {BMP_B}
                  + (width - 1) * {BMP_C} + 2 * {BMP_D}) % 256 AS INT)
       END AS last_px_b
FROM s
"""

register(QuerySpec("multimodal_decode_bmp", multimodal_decode_bmp_query,
                   _MULTIMODAL_BMP_SQL,
                   description="real 24-bit BMP decode: bottom-up BGR "
                               "padded rows; first/last-pixel probes pin "
                               "row and channel order; planted "
                               "short-array rows -> NULL"))


# --- GIF decode spec (with in-band corrupt rows) --------------------------------

GIF_CORRUPT_MOD = 13


def synthesize_gif_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real GIF89a byte stream with doc_id-derived dims; every
    GIF_CORRUPT_MOD-th doc gets a TRUNCATED header (magic only) so the
    row-level tolerance path is exercised in-band, not just in units."""
    mk = make_gif
    w_mod, h_mod, c_mod = DIM_W_MOD, DIM_H_MOD, GIF_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        if d % c_mod == 0:
            return b"GIF89a\x10"  # truncated LSD
        return mk(16 + d % w_mod, 16 + d % h_mod)

    return _synthesize(df, blob_of)


def multimodal_decode_gif_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF decode end-to-end with planted corruption: genuine GIF89a
    streams (little-endian logical-screen dims) decoded back out of the
    bytes; truncated payloads surface as ('unknown', NULL) rows instead
    of failing the batch. The oracle recomputes both populations from
    the doc_id formulas alone."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    decoded = decode_image_headers(synthesize_gif_payloads(docs))
    return (decoded.groupBy("format")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("width").alias("sum_width"),
                 F.sum("height").alias("sum_height")))


_MULTIMODAL_GIF_SQL = f"""
WITH p AS (
  SELECT CASE WHEN abs(doc_id) % {GIF_CORRUPT_MOD} = 0
              THEN 'unknown' ELSE 'gif' END AS format,
         CASE WHEN abs(doc_id) % {GIF_CORRUPT_MOD} = 0 THEN NULL
              ELSE 16 + abs(doc_id) % {DIM_W_MOD} END AS width,
         CASE WHEN abs(doc_id) % {GIF_CORRUPT_MOD} = 0 THEN NULL
              ELSE 16 + abs(doc_id) % {DIM_H_MOD} END AS height
  FROM documents)
SELECT format, COUNT(*) AS n_docs,
  CAST(SUM(width) AS BIGINT) AS sum_width,
  CAST(SUM(height) AS BIGINT) AS sum_height
FROM p GROUP BY format
"""

register(QuerySpec("multimodal_decode_gif", multimodal_decode_gif_query,
                   _MULTIMODAL_GIF_SQL,
                   description="real GIF decode with planted truncated "
                               "rows: dims parsed from genuine bytes, "
                               "corruption surfaces as unknown/NULL "
                               "(T7), both populations formula-checked"))


# --- real image resize: nearest-neighbor thumbnails from decoded pixels --------

THUMB = 4  # thumbnail side

THUMB_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("thumb", T.ArrayType(T.IntegerType())),
])


def thumbnail_png(df: DataFrame, side: int = THUMB) -> DataFrame:
    """REAL image resize: decode the PNG pixels, then nearest-neighbor
    downsample to a ``side``×``side`` thumbnail — the resize stage of a
    multimodal ingest pipeline executed on genuinely decoded bytes
    (thumb[i*side+j] = pixel(floor(i·h/side), floor(j·w/side))), not a
    stub. Corrupt payloads -> NULL row (T7)."""
    s = side

    def thumb_stats(blob: bytes):
        got = decode_png_gray_rows(blob)
        if got is None:
            return None
        w, h, rows = got
        return w, h, [int(rows[(i * h) // s][(j * w) // s])
                      for i in range(s) for j in range(s)]

    return _decode_stats(df, thumb_stats, THUMB_SCHEMA)


def multimodal_thumbnail_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real resize end-to-end: synthesize genuine filtered PNGs, decode,
    nearest-neighbor downsample — the oracle recomputes every thumbnail
    pixel from the (doc_id, y, x) formula alone, so a green row proves
    decode + index arithmetic, not just plumbing."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return thumbnail_png(synthesize_png_pixel_payloads(docs))


_MULTIMODAL_THUMB_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({PNG_PIX_W_BASE} + abs(doc_id) % {PNG_PIX_W_MOD} AS INT) AS width,
    CAST({PNG_PIX_H_BASE} + abs(doc_id) % {PNG_PIX_H_MOD} AS INT) AS height
  FROM documents
)
SELECT doc_id, width, height,
  list_transform(range(0, {THUMB} * {THUMB}),
    t -> CAST((d * {PNG_PIX_A}
               + (((t // {THUMB}) * height) // {THUMB}) * {PNG_PIX_B}
               + (((t % {THUMB}) * width) // {THUMB}) * {PNG_PIX_C}) % 256
         AS INT)) AS thumb
FROM p
"""

register(QuerySpec("multimodal_thumbnail", multimodal_thumbnail_query,
                   _MULTIMODAL_THUMB_SQL,
                   description="real image resize: decoded-pixel "
                               "nearest-neighbor 4x4 thumbnails, every "
                               "output pixel oracle-checked"))


# --- real frame sampling: multi-frame (animated) GIF decode --------------------

GIF_ANIM_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("pix_min", T.IntegerType()),
    T.StructField("pix_max", T.IntegerType()),
])

ANIM_W_BASE = 6
ANIM_W_MOD = 13
ANIM_H_BASE = 6
ANIM_H_MOD = 11
ANIM_FRAMES_BASE = 2
ANIM_FRAMES_MOD = 5
ANIM_A = 5279
ANIM_B = 104717
ANIM_C = 909091
ANIM_E = 49999       # per-frame offset multiplier
ANIM_STRIDE = 2      # sample every 2nd frame
ANIM_CORRUPT_MOD = 14


def _build_gif_anim_codecs():
    def make_gif_animation(frames: list, block_size: int = 255) -> bytes:
        """Multi-frame GIF89a: one logical screen + grayscale global color
        table, then one image descriptor + REAL LZW stream PER FRAME, then
        the trailer. (Real animated GIFs add graphic-control extensions for
        timing; the frame-iteration structure — which is what a sampler
        must walk — is exactly this.)"""
        import struct

        h = len(frames[0])
        w = len(frames[0][0]) if h else 0
        lsd = struct.pack("<HH", w, h) + b"\xf7\x00\x00"
        gct = bytes(v for i in range(256) for v in (i, i, i))
        out = bytearray(b"GIF89a" + lsd + gct)
        for rows in frames:
            out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
            comp = gif_lzw_encode(b"".join(bytes(r) for r in rows), 8)
            out.append(8)
            for i in range(0, len(comp), block_size):
                chunk = comp[i:i + block_size]
                out.append(len(chunk))
                out += chunk
            out.append(0)
        out += b"\x3b"
        return bytes(out)


    def decode_gif_frames(blob: bytes):
        """All frames of a (possibly multi-image) GIF: list of per-frame
        (width, height, pix_sum, pix_min, pix_max), or None on any
        structural defect. Walks every image block, skipping extensions —
        the iteration a frame sampler drives. Stats derive from
        :func:`decode_gif_frame_pixels`, the shared pixel-level walk."""
        got = decode_gif_frame_pixels(blob)
        if got is None:
            return None
        return [(iw, ih, sum(vals), min(vals), max(vals))
                for (iw, ih, vals) in got]


    def decode_gif_frame_pixels(blob: bytes):
        """Pixel-level multi-frame GIF decode: list of per-frame
        (width, height, [gray values]) or None on any structural defect."""
        import struct

        try:
            blob = bytes(blob)
            if blob[:6] not in (b"GIF87a", b"GIF89a") or len(blob) < 13:
                return None
            packed = blob[10]
            i = 13
            palette = None
            if packed & 0x80:
                n_gct = 2 << (packed & 0x07)
                palette = blob[i:i + 3 * n_gct]
                if len(palette) != 3 * n_gct:
                    return None
                i += 3 * n_gct
            frames = []
            while i < len(blob):
                b0 = blob[i]
                if b0 == 0x3B:
                    return frames if frames else None
                if b0 == 0x21:
                    i += 2
                    while i < len(blob) and blob[i] != 0:
                        i += 1 + blob[i]
                    if i >= len(blob):
                        return None
                    i += 1
                    continue
                if b0 != 0x2C:
                    return None
                _, _, iw, ih = struct.unpack("<HHHH", blob[i + 1:i + 9])
                ipacked = blob[i + 9]
                i += 10
                pal = palette
                if ipacked & 0x80:
                    n_lct = 2 << (ipacked & 0x07)
                    pal = blob[i:i + 3 * n_lct]
                    if len(pal) != 3 * n_lct:
                        return None
                    i += 3 * n_lct
                if pal is None or i >= len(blob):
                    return None
                mcs = blob[i]
                i += 1
                if not 2 <= mcs <= 8:
                    return None
                comp = bytearray()
                while i < len(blob) and blob[i] != 0:
                    ln = blob[i]
                    chunk = blob[i + 1:i + 1 + ln]
                    if len(chunk) != ln:
                        return None
                    comp += chunk
                    i += 1 + ln
                if i >= len(blob):
                    return None
                i += 1  # image-data terminator
                idx = gif_lzw_decode(bytes(comp), mcs)
                if len(idx) != iw * ih:
                    return None
                n_colors = len(pal) // 3
                if idx and max(idx) >= n_colors:
                    return None
                vals = [pal[3 * j] for j in idx]
                if not vals:
                    return None
                frames.append((iw, ih, vals))
            return None  # ran out of bytes before the trailer
        except (ValueError, IndexError, struct.error):
            return None

    return make_gif_animation, decode_gif_frames, decode_gif_frame_pixels


# nested so closures calling them pickle them by value (see make_png)
(make_gif_animation, decode_gif_frames,
 decode_gif_frame_pixels) = _build_gif_anim_codecs()


def synthesize_gif_animations(df: DataFrame) -> DataFrame:
    """doc_id -> real multi-frame GIF89a; frame z pixel (y, x) =
    (d*5279 + z*49999 + y*104717 + x*909091) % 256, n_frames =
    2 + d % 5; every ANIM_CORRUPT_MOD-th doc's LAST frame has a
    corrupt LZW stream (whole payload -> NULL: a sampler must not
    return half an animation as if it were intact)."""
    wb, wm, hb, hm = ANIM_W_BASE, ANIM_W_MOD, ANIM_H_BASE, ANIM_H_MOD
    fb, fm = ANIM_FRAMES_BASE, ANIM_FRAMES_MOD
    a, b, c, e, cmod = ANIM_A, ANIM_B, ANIM_C, ANIM_E, ANIM_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        nf = fb + d % fm
        frames = [
            [bytes((d * a + z * e + y * b + x * c) % 256
                   for x in range(w)) for y in range(h)]
            for z in range(nf)]
        if d % cmod == 0:
            # Replace the final frame with a structurally-valid
            # image block whose one-sub-block LZW stream is
            # garbage (first 9-bit code = 511, out of table
            # range), same device as the single-image synth.
            # Built from block structure, not byte offsets, so
            # it stays valid for any encoder sub-block layout.
            import struct as _st
            return (make_gif_animation(frames[:-1])[:-1]  # drop 0x3B
                    + b"\x2c" + _st.pack("<HHHH", 0, 0, w, h)
                    + b"\x00\x08\x14" + b"\xff" * 20 + b"\x00\x3b")
        return make_gif_animation(frames)

    return _synthesize(df, blob_of)


def sample_gif_frames(df: DataFrame, stride: int = ANIM_STRIDE) -> DataFrame:
    """REAL video-style frame sampling: decode the multi-frame payload,
    keep every ``stride``-th frame, one output row per kept frame with
    stats computed from the genuinely decoded pixels. Corrupt and NULL
    payloads produce a single all-NULL row (frame_idx NULL), so tolerance is
    visible in-band."""
    s = stride

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd
        for pdf in batches:
            ids, fidx = [], []
            cols = {k: [] for k in
                    ("width", "height", "pix_sum", "pix_min", "pix_max")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = (decode_gif_frames(bytes(payload))
                          if payload is not None else None)
                if frames is None:
                    ids.append(doc_id)
                    fidx.append(None)
                    for k in cols:
                        cols[k].append(None)
                    continue
                for z in range(0, len(frames), s):
                    w, h, ps, mn, mx = frames[z]
                    ids.append(doc_id)
                    fidx.append(z)
                    for k, v in zip(cols, (w, h, ps, mn, mx)):
                        cols[k].append(v)
            yield pd.DataFrame({
                "doc_id": pd.array(ids, dtype="Int64"),
                "frame_idx": pd.array(fidx, dtype="Int32"),
                "width": pd.array(cols["width"], dtype="Int32"),
                "height": pd.array(cols["height"], dtype="Int32"),
                "pix_sum": pd.array(cols["pix_sum"], dtype="Int64"),
                "pix_min": pd.array(cols["pix_min"], dtype="Int32"),
                "pix_max": pd.array(cols["pix_max"], dtype="Int32")})

    return df.select("doc_id", "payload").mapInPandas(_sample, GIF_ANIM_SCHEMA)


def multimodal_frame_sample_real_query(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """REAL frame sampling end-to-end: genuine multi-frame GIF payloads
    (one LZW stream per frame), strided decode, per-frame stats — the
    capability `multimodal_frame_sample` stubs, now on real bytes. The
    oracle recomputes every sampled frame's stats from the
    (doc_id, frame, y, x) formula, with one NULL row per planted
    corrupt payload."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return sample_gif_frames(synthesize_gif_animations(docs))


_MULTIMODAL_ANIM_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({ANIM_W_BASE} + abs(doc_id) % {ANIM_W_MOD} AS INT) AS width,
    CAST({ANIM_H_BASE} + abs(doc_id) % {ANIM_H_MOD} AS INT) AS height,
    CAST({ANIM_FRAMES_BASE} + abs(doc_id) % {ANIM_FRAMES_MOD} AS INT)
      AS n_frames
  FROM documents
), good AS (
  SELECT doc_id, d, width, height, z
  FROM p, LATERAL (SELECT UNNEST(range(0, n_frames, {ANIM_STRIDE})) AS z) zz
  WHERE d % {ANIM_CORRUPT_MOD} <> 0
), vals AS (
  SELECT doc_id, CAST(z AS INT) AS frame_idx, width, height,
    list_transform(range(0, width * height),
      i -> (d * {ANIM_A} + z * {ANIM_E} + (i // width) * {ANIM_B}
            + (i % width) * {ANIM_C}) % 256) AS v
  FROM good
)
SELECT doc_id, frame_idx, width, height,
  CAST(list_sum(v) AS BIGINT) AS pix_sum,
  CAST(list_min(v) AS INT) AS pix_min,
  CAST(list_max(v) AS INT) AS pix_max
FROM vals
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL
FROM p WHERE d % {ANIM_CORRUPT_MOD} = 0
"""

register(QuerySpec("multimodal_frame_sample_real",
                   multimodal_frame_sample_real_query,
                   _MULTIMODAL_ANIM_SQL,
                   description="REAL video-style frame sampling: "
                               "multi-frame GIF payloads, strided LZW "
                               "frame decode, per-frame stats; corrupt "
                               "payloads -> one NULL row"))


# --- real feature extraction: intensity-histogram descriptors ------------------

HIST_BINS = 8

HIST_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_px", T.IntegerType()),
    T.StructField("hist", T.ArrayType(T.LongType())),
    T.StructField("mean_cents", T.LongType()),
])


def histogram_features(df: DataFrame, bins: int = HIST_BINS) -> DataFrame:
    """REAL image feature extraction — the classical pre-deep-learning
    descriptor: a ``bins``-bin intensity histogram over the GENUINELY
    decoded pixels (bin = pixel·bins // 256), plus the mean intensity
    in exact integer cents (sum·100 // n). Exact counts end to end, so
    the descriptor itself is oracle-checkable — unlike the stubbed
    neural embedding (`extract_features`), which stays clearly marked
    fake (no torch in the container). Corrupt payloads -> NULL row."""
    b = bins

    def hist_stats(blob: bytes):
        got = decode_png_gray_rows(blob)
        if got is None:
            return None
        w, h, rows = got
        counts = [0] * b
        total = 0
        for r in rows:
            for v in r:
                counts[(v * b) // 256] += 1
                total += v
        n = w * h
        return n, counts, ((total * 100) // n if n else None)

    return _decode_stats(df, hist_stats, HIST_SCHEMA)


def multimodal_feature_histogram_query(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return histogram_features(synthesize_png_pixel_payloads(docs))


_MULTIMODAL_HIST_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({PNG_PIX_W_BASE} + abs(doc_id) % {PNG_PIX_W_MOD} AS INT) AS width,
    CAST({PNG_PIX_H_BASE} + abs(doc_id) % {PNG_PIX_H_MOD} AS INT) AS height
  FROM documents
), px AS (
  SELECT doc_id, width, height,
    list_transform(range(0, width * height),
      i -> (d * {PNG_PIX_A} + (i // width) * {PNG_PIX_B}
            + (i % width) * {PNG_PIX_C}) % 256) AS vals
  FROM p
)
SELECT doc_id, CAST(width * height AS INT) AS n_px,
  list_transform(range(0, {HIST_BINS}),
    k -> CAST(len(list_filter(vals, v -> (v * {HIST_BINS}) // 256 = k))
         AS BIGINT)) AS hist,
  CAST((list_sum(vals) * 100) // (width * height) AS BIGINT) AS mean_cents
FROM px
"""

register(QuerySpec("multimodal_feature_histogram",
                   multimodal_feature_histogram_query,
                   _MULTIMODAL_HIST_SQL,
                   description="REAL classical feature extraction: 8-bin "
                               "intensity histogram + exact-integer mean "
                               "over genuinely decoded pixels"))


# --- real baseline JPEG pixel decode (stdlib Huffman + dequant + IDCT) ---------
#
# The one ubiquitous image format that was still header-only in this
# engine (r7 advice #5). Follows the PNG/GIF precedent: the synthesizer
# emits KNOWN-COEFFICIENT baseline JPEGs — per-block quantized DC values
# derived from doc_id, AC all zero — so the DuckDB oracle can mirror the
# decoded pixels with exact integer math (a DC-only 8x8 block IDCTs to
# the constant dc·q/8; with q_dc = 16 that is exactly 2·dc, and the
# float IDCT's ulp-level error can never move round() off that integer).
# The DECODER is a real baseline-sequential JPEG pixel decoder: marker
# parse, DQT/DHT table build (any canonical tables the stream declares),
# entropy decode with byte unstuffing, differential DC, run-length AC
# with EOB/ZRL, zigzag dequantization, full 2D IDCT, level shift, clamp,
# edge-block cropping. Corrupt streams (invalid Huffman code, truncated
# entropy, progressive SOF, wrong component count) yield NULL stats
# (SURVEY §2 T7), never a batch error.

JPEG_W_BASE, JPEG_W_MOD = 8, 21
JPEG_H_BASE, JPEG_H_MOD = 8, 13
JPEG_DC_A, JPEG_DC_B, JPEG_DC_C = 37, 101, 61
JPEG_DC_MOD = 129           # dc in [-64, 64] after the -64 shift
JPEG_CORRUPT_MOD = 17
JPEG_QDC = 16               # dc quant step: DC-only block -> exactly 2*dc
# 4:2:0 color path: chroma DC grids reuse the DC formula at shifted seeds
JPEG_CB_SEED, JPEG_CR_SEED = 1, 2
# fixed-point YCbCr->RGB (libjpeg-style 16-bit FIX constants). The
# codec CONTRACT is integer arithmetic with floor division — float
# rounding would diverge between the Python decoder and the SQL oracle.
JPEG_FIX_RCR = 91881        # FIX(1.40200)
JPEG_FIX_GCB = 22554        # FIX(0.34414)
JPEG_FIX_GCR = 46802        # FIX(0.71414)
JPEG_FIX_BCB = 116130       # FIX(1.77200)
JPEG_FIX_HALF = 32768       # rounding bias before the >>16
JPEG_FIX_K = 1 << 20        # positivity offset: floor-div == truncate-div

_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)


def _build_jpeg_codecs():
    """Pure-stdlib baseline JPEG codec pair (struct + math only).

    Encoder: grayscale SOF0, one DQT (dc step JPEG_QDC), canonical DC
    table covering categories 0..11, minimal AC table {EOB, 0x01, ZRL}
    (the synth emits only EOB; the extra codes let unit tests exercise
    the AC run-length path), differential DC with byte stuffing.
    Decoder: see module comment — generic over any canonical tables in
    the stream, not just the encoder's.
    """
    import math
    import struct

    DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    DC_VALS = tuple(range(12))
    AC_BITS = (1, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    AC_VALS = (0x00, 0x01, 0xF0)  # EOB, (run 0, size 1), ZRL
    QTAB = (JPEG_QDC,) + (17,) * 63  # zigzag order; index 0 is DC

    def _canonical(bits, vals):
        enc, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                enc[vals[k]] = (code, ln)
                k += 1
                code += 1
            code <<= 1
        return enc

    DC_ENC = _canonical(DC_BITS, DC_VALS)
    AC_ENC = _canonical(AC_BITS, AC_VALS)

    class _BitW:
        def __init__(self):
            self.buf, self.acc, self.n = bytearray(), 0, 0

        def put(self, code, length):
            for i in range(length - 1, -1, -1):
                self.acc = (self.acc << 1) | ((code >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.buf.append(self.acc)
                    if self.acc == 0xFF:  # byte stuffing
                        self.buf.append(0)
                    self.acc, self.n = 0, 0

        def flush(self):
            while self.n:
                self.put(1, 1)  # pad with 1-bits, per spec

    def _cat(v):
        return v.bit_length() if v >= 0 else (-v).bit_length()

    def _amp(v, c):
        return v if v >= 0 else v + (1 << c) - 1

    def _segments(w, h):
        out = bytearray(b"\xff\xd8")                       # SOI
        out += b"\xff\xdb" + struct.pack(">H", 67) \
            + b"\x00" + bytes(QTAB)                        # DQT (len 67)
        out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) \
            + bytes((1, 0x11, 0))                          # SOF0 grayscale
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(DC_VALS)) \
            + b"\x00" + bytes(DC_BITS) + bytes(DC_VALS)    # DHT DC
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(AC_VALS)) \
            + b"\x10" + bytes(AC_BITS) + bytes(AC_VALS)    # DHT AC
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes((1, 0x00, 0, 63, 0))                   # SOS
        return out

    def make_jpeg_dc(dc_grid, w, h, ac_extra=None, corrupt=False) -> bytes:
        """Baseline grayscale JPEG from a quantized-DC grid
        (row-major, ceil(h/8) x ceil(w/8)). ``ac_extra`` optionally maps
        block index -> signed 1-bit AC value at zigzag position 1 (unit
        tests only). ``corrupt=True`` keeps the structure but writes an
        undecodable all-ones entropy stream."""
        out = _segments(w, h)
        if corrupt:
            out += b"\xff\x00\xff\x00"  # 16 one-bits: no 9-bit DC code
        else:
            bw = _BitW()
            prev = 0
            for bi, dc in enumerate(dc_grid):
                diff = dc - prev
                prev = dc
                c = _cat(diff)
                code, ln = DC_ENC[c]
                bw.put(code, ln)
                if c:
                    bw.put(_amp(diff, c), c)
                if ac_extra and bi in ac_extra:
                    v = ac_extra[bi]            # run 0, size 1
                    code, ln = AC_ENC[0x01]
                    bw.put(code, ln)
                    bw.put(_amp(v, 1), 1)
                code, ln = AC_ENC[0x00]         # EOB
                bw.put(code, ln)
            bw.flush()
            out += bw.buf
        out += b"\xff\xd9"                      # EOI
        return bytes(out)

    COS = [[math.cos((2 * i + 1) * u * math.pi / 16) for u in range(8)]
           for i in range(8)]
    C = [1 / math.sqrt(2)] + [1.0] * 7

    class _BitR:
        def __init__(self, data):
            self.d, self.i, self.acc, self.n = data, 0, 0, 0

        def bit(self):
            if not self.n:
                self.acc = self.d[self.i]  # IndexError -> corrupt
                self.i += 1
                self.n = 8
            self.n -= 1
            return (self.acc >> self.n) & 1

        def bits(self, k):
            v = 0
            for _ in range(k):
                v = (v << 1) | self.bit()
            return v

        def huff(self, table):
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | self.bit()
                ln += 1
                if (ln, code) in table:
                    return table[(ln, code)]
            raise ValueError("invalid huffman code")

    def _extend(v, c):
        return v if v >= (1 << (c - 1)) else v - (1 << c) + 1

    def decode_jpeg_pixel_stats(blob: bytes):
        """(width, height, n_px, pix_sum, pix_min, pix_max) from a
        baseline grayscale JPEG, or None on any structural defect."""
        try:
            blob = bytes(blob)
            if blob[:2] != b"\xff\xd8":
                return None
            i = 2
            qt: dict = {}
            huffs: dict = {}
            w = h = None
            sos_td = sos_ta = None
            data = None
            while i < len(blob):
                if blob[i] != 0xFF:
                    return None
                m = blob[i + 1]
                i += 2
                if m == 0xD9:  # EOI before SOS payload consumed
                    return None
                ln = struct.unpack(">H", blob[i:i + 2])[0]
                seg = blob[i + 2:i + ln]
                if len(seg) != ln - 2:
                    return None
                if m == 0xDB:  # DQT (possibly several tables)
                    j = 0
                    while j < len(seg):
                        if seg[j] >> 4 != 0:
                            return None  # 16-bit tables unsupported
                        qt[seg[j] & 15] = list(seg[j + 1:j + 65])
                        if len(qt[seg[j] & 15]) != 64:
                            return None
                        j += 65
                elif m == 0xC0:  # SOF0 baseline
                    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
                    if prec != 8 or nc != 1 or seg[7] != 0x11:
                        return None
                    sof_tq = seg[8]
                elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                           0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    return None  # non-baseline frame types
                elif m == 0xC4:  # DHT (possibly several tables)
                    j = 0
                    while j < len(seg):
                        tc, th = seg[j] >> 4, seg[j] & 15
                        bits = seg[j + 1:j + 17]
                        nv = sum(bits)
                        vals = seg[j + 17:j + 17 + nv]
                        if len(vals) != nv:
                            return None
                        tbl, code, k = {}, 0, 0
                        for L in range(1, 17):
                            for _ in range(bits[L - 1]):
                                tbl[(L, code)] = vals[k]
                                k += 1
                                code += 1
                            code <<= 1
                        huffs[(tc, th)] = tbl
                        j += 17 + nv
                elif m == 0xDA:  # SOS: header + entropy data follow
                    if seg[0] != 1:
                        return None
                    sos_td, sos_ta = seg[2] >> 4, seg[2] & 15
                    j = i + ln
                    data = bytearray()
                    while j < len(blob) - 1:
                        b0 = blob[j]
                        if b0 == 0xFF:
                            if blob[j + 1] == 0x00:
                                data.append(0xFF)
                                j += 2
                                continue
                            break  # real marker ends the scan
                        data.append(b0)
                        j += 1
                    if blob[j:j + 2] != b"\xff\xd9":
                        return None
                    break
                # APPn/COM/others: skipped
                i += ln
            if data is None or w is None or not w or not h:
                return None
            dct, act = huffs[(0, sos_td)], huffs[(1, sos_ta)]
            q = qt[sof_tq]
            br = _BitR(bytes(data))
            bw_, bh_ = -(-w // 8), -(-h // 8)
            pix = [[0] * (bw_ * 8) for _ in range(bh_ * 8)]
            prev = 0
            for bi in range(bw_ * bh_):
                coef = [0] * 64
                c = br.huff(dct)
                if c > 11:
                    return None
                diff = _extend(br.bits(c), c) if c else 0
                prev += diff
                coef[0] = prev * q[0]
                k = 1
                while k < 64:
                    rs = br.huff(act)
                    if rs == 0x00:
                        break
                    if rs == 0xF0:
                        k += 16
                        continue
                    k += rs >> 4
                    s = rs & 15
                    if k > 63 or not s:
                        return None
                    coef[_JPEG_ZIGZAG[k]] = _extend(br.bits(s), s) * q[k]
                    k += 1
                # full 2D IDCT (rows of the 8x8 in natural order; the
                # zigzag placement above already un-scrambled it)
                by, bx = divmod(bi, bw_)
                for y in range(8):
                    for x in range(8):
                        v = 0.0
                        for u in range(8):
                            cu = C[u] * COS[x][u]
                            for t in range(8):
                                f = coef[t * 8 + u]
                                if f:
                                    v += C[t] * cu * COS[y][t] * f
                        p = int(round(v / 4)) + 128
                        pix[by * 8 + y][bx * 8 + x] = min(255, max(0, p))
            vals = [pix[y][x] for y in range(h) for x in range(w)]
            return (w, h, len(vals), sum(vals), min(vals), max(vals))
        except (ValueError, IndexError, KeyError, struct.error):
            return None

    def _segments_420(w, h):
        """SOI..SOS headers for a 3-component 4:2:0 YCbCr frame: two
        quant tables (0 luma / 1 chroma, same steps — the DC-only
        2*dc+128 identity must hold for every plane), the canonical
        DC/AC tables duplicated at th=1 so the chroma components
        exercise the multi-table paths, interleaved scan."""
        out = bytearray(b"\xff\xd8")                       # SOI
        for tq in (0, 1):
            out += b"\xff\xdb" + struct.pack(">H", 67) \
                + bytes((tq,)) + bytes(QTAB)               # DQT x2
        out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3) \
            + bytes((1, 0x22, 0)) + bytes((2, 0x11, 1)) \
            + bytes((3, 0x11, 1))                          # SOF0 4:2:0
        for th in (0, 1):
            out += b"\xff\xc4" \
                + struct.pack(">H", 2 + 1 + 16 + len(DC_VALS)) \
                + bytes((th,)) + bytes(DC_BITS) + bytes(DC_VALS)
            out += b"\xff\xc4" \
                + struct.pack(">H", 2 + 1 + 16 + len(AC_VALS)) \
                + bytes((0x10 | th,)) + bytes(AC_BITS) + bytes(AC_VALS)
        out += b"\xff\xda" + struct.pack(">HB", 12, 3) \
            + bytes((1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))  # SOS
        return out

    def make_jpeg_420(y_grid, cb_grid, cr_grid, w, h,
                      corrupt=False) -> bytes:
        """Baseline 4:2:0 YCbCr JPEG from quantized-DC grids: ``y_grid``
        is row-major over the (2*ceil(h/16)) x (2*ceil(w/16)) Y block
        grid, the chroma grids over the ceil(h/16) x ceil(w/16) MCU
        grid. Interleaved MCUs (Y x4, Cb, Cr), per-component DC
        predictors."""
        out = _segments_420(w, h)
        if corrupt:
            out += b"\xff\x00\xff\x00"  # undecodable all-ones stream
        else:
            mw, mh = -(-w // 16), -(-h // 16)
            ybw = mw * 2
            bw = _BitW()
            prev = [0, 0, 0]

            def _dc(comp, dc):
                diff = dc - prev[comp]
                prev[comp] = dc
                c = _cat(diff)
                code, ln = DC_ENC[c]
                bw.put(code, ln)
                if c:
                    bw.put(_amp(diff, c), c)
                code, ln = AC_ENC[0x00]         # EOB
                bw.put(code, ln)

            for my in range(mh):
                for mx in range(mw):
                    for r in range(2):
                        for c in range(2):
                            _dc(0, y_grid[(my * 2 + r) * ybw
                                          + mx * 2 + c])
                    _dc(1, cb_grid[my * mw + mx])
                    _dc(2, cr_grid[my * mw + mx])
            bw.flush()
            out += bw.buf
        out += b"\xff\xd9"                      # EOI
        return bytes(out)

    def decode_jpeg_420_stats(blob: bytes):
        """(width, height, n_px, sum_r, sum_g, sum_b, pix_min, pix_max)
        from a baseline 4:2:0 YCbCr JPEG — Huffman entropy decode,
        per-component dequant + IDCT, nearest-neighbor chroma upsample,
        fixed-point integer YCbCr->RGB — or None on any structural
        defect."""
        try:
            blob = bytes(blob)
            if blob[:2] != b"\xff\xd8":
                return None
            i = 2
            qt: dict = {}
            huffs: dict = {}
            w = h = None
            comps = None        # [(cid, hv, tq), ...] in SOF order
            scan = None         # [(td, ta), ...] in SOS order
            data = None
            while i < len(blob):
                if blob[i] != 0xFF:
                    return None
                m = blob[i + 1]
                i += 2
                if m == 0xD9:
                    return None
                ln = struct.unpack(">H", blob[i:i + 2])[0]
                seg = blob[i + 2:i + ln]
                if len(seg) != ln - 2:
                    return None
                if m == 0xDB:
                    j = 0
                    while j < len(seg):
                        if seg[j] >> 4 != 0:
                            return None
                        qt[seg[j] & 15] = list(seg[j + 1:j + 65])
                        if len(qt[seg[j] & 15]) != 64:
                            return None
                        j += 65
                elif m == 0xC0:
                    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
                    if prec != 8 or nc != 3:
                        return None
                    comps = [(seg[6 + 3 * k], seg[7 + 3 * k],
                              seg[8 + 3 * k]) for k in range(3)]
                    if [c[1] for c in comps] != [0x22, 0x11, 0x11]:
                        return None  # only the 4:2:0 layout
                elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                           0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    return None
                elif m == 0xC4:
                    j = 0
                    while j < len(seg):
                        tc, th = seg[j] >> 4, seg[j] & 15
                        bits = seg[j + 1:j + 17]
                        nv = sum(bits)
                        vals = seg[j + 17:j + 17 + nv]
                        if len(vals) != nv:
                            return None
                        tbl, code, k = {}, 0, 0
                        for L in range(1, 17):
                            for _ in range(bits[L - 1]):
                                tbl[(L, code)] = vals[k]
                                k += 1
                                code += 1
                            code <<= 1
                        huffs[(tc, th)] = tbl
                        j += 17 + nv
                elif m == 0xDA:
                    if seg[0] != 3:
                        return None
                    scan = [(seg[2 + 2 * k] >> 4, seg[2 + 2 * k] & 15)
                            for k in range(3)]
                    j = i + ln
                    data = bytearray()
                    while j < len(blob) - 1:
                        b0 = blob[j]
                        if b0 == 0xFF:
                            if blob[j + 1] == 0x00:
                                data.append(0xFF)
                                j += 2
                                continue
                            break
                        data.append(b0)
                        j += 1
                    if blob[j:j + 2] != b"\xff\xd9":
                        return None
                    break
                i += ln
            if data is None or not w or not h or comps is None:
                return None
            br = _BitR(bytes(data))
            mw, mh = -(-w // 16), -(-h // 16)
            yp = [[0] * (mw * 16) for _ in range(mh * 16)]
            cbp = [[0] * (mw * 8) for _ in range(mh * 8)]
            crp = [[0] * (mw * 8) for _ in range(mh * 8)]
            prev = [0, 0, 0]

            def _block(comp):
                """One 8x8: huffman DC+AC, dequant, IDCT -> rows."""
                dct = huffs[(0, scan[comp][0])]
                act = huffs[(1, scan[comp][1])]
                q = qt[comps[comp][2]]
                coef = [0] * 64
                c = br.huff(dct)
                if c > 11:
                    raise ValueError("bad DC category")
                diff = _extend(br.bits(c), c) if c else 0
                prev[comp] += diff
                coef[0] = prev[comp] * q[0]
                k = 1
                while k < 64:
                    rs = br.huff(act)
                    if rs == 0x00:
                        break
                    if rs == 0xF0:
                        k += 16
                        continue
                    k += rs >> 4
                    s = rs & 15
                    if k > 63 or not s:
                        raise ValueError("bad AC run/size")
                    coef[_JPEG_ZIGZAG[k]] = _extend(br.bits(s), s) * q[k]
                    k += 1
                out = [[0] * 8 for _ in range(8)]
                for y in range(8):
                    for x in range(8):
                        v = 0.0
                        for u in range(8):
                            cu = C[u] * COS[x][u]
                            for t in range(8):
                                f = coef[t * 8 + u]
                                if f:
                                    v += C[t] * cu * COS[y][t] * f
                        out[y][x] = min(255, max(0,
                                                 int(round(v / 4)) + 128))
                return out

            for my in range(mh):
                for mx in range(mw):
                    for r in range(2):
                        for c in range(2):
                            blk = _block(0)
                            oy, ox = (my * 2 + r) * 8, (mx * 2 + c) * 8
                            for y in range(8):
                                yp[oy + y][ox:ox + 8] = blk[y]
                    for comp, plane in ((1, cbp), (2, crp)):
                        blk = _block(comp)
                        oy, ox = my * 8, mx * 8
                        for y in range(8):
                            plane[oy + y][ox:ox + 8] = blk[y]
            K16 = JPEG_FIX_K << 16
            sr = sg = sb = 0
            pmin, pmax = 255, 0
            for r in range(h):
                for c in range(w):
                    yv = yp[r][c]
                    cb = cbp[r // 2][c // 2] - 128
                    cr = crp[r // 2][c // 2] - 128
                    red = yv + ((JPEG_FIX_RCR * cr + JPEG_FIX_HALF
                                 + K16) // 65536 - JPEG_FIX_K)
                    grn = yv - ((JPEG_FIX_GCB * cb + JPEG_FIX_GCR * cr
                                 + JPEG_FIX_HALF + K16) // 65536
                                - JPEG_FIX_K)
                    blu = yv + ((JPEG_FIX_BCB * cb + JPEG_FIX_HALF
                                 + K16) // 65536 - JPEG_FIX_K)
                    red = min(255, max(0, red))
                    grn = min(255, max(0, grn))
                    blu = min(255, max(0, blu))
                    sr += red
                    sg += grn
                    sb += blu
                    pmin = min(pmin, red, grn, blu)
                    pmax = max(pmax, red, grn, blu)
            return (w, h, w * h, sr, sg, sb, pmin, pmax)
        except (ValueError, IndexError, KeyError, struct.error):
            return None

    return (make_jpeg_dc, decode_jpeg_pixel_stats,
            make_jpeg_420, decode_jpeg_420_stats)


(make_jpeg_dc, decode_jpeg_pixel_stats,
 make_jpeg_420, decode_jpeg_420_stats) = _build_jpeg_codecs()


def _build_jpeg_dc_value():
    def jpeg_dc_value(d: int, by: int, bx: int) -> int:
        """The synthesized quantized DC of block (by, bx) — the ONLY thing
        the oracle knows about a payload's content."""
        return (d * JPEG_DC_A + by * JPEG_DC_B + bx * JPEG_DC_C) \
            % JPEG_DC_MOD - 64

    return jpeg_dc_value


# nested so closures calling it pickle it by value (see make_png)
jpeg_dc_value = _build_jpeg_dc_value()


def synthesize_jpeg_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real baseline JPEG byte stream with doc_id-derived
    per-block DC coefficients; every JPEG_CORRUPT_MOD-th doc gets a
    structurally-valid stream whose entropy data is an undecodable
    all-ones bit pattern (no 9-bit DC code is assigned), exercising the
    corrupt-stream tolerance path in-band."""
    mk, dcv = make_jpeg_dc, jpeg_dc_value
    wb, wm, hb, hm = JPEG_W_BASE, JPEG_W_MOD, JPEG_H_BASE, JPEG_H_MOD
    cmod = JPEG_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        nbx, nby = -(-w // 8), -(-h // 8)
        grid = [dcv(d, by, bx)
                for by in range(nby) for bx in range(nbx)]
        return mk(grid, w, h, corrupt=(d % cmod == 0))

    return _synthesize(df, blob_of)


def decode_jpeg_pixels(df: DataFrame) -> DataFrame:
    """REAL pixel decode: binary payload -> per-image stats from the
    Huffman-decoded, dequantized, IDCT-reconstructed pixels. Corrupt
    payloads yield a row of NULL stats (SURVEY §2 T7)."""
    return _decode_stats(df, decode_jpeg_pixel_stats, PNG_PIXELS_SCHEMA)


def multimodal_decode_jpeg_pixels_query(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Real baseline JPEG decode end-to-end: synthesize genuine
    Huffman-coded DC-differential payloads, decode them back OUT OF THE
    BYTES (table build, entropy decode with unstuffing, dequantization,
    full IDCT, crop) and aggregate stats. The oracle recomputes the
    stats from the DC formula alone (a DC-only block is the constant
    2·dc after the dc-step-16 dequant and /8 IDCT gain), so a green row
    proves the whole encode -> decode pipeline."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_jpeg_pixels(synthesize_jpeg_payloads(docs))


_MULTIMODAL_JPEG_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({JPEG_W_BASE} + abs(doc_id) % {JPEG_W_MOD} AS INT) AS width,
    CAST({JPEG_H_BASE} + abs(doc_id) % {JPEG_H_MOD} AS INT) AS height
  FROM documents
), px AS (
  SELECT doc_id, width, height,
    list_transform(range(0, width * height),
      i -> least(greatest(
             2 * ((d * {JPEG_DC_A} + ((i // width) // 8) * {JPEG_DC_B}
                   + ((i % width) // 8) * {JPEG_DC_C}) % {JPEG_DC_MOD} - 64)
             + 128, 0), 255)) AS vals
  FROM p WHERE d % {JPEG_CORRUPT_MOD} <> 0
)
SELECT doc_id, width, height, CAST(width * height AS INT) AS n_px,
  CAST(list_sum(vals) AS BIGINT) AS pix_sum,
  CAST(list_min(vals) AS INT) AS pix_min,
  CAST(list_max(vals) AS INT) AS pix_max
FROM px
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL
FROM p WHERE d % {JPEG_CORRUPT_MOD} = 0
"""

register(QuerySpec("multimodal_decode_jpeg_pixels",
                   multimodal_decode_jpeg_pixels_query,
                   _MULTIMODAL_JPEG_SQL,
                   description="real baseline JPEG pixel decode: Huffman "
                               "entropy decode + dequant + IDCT from "
                               "known-coefficient payloads; corrupt "
                               "streams -> NULL row"))


def synthesize_jpeg_color_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real 4:2:0 YCbCr baseline JPEG: interleaved MCUs
    (Y x4, Cb, Cr), two quant tables, chroma components on the th=1
    Huffman tables, per-component DC predictors; DC grids derived from
    doc_id (chroma at seed-shifted d). Every JPEG_CORRUPT_MOD-th doc
    gets an undecodable all-ones entropy stream."""
    mk, dcv = make_jpeg_420, jpeg_dc_value
    wb, wm, hb, hm = JPEG_W_BASE, JPEG_W_MOD, JPEG_H_BASE, JPEG_H_MOD
    cbs, crs, cmod = JPEG_CB_SEED, JPEG_CR_SEED, JPEG_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        mw, mh = -(-w // 16), -(-h // 16)
        yg = [dcv(d, by, bx)
              for by in range(mh * 2) for bx in range(mw * 2)]
        cbg = [dcv(d + cbs, my, mx)
               for my in range(mh) for mx in range(mw)]
        crg = [dcv(d + crs, my, mx)
               for my in range(mh) for mx in range(mw)]
        return mk(yg, cbg, crg, w, h, corrupt=(d % cmod == 0))

    return _synthesize(df, blob_of)


def decode_jpeg_color(df: DataFrame) -> DataFrame:
    """REAL 4:2:0 color decode: entropy decode all six blocks per MCU,
    per-component dequant + IDCT, nearest chroma upsample, fixed-point
    integer YCbCr->RGB; per-image channel stats. Corrupt payloads
    yield a NULL-stats row (SURVEY §2 T7)."""
    return _decode_stats(df, decode_jpeg_420_stats, PNG_RGB_SCHEMA)


def multimodal_decode_jpeg_color_query(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Real 4:2:0 color JPEG end-to-end: synthesize genuine interleaved
    YCbCr payloads, decode OUT OF THE BYTES (multi-table Huffman, six
    blocks per MCU, chroma upsample, fixed-point RGB), aggregate
    channel stats. The oracle recomputes everything from the DC formula
    + the SAME integer RGB arithmetic, so a green row proves the whole
    color pipeline."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_jpeg_color(synthesize_jpeg_color_payloads(docs))


def _jpeg_color_sql() -> str:
    clamp = "least(greatest({0}, 0), 255)"
    ydc = (f"((d * {JPEG_DC_A} + ((i // width) // 8) * {JPEG_DC_B}"
           f" + ((i % width) // 8) * {JPEG_DC_C}) % {JPEG_DC_MOD} - 64)")
    cbdc = (f"(((d + {JPEG_CB_SEED}) * {JPEG_DC_A}"
            f" + ((i // width) // 16) * {JPEG_DC_B}"
            f" + ((i % width) // 16) * {JPEG_DC_C})"
            f" % {JPEG_DC_MOD} - 64)")
    crdc = (f"(((d + {JPEG_CR_SEED}) * {JPEG_DC_A}"
            f" + ((i // width) // 16) * {JPEG_DC_B}"
            f" + ((i % width) // 16) * {JPEG_DC_C})"
            f" % {JPEG_DC_MOD} - 64)")
    yv = clamp.format(f"2 * {ydc} + 128")
    cb = f"({clamp.format(f'2 * {cbdc} + 128')} - 128)"
    cr = f"({clamp.format(f'2 * {crdc} + 128')} - 128)"
    k16 = JPEG_FIX_K << 16
    red = clamp.format(
        f"{yv} + (({JPEG_FIX_RCR} * {cr} + {JPEG_FIX_HALF} + {k16})"
        f" // 65536 - {JPEG_FIX_K})")
    grn = clamp.format(
        f"{yv} - (({JPEG_FIX_GCB} * {cb} + {JPEG_FIX_GCR} * {cr}"
        f" + {JPEG_FIX_HALF} + {k16}) // 65536 - {JPEG_FIX_K})")
    blu = clamp.format(
        f"{yv} + (({JPEG_FIX_BCB} * {cb} + {JPEG_FIX_HALF} + {k16})"
        f" // 65536 - {JPEG_FIX_K})")
    return f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({JPEG_W_BASE} + abs(doc_id) % {JPEG_W_MOD} AS INT) AS width,
    CAST({JPEG_H_BASE} + abs(doc_id) % {JPEG_H_MOD} AS INT) AS height
  FROM documents
), px AS (
  SELECT doc_id, width, height,
    list_transform(range(0, width * height), i -> {red}) AS rv,
    list_transform(range(0, width * height), i -> {grn}) AS gv,
    list_transform(range(0, width * height), i -> {blu}) AS bv
  FROM p WHERE d % {JPEG_CORRUPT_MOD} <> 0
)
SELECT doc_id, width, height, CAST(width * height AS INT) AS n_px,
  CAST(list_sum(rv) AS BIGINT) AS sum_r,
  CAST(list_sum(gv) AS BIGINT) AS sum_g,
  CAST(list_sum(bv) AS BIGINT) AS sum_b,
  CAST(least(list_min(rv), list_min(gv), list_min(bv)) AS INT) AS pix_min,
  CAST(greatest(list_max(rv), list_max(gv), list_max(bv)) AS INT) AS pix_max
FROM px
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM p WHERE d % {JPEG_CORRUPT_MOD} = 0
"""


register(QuerySpec("multimodal_decode_jpeg_color",
                   multimodal_decode_jpeg_color_query,
                   _jpeg_color_sql(),
                   description="real 4:2:0 YCbCr JPEG color decode: "
                               "interleaved-MCU entropy decode, chroma "
                               "upsample, fixed-point integer RGB; "
                               "corrupt streams -> NULL row"))


# --- real A-law (G.711) audio decode -------------------------------------------

ALAW_RATE = 16000        # wideband-carrier rate, distinct from the mu-law spec
ALAW_N_BASE = 48
ALAW_N_MOD = 211
ALAW_A = 2663
ALAW_B = 69621
ALAW_CORRUPT_MOD = 14


def _build_alaw_sample():
    def alaw_decode_sample(b: int) -> int:
        """One 8-bit A-law byte -> linear 16-bit PCM (ITU-T G.711 A-law
        expansion): XOR 0x55 toggle, split sign/segment/mantissa, expand —
        segment 0 is the linear tail (16m + 8), higher segments shift the
        chord (16m + 264) << (seg - 1). The SIGN BIT SET means POSITIVE in
        A-law (opposite of mu-law). Pure integer formula — the SAME
        expression the DuckDB oracle evaluates, so decoded PCM is
        oracle-checked."""
        u = b ^ 0x55
        m = u & 0x0F
        seg = (u >> 4) & 0x07
        mag = (16 * m + 8) if seg == 0 else ((16 * m + 264) << (seg - 1))
        return mag if (u & 0x80) else -mag

    return alaw_decode_sample


# nested so closures calling it pickle it by value (see make_png)
alaw_decode_sample = _build_alaw_sample()


def _build_alaw_codecs():
    import struct

    def make_alaw_wav(alaw_bytes: bytes, sample_rate: int = ALAW_RATE,
                      fmt_tag: int = 6) -> bytes:
        fmt = struct.pack("<HHIIHH", fmt_tag, 1, sample_rate, sample_rate,
                          1, 8)
        data = bytes(alaw_bytes)
        chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(data)) + data
                  + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def decode_alaw_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
                return None
            i, fmt, data = 12, None, None
            while i + 8 <= len(blob):
                cid = blob[i:i + 4]
                (sz,) = struct.unpack("<I", blob[i + 4:i + 8])
                body = blob[i + 8:i + 8 + sz]
                if len(body) != sz:
                    return None  # truncated chunk
                if cid == b"fmt " and len(body) >= 16:
                    tag, ch, sr, _, _, bits = struct.unpack("<HHIIHH",
                                                            body[:16])
                    fmt = (tag, ch, sr, bits)
                elif cid == b"data":
                    data = body
                i += 8 + sz + (sz & 1)
            if fmt is None or data is None:
                return None
            tag, ch, sr, bits = fmt
            if tag != 6 or ch != 1 or bits != 8:
                return None  # wrong-codec container rejected (T7)
            pcm = [alaw_decode_sample(b) for b in data]
            if not pcm:
                return None
            return (sr, len(pcm), max(abs(x) for x in pcm), sum(pcm),
                    sum(x * x for x in pcm))
        except Exception:
            return None

    return make_alaw_wav, decode_alaw_stats


make_alaw_wav, decode_alaw_stats = _build_alaw_codecs()


def synthesize_alaw_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real format-tag-6 RIFF/WAVE bytes whose data chunk is
    the A-law byte stream b_i = (d*2663 + i*69621) % 256; every
    ALAW_CORRUPT_MOD-th doc is written as a WRONG-CODEC container
    (format tag 1 / linear PCM claiming the same 8-bit data) — the T7
    variant the mu-law spec does not plant: structurally valid RIFF the
    A-law decoder must REJECT rather than misinterpret."""
    mk = make_alaw_wav
    nb, nm, a, b, cmod = (ALAW_N_BASE, ALAW_N_MOD, ALAW_A, ALAW_B,
                          ALAW_CORRUPT_MOD)

    def blob_of(d: int) -> bytes:
        n = nb + d % nm
        raw = bytes((d * a + i * b) % 256 for i in range(n))
        return mk(raw, fmt_tag=1 if d % cmod == 0 else 6)

    return _synthesize(df, blob_of)


def decode_alaw(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_alaw_stats, MULAW_SCHEMA)


def multimodal_decode_alaw_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second G.711 companding law end-to-end: A-law bytes in a
    format-tag-6 RIFF container, expanded sample by sample with the
    chord/step formula (sign convention OPPOSITE to mu-law). The
    planted corruption is a wrong-codec container (tag 1 linear PCM),
    so tolerance here means codec REJECTION, not byte damage."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_alaw(synthesize_alaw_payloads(docs))


# G.711 A-law expansion of byte b in SQL (u = xor(b, 85)):
_ALAW_PCM_SQL = (
    "(CASE WHEN (xor({b}, 85) & 128) > 0 THEN 1 ELSE -1 END) * "
    "(CASE WHEN ((xor({b}, 85) >> 4) & 7) = 0 "
    "THEN 16 * (xor({b}, 85) & 15) + 8 "
    "ELSE (16 * (xor({b}, 85) & 15) + 264) << (((xor({b}, 85) >> 4) & 7) - 1) "
    "END)")

_MULTIMODAL_ALAW_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({ALAW_N_BASE} + abs(doc_id) % {ALAW_N_MOD} AS INT) AS n
  FROM documents
), s AS (
  SELECT doc_id, d, n,
    list_transform(range(0, n),
      i -> {_ALAW_PCM_SQL.format(b=f"((d * {ALAW_A} + i * {ALAW_B}) % 256)")}
    ) AS pcm
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {ALAW_CORRUPT_MOD} = 0 THEN NULL
       ELSE {ALAW_RATE} END AS sample_rate,
  CASE WHEN d % {ALAW_CORRUPT_MOD} = 0 THEN NULL ELSE n END AS n_samples,
  CASE WHEN d % {ALAW_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_max(list_transform(pcm, x -> abs(x))) AS INT)
       END AS peak_abs,
  CASE WHEN d % {ALAW_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(pcm) AS BIGINT) END AS sum_pcm,
  CASE WHEN d % {ALAW_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(list_transform(pcm, x -> x * x)) AS BIGINT)
       END AS energy
FROM s
"""

register(QuerySpec("multimodal_decode_alaw", multimodal_decode_alaw_query,
                   _MULTIMODAL_ALAW_SQL,
                   description="real G.711 A-law audio decode: chord/step "
                               "integer expansion (sign convention opposite "
                               "to mu-law), oracle-checked sample math; "
                               "wrong-codec containers rejected -> NULL"))


# --- real PNG palette pixel decode (color type 3, PLTE indexed) -------------

PNG_PAL_W_BASE = 8
PNG_PAL_W_MOD = 19
PNG_PAL_H_BASE = 8
PNG_PAL_H_MOD = 11
PNG_PAL_A = 5227     # index formula multipliers
PNG_PAL_B = 104651
PNG_PAL_C = 611999
PNG_PAL_P1 = 7013    # palette-entry formula multipliers
PNG_PAL_P2 = 131071
PNG_PAL_P3 = 92821
PNG_PAL_CORRUPT_MOD = 13


def _build_png_palette_codecs():
    """Color-type-3 PNG: pixels are 1-byte indices into a PLTE chunk of
    RGB triples. Filtering is byte-wise at bpp=1 (same as grayscale);
    what's NEW vs types 0/2 is the palette indirection — the decoder
    must read PLTE out of the bytes and bounds-check every index
    (out-of-range palette indices are a real-world PNG defect class)."""
    import struct
    import zlib

    png_magic = b"\x89PNG\r\n\x1a\n"

    def _chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    def make_png_palette(idx_rows: list[bytes],
                         palette: list[tuple[int, int, int]],
                         split_idat: bool = False) -> bytes:
        h = len(idx_rows)
        w = len(idx_rows[0]) if idx_rows else 0
        out = bytearray()
        prev = bytes(w)
        for y, row in enumerate(idx_rows):
            ft = y % 5
            out.append(ft)
            if ft == 0:
                filt = bytes(row)
            elif ft == 1:  # Sub
                filt = bytes((row[x] - (row[x - 1] if x else 0)) & 0xFF
                             for x in range(w))
            elif ft == 2:  # Up
                filt = bytes((row[x] - prev[x]) & 0xFF for x in range(w))
            elif ft == 3:  # Average
                filt = bytes(
                    (row[x] - (((row[x - 1] if x else 0) + prev[x]) >> 1))
                    & 0xFF for x in range(w))
            else:  # Paeth (left neighbour 1 byte back at bpp=1)
                def _paeth(a, b, c):
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                filt = bytes(
                    (row[x] - _paeth(row[x - 1] if x else 0, prev[x],
                                     prev[x - 1] if x else 0)) & 0xFF
                    for x in range(w))
            out += filt
            prev = bytes(row)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        plte = b"".join(bytes(e) for e in palette)
        comp = zlib.compress(bytes(out), 6)
        if split_idat and len(comp) > 2:
            mid = len(comp) // 2
            idat = _chunk(b"IDAT", comp[:mid]) + _chunk(b"IDAT", comp[mid:])
        else:
            idat = _chunk(b"IDAT", comp)
        return (png_magic + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
                + idat + _chunk(b"IEND", b""))

    def decode_png_palette_stats(blob: bytes):
        """(w, h, n_px, sum_r, sum_g, sum_b, pix_min, pix_max) from the
        palette-mapped samples, or None (bad magic/CRC, missing PLTE,
        non-multiple-of-3 PLTE, wrong inflated length, or any pixel
        index outside the palette)."""
        try:
            blob = bytes(blob)
            if blob[:8] != png_magic:
                return None
            i = 8
            w = h = depth = ctype = None
            plte = None
            idat = bytearray()
            while i + 12 <= len(blob):
                (ln,) = struct.unpack(">I", blob[i:i + 4])
                typ = bytes(blob[i + 4:i + 8])
                data = bytes(blob[i + 8:i + 8 + ln])
                if len(data) != ln or i + 12 + ln > len(blob):
                    return None
                (crc,) = struct.unpack(">I", blob[i + 8 + ln:i + 12 + ln])
                if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                    return None
                if typ == b"IHDR":
                    if len(data) < 10:
                        return None
                    w, h, depth, ctype = struct.unpack(">IIBB", data[:10])
                elif typ == b"PLTE":
                    if len(data) % 3:
                        return None
                    plte = [(data[j], data[j + 1], data[j + 2])
                            for j in range(0, len(data), 3)]
                elif typ == b"IDAT":
                    idat += data
                elif typ == b"IEND":
                    break
                i += 12 + ln
            if not w or not h or depth != 8 or ctype != 3 or plte is None:
                return None
            raw = zlib.decompress(bytes(idat))
            if len(raw) != h * (w + 1):
                return None
            prev = bytes(w)
            sr = sg = sb = 0
            mn, mx = 255, 0
            for y in range(h):
                ft = raw[y * (w + 1)]
                line = raw[y * (w + 1) + 1:(y + 1) * (w + 1)]
                cur = bytearray(w)
                if ft == 0:
                    cur[:] = line
                elif ft == 1:
                    for x in range(w):
                        cur[x] = (line[x] + (cur[x - 1] if x else 0)) & 0xFF
                elif ft == 2:
                    for x in range(w):
                        cur[x] = (line[x] + prev[x]) & 0xFF
                elif ft == 3:
                    for x in range(w):
                        cur[x] = (line[x] + (((cur[x - 1] if x else 0)
                                              + prev[x]) >> 1)) & 0xFF
                elif ft == 4:
                    for x in range(w):
                        a = cur[x - 1] if x else 0
                        b = prev[x]
                        c = prev[x - 1] if x else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pr = a if pa <= pb and pa <= pc else (b if pb <= pc
                                                             else c)
                        cur[x] = (line[x] + pr) & 0xFF
                else:
                    return None
                for idx in cur:
                    if idx >= len(plte):
                        return None  # out-of-range palette index
                    r, g, bl = plte[idx]
                    sr += r
                    sg += g
                    sb += bl
                    mn = min(mn, r, g, bl)
                    mx = max(mx, r, g, bl)
                prev = bytes(cur)
            return (w, h, w * h, sr, sg, sb, mn, mx)
        except Exception:
            return None

    return make_png_palette, decode_png_palette_stats


make_png_palette, decode_png_palette_stats = _build_png_palette_codecs()


def synthesize_png_palette_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real color-type-3 PNG: index (y, x) =
    (d*5227 + y*104651 + x*611999) % 256 into a full 256-entry palette
    whose entry (j, ch) = (d*7013 + j*131071 + ch*92821) % 256. Every
    PNG_PAL_CORRUPT_MOD-th doc ships an EMPTY (zero-entry) PLTE —
    structurally valid chunks and CRCs, but every pixel index is then
    out of range, so tolerance is exercised as the palette BOUNDS
    check rather than byte damage."""
    mk = make_png_palette
    wb, wm, hb, hm = (PNG_PAL_W_BASE, PNG_PAL_W_MOD, PNG_PAL_H_BASE,
                      PNG_PAL_H_MOD)
    a, b, c_ = PNG_PAL_A, PNG_PAL_B, PNG_PAL_C
    p1, p2, p3 = PNG_PAL_P1, PNG_PAL_P2, PNG_PAL_P3
    cmod = PNG_PAL_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        rows = [bytes((d * a + y * b + x * c_) % 256
                      for x in range(w)) for y in range(h)]
        pal = ([] if d % cmod == 0 else
               [tuple((d * p1 + j * p2 + ch * p3) % 256
                      for ch in range(3)) for j in range(256)])
        return mk(rows, pal, split_idat=(d % 5 == 0))

    return _synthesize(df, blob_of)


def decode_png_palette(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_png_palette_stats, PNG_RGB_SCHEMA)


def multimodal_decode_png_palette_query(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """The third PNG color model end-to-end: indexed color. What the
    grayscale/RGB specs cannot exercise is the PLTE indirection — the
    decoder reads the palette OUT OF THE BYTES and maps every
    reconstructed index through it, bounds-checked; the oracle composes
    the index formula with the palette formula. Planted empty-palette
    rows -> NULL."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_png_palette(synthesize_png_palette_payloads(docs))


_PNG_PAL_CH_SQL = (
    "list_transform(range(0, width * height), "
    "i -> (d * {p1} + ((d * {a} + (i // width) * {b} + (i % width) * {c})"
    " % 256) * {p2} + {{ch}} * {p3}) % 256)").format(
        a=PNG_PAL_A, b=PNG_PAL_B, c=PNG_PAL_C,
        p1=PNG_PAL_P1, p2=PNG_PAL_P2, p3=PNG_PAL_P3)

_MULTIMODAL_PNG_PAL_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({PNG_PAL_W_BASE} + abs(doc_id) % {PNG_PAL_W_MOD} AS INT) AS width,
    CAST({PNG_PAL_H_BASE} + abs(doc_id) % {PNG_PAL_H_MOD} AS INT) AS height
  FROM documents
), s AS (
  SELECT doc_id, d, width, height,
    {_PNG_PAL_CH_SQL.format(ch=0)} AS vr,
    {_PNG_PAL_CH_SQL.format(ch=1)} AS vg,
    {_PNG_PAL_CH_SQL.format(ch=2)} AS vb
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {PNG_PAL_CORRUPT_MOD} = 0 THEN NULL ELSE width END AS width,
  CASE WHEN d % {PNG_PAL_CORRUPT_MOD} = 0 THEN NULL ELSE height END AS height,
  CASE WHEN d % {PNG_PAL_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(width * height AS INT) END AS n_px,
  CASE WHEN d % {PNG_PAL_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vr) AS BIGINT) END AS sum_r,
  CASE WHEN d % {PNG_PAL_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vg) AS BIGINT) END AS sum_g,
  CASE WHEN d % {PNG_PAL_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vb) AS BIGINT) END AS sum_b,
  CASE WHEN d % {PNG_PAL_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(least(list_min(vr), list_min(vg), list_min(vb)) AS INT)
       END AS pix_min,
  CASE WHEN d % {PNG_PAL_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(greatest(list_max(vr), list_max(vg), list_max(vb)) AS INT)
       END AS pix_max
FROM s
"""

register(QuerySpec("multimodal_decode_png_palette",
                   multimodal_decode_png_palette_query,
                   _MULTIMODAL_PNG_PAL_SQL,
                   description="real indexed-color PNG decode: PLTE read "
                               "from the bytes, bounds-checked palette "
                               "mapping; empty-palette rows -> NULL"))


# --- real QOI image decode (qoiformat.org spec, RGB channels=3) --------------

QOI_W_BASE = 8
QOI_W_MOD = 17
QOI_H_BASE = 6
QOI_H_MOD = 13
QOI_A = 6113      # doc multiplier
QOI_B = 524287    # row multiplier
QOI_C = 77        # channel multiplier
QOI_CORRUPT_MOD = 15


def _build_qoi_pixel():
    def qoi_pixel(d: int, y: int, x: int, ch: int) -> int:
        """Closed-form synthetic pixel shared with the SQL oracle: constant
        within 4-pixel spans (exercises QOI_OP_RUN), +1 steps on even rows
        (QOI_OP_DIFF) and +3 steps on odd rows (QOI_OP_LUMA), row jumps
        via the large B (QOI_OP_RGB), and mod-256 wraparound revisits old
        values (QOI_OP_INDEX)."""
        return (d * QOI_A + y * QOI_B + ch * QOI_C
                + (x // 4) * (1 + (y % 2) * 2)) % 256

    return qoi_pixel


# nested so closures calling it pickle it by value (see make_png)
qoi_pixel = _build_qoi_pixel()


def _build_qoi_codecs():
    """QOI (Quite OK Image, qoiformat.org — public single-page spec):
    byte-oriented image compression with a 64-entry running-index
    hash table, 2-bit channel diffs, luma-relative diffs, and runs.
    Unlike PNG there is no entropy coder — every op is a direct byte
    pattern — which is exactly why a stdlib codec can be complete."""
    import struct

    MAGIC = b"qoif"
    END = b"\x00" * 7 + b"\x01"

    def _hash(r, g, b, a=255):
        return (r * 3 + g * 5 + b * 7 + a * 11) % 64

    def make_qoi(rows):
        """rows: list of scanlines, each a list of (r, g, b)."""
        h = len(rows)
        w = len(rows[0]) if rows else 0
        out = bytearray(MAGIC)
        out += struct.pack(">IIBB", w, h, 3, 0)
        index = [(0, 0, 0)] * 64
        prev = (0, 0, 0)
        run = 0
        for row in rows:
            for px in row:
                if px == prev:
                    run += 1
                    if run == 62:
                        out.append(0xC0 | (run - 1))
                        run = 0
                    continue
                if run:
                    out.append(0xC0 | (run - 1))
                    run = 0
                hidx = _hash(*px)
                if index[hidx] == px:
                    out.append(hidx)  # QOI_OP_INDEX (top bits 00)
                else:
                    index[hidx] = px
                    dr = (px[0] - prev[0] + 128) % 256 - 128
                    dg = (px[1] - prev[1] + 128) % 256 - 128
                    db = (px[2] - prev[2] + 128) % 256 - 128
                    if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                        out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2)
                                   | (db + 2))  # QOI_OP_DIFF
                    elif (-32 <= dg <= 31 and -8 <= dr - dg <= 7
                          and -8 <= db - dg <= 7):  # QOI_OP_LUMA
                        out.append(0x80 | (dg + 32))
                        out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                    else:  # QOI_OP_RGB
                        out.append(0xFE)
                        out += bytes(px)
                prev = px
        if run:
            out.append(0xC0 | (run - 1))
        out += END
        return bytes(out)

    def decode_qoi_stats(blob: bytes):
        """(w, h, n_px, sum_r, sum_g, sum_b, pix_min, pix_max) or None
        (bad magic/header, unsupported channels, truncated chunk,
        pixel over/underrun, missing end marker)."""
        try:
            blob = bytes(blob)
            if len(blob) < 22 or blob[:4] != MAGIC:
                return None
            w, h, channels, _cs = struct.unpack(">IIBB", blob[4:14])
            if channels != 3 or not w or not h:
                return None
            n = w * h
            index = [(0, 0, 0)] * 64
            px = (0, 0, 0)
            i = 14
            got = 0
            sr = sg = sb = 0
            mn, mx = 255, 0
            while got < n:
                if i >= len(blob) - 8:
                    return None  # ran into / past the end marker
                b0 = blob[i]
                i += 1
                if b0 == 0xFE:  # RGB
                    if i + 3 > len(blob) - 8:
                        return None
                    px = (blob[i], blob[i + 1], blob[i + 2])
                    i += 3
                elif b0 == 0xFF:  # RGBA unsupported at channels=3
                    return None
                else:
                    tag = b0 >> 6
                    if tag == 0:  # INDEX
                        px = index[b0 & 0x3F]
                    elif tag == 1:  # DIFF
                        px = (((px[0] + ((b0 >> 4) & 3) - 2) % 256),
                              ((px[1] + ((b0 >> 2) & 3) - 2) % 256),
                              ((px[2] + (b0 & 3) - 2) % 256))
                    elif tag == 2:  # LUMA
                        if i + 1 > len(blob) - 8:
                            return None
                        dg = (b0 & 0x3F) - 32
                        b1 = blob[i]
                        i += 1
                        px = ((px[0] + dg + ((b1 >> 4) & 0xF) - 8) % 256,
                              (px[1] + dg) % 256,
                              (px[2] + dg + (b1 & 0xF) - 8) % 256)
                    else:  # RUN
                        run = (b0 & 0x3F) + 1
                        if got + run > n:
                            return None  # pixel overrun
                        for _ in range(run):
                            sr += px[0]
                            sg += px[1]
                            sb += px[2]
                            mn = min(mn, *px)
                            mx = max(mx, *px)
                        got += run
                        continue
                index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + 255 * 11)
                      % 64] = px
                sr += px[0]
                sg += px[1]
                sb += px[2]
                mn = min(mn, *px)
                mx = max(mx, *px)
                got += 1
            if blob[i:i + 8] != END:
                return None
            return (w, h, n, sr, sg, sb, mn, mx)
        except Exception:
            return None

    return make_qoi, decode_qoi_stats


make_qoi, decode_qoi_stats = _build_qoi_codecs()


def synthesize_qoi_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real QOI byte stream of the formula image; every
    QOI_CORRUPT_MOD-th doc is truncated mid-chunk (the end marker and
    trailing bytes cut), so tolerance exercises the decoder's
    chunk-boundary and end-marker checks."""
    mk, qp = make_qoi, qoi_pixel
    wb, wm, hb, hm, cmod = (QOI_W_BASE, QOI_W_MOD, QOI_H_BASE, QOI_H_MOD,
                            QOI_CORRUPT_MOD)

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        rows = [[(qp(d, y, x, 0), qp(d, y, x, 1), qp(d, y, x, 2))
                 for x in range(w)] for y in range(h)]
        blob = mk(rows)
        if d % cmod == 0:
            blob = blob[:-11]  # cut end marker + final chunk bytes
        return blob

    return _synthesize(df, blob_of)


def decode_qoi(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_qoi_stats, PNG_RGB_SCHEMA)


def multimodal_decode_qoi_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """A post-PNG-generation format end-to-end: QOI's byte-pattern ops
    (runs, 64-slot hash index, 2-bit diffs, luma-relative diffs) are
    all exercised by the synthetic image's structure — constant spans,
    ±1 and ±3 steps, large row jumps, wraparound revisits — and the
    decoder reconstructs every pixel with running-state bookkeeping
    the PNG filters don't have. Planted truncations void the row."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_qoi(synthesize_qoi_payloads(docs))


_QOI_CH_SQL = (
    "list_transform(range(0, width * height), "
    "i -> (d * {a} + (i // width) * {b} + {{ch}} * {c} "
    "+ ((i % width) // 4) * (1 + ((i // width) % 2) * 2)) % 256)").format(
        a=QOI_A, b=QOI_B, c=QOI_C)

_MULTIMODAL_QOI_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({QOI_W_BASE} + abs(doc_id) % {QOI_W_MOD} AS INT) AS width,
    CAST({QOI_H_BASE} + abs(doc_id) % {QOI_H_MOD} AS INT) AS height
  FROM documents
), s AS (
  SELECT doc_id, d, width, height,
    {_QOI_CH_SQL.format(ch=0)} AS vr,
    {_QOI_CH_SQL.format(ch=1)} AS vg,
    {_QOI_CH_SQL.format(ch=2)} AS vb
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {QOI_CORRUPT_MOD} = 0 THEN NULL ELSE width END AS width,
  CASE WHEN d % {QOI_CORRUPT_MOD} = 0 THEN NULL ELSE height END AS height,
  CASE WHEN d % {QOI_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(width * height AS INT) END AS n_px,
  CASE WHEN d % {QOI_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vr) AS BIGINT) END AS sum_r,
  CASE WHEN d % {QOI_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vg) AS BIGINT) END AS sum_g,
  CASE WHEN d % {QOI_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(list_sum(vb) AS BIGINT) END AS sum_b,
  CASE WHEN d % {QOI_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(least(list_min(vr), list_min(vg), list_min(vb)) AS INT)
       END AS pix_min,
  CASE WHEN d % {QOI_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(greatest(list_max(vr), list_max(vg), list_max(vb)) AS INT)
       END AS pix_max
FROM s
"""

register(QuerySpec("multimodal_decode_qoi", multimodal_decode_qoi_query,
                   _MULTIMODAL_QOI_SQL,
                   description="real QOI decode: run/index/diff/luma byte "
                               "ops with running-state reconstruction; "
                               "truncated payloads -> NULL"))


# --- real IMA ADPCM audio decode (4-bit compressed -> 16-bit PCM) ------------

ADPCM_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484,
    7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
    18500, 20350, 22385, 24623, 27086, 29794, 32767)
ADPCM_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)
ADPCM_RATE = 8000
ADPCM_N_BYTES_BASE = 16
ADPCM_N_BYTES_MOD = 32
ADPCM_A = 2741
ADPCM_B = 48271
ADPCM_CORRUPT_MOD = 10


def _build_adpcm_nibble():
    def adpcm_decode_nibble(pred: int, idx: int, nib: int) -> tuple[int, int]:
        """One IMA ADPCM 4-bit code -> (new predictor, new step index): the
        shift-add diff expansion (no multiplies — the 1983 Intel/DVI
        hardware path), clamped to int16 / the 89-entry step table. The
        EXACT expression the DuckDB oracle's recursive CTE evaluates."""
        st = ADPCM_STEP_TABLE[idx]
        diff = (st >> 3)
        if nib & 1:
            diff += st >> 2
        if nib & 2:
            diff += st >> 1
        if nib & 4:
            diff += st
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + ADPCM_INDEX_TABLE[nib]))
        return pred, idx

    return adpcm_decode_nibble


# nested so closures calling it pickle it by value (see make_png)
adpcm_decode_nibble = _build_adpcm_nibble()


def _build_adpcm_codecs():
    import struct

    def make_adpcm_wav(data_nibbles: bytes, pred0: int, idx0: int,
                       sample_rate: int = ADPCM_RATE) -> bytes:
        # fmt tag 0x11 (IMA ADPCM), mono, 4 bits/sample, one block whose
        # 4-byte header carries the initial (predictor, step index)
        n_samples = 2 * len(data_nibbles)
        fmt = struct.pack("<HHIIHHHH", 0x11, 1, sample_rate,
                          sample_rate // 2, 4 + len(data_nibbles), 4,
                          2, n_samples)
        data = struct.pack("<hBB", pred0, idx0, 0) + bytes(data_nibbles)
        chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(data)) + data
                  + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def decode_adpcm_stats(blob: bytes):
        """Block-header state + low-nibble-first code stream -> PCM
        stats. (Single-block simplification of WAV-IMA framing: the
        header predictor seeds state and is not itself emitted; the
        synthesizer writes the same layout.)"""
        try:
            blob = bytes(blob)
            if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
                return None
            i, fmt, data = 12, None, None
            while i + 8 <= len(blob):
                cid = blob[i:i + 4]
                (sz,) = struct.unpack("<I", blob[i + 4:i + 8])
                body = blob[i + 8:i + 8 + sz]
                if len(body) != sz:
                    return None  # truncated chunk
                if cid == b"fmt " and len(body) >= 16:
                    tag, ch, sr, _, _, bits = struct.unpack("<HHIIHH",
                                                            body[:16])
                    fmt = (tag, ch, sr, bits)
                elif cid == b"data":
                    data = body
                i += 8 + sz + (sz & 1)
            if fmt is None or data is None or len(data) < 4:
                return None
            tag, ch, sr, bits = fmt
            if tag != 0x11 or ch != 1 or bits != 4:
                return None
            pred, idx, _ = struct.unpack("<hBB", data[:4])
            if not 0 <= idx <= 88:
                return None
            s = e = peak = n = 0
            for byte in data[4:]:
                for shift in (0, 4):  # low nibble first (IMA order)
                    pred, idx = adpcm_decode_nibble(
                        pred, idx, (byte >> shift) & 15)
                    s += pred
                    e += pred * pred
                    peak = max(peak, abs(pred))
                    n += 1
            if n == 0:
                return None
            return (sr, n, peak, s, e)
        except Exception:
            return None

    return make_adpcm_wav, decode_adpcm_stats


make_adpcm_wav, decode_adpcm_stats = _build_adpcm_codecs()


def synthesize_adpcm_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real single-block IMA ADPCM RIFF/WAVE bytes: code
    stream byte_j = (d*2741 + j*48271) % 256, initial predictor
    ((d*7) % 1024) - 512, initial index d % 89; every
    ADPCM_CORRUPT_MOD-th doc truncated mid-declared-chunk."""
    mk = make_adpcm_wav
    nb, nm, a, b, cmod = (ADPCM_N_BYTES_BASE, ADPCM_N_BYTES_MOD,
                          ADPCM_A, ADPCM_B, ADPCM_CORRUPT_MOD)

    def blob_of(d: int) -> bytes:
        n = nb + d % nm
        blob = mk(bytes((d * a + j * b) % 256 for j in range(n)),
                  ((d * 7) % 1024) - 512, d % 89)
        if d % cmod == 0:
            blob = blob[:-(n // 2 + 1)]
        return blob

    return _synthesize(df, blob_of)


def decode_adpcm(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_adpcm_stats, MULAW_SCHEMA)


def multimodal_decode_adpcm_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Real COMPRESSED-audio decode: 4-bit IMA ADPCM codes expanded to
    16-bit PCM through the sequential (predictor, step-index) state
    machine — unlike mu-law (stateless per byte), every sample depends
    on all previous codes, so the oracle is a recursive CTE walking the
    identical integer recurrence. Truncated payloads -> NULL (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_adpcm(synthesize_adpcm_payloads(docs))


def _adpcm_sql() -> str:
    stab = "[" + ",".join(map(str, ADPCM_STEP_TABLE)) + "]"
    itab = "[" + ",".join(map(str, ADPCM_INDEX_TABLE)) + "]"
    return f"""
WITH RECURSIVE p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST(2 * ({ADPCM_N_BYTES_BASE} + abs(doc_id) % {ADPCM_N_BYTES_MOD})
      AS INT) AS n_samp,
    CAST(((abs(doc_id) * 7) % 1024) - 512 AS INT) AS pred0,
    CAST(abs(doc_id) % 89 AS INT) AS idx0
  FROM documents
), dec AS (
  SELECT doc_id, d, n_samp, 0 AS i, pred0 AS pred, idx0 AS idx,
         CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS e, 0 AS peak
  FROM p
  UNION ALL
  SELECT b.doc_id, b.d, b.n_samp, b.i + 1, x.np, x.ni,
         b.s + x.np, b.e + CAST(x.np AS BIGINT) * x.np,
         greatest(b.peak, abs(x.np))
  FROM dec b,
  LATERAL (
    SELECT CAST(((b.d * {ADPCM_A} + (b.i // 2) * {ADPCM_B}) % 256)
                >> (4 * (b.i % 2)) AS INT) & 15 AS nib,
           ({stab})[b.idx + 1] AS st
  ) t0,
  LATERAL (
    SELECT (t0.st >> 3)
         + CASE WHEN (t0.nib & 1) > 0 THEN t0.st >> 2 ELSE 0 END
         + CASE WHEN (t0.nib & 2) > 0 THEN t0.st >> 1 ELSE 0 END
         + CASE WHEN (t0.nib & 4) > 0 THEN t0.st ELSE 0 END AS diff
  ) t1,
  LATERAL (
    SELECT CAST(least(greatest(
             CASE WHEN (t0.nib & 8) > 0 THEN b.pred - t1.diff
                  ELSE b.pred + t1.diff END, -32768), 32767) AS INT) AS np,
           least(greatest(b.idx + ({itab})[t0.nib + 1], 0), 88) AS ni
  ) x
  WHERE b.i < b.n_samp
)
SELECT doc_id,
  CASE WHEN d % {ADPCM_CORRUPT_MOD} = 0 THEN NULL
       ELSE {ADPCM_RATE} END AS sample_rate,
  CASE WHEN d % {ADPCM_CORRUPT_MOD} = 0 THEN NULL ELSE n_samp
       END AS n_samples,
  CASE WHEN d % {ADPCM_CORRUPT_MOD} = 0 THEN NULL ELSE peak
       END AS peak_abs,
  CASE WHEN d % {ADPCM_CORRUPT_MOD} = 0 THEN NULL ELSE s END AS sum_pcm,
  CASE WHEN d % {ADPCM_CORRUPT_MOD} = 0 THEN NULL ELSE e END AS energy
FROM dec WHERE i = n_samp
"""


register(QuerySpec("multimodal_decode_adpcm", multimodal_decode_adpcm_query,
                   _adpcm_sql(),
                   description="real IMA ADPCM decode: 4-bit codes -> "
                               "16-bit PCM through the sequential "
                               "predictor/step state machine; oracle is "
                               "a recursive CTE over the same integer "
                               "recurrence; truncated payloads -> NULL"))


# --- real TGA decode (type 10: RLE-compressed true-color, stdlib) ---------------

# RLE is the one compression scheme the codec family lacked (zlib
# DEFLATE in PNG, LZW in GIF, Huffman+IDCT in JPEG, companding in
# G.711, ADPCM prediction) — TGA type 10 is its canonical container.
TGA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_px", T.IntegerType()),
    T.StructField("n_packets", T.LongType()),  # certifies REAL RLE ran
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("first_px_r", T.IntegerType()),  # pixel (0,0): proves
    T.StructField("last_px_b", T.IntegerType()),   # row order + BGR read
])

TGA_W_BASE = 6
TGA_W_MOD = 19
TGA_H_BASE = 4
TGA_H_MOD = 13
TGA_A = 2741
TGA_B = 54001
TGA_C = 333331
TGA_D = 77773
TGA_RUN_MOD = 5  # pixel value repeats in runs of 1 + (y % TGA_RUN_MOD)
TGA_CORRUPT_MOD = 14


def _build_tga_codecs():
    """Pure-stdlib Targa type-10 codec with REAL run-length packets.

    Writer: greedy per-row RLE — a repeat packet (high bit set,
    7-bit count-1, one pixel) for runs >= 2, a raw packet (count-1,
    count literal pixels) otherwise; packets never cross a scan line
    and never exceed 128 pixels (both spec rules). Pixels are BGR,
    rows stored BOTTOM-UP (descriptor origin bit 0) — the same layout
    quirks BMP has, plus the packet stream.

    Decoder: validates the 18-byte header (no id field, no color map,
    image type 10, bpp 24), walks the packet stream reconstructing
    exactly width*height pixels, and returns None on ANY defect —
    truncated stream, packet overrunning the pixel count, or trailing
    bytes (row-level tolerance, T7).
    """
    import struct

    def encode_row(px: list) -> tuple:
        out = bytearray()
        n_packets = 0
        i, n = 0, len(px)
        while i < n:
            run = 1
            while i + run < n and run < 128 and px[i + run] == px[i]:
                run += 1
            if run >= 2:
                out += bytes((0x80 | (run - 1),)) + px[i]
                i += run
            else:
                j = i + 1
                while (j < n and (j - i) < 128
                       and not (j + 1 < n and px[j + 1] == px[j])):
                    j += 1
                out += bytes((j - i - 1,)) + b"".join(px[i:j])
                i = j
            n_packets += 1
        return bytes(out), n_packets

    def make_tga(rows_rgb: list) -> bytes:
        """rows_rgb[y][x] = (r, g, b), y=0 the TOP row; stored bottom-up."""
        h = len(rows_rgb)
        w = len(rows_rgb[0]) if rows_rgb else 0
        header = struct.pack("<BBBHHBHHHHBB", 0, 0, 10, 0, 0, 0, 0, 0,
                             w, h, 24, 0)
        body = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up storage
            px = [bytes((b, g, r)) for (r, g, b) in rows_rgb[y]]
            enc, _ = encode_row(px)
            body += enc
        return bytes(header + body)

    def decode_tga_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if len(blob) < 18:
                return None
            (idlen, cmap, imgtype, _cm1, _cm2, _cme, _xo, _yo,
             w, h, bpp, desc) = struct.unpack("<BBBHHBHHHHBB", blob[:18])
            if idlen != 0 or cmap != 0 or imgtype != 10 or bpp != 24:
                return None
            if w <= 0 or h <= 0:
                return None
            top_down = bool(desc & 0x20)
            body = blob[18:]
            px = []
            pos = 0
            n_packets = 0
            total = w * h
            while len(px) < total:
                if pos >= len(body):
                    return None  # truncated stream
                ctrl = body[pos]
                pos += 1
                count = (ctrl & 0x7F) + 1
                if len(px) + count > total:
                    return None  # packet overruns the pixel count
                if ctrl & 0x80:
                    if pos + 3 > len(body):
                        return None
                    px.extend([body[pos:pos + 3]] * count)
                    pos += 3
                else:
                    if pos + 3 * count > len(body):
                        return None
                    for k in range(count):
                        px.append(body[pos + 3 * k:pos + 3 * k + 3])
                    pos += 3 * count
                n_packets += 1
            if pos != len(body):
                return None  # trailing bytes
            sr = sg = sb = 0
            first_r = last_b = None
            for yi in range(h):
                y = yi if top_down else h - 1 - yi
                row = px[yi * w:(yi + 1) * w]
                sb += sum(p[0] for p in row)
                sg += sum(p[1] for p in row)
                sr += sum(p[2] for p in row)
                if y == 0:
                    first_r = row[0][2]
                if y == h - 1:
                    last_b = row[w - 1][0]
            return (w, h, total, n_packets, sr, sg, sb, first_r, last_b)
        except Exception:
            return None

    return make_tga, decode_tga_stats, encode_row


make_tga, decode_tga_stats, _tga_encode_row = _build_tga_codecs()


def synthesize_tga_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real RLE TGA bytes; every TGA_CORRUPT_MOD-th doc has the
    packet stream truncated by its final 2 bytes (valid header, stream
    underrun). Pixel channel c of (y, x) =
    (d*TGA_A + y*TGA_B + (x div (1 + y % TGA_RUN_MOD))*TGA_C
     + c*TGA_D) % 256 — the x-division creates genuine per-row runs of
    1..TGA_RUN_MOD identical pixels, so BOTH packet kinds (repeat and
    raw) appear in every image."""
    mk = make_tga
    wb, wm, hb, hm = TGA_W_BASE, TGA_W_MOD, TGA_H_BASE, TGA_H_MOD
    a, b, c_, dd = TGA_A, TGA_B, TGA_C, TGA_D
    rmod, cmod = TGA_RUN_MOD, TGA_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        rows = [[tuple((d * a + y * b
                        + (x // (1 + y % rmod)) * c_
                        + ch * dd) % 256
                       for ch in range(3)) for x in range(w)]
                for y in range(h)]
        blob = mk(rows)
        if d % cmod == 0:
            blob = blob[:-2]  # stream underrun
        return blob

    return _synthesize(df, blob_of)


def decode_tga(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_tga_stats, TGA_SCHEMA)


def multimodal_decode_tga_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Real RLE decode end-to-end: the writer's greedy packetization and
    the decoder's packet walk are independent code paths meeting only
    at the byte stream; n_packets certifies compression actually ran
    (it is < n_px whenever any run >= 2 exists). Planted stream
    underruns -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_tga(synthesize_tga_payloads(docs))


# Oracle packet count, derived from the run structure the pixel formula
# guarantees: in logical row y, pixels repeat in x-division groups of
# k = 1 + y % TGA_RUN_MOD, and adjacent groups always differ (the group
# step TGA_C % 256 = 19 is nonzero and shared by all channels). The
# greedy encoder therefore emits one repeat packet per group when
# k >= 2 (a trailing size-1 group becomes one raw packet — still one
# packet per group), i.e. ceil(w / k) packets; when k = 1 every pixel
# is a singleton run and they coalesce into ceil(w / 128) = 1 raw
# packet (w < 128 by construction).
_TGA_ROW_PACKETS = (f"CASE WHEN y % {TGA_RUN_MOD} = 0 THEN 1 "
                    f"ELSE (width + (1 + y % {TGA_RUN_MOD}) - 1) "
                    f"// (1 + y % {TGA_RUN_MOD}) END")

_MULTIMODAL_TGA_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({TGA_W_BASE} + abs(doc_id) % {TGA_W_MOD} AS INT) AS width,
    CAST({TGA_H_BASE} + abs(doc_id) % {TGA_H_MOD} AS INT) AS height
  FROM documents
), s AS (
  SELECT doc_id, d, width, height,
    list_sum(list_transform(range(0, width * height),
      i -> (d * {TGA_A} + (i // width) * {TGA_B}
            + ((i % width) // (1 + (i // width) % {TGA_RUN_MOD}))
              * {TGA_C}) % 256)) AS sum_r,
    list_sum(list_transform(range(0, width * height),
      i -> (d * {TGA_A} + (i // width) * {TGA_B}
            + ((i % width) // (1 + (i // width) % {TGA_RUN_MOD}))
              * {TGA_C} + {TGA_D}) % 256)) AS sum_g,
    list_sum(list_transform(range(0, width * height),
      i -> (d * {TGA_A} + (i // width) * {TGA_B}
            + ((i % width) // (1 + (i // width) % {TGA_RUN_MOD}))
              * {TGA_C} + 2 * {TGA_D}) % 256)) AS sum_b,
    list_sum(list_transform(range(0, height),
      y -> {_TGA_ROW_PACKETS})) AS n_packets
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL ELSE width END AS width,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL ELSE height END AS height,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(width * height AS INT) END AS n_px,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(n_packets AS BIGINT) END AS n_packets,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_r AS BIGINT) END AS sum_r,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_g AS BIGINT) END AS sum_g,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_b AS BIGINT) END AS sum_b,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST((d * {TGA_A}) % 256 AS INT) END AS first_px_r,
  CASE WHEN d % {TGA_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST((d * {TGA_A} + (height - 1) * {TGA_B}
                  + ((width - 1) // (1 + (height - 1) % {TGA_RUN_MOD}))
                    * {TGA_C} + 2 * {TGA_D}) % 256 AS INT)
       END AS last_px_b
FROM s
"""

register(QuerySpec("multimodal_decode_tga", multimodal_decode_tga_query,
                   _MULTIMODAL_TGA_SQL,
                   description="real Targa type-10 RLE decode: greedy "
                               "repeat/raw packetization written and "
                               "walked by independent stdlib codecs; "
                               "n_packets certifies compression ran; "
                               "planted stream underruns -> NULL"))


# --- audio zero-crossing-rate features (over genuinely decoded PCM) -------------

WAV_ZCR_CORRUPT_MOD = 16

ZCR_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("zcr", T.LongType()),
    T.StructField("peak0", T.IntegerType()),
    T.StructField("sum0", T.LongType()),
])


def decode_wav_zcr(df: DataFrame) -> DataFrame:
    return _decode_stats(df, parse_wav_zcr, ZCR_SCHEMA)


def multimodal_audio_zcr_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Zero-crossing count + channel-0 amplitude stats from REAL RIFF
    decode — the classic voiced/unvoiced + noisiness signal an
    audio-quality gate computes before admitting a clip to a training
    corpus. De-interleaving (pcm[0::channels]) is load-bearing: half
    the docs are stereo, and a decoder that counts crossings over the
    interleaved stream gets a different answer the oracle will
    catch. Every 16th payload is truncated to a WAVE-less RIFF stub
    -> NULL row (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_wav_zcr(
        synthesize_wav_payloads(docs, corrupt_mod=WAV_ZCR_CORRUPT_MOD))


def _zcr_sql() -> str:
    def s(idx: str) -> str:
        return (f"((d * {WAV_SAMPLE_A} + ({idx}) * {WAV_SAMPLE_B}) "
                f"% {WAV_SAMPLE_MOD}) - {WAV_SAMPLE_OFF}")

    cm = WAV_ZCR_CORRUPT_MOD
    return f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST(1 + abs(doc_id) % 2 AS INT) AS channels,
    CAST({WAV_FRAMES_BASE} + abs(doc_id) % {WAV_FRAMES_MOD} AS INT)
      AS n_frames
  FROM documents
), feat AS (
  SELECT doc_id, d, channels, n_frames,
    list_sum(list_transform(range(0, n_frames - 1),
      f -> CASE WHEN ({s('f * channels')} >= 0)
                  <> ({s('(f + 1) * channels')} >= 0)
           THEN 1 ELSE 0 END)) AS zcr,
    list_max(list_transform(range(0, n_frames),
      f -> abs({s('f * channels')}))) AS peak0,
    list_sum(list_transform(range(0, n_frames),
      f -> {s('f * channels')})) AS sum0
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE channels END AS channels,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE n_frames END AS n_frames,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE CAST(zcr AS BIGINT) END AS zcr,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE CAST(peak0 AS INT) END AS peak0,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE CAST(sum0 AS BIGINT) END AS sum0
FROM feat
"""


register(QuerySpec("multimodal_audio_zcr", multimodal_audio_zcr_query,
                   _zcr_sql(),
                   description="zero-crossing + channel-0 stats from "
                               "real RIFF/PCM decode; de-interleaving "
                               "is load-bearing (half the corpus is "
                               "stereo); truncated payloads -> NULL"))


# --- perceptual-hash image dedup (dHash over genuinely decoded pixels) ----------

# Scene grid: 8x8 logical pixels upsampled by per-doc integer factors,
# so the SAME scene ships at DIFFERENT image sizes — the case byte-level
# dedup can never catch and perceptual hashing exists for.
PHASH_GRID = 8
PHASH_SCENE_MOD = 16     # docs with equal d % MOD share a scene
PHASH_A = 8887
PHASH_B = 50021
PHASH_C = 299993
PHASH_CORRUPT_MOD = 15

PHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("dhash", T.LongType()),
])


def synthesize_scene_png_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real PNG bytes of an 8x8 logical scene upsampled by
    (1 + d % 3, 1 + d % 2): scene id s = d % PHASH_SCENE_MOD, scene
    pixel (i, j) = (s*A + i*B + j*C) % 256, image pixel (y, x) =
    scene(y div kh, x div kw). Every PHASH_CORRUPT_MOD-th payload is
    truncated (T7)."""
    mk = make_png_pixels
    g, smod = PHASH_GRID, PHASH_SCENE_MOD
    a, b, c = PHASH_A, PHASH_B, PHASH_C
    cmod = PHASH_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        s = d % smod
        kw, kh = 1 + d % 3, 1 + d % 2
        w, h = g * kw, g * kh
        rows = [bytes((s * a + (y // kh) * b + (x // kw) * c) % 256
                      for x in range(w)) for y in range(h)]
        blob = mk(rows)
        if d % cmod == 0:
            blob = blob[:20]
        return blob

    return _synthesize(df, blob_of)


def dhash_images(df: DataFrame, grid: int = PHASH_GRID) -> DataFrame:
    """Difference hash over REAL decoded pixels: inflate + filter
    reversal, nearest-neighbor resize to grid×grid, then 56 bits of
    horizontal gradient sign (bit (i,j) = px(i,j) > px(i,j+1), 7 per
    row — 7·8 = 56 bits keeps the hash inside a signed BIGINT on both
    engines). Identical scenes at different sizes collapse to one hash
    because nearest-neighbor sampling at integer upsample factors
    recovers the scene grid exactly."""
    g = grid

    def dhash_stats(blob: bytes):
        got = decode_png_gray_rows(blob)
        if got is None:
            return None
        w, h, rows = got
        px = [[rows[(i * h) // g][(j * w) // g] for j in range(g)]
              for i in range(g)]
        val = 0
        for i in range(g):
            for j in range(g - 1):
                if px[i][j] > px[i][j + 1]:
                    val |= 1 << (i * (g - 1) + j)
        return w, h, val

    return _decode_stats(df, dhash_stats, PHASH_SCHEMA)


def multimodal_phash_dedup_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Perceptual dedup end-to-end: real PNG decode -> real resize ->
    dHash -> hash-keyed group sizes. The planted duplicates ship at
    DIFFERENT pixel dimensions, so a green row proves the pipeline
    finds resized copies byte-level dedup cannot. Corrupt payloads
    surface NULL hashes and join no group."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    hashed = dhash_images(synthesize_scene_png_payloads(docs))
    groups = (hashed.filter(F.col("dhash").isNotNull())
              .groupBy("dhash")
              .agg(F.count(F.lit(1)).alias("group_size"),
                   F.min("doc_id").alias("group_rep")))
    # corpus-scaled hash-keyed join back: sort-merge pinned
    return (hashed.join(groups.hint("merge"), "dhash", "left")
            .select("doc_id", "width", "height", "dhash",
                    F.col("group_size").cast("bigint").alias("group_size"),
                    F.col("group_rep").cast("bigint").alias("group_rep")))
    # no trailing orderBy: one row per doc — a global sort here is a
    # pure full-range-shuffle tax (compares are order-insensitive)


def _phash_sql() -> str:
    g, gm = PHASH_GRID, PHASH_GRID - 1
    scene = (f"((abs(doc_id) % {PHASH_SCENE_MOD}) * {PHASH_A}"
             f" + ({{i}}) * {PHASH_B} + ({{j}}) * {PHASH_C}) % 256")
    si = scene.format(i=f"t // {gm}", j=f"t % {gm}")
    sj = scene.format(i=f"t // {gm}", j=f"t % {gm} + 1")
    return f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d FROM documents
), hashed AS (
  SELECT doc_id,
    CASE WHEN d % {PHASH_CORRUPT_MOD} = 0 THEN NULL
         ELSE CAST({PHASH_GRID} * (1 + d % 3) AS INT) END AS width,
    CASE WHEN d % {PHASH_CORRUPT_MOD} = 0 THEN NULL
         ELSE CAST({PHASH_GRID} * (1 + d % 2) AS INT) END AS height,
    CASE WHEN d % {PHASH_CORRUPT_MOD} = 0 THEN NULL
         ELSE CAST(list_sum(list_transform(range(0, {g * gm}),
           t -> CASE WHEN {si} > {sj}
                THEN CAST(1 AS BIGINT) << t ELSE CAST(0 AS BIGINT) END))
           AS BIGINT) END AS dhash
  FROM p
), groups AS (
  SELECT dhash, COUNT(*) AS group_size, MIN(doc_id) AS group_rep
  FROM hashed WHERE dhash IS NOT NULL GROUP BY dhash
)
SELECT h.doc_id, h.width, h.height, h.dhash,
  CAST(g.group_size AS BIGINT) AS group_size,
  CAST(g.group_rep AS BIGINT) AS group_rep
FROM hashed h LEFT JOIN groups g ON g.dhash = h.dhash
ORDER BY h.doc_id
"""


register(QuerySpec(
    "multimodal_phash_dedup", multimodal_phash_dedup_query, _phash_sql(),
    description="perceptual-hash image dedup: real PNG decode -> real "
                "nearest-neighbor resize -> 56-bit dHash -> hash-keyed "
                "groups; planted duplicates ship at DIFFERENT sizes, "
                "the case byte dedup cannot catch"))


# --- video shot detection over decoded frames ------------------------------------

SHOT_LEN = 2       # frames per shot in the synthesis
SHOT_JUMP = 101    # cross-shot pixel jump
SHOT_DRIFT = 1     # within-shot per-frame drift
SHOT_CUT_MEAN = 50  # cut when mean per-pixel |delta| exceeds this
SHOT_FRAMES_BASE = 4
SHOT_FRAMES_MOD = 4
SHOT_CORRUPT_MOD = 13

SHOT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("n_pairs", T.IntegerType()),
    T.StructField("n_cuts", T.IntegerType()),
    T.StructField("first_cut_pair", T.IntegerType()),
    T.StructField("max_pair_delta", T.LongType()),
])


def synthesize_shot_gifs(df: DataFrame) -> DataFrame:
    """doc_id -> real multi-frame GIF with SHOT structure: frame z pixel
    (y, x) = (d*A + (z div SHOT_LEN)*SHOT_JUMP + z*SHOT_DRIFT
    + y*B + x*C) % 256 — small within-shot drift, a big jump at every
    shot boundary. n_frames = 4 + d % 4. Every SHOT_CORRUPT_MOD-th doc
    gets the structurally-valid garbage-LZW final frame (whole payload
    -> NULL: half-decoded video must not pass as intact)."""
    wb, wm, hb, hm = ANIM_W_BASE, ANIM_W_MOD, ANIM_H_BASE, ANIM_H_MOD
    fb, fm = SHOT_FRAMES_BASE, SHOT_FRAMES_MOD
    a, b, c = ANIM_A, ANIM_B, ANIM_C
    sl, sj, sd = SHOT_LEN, SHOT_JUMP, SHOT_DRIFT
    cmod = SHOT_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        nf = fb + d % fm
        frames = [
            [bytes((d * a + (z // sl) * sj + z * sd
                    + y * b + x * c) % 256
                   for x in range(w)) for y in range(h)]
            for z in range(nf)]
        if d % cmod == 0:
            import struct as _st
            return (make_gif_animation(frames[:-1])[:-1]
                    + b"\x2c" + _st.pack("<HHHH", 0, 0, w, h)
                    + b"\x00\x08\x14" + b"\xff" * 20 + b"\x00\x3b")
        return make_gif_animation(frames)

    return _synthesize(df, blob_of)


def detect_shots(df: DataFrame,
                 cut_mean: int = SHOT_CUT_MEAN) -> DataFrame:
    """Shot-boundary detection over REAL decoded frames: per adjacent
    frame pair, the exact integer sum of per-pixel |delta|; a cut where
    the mean per-pixel delta exceeds ``cut_mean`` (compared as
    sum_delta > cut_mean * n_px — nothing divides). The first video
    operator every ingest pipeline runs (sampling one frame per SHOT
    beats sampling every k-th frame of a static scene)."""
    cm = cut_mean

    def shot_stats(blob: bytes):
        got = decode_gif_frame_pixels(blob)
        if got is None:
            return None
        deltas = []
        for (w1, h1, v1), (w2, h2, v2) in zip(got, got[1:]):
            if (w1, h1) != (w2, h2):
                return None
            deltas.append(sum(abs(a2 - a1) for a1, a2 in zip(v1, v2)))
        n_px = got[0][0] * got[0][1]
        cuts = [z for z, s in enumerate(deltas) if s > cm * n_px]
        return (len(got), len(deltas), len(cuts),
                cuts[0] if cuts else None,
                max(deltas) if deltas else None)

    return _decode_stats(df, shot_stats, SHOT_SCHEMA)


def multimodal_shot_detect_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return detect_shots(synthesize_shot_gifs(docs))


def _shot_sql() -> str:
    v = (f"((d * {ANIM_A} + (({{z}}) // {SHOT_LEN}) * {SHOT_JUMP}"
         f" + ({{z}}) * {SHOT_DRIFT}"
         f" + (i // width) * {ANIM_B} + (i % width) * {ANIM_C}) % 256)")
    v1, v2 = v.format(z="z"), v.format(z="z + 1")
    cm = SHOT_CORRUPT_MOD
    return f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({ANIM_W_BASE} + abs(doc_id) % {ANIM_W_MOD} AS INT) AS width,
    CAST({ANIM_H_BASE} + abs(doc_id) % {ANIM_H_MOD} AS INT) AS height,
    CAST({SHOT_FRAMES_BASE} + abs(doc_id) % {SHOT_FRAMES_MOD} AS INT)
      AS n_frames
  FROM documents
), pairs AS (
  SELECT doc_id, d, width, height, n_frames, z.z,
    list_sum(list_transform(range(0, width * height),
      i -> abs({v2} - {v1}))) AS sum_delta
  FROM p, LATERAL (SELECT UNNEST(range(0, n_frames - 1)) AS z) z
), agg AS (
  SELECT doc_id, d, MAX(n_frames) AS n_frames,
    COUNT(*) AS n_pairs,
    SUM(CASE WHEN sum_delta > {SHOT_CUT_MEAN} * width * height
        THEN 1 ELSE 0 END) AS n_cuts,
    MIN(CASE WHEN sum_delta > {SHOT_CUT_MEAN} * width * height
        THEN z END) AS first_cut_pair,
    MAX(sum_delta) AS max_pair_delta
  FROM pairs GROUP BY doc_id, d
)
SELECT doc_id,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE n_frames END AS n_frames,
  CASE WHEN d % {cm} = 0 THEN NULL
       ELSE CAST(n_pairs AS INT) END AS n_pairs,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE CAST(n_cuts AS INT) END AS n_cuts,
  CASE WHEN d % {cm} = 0 THEN NULL
       ELSE CAST(first_cut_pair AS INT) END AS first_cut_pair,
  CASE WHEN d % {cm} = 0 THEN NULL
       ELSE CAST(max_pair_delta AS BIGINT) END AS max_pair_delta
FROM agg
"""


register(QuerySpec(
    "multimodal_shot_detect", multimodal_shot_detect_query, _shot_sql(),
    description="video shot-boundary detection over REAL decoded GIF "
                "frames: exact per-pair pixel-delta mass, divide-free "
                "cut verdict; corrupt final frame -> whole payload "
                "NULL"))


# --- real netpbm P6 (binary PPM) decode ------------------------------------------

# The netpbm header is TEXT inside a binary format — tokens separated
# by arbitrary whitespace, '#' comments legal anywhere between them —
# the classic "simplest format with a real parser" (every toolkit has
# shipped a PPM comment bug). maxval varies per doc, so the pixel
# formula's modulus is exercised at more than one value.
PPM_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_px", T.IntegerType()),
    T.StructField("maxval", T.IntegerType()),
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("first_px_r", T.IntegerType()),
    T.StructField("last_px_b", T.IntegerType()),
])

PPM_W_BASE = 5
PPM_W_MOD = 23
PPM_H_BASE = 4
PPM_H_MOD = 11
PPM_MV_BASE = 191          # maxval in [191, 255]
PPM_MV_MOD = 65
PPM_A = 6151
PPM_B = 93179
PPM_C = 455849
PPM_D = 30011
PPM_COMMENT_MOD = 3        # every 3rd doc gets a header comment line
PPM_CORRUPT_MOD = 12       # body truncated by one byte


def _build_ppm_codecs():
    """Pure-stdlib binary-PPM (P6) writer + decoder.

    Writer: emits the magic, a '# synthetic' comment on some docs
    (legal, and the part naive parsers break on), then width, height,
    maxval tokens with mixed separators, then exactly w*h*3 raw bytes.

    Decoder: a real netpbm tokenizer — skips whitespace and
    '#'-to-end-of-line comments BETWEEN tokens, reads the three header
    integers, requires a single whitespace byte after maxval (spec:
    exactly one), validates maxval in [1, 255] and the body length to
    the byte, computes channel stats. Returns None on any defect (T7).
    """

    def make_ppm(rows_rgb: list, maxval: int, comment: bool) -> bytes:
        h = len(rows_rgb)
        w = len(rows_rgb[0]) if rows_rgb else 0
        head = bytearray(b"P6\n")
        if comment:
            head += b"# synthetic corpus image\n"
        head += f"{w} {h}\n{maxval}\n".encode()
        body = bytearray()
        for row in rows_rgb:
            for (r, g, b) in row:
                body += bytes((r, g, b))
        return bytes(head + body)

    def _token(blob: bytes, pos: int):
        """Next header token after whitespace/comments; (tok, new_pos)."""
        n = len(blob)
        while pos < n:
            c = blob[pos]
            if c in b" \t\r\n\x0b\x0c":
                pos += 1
            elif c == 0x23:  # '#': comment to end of line
                while pos < n and blob[pos] not in b"\r\n":
                    pos += 1
            else:
                break
        start = pos
        while pos < n and blob[pos] not in b" \t\r\n\x0b\x0c":
            pos += 1
        return blob[start:pos], pos

    def decode_ppm_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if blob[:2] != b"P6":
                return None
            pos = 2
            nums = []
            for _ in range(3):
                tok, pos = _token(blob, pos)
                if not tok.isdigit():
                    return None
                nums.append(int(tok))
            w, h, maxval = nums
            if w <= 0 or h <= 0 or not (1 <= maxval <= 255):
                return None
            # spec: exactly ONE whitespace byte after maxval
            if pos >= len(blob) or blob[pos] not in b" \t\r\n\x0b\x0c":
                return None
            pos += 1
            body = blob[pos:]
            if len(body) != w * h * 3:
                return None
            sr = sum(body[0::3])
            sg = sum(body[1::3])
            sb = sum(body[2::3])
            return (w, h, w * h, maxval, sr, sg, sb, body[0], body[-1])
        except Exception:
            return None

    return make_ppm, decode_ppm_stats


make_ppm, decode_ppm_stats = _build_ppm_codecs()


def synthesize_ppm_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real P6 bytes. Channel c of pixel (y, x) =
    (d*PPM_A + y*PPM_B + x*PPM_C + c*PPM_D) % (maxval + 1) with
    maxval = PPM_MV_BASE + d % PPM_MV_MOD. Every PPM_COMMENT_MOD-th doc
    carries a header comment (decoder must skip it); every
    PPM_CORRUPT_MOD-th doc has its body truncated by one byte."""
    mk = make_ppm
    wb, wm, hb, hm = PPM_W_BASE, PPM_W_MOD, PPM_H_BASE, PPM_H_MOD
    mvb, mvm = PPM_MV_BASE, PPM_MV_MOD
    a, b, c_, dd = PPM_A, PPM_B, PPM_C, PPM_D
    cm, xm = PPM_COMMENT_MOD, PPM_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        mv = mvb + d % mvm
        rows = [[tuple((d * a + y * b + x * c_ + ch * dd)
                       % (mv + 1) for ch in range(3))
                 for x in range(w)] for y in range(h)]
        blob = mk(rows, mv, d % cm == 0)
        if d % xm == 0:
            blob = blob[:-1]
        return blob

    return _synthesize(df, blob_of)


def decode_ppm(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_ppm_stats, PPM_SCHEMA)


def multimodal_decode_ppm_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Real netpbm parse end-to-end: text tokenizer (whitespace +
    comments) inside a binary container, per-doc maxval moduli, planted
    one-byte body underruns -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_ppm(synthesize_ppm_payloads(docs))


def _ppm_ch_sql(ch: int) -> str:
    return (f"list_sum(list_transform(range(0, width * height), "
            f"i -> (d * {PPM_A} + (i // width) * {PPM_B} "
            f"+ (i % width) * {PPM_C} + {ch} * {PPM_D}) "
            f"% (maxval + 1)))")


_MULTIMODAL_PPM_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({PPM_W_BASE} + abs(doc_id) % {PPM_W_MOD} AS INT) AS width,
    CAST({PPM_H_BASE} + abs(doc_id) % {PPM_H_MOD} AS INT) AS height,
    CAST({PPM_MV_BASE} + abs(doc_id) % {PPM_MV_MOD} AS INT) AS maxval
  FROM documents
), s AS (
  SELECT doc_id, d, width, height, maxval,
    {_ppm_ch_sql(0)} AS sum_r,
    {_ppm_ch_sql(1)} AS sum_g,
    {_ppm_ch_sql(2)} AS sum_b
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL ELSE width END AS width,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL ELSE height END AS height,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(width * height AS INT) END AS n_px,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL ELSE maxval END AS maxval,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_r AS BIGINT) END AS sum_r,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_g AS BIGINT) END AS sum_g,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_b AS BIGINT) END AS sum_b,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST((d * {PPM_A}) % (maxval + 1) AS INT) END AS first_px_r,
  CASE WHEN d % {PPM_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST((d * {PPM_A} + (height - 1) * {PPM_B}
                  + (width - 1) * {PPM_C} + 2 * {PPM_D})
                 % (maxval + 1) AS INT) END AS last_px_b
FROM s
"""

register(QuerySpec("multimodal_decode_ppm", multimodal_decode_ppm_query,
                   _MULTIMODAL_PPM_SQL,
                   description="real binary-PPM (P6) decode: netpbm "
                               "text tokenizer with comment skipping "
                               "inside a binary container, per-doc "
                               "maxval; planted body underruns -> "
                               "NULL"))


# --- real AIFF decode (big-endian PCM + 80-bit extended sample rate) -------------

# AIFF is the codec family's only BIG-endian container, and its COMM
# chunk stores the sample rate as an 80-bit IEEE 754 extended float —
# the format quirk every AIFF implementation has to hand-roll (no
# stdlib type for it). Chunk order is free in IFF, so the decoder must
# walk chunks, not assume COMM-before-SSND.
AIFF_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("sum_abs", T.LongType()),
    T.StructField("max_abs", T.IntegerType()),
    T.StructField("first_sample", T.IntegerType()),
    T.StructField("last_sample", T.IntegerType()),
])

AIFF_FRAMES_BASE = 24
AIFF_FRAMES_MOD = 41
AIFF_RATE_BASE = 8000
AIFF_RATE_STEP = 25
AIFF_RATE_MOD = 7
AIFF_A = 7919
AIFF_B = 104729
AIFF_SAMPLE_MOD = 20001    # samples in [-10000, 10000] (int16-safe)
AIFF_SAMPLE_OFF = 10000
AIFF_SWAP_MOD = 2          # every 2nd doc writes SSND before COMM
AIFF_CORRUPT_MOD = 13      # SSND truncated by 2 bytes


def _build_aiff_codecs():
    """Pure-stdlib AIFF writer + decoder (mono, 16-bit big-endian PCM).

    The 80-bit extended float is encoded/decoded exactly for integer
    rates: exponent 16383 + msb, 64-bit mantissa with the explicit
    leading 1; the decoder refuses non-integer or negative rates so a
    corrupted rate field cannot round-trip silently. Chunk walk
    validates the FORM size, requires exactly one COMM and one SSND
    (either order), odd-sized chunks consume their IFF pad byte, and
    the SSND byte count must equal numSampleFrames * 2 (T7: any
    mismatch -> None for the whole payload).
    """
    import struct

    def ext80_encode(v: int) -> bytes:
        if v <= 0:
            raise ValueError("positive rates only")
        msb = v.bit_length() - 1
        return struct.pack(">HQ", 16383 + msb, v << (63 - msb))

    def ext80_decode(b: bytes):
        exp_raw, mant = struct.unpack(">HQ", b)
        if exp_raw & 0x8000 or mant == 0:
            return None
        shift = (exp_raw & 0x7FFF) - 16383 - 63
        if shift >= 0:
            return mant << shift
        if mant & ((1 << -shift) - 1):
            return None  # not an exact integer
        return mant >> -shift

    def make_aiff(samples: list, rate: int, ssnd_first: bool) -> bytes:
        pcm = struct.pack(f">{len(samples)}h", *samples)
        comm = (b"COMM" + struct.pack(">i", 18)
                + struct.pack(">hih", 1, len(samples), 16)
                + ext80_encode(rate))
        ssnd = (b"SSND" + struct.pack(">i", 8 + len(pcm))
                + struct.pack(">II", 0, 0) + pcm)
        if len(pcm) % 2:
            ssnd += b"\x00"  # IFF pad byte (odd chunk sizes)
        chunks = (ssnd + comm) if ssnd_first else (comm + ssnd)
        return (b"FORM" + struct.pack(">i", 4 + len(chunks))
                + b"AIFF" + chunks)

    def decode_aiff_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if len(blob) < 12 or blob[:4] != b"FORM":
                return None
            (form_size,) = struct.unpack(">i", blob[4:8])
            if form_size != len(blob) - 8 or blob[8:12] != b"AIFF":
                return None
            pos, comm, pcm = 12, None, None
            while pos < len(blob):
                if pos + 8 > len(blob):
                    return None
                cid = blob[pos:pos + 4]
                (csz,) = struct.unpack(">i", blob[pos + 4:pos + 8])
                data = blob[pos + 8:pos + 8 + csz]
                if csz < 0 or len(data) != csz:
                    return None
                if cid == b"COMM":
                    if comm is not None or csz != 18:
                        return None
                    ch, nf, bits = struct.unpack(">hih", data[:8])
                    rate = ext80_decode(data[8:18])
                    if ch != 1 or bits != 16 or rate is None:
                        return None
                    comm = (nf, rate)
                elif cid == b"SSND":
                    if pcm is not None or csz < 8:
                        return None
                    off, blk = struct.unpack(">II", data[:8])
                    if off != 0 or blk != 0:
                        return None
                    pcm = data[8:]
                pos += 8 + csz + (csz & 1)  # odd chunks carry a pad byte
            if comm is None or pcm is None:
                return None
            nf, rate = comm
            if nf < 0 or len(pcm) != nf * 2 or rate > 2**31 - 1:
                return None
            samples = struct.unpack(f">{nf}h", pcm)
            if nf == 0:
                return (0, rate, 0, 0, None, None)
            return (nf, rate, sum(abs(s) for s in samples),
                    max(abs(s) for s in samples), samples[0],
                    samples[-1])
        except Exception:
            return None

    return make_aiff, decode_aiff_stats, ext80_encode, ext80_decode


(make_aiff, decode_aiff_stats,
 _ext80_encode, _ext80_decode) = _build_aiff_codecs()


def synthesize_aiff_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real AIFF bytes. Sample i of doc d =
    ((d*AIFF_A + i*AIFF_B) % AIFF_SAMPLE_MOD) - AIFF_SAMPLE_OFF, rate =
    AIFF_RATE_BASE + AIFF_RATE_STEP * (d % AIFF_RATE_MOD). Every 2nd
    doc stores SSND before COMM (legal IFF — exercises the chunk walk);
    every AIFF_CORRUPT_MOD-th doc has its SSND truncated by 2 bytes."""
    mk = make_aiff
    fb, fm = AIFF_FRAMES_BASE, AIFF_FRAMES_MOD
    rb, rs, rm = AIFF_RATE_BASE, AIFF_RATE_STEP, AIFF_RATE_MOD
    a, b = AIFF_A, AIFF_B
    smod, soff = AIFF_SAMPLE_MOD, AIFF_SAMPLE_OFF
    swm, cm = AIFF_SWAP_MOD, AIFF_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        nf = fb + d % fm
        rate = rb + rs * (d % rm)
        samples = [((d * a + i * b) % smod) - soff
                   for i in range(nf)]
        blob = mk(samples, rate, d % swm == 0)
        if d % cm == 0:
            blob = blob[:-2]
        return blob

    return _synthesize(df, blob_of)


def decode_aiff(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_aiff_stats, AIFF_SCHEMA)


def multimodal_decode_aiff_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Real big-endian audio decode end-to-end: IFF chunk walk in
    either order, 80-bit extended-float rate decoded exactly, SSND
    byte-count validation; planted truncations -> NULL rows (T7).
    Corruption lands on the LAST chunk of whichever order the doc
    uses, so both the COMM-last and SSND-last validation paths fire.
    """
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_aiff(synthesize_aiff_payloads(docs))


_AIFF_SAMPLE = (f"(abs(doc_id) * {AIFF_A} + i * {AIFF_B}) "
                f"% {AIFF_SAMPLE_MOD} - {AIFF_SAMPLE_OFF}")

_MULTIMODAL_AIFF_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    {AIFF_FRAMES_BASE} + abs(doc_id) % {AIFF_FRAMES_MOD} AS nf
  FROM documents
), s AS (
  SELECT doc_id, d, nf,
    list_sum(list_transform(range(0, nf), i -> abs({_AIFF_SAMPLE})))
      AS sum_abs,
    list_max(list_transform(range(0, nf), i -> abs({_AIFF_SAMPLE})))
      AS max_abs
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {AIFF_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(nf AS BIGINT) END AS n_frames,
  CASE WHEN d % {AIFF_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST({AIFF_RATE_BASE} + {AIFF_RATE_STEP} * (d % {AIFF_RATE_MOD})
                 AS INT) END AS sample_rate,
  CASE WHEN d % {AIFF_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_abs AS BIGINT) END AS sum_abs,
  CASE WHEN d % {AIFF_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(max_abs AS INT) END AS max_abs,
  CASE WHEN d % {AIFF_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST((d * {AIFF_A}) % {AIFF_SAMPLE_MOD} - {AIFF_SAMPLE_OFF}
                 AS INT) END AS first_sample,
  CASE WHEN d % {AIFF_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST((d * {AIFF_A} + (nf - 1) * {AIFF_B})
                 % {AIFF_SAMPLE_MOD} - {AIFF_SAMPLE_OFF} AS INT)
       END AS last_sample
FROM s
"""

register(QuerySpec("multimodal_decode_aiff", multimodal_decode_aiff_query,
                   _MULTIMODAL_AIFF_SQL,
                   description="real AIFF decode: big-endian PCM, IFF "
                               "chunk walk in either order, exact "
                               "80-bit extended-float rate; planted "
                               "SSND truncations -> NULL"))


# --- real ICO container decode (directory of PNG-or-DIB entries) --------------------

# ICO is a CONTAINER OF CONTAINERS: a directory whose entries each hold
# either a full PNG stream or a headerless BMP DIB (with the infamous
# doubled biHeight covering the AND transparency mask) — the decoder
# must SNIFF each payload and cross-check the directory's claimed
# dimensions against the payload's own header, the classic ICO defect
# class (directories that lie about their payloads).
ICO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_images", T.IntegerType()),
    T.StructField("n_png", T.IntegerType()),
    T.StructField("n_dib", T.IntegerType()),
    T.StructField("sum_w", T.LongType()),
    T.StructField("sum_h", T.LongType()),
    T.StructField("max_w", T.IntegerType()),
])

ICO_N_MOD = 3              # 1 + d % 3 entries per doc
ICO_W_BASE = 4
ICO_W_MOD = 13
ICO_H_BASE = 4
ICO_H_MOD = 9
ICO_CORRUPT_MOD = 11       # entry-0 directory width byte lies


def _build_ico_codecs():
    """Pure-stdlib ICO writer + decoder.

    Writer: ICONDIR (reserved 0, type 1, count) + one ICONDIRENTRY per
    image (width/height bytes, size, offset) + payloads: even entries a
    REAL zlib PNG (8-bit grayscale, zero scanlines), odd entries a
    headerless 24bpp DIB with biHeight = 2*h and an all-zero AND mask
    padded to 32-bit rows (both spec rules).

    Decoder: validates the directory, walks every entry by its
    (offset, size), sniffs PNG magic vs biSize=40 DIB, reads the
    payload's OWN dimensions (PNG IHDR big-endian / DIB little-endian
    with the halved height), and returns None unless every entry's
    payload agrees with its directory row (0 in a directory byte means
    256 — the other famous ICO quirk, handled on both sides).
    """
    import struct
    import zlib

    def _png_payload(w: int, h: int) -> bytes:
        def chunk(typ: bytes, data: bytes) -> bytes:
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)
                                  & 0xFFFFFFFF))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        raw = b"".join(b"\x00" + bytes(w) for _ in range(h))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw, 1))
                + chunk(b"IEND", b""))

    def _dib_payload(w: int, h: int) -> bytes:
        hdr = struct.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, 24,
                          0, 0, 0, 0, 0, 0)
        xor_pad = (-3 * w) % 4
        xor = (bytes(3 * w) + bytes(xor_pad)) * h
        and_row_bytes = ((w + 31) // 32) * 4
        mask = bytes(and_row_bytes) * h
        return hdr + xor + mask

    def make_ico(dims: list, kinds: list) -> bytes:
        payloads = [(_png_payload(w, h) if k == "png"
                     else _dib_payload(w, h))
                    for (w, h), k in zip(dims, kinds)]
        n = len(dims)
        off = 6 + 16 * n
        head = struct.pack("<HHH", 0, 1, n)
        entries = bytearray()
        for (w, h), p in zip(dims, payloads):
            entries += struct.pack("<BBBBHHII", w % 256, h % 256, 0, 0,
                                   1, 32, len(p), off)
            off += len(p)
        return bytes(head + entries + b"".join(payloads))

    def decode_ico_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if len(blob) < 6:
                return None
            res, typ, n = struct.unpack("<HHH", blob[:6])
            if res != 0 or typ != 1 or n == 0:
                return None
            n_png = n_dib = 0
            sw = sh = 0
            mw = 0
            for i in range(n):
                e = blob[6 + 16 * i:6 + 16 * (i + 1)]
                if len(e) != 16:
                    return None
                wb, hb, _c, _r, _pl, _bpp, size, off = struct.unpack(
                    "<BBBBHHII", e)
                dw = wb or 256   # 0 means 256
                dh = hb or 256
                p = blob[off:off + size]
                if len(p) != size:
                    return None
                if p[:8] == b"\x89PNG\r\n\x1a\n":
                    if p[12:16] != b"IHDR":
                        return None
                    pw, ph = struct.unpack(">II", p[16:24])
                    n_png += 1
                elif len(p) >= 40 and struct.unpack("<I", p[:4])[0] == 40:
                    _sz, pw, ph2 = struct.unpack("<Iii", p[:12])
                    if ph2 % 2:
                        return None  # doubled height must be even
                    ph = ph2 // 2
                    n_dib += 1
                else:
                    return None
                # the directory must agree with the payload's own header
                if pw != dw or ph != dh:
                    return None
                sw += dw
                sh += dh
                mw = max(mw, dw)
            return (n, n_png, n_dib, sw, sh, mw)
        except Exception:
            return None

    return make_ico, decode_ico_stats


make_ico, decode_ico_stats = _build_ico_codecs()


def synthesize_ico_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real ICO bytes with 1 + d % ICO_N_MOD entries; entry j
    is w = ICO_W_BASE + (d + 3j) % ICO_W_MOD, h = ICO_H_BASE +
    (d + 5j) % ICO_H_MOD, PNG when (d + j) is even else DIB. Every
    ICO_CORRUPT_MOD-th doc's entry-0 directory width byte is bumped so
    the directory LIES about its payload (the consistency-check T7
    class, not byte damage)."""
    mk = make_ico
    nm, wb, wm, hb, hm = (ICO_N_MOD, ICO_W_BASE, ICO_W_MOD,
                          ICO_H_BASE, ICO_H_MOD)
    cm = ICO_CORRUPT_MOD

    def blob_of(d: int) -> bytes:
        n = 1 + d % nm
        dims = [(wb + (d + 3 * j) % wm, hb + (d + 5 * j) % hm)
                for j in range(n)]
        kinds = ["png" if (d + j) % 2 == 0 else "dib"
                 for j in range(n)]
        blob = bytearray(mk(dims, kinds))
        if d % cm == 0:
            blob[6] = (blob[6] + 1) % 256  # directory lies
        return bytes(blob)

    return _synthesize(df, blob_of)


def decode_ico(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_ico_stats, ICO_SCHEMA)


def multimodal_decode_ico_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Container-of-containers decode: the directory walk sniffs PNG vs
    DIB per entry and cross-checks claimed vs actual dimensions;
    planted lying directories -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_ico(synthesize_ico_payloads(docs))


_MULTIMODAL_ICO_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    1 + abs(doc_id) % {ICO_N_MOD} AS n
  FROM documents
), s AS (
  SELECT doc_id, d, n,
    list_sum(list_transform(range(0, n),
      j -> CASE WHEN (d + j) % 2 = 0 THEN 1 ELSE 0 END)) AS n_png,
    list_sum(list_transform(range(0, n),
      j -> {ICO_W_BASE} + (d + 3 * j) % {ICO_W_MOD})) AS sum_w,
    list_sum(list_transform(range(0, n),
      j -> {ICO_H_BASE} + (d + 5 * j) % {ICO_H_MOD})) AS sum_h,
    list_max(list_transform(range(0, n),
      j -> {ICO_W_BASE} + (d + 3 * j) % {ICO_W_MOD})) AS max_w
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {ICO_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(n AS INT) END AS n_images,
  CASE WHEN d % {ICO_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(n_png AS INT) END AS n_png,
  CASE WHEN d % {ICO_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(n - n_png AS INT) END AS n_dib,
  CASE WHEN d % {ICO_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_w AS BIGINT) END AS sum_w,
  CASE WHEN d % {ICO_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(sum_h AS BIGINT) END AS sum_h,
  CASE WHEN d % {ICO_CORRUPT_MOD} = 0 THEN NULL
       ELSE CAST(max_w AS INT) END AS max_w
FROM s
"""

register(QuerySpec("multimodal_decode_ico", multimodal_decode_ico_query,
                   _MULTIMODAL_ICO_SQL,
                   description="real ICO container decode: per-entry "
                               "PNG-vs-DIB sniffing, doubled-DIB-height "
                               "and 0-means-256 quirks, directory-vs-"
                               "payload consistency; lying directories "
                               "-> NULL"))


# --- real baseline TIFF decode (tag directory + strips + PackBits) ---------------

# TIFF is the family's first TAG-DIRECTORY container: the reader cannot
# stream it — it must follow the header pointer to the IFD, walk typed
# 12-byte entries (skipping tags it does not know), distinguish INLINE
# values (left-justified in the 4-byte field, so endianness-sensitive
# even for SHORTs) from OFFSET values, then gather pixel data from
# scattered strips. Per-doc byte order (II vs MM) and per-doc PackBits
# compression make both dispatch axes load-bearing; a planted
# beyond-EOF strip offset is the T7 class (a lying directory, the TIFF
# analogue of the ICO's lying entries).
TIFF_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("byte_order", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_strips", T.IntegerType()),
    T.StructField("compression", T.IntegerType()),
    T.StructField("n_data_bytes", T.LongType()),
    T.StructField("sum_px", T.LongType()),
    T.StructField("first_px", T.IntegerType()),
    T.StructField("last_px", T.IntegerType()),
])

TIFF_W_BASE = 100          # widths cross 128 so PackBits runs SPLIT
TIFF_W_MOD = 60
TIFF_H_BASE = 5
TIFF_H_MOD = 9
TIFF_RPS_MOD = 7           # rows per strip in [1, 7] -> multi-strip
TIFF_A = 7207
TIFF_B = 104729
TIFF_C = 611953
TIFF_PACK_MOD = 3          # every 3rd doc PackBits (row-constant px)
TIFF_BE_MOD = 5            # every 5th doc big-endian (MM)
TIFF_SOFT_MOD = 4          # every 4th doc carries an ASCII Software tag
TIFF_CORRUPT_MOD = 11      # last strip offset points beyond EOF


def _build_tiff_codecs():
    """Pure-stdlib baseline-TIFF writer + reader.

    Writer: header | strip data | IFD | external arrays (strip
    offsets/counts when n_strips > 1, Software string). Width is a
    SHORT, height a LONG, so the reader's typed-value extraction is
    exercised on both; PackBits strips encode each row independently
    (runs capped at 128 per the spec).

    Reader: real TIFF semantics — byte-order dispatch, magic 42, IFD
    walk into a tag dict (unknown tags skipped), inline-vs-offset
    value resolution by type size, strip gathering with bounds checks,
    general PackBits decode (literals, runs, 0x80 noop), and the final
    decoded-length == width*height validation. Returns None on any
    defect (T7).
    """
    import struct

    def _pack_row(row: bytes) -> bytes:
        # row-constant rows by construction: emit runs of <= 128
        out = bytearray()
        n = len(row)
        i = 0
        while i < n:
            run = min(128, n - i)
            out += bytes(((257 - run) & 0xFF, row[i]))
            i += run
        return bytes(out)

    def make_tiff(d: int, w: int, h: int, rps: int, packbits: bool,
                  big_endian: bool, software: bool,
                  corrupt: bool) -> bytes:
        e = ">" if big_endian else "<"
        px = [bytes((d * TIFF_A + y * TIFF_B
                     + (0 if packbits else x * TIFF_C)) % 256
                    for x in range(w)) for y in range(h)]
        strips = []
        for s0 in range(0, h, rps):
            rows = px[s0:s0 + rps]
            if packbits:
                strips.append(b"".join(_pack_row(r) for r in rows))
            else:
                strips.append(b"".join(rows))
        n_strips = len(strips)
        data = b"".join(strips)
        offs, pos = [], 8
        for s in strips:
            offs.append(pos)
            pos += len(s)
        ifd_off = pos
        soft = b"synthetic corpus tiff\x00" if software else b""
        tags = [(256, 3, 1, w), (257, 4, 1, h), (258, 3, 1, 8),
                (259, 3, 1, 32773 if packbits else 1), (262, 3, 1, 1),
                (273, 4, n_strips, None), (277, 3, 1, 1),
                (278, 3, 1, rps), (279, 4, n_strips, None)]
        if software:
            tags.append((305, 2, len(soft), None))
        tags.sort()
        ifd_len = 2 + 12 * len(tags) + 4
        arr_off = ifd_off + ifd_len
        ext = bytearray()

        def _place(values, fmt):
            nonlocal ext
            off = arr_off + len(ext)
            ext += b"".join(struct.pack(e + fmt, v) for v in values)
            return off

        counts = [len(s) for s in strips]
        if corrupt:
            offs = offs[:-1] + [10 ** 7]  # lying directory: beyond EOF
        entries = bytearray()
        for tag, typ, cnt, val in tags:
            if tag == 273:
                val = offs[0] if n_strips == 1 else _place(offs, "I")
            elif tag == 279:
                val = counts[0] if n_strips == 1 else _place(counts, "I")
            elif tag == 305:
                val = _place(soft, "B") if cnt > 4 else None
            entries += struct.pack(e + "HHI", tag, typ, cnt)
            if typ == 3:
                # SHORT: left-justified in the 4-byte value field, so
                # the 2-byte zero pad is byte-order independent.
                entries += struct.pack(e + "H", val) + b"\x00\x00"
            else:
                entries += struct.pack(e + "I", val)
        ifd = struct.pack(e + "H", len(tags)) + bytes(entries) \
            + struct.pack(e + "I", 0)
        head = (b"MM" if big_endian else b"II") \
            + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd_off)
        return head + data + ifd + bytes(ext)

    def _unpackbits(src: bytes):
        out = bytearray()
        i, n = 0, len(src)
        while i < n:
            c = src[i]
            i += 1
            if c == 128:          # noop
                continue
            if c < 128:           # literal run of c+1 bytes
                if i + c + 1 > n:
                    return None
                out += src[i:i + c + 1]
                i += c + 1
            else:                 # repeat next byte 257-c times
                if i >= n:
                    return None
                out += bytes((src[i],)) * (257 - c)
                i += 1
        return bytes(out)

    def decode_tiff_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if blob[:2] == b"II":
                e = "<"
            elif blob[:2] == b"MM":
                e = ">"
            else:
                return None
            if struct.unpack(e + "H", blob[2:4])[0] != 42:
                return None
            ifd_off = struct.unpack(e + "I", blob[4:8])[0]
            if ifd_off + 2 > len(blob):
                return None
            n_tags = struct.unpack(e + "H",
                                   blob[ifd_off:ifd_off + 2])[0]
            if ifd_off + 2 + 12 * n_tags + 4 > len(blob):
                return None
            tags = {}
            for i in range(n_tags):
                o = ifd_off + 2 + 12 * i
                tag, typ, cnt = struct.unpack(e + "HHI", blob[o:o + 8])
                field = blob[o + 8:o + 12]
                size = {1: 1, 2: 1, 3: 2, 4: 4}.get(typ)
                if size is None:
                    continue  # unknown type: skip the entry
                if size * cnt <= 4:
                    # inline, left-justified in the field
                    fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
                    vals = [struct.unpack(e + fmt,
                                          field[j * size:(j + 1) * size])[0]
                            for j in range(cnt)]
                else:
                    off = struct.unpack(e + "I", field)[0]
                    if off + size * cnt > len(blob):
                        return None
                    fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
                    vals = [struct.unpack(
                        e + fmt, blob[off + j * size:off + (j + 1) * size])[0]
                        for j in range(cnt)]
                tags[tag] = vals
            try:
                w = tags[256][0]
                h = tags[257][0]
                comp = tags[259][0]
                offs = tags[273]
                counts = tags[279]
            except KeyError:
                return None
            if w <= 0 or h <= 0 or len(offs) != len(counts):
                return None
            if tags.get(258, [8])[0] != 8 or tags.get(277, [1])[0] != 1:
                return None
            if comp not in (1, 32773):
                return None
            data = bytearray()
            n_data = 0
            for off, cnt in zip(offs, counts):
                if off + cnt > len(blob):
                    return None  # lying directory
                raw = blob[off:off + cnt]
                n_data += cnt
                if comp == 32773:
                    dec = _unpackbits(raw)
                    if dec is None:
                        return None
                    data += dec
                else:
                    data += raw
            if len(data) != w * h:
                return None
            return (blob[:2].decode("ascii"), w, h, len(offs), comp,
                    n_data, sum(data), data[0], data[-1])
        except Exception:
            return None

    return make_tiff, decode_tiff_stats


make_tiff, decode_tiff_stats = _build_tiff_codecs()


def synthesize_tiff_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real baseline-TIFF bytes. Pixel (y, x) =
    (d*TIFF_A + y*TIFF_B + x*TIFF_C) % 256; PackBits docs drop the x
    term (row-constant rows, so the packed byte count is
    h * 2 * ceil(w/128) — closed-form for the oracle). Every
    TIFF_CORRUPT_MOD-th doc's last strip offset points beyond EOF."""
    mk = make_tiff

    def blob_of(d: int) -> bytes:
        return mk(d, TIFF_W_BASE + d % TIFF_W_MOD,
                  TIFF_H_BASE + d % TIFF_H_MOD,
                  1 + d % TIFF_RPS_MOD,
                  d % TIFF_PACK_MOD == 0, d % TIFF_BE_MOD == 0,
                  d % TIFF_SOFT_MOD == 0,
                  d % TIFF_CORRUPT_MOD == 0)

    return _synthesize(df, blob_of)


def decode_tiff(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_tiff_stats, TIFF_SCHEMA)


def multimodal_decode_tiff_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Real baseline-TIFF parse end-to-end: endianness dispatch, typed
    tag directory, scattered strips, general PackBits; lying strip
    offsets -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_tiff(synthesize_tiff_payloads(docs))


_TIFF_NULL = f"d % {TIFF_CORRUPT_MOD} = 0"

_MULTIMODAL_TIFF_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({TIFF_W_BASE} + abs(doc_id) % {TIFF_W_MOD} AS INT) AS width,
    CAST({TIFF_H_BASE} + abs(doc_id) % {TIFF_H_MOD} AS INT) AS height,
    1 + abs(doc_id) % {TIFF_RPS_MOD} AS rps,
    abs(doc_id) % {TIFF_PACK_MOD} = 0 AS packed
  FROM documents
), s AS (
  SELECT doc_id, d, width, height, packed,
    CAST((height + rps - 1) // rps AS INT) AS n_strips,
    CASE WHEN packed THEN
      list_sum(list_transform(range(0, height),
        y -> width * ((d * {TIFF_A} + y * {TIFF_B}) % 256)))
    ELSE
      list_sum(list_transform(range(0, width * height),
        i -> (d * {TIFF_A} + (i // width) * {TIFF_B}
              + (i % width) * {TIFF_C}) % 256))
    END AS sum_px,
    CASE WHEN packed
         THEN height * 2 * ((width + 127) // 128)
         ELSE width * height END AS n_data_bytes,
    CASE WHEN packed
         THEN (d * {TIFF_A} + (height - 1) * {TIFF_B}) % 256
         ELSE (d * {TIFF_A} + (height - 1) * {TIFF_B}
               + (width - 1) * {TIFF_C}) % 256 END AS last_px
  FROM p
)
SELECT doc_id,
  CASE WHEN {_TIFF_NULL} THEN NULL
       WHEN d % {TIFF_BE_MOD} = 0 THEN 'MM' ELSE 'II' END AS byte_order,
  CASE WHEN {_TIFF_NULL} THEN NULL ELSE width END AS width,
  CASE WHEN {_TIFF_NULL} THEN NULL ELSE height END AS height,
  CASE WHEN {_TIFF_NULL} THEN NULL ELSE n_strips END AS n_strips,
  CASE WHEN {_TIFF_NULL} THEN NULL
       WHEN packed THEN 32773 ELSE 1 END AS compression,
  CASE WHEN {_TIFF_NULL} THEN NULL
       ELSE CAST(n_data_bytes AS BIGINT) END AS n_data_bytes,
  CASE WHEN {_TIFF_NULL} THEN NULL
       ELSE CAST(sum_px AS BIGINT) END AS sum_px,
  CASE WHEN {_TIFF_NULL} THEN NULL
       ELSE CAST((d * {TIFF_A}) % 256 AS INT) END AS first_px,
  CASE WHEN {_TIFF_NULL} THEN NULL
       ELSE CAST(last_px AS INT) END AS last_px
FROM s
"""

register(QuerySpec("multimodal_decode_tiff", multimodal_decode_tiff_query,
                   _MULTIMODAL_TIFF_SQL,
                   description="real baseline-TIFF decode: II/MM "
                               "endianness dispatch, typed tag-directory "
                               "walk (inline vs offset values), "
                               "scattered strips, general PackBits; "
                               "lying strip offsets -> NULL"))


# --- real TIFF-LZW decode (MSB-first early-change LZW + predictor) ---------------

# The family's GIF codec (r7) decodes LSB-first late-change LZW; TIFF
# LZW is the OTHER variable-width discipline — codes packed MSB-first,
# and the code width grows one entry EARLY (encoder bumps when the
# next free entry reaches (1<<w)-1; the decoder, which lags the
# encoder's table by exactly one entry at read time, must bump at
# (1<<w)-2 — the fencepost that breaks naive ports of a GIF decoder).
# Compression composes with the horizontal-differencing predictor
# (tag 317 = 2): rows are stored as byte deltas, turning smooth
# gradients into constant runs — which also makes every predicted
# strip hit LZW's KwKwK code-not-yet-in-table case. T7 class: a
# truncated code stream (EOI never arrives) -> NULL row.
TIFFLZ_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("byte_order", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_strips", T.IntegerType()),
    T.StructField("predictor", T.IntegerType()),
    T.StructField("sum_px", T.LongType()),
    T.StructField("sum_stored", T.LongType()),
    T.StructField("first_px", T.IntegerType()),
    T.StructField("last_px", T.IntegerType()),
])

TIFFLZ_W_BASE = 40
TIFFLZ_W_MOD = 50
TIFFLZ_H_BASE = 6
TIFFLZ_H_MOD = 8
TIFFLZ_RPS_MOD = 5
TIFFLZ_A = 9173
TIFFLZ_B = 104059
TIFFLZ_C = 613651           # odd: raw rows cycle mod 256 only after 256
TIFFLZ_PRED_MOD = 6         # every 6th doc predictor=1 (raw bytes)
TIFFLZ_BE_MOD = 3           # every 3rd doc big-endian (MM)
TIFFLZ_CORRUPT_MOD = 13     # truncated code stream, EOI never arrives


def _build_tiff_lzw_codecs():
    """Pure-stdlib TIFF-LZW writer + reader (compression = 5).

    LZW discipline (vs the GIF codec): codes are packed MSB-FIRST into
    the byte stream; ClearCode = 256, EOI = 257, first dynamic
    entry 258, width 9 -> 12. EARLY CHANGE: the encoder widens when its
    next free entry reaches (1<<w)-1. At the moment the decoder READS
    code k it has made one FEWER table insertion than the encoder had
    made when it WROTE code k (the decoder's insert needs the next
    entry's first byte), so the decoder widens at (1<<w)-2 — one lower,
    derived here from the alignment requirement and pinned by the
    width-crossing roundtrip unit. Each strip is an independent stream
    (Clear first, EOI last). The greedy encoder's constant-delta
    predicted rows produce runs that force the decoder's KwKwK
    (code == next_code) path.

    Predictor (tag 317 = 2): each row stored as horizontal byte
    deltas; the reader undifferences AFTER decompression, per row.
    ``sum_stored`` reports the byte sum BEFORE undifferencing, so the
    predictor reversal is independently pinned by the oracle.
    """
    import struct

    CLEAR, EOI, FIRST = 256, 257, 258

    def lzw_encode(data: bytes) -> bytes:
        out = bytearray()
        acc = n_acc = 0

        def emit(code: int, width: int):
            nonlocal acc, n_acc
            acc = (acc << width) | code
            n_acc += width
            while n_acc >= 8:
                n_acc -= 8
                out.append((acc >> n_acc) & 0xFF)

        width, next_code = 9, FIRST
        table: dict = {bytes((i,)): i for i in range(256)}
        emit(CLEAR, width)
        w = b""
        for b in data:
            wc = w + bytes((b,))
            if wc in table:
                w = wc
                continue
            emit(table[w], width)
            table[wc] = next_code
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
            w = bytes((b,))
        if w:
            emit(table[w], width)
        emit(EOI, width)
        if n_acc:
            out.append((acc << (8 - n_acc)) & 0xFF)
        return bytes(out)

    def lzw_decode(src: bytes):
        """Decode one strip stream; None on any defect (T7): a code
        beyond the table, or bits exhausted before EOI."""
        out = bytearray()
        pos = 0          # bit cursor, MSB-first
        total = len(src) * 8

        def read(width: int):
            nonlocal pos
            if pos + width > total:
                return None
            v = 0
            p = pos
            for _ in range(width):
                v = (v << 1) | ((src[p >> 3] >> (7 - (p & 7))) & 1)
                p += 1
            pos = p
            return v

        width, next_code = 9, FIRST
        table: list = [bytes((i,)) for i in range(256)] + [b"", b""]
        prev = None
        while True:
            code = read(width)
            if code is None:
                return None           # truncated: EOI never arrived
            if code == EOI:
                return bytes(out)
            if code == CLEAR:
                width, next_code = 9, FIRST
                del table[FIRST:]
                prev = None
                continue
            if prev is None:          # first code after a clear
                if code >= 256:
                    return None
                entry = table[code]
            elif code < next_code:
                entry = table[code]
            elif code == next_code:   # KwKwK: not yet in the table
                entry = prev + prev[:1]
            else:
                return None
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                next_code += 1
                if next_code == (1 << width) - 2 and width < 12:
                    width += 1        # decoder lags one entry: -2
            prev = entry
        return None

    def make_tiff_lzw(d: int, w: int, h: int, rps: int, predictor: int,
                      big_endian: bool, corrupt: bool) -> bytes:
        e = ">" if big_endian else "<"
        px = [bytes((d * TIFFLZ_A + y * TIFFLZ_B + x * TIFFLZ_C) % 256
                    for x in range(w)) for y in range(h)]
        strips = []
        for s0 in range(0, h, rps):
            raw = bytearray()
            for row in px[s0:s0 + rps]:
                if predictor == 2:
                    raw += bytes((row[0],)) + bytes(
                        (row[x] - row[x - 1]) % 256 for x in range(1, w))
                else:
                    raw += row
            strips.append(lzw_encode(bytes(raw)))
        if corrupt:  # truncate the final stream mid-code: EOI lost
            strips[-1] = strips[-1][:max(1, len(strips[-1]) - 3)]
        n_strips = len(strips)
        data = b"".join(strips)
        offs, pos = [], 8
        for s in strips:
            offs.append(pos)
            pos += len(s)
        counts = [len(s) for s in strips]
        ifd_off = pos
        tags = [(256, 3, 1, w), (257, 4, 1, h), (258, 3, 1, 8),
                (259, 3, 1, 5), (262, 3, 1, 1),
                (273, 4, n_strips, None), (277, 3, 1, 1),
                (278, 3, 1, rps), (279, 4, n_strips, None),
                (317, 3, 1, predictor)]
        tags.sort()
        arr_off = ifd_off + 2 + 12 * len(tags) + 4
        ext = bytearray()

        def _place(values):
            off = arr_off + len(ext)
            ext.extend(b"".join(struct.pack(e + "I", v) for v in values))
            return off

        entries = bytearray()
        for tag, typ, cnt, val in tags:
            if tag == 273:
                val = offs[0] if n_strips == 1 else _place(offs)
            elif tag == 279:
                val = counts[0] if n_strips == 1 else _place(counts)
            entries += struct.pack(e + "HHI", tag, typ, cnt)
            if typ == 3:   # SHORT, left-justified: pad is order-free
                entries += struct.pack(e + "H", val) + b"\x00\x00"
            else:
                entries += struct.pack(e + "I", val)
        ifd = struct.pack(e + "H", len(tags)) + bytes(entries) \
            + struct.pack(e + "I", 0)
        head = (b"MM" if big_endian else b"II") \
            + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd_off)
        return head + data + ifd + bytes(ext)

    def decode_tiff_lzw_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if blob[:2] == b"II":
                e = "<"
            elif blob[:2] == b"MM":
                e = ">"
            else:
                return None
            if struct.unpack(e + "H", blob[2:4])[0] != 42:
                return None
            ifd_off = struct.unpack(e + "I", blob[4:8])[0]
            if ifd_off + 2 > len(blob):
                return None
            n_tags = struct.unpack(e + "H", blob[ifd_off:ifd_off + 2])[0]
            if ifd_off + 2 + 12 * n_tags + 4 > len(blob):
                return None
            tags = {}
            for i in range(n_tags):
                o = ifd_off + 2 + 12 * i
                tag, typ, cnt = struct.unpack(e + "HHI", blob[o:o + 8])
                field = blob[o + 8:o + 12]
                size = {1: 1, 2: 1, 3: 2, 4: 4}.get(typ)
                if size is None:
                    continue
                fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
                if size * cnt <= 4:
                    vals = [struct.unpack(
                        e + fmt, field[j * size:(j + 1) * size])[0]
                        for j in range(cnt)]
                else:
                    off = struct.unpack(e + "I", field)[0]
                    if off + size * cnt > len(blob):
                        return None
                    vals = [struct.unpack(
                        e + fmt,
                        blob[off + j * size:off + (j + 1) * size])[0]
                        for j in range(cnt)]
                tags[tag] = vals
            try:
                w, h = tags[256][0], tags[257][0]
                offs, counts = tags[273], tags[279]
            except KeyError:
                return None
            if w <= 0 or h <= 0 or len(offs) != len(counts):
                return None
            if tags.get(259, [1])[0] != 5:
                return None
            predictor = tags.get(317, [1])[0]
            if predictor not in (1, 2):
                return None
            rps = tags.get(278, [h])[0]
            rows = []
            sum_stored = 0
            for si, (off, cnt) in enumerate(zip(offs, counts)):
                if off + cnt > len(blob):
                    return None
                dec = lzw_decode(blob[off:off + cnt])
                if dec is None:
                    return None
                n_rows = min(rps, h - si * rps)
                if len(dec) != n_rows * w:
                    return None
                sum_stored += sum(dec)
                for r in range(n_rows):
                    row = bytearray(dec[r * w:(r + 1) * w])
                    if predictor == 2:   # undifference, per row
                        for x in range(1, w):
                            row[x] = (row[x] + row[x - 1]) % 256
                    rows.append(bytes(row))
            if len(rows) != h:
                return None
            sum_px = sum(sum(r) for r in rows)
            return (blob[:2].decode("ascii"), w, h, len(offs),
                    predictor, sum_px, sum_stored, rows[0][0],
                    rows[-1][-1])
        except Exception:
            return None

    return make_tiff_lzw, decode_tiff_lzw_stats, lzw_encode, lzw_decode


(make_tiff_lzw, decode_tiff_lzw_stats,
 tiff_lzw_encode, tiff_lzw_decode) = _build_tiff_lzw_codecs()


def synthesize_tiff_lzw_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real TIFF-LZW bytes. Pixel (y, x) =
    (d*TIFFLZ_A + y*TIFFLZ_B + x*TIFFLZ_C) % 256. Every
    TIFFLZ_PRED_MOD-th doc stores RAW bytes (predictor 1 — stride
    rows, the dictionary-heavy case that crosses the 9->10 width
    boundary); the rest store horizontal deltas (predictor 2 —
    constant runs, the KwKwK case). Every TIFFLZ_CORRUPT_MOD-th doc's
    final code stream is truncated so EOI never arrives."""
    mk = make_tiff_lzw

    def blob_of(d: int) -> bytes:
        return mk(d, TIFFLZ_W_BASE + d % TIFFLZ_W_MOD,
                  TIFFLZ_H_BASE + d % TIFFLZ_H_MOD,
                  1 + d % TIFFLZ_RPS_MOD,
                  1 if d % TIFFLZ_PRED_MOD == 0 else 2,
                  d % TIFFLZ_BE_MOD == 0,
                  d % TIFFLZ_CORRUPT_MOD == 0)

    return _synthesize(df, blob_of)


def decode_tiff_lzw(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_tiff_lzw_stats, TIFFLZ_SCHEMA)


def multimodal_decode_tiff_lzw_query(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Real TIFF-LZW parse end-to-end: MSB-first early-change LZW per
    strip, horizontal-differencing predictor reversal; truncated code
    streams -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_tiff_lzw(synthesize_tiff_lzw_payloads(docs))


_TIFFLZ_NULL = f"d % {TIFFLZ_CORRUPT_MOD} = 0"

_MULTIMODAL_TIFFLZ_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({TIFFLZ_W_BASE} + abs(doc_id) % {TIFFLZ_W_MOD} AS INT) AS width,
    CAST({TIFFLZ_H_BASE} + abs(doc_id) % {TIFFLZ_H_MOD} AS INT) AS height,
    1 + abs(doc_id) % {TIFFLZ_RPS_MOD} AS rps,
    CASE WHEN abs(doc_id) % {TIFFLZ_PRED_MOD} = 0
         THEN 1 ELSE 2 END AS predictor
  FROM documents
), s AS (
  SELECT doc_id, d, width, height, predictor,
    CAST((height + rps - 1) // rps AS INT) AS n_strips,
    list_sum(list_transform(range(0, width * height),
      i -> (d * {TIFFLZ_A} + (i // width) * {TIFFLZ_B}
            + (i % width) * {TIFFLZ_C}) % 256)) AS sum_px,
    -- predictor-2 rows store [p(y,0), delta x (w-1)] with the delta
    -- constant = C mod 256 (arithmetic-progression rows)
    list_sum(list_transform(range(0, height),
      y -> (d * {TIFFLZ_A} + y * {TIFFLZ_B}) % 256))
      + height * (width - 1) * ({TIFFLZ_C} % 256) AS sum_diff
  FROM p
)
SELECT doc_id,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL
       WHEN d % {TIFFLZ_BE_MOD} = 0 THEN 'MM' ELSE 'II' END AS byte_order,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL ELSE width END AS width,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL ELSE height END AS height,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL ELSE n_strips END AS n_strips,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL ELSE predictor END AS predictor,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL
       ELSE CAST(sum_px AS BIGINT) END AS sum_px,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL
       WHEN predictor = 2 THEN CAST(sum_diff AS BIGINT)
       ELSE CAST(sum_px AS BIGINT) END AS sum_stored,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL
       ELSE CAST((d * {TIFFLZ_A}) % 256 AS INT) END AS first_px,
  CASE WHEN {_TIFFLZ_NULL} THEN NULL
       ELSE CAST((d * {TIFFLZ_A} + (height - 1) * {TIFFLZ_B}
                  + (width - 1) * {TIFFLZ_C}) % 256 AS INT) END AS last_px
FROM s
"""

register(QuerySpec(
    "multimodal_decode_tiff_lzw", multimodal_decode_tiff_lzw_query,
    _MULTIMODAL_TIFFLZ_SQL,
    description="real TIFF-LZW decode: MSB-first variable-width codes "
                "with EARLY width change (decoder lags the encoder one "
                "table entry), per-strip Clear/EOI streams, KwKwK runs "
                "from constant-delta predictor rows, horizontal-"
                "differencing reversal; truncated code stream -> NULL"))


# --- real BMP RLE8 decode (escape codes, delta moves, bottom-up rows) ------------

# RLE8 is the family's first ESCAPE-DRIVEN compression: the stream
# interleaves (count, value) runs with escape sequences — end-of-line,
# end-of-bitmap, delta cursor moves that leave UNDEFINED gaps, and
# absolute-mode literal blocks padded to even length. And BMP stores
# rows BOTTOM-UP, so a decoder that forgets the flip reports a
# vertically mirrored image (first_px/last_px pin the flip).
BMPRLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sum_idx", T.LongType()),
    T.StructField("first_px", T.IntegerType()),
    T.StructField("last_px", T.IntegerType()),
    T.StructField("n_abs_rows", T.IntegerType()),
    T.StructField("n_delta_rows", T.IntegerType()),
])

BMPRLE_W_BASE = 9
BMPRLE_W_MOD = 300         # widths cross 255: run rows need SPLIT runs
BMPRLE_H_BASE = 4
BMPRLE_H_MOD = 9
BMPRLE_A = 48271
BMPRLE_B = 16807
BMPRLE_C = 69621
BMPRLE_ABS_MOD = 3         # image rows y % 3 == 0 use ABSOLUTE mode
BMPRLE_DELTA_MOD = 5       # other rows with y % 5 == 0 start with a
BMPRLE_DELTA_SKIP = 3      # delta move leaving a 3-pixel zero gap
BMPRLE_CORRUPT_MOD = 13    # a run overflows its row -> reject


def _build_bmprle_codecs():
    """Pure-stdlib 8-bit RLE BMP writer + decoder.

    Writer: BITMAPFILEHEADER + BITMAPINFOHEADER(40, biCompression=1)
    + 256-entry palette + the RLE stream, rows emitted bottom-up.
    Image row y: absolute-mode rows carry per-pixel values (blocks of
    <= 255, odd blocks padded), run rows carry a row-constant value in
    runs of <= 255; delta rows first emit (0,2,dx,0) leaving a zero
    gap. Every row ends with EOL except the last, which ends with EOF
    (both forms legal; decoder must accept either).

    Decoder: validates both headers, walks the escape-driven stream
    with strict bounds (a run or absolute block overflowing the row
    width rejects — the planted corruption), fills delta gaps with 0
    per the de-facto convention, flips bottom-up rows, and reports
    stats over IMAGE-ordered pixels. Returns None on any defect (T7).
    """
    import struct

    def _rle_row(vals: list, is_abs: bool) -> bytes:
        out = bytearray()
        if is_abs:
            i = 0
            while i < len(vals):
                n = min(255, len(vals) - i)
                if n >= 3:
                    out += bytes((0, n)) + bytes(vals[i:i + n])
                    if n % 2:
                        out += b"\x00"  # absolute blocks pad to even
                else:
                    for v in vals[i:i + n]:
                        out += bytes((1, v))
                i += n
        else:
            i = 0
            while i < len(vals):
                n = min(255, len(vals) - i)
                out += bytes((n, vals[i]))
                i += n
        return bytes(out)

    def make_bmprle(d: int, w: int, h: int, corrupt: bool) -> bytes:
        rows = []
        for y in range(h):  # IMAGE order; emitted reversed (bottom-up)
            is_abs = y % BMPRLE_ABS_MOD == 0
            delta = (not is_abs) and y % BMPRLE_DELTA_MOD == 0
            if is_abs:
                vals = [(d * BMPRLE_A + y * BMPRLE_B + x * BMPRLE_C)
                        % 256 for x in range(w)]
                body = _rle_row(vals, True)
            elif delta:
                v = (d * BMPRLE_A + y * BMPRLE_B) % 256
                body = bytes((0, 2, BMPRLE_DELTA_SKIP, 0)) \
                    + _rle_row([v] * (w - BMPRLE_DELTA_SKIP), False)
            else:
                v = (d * BMPRLE_A + y * BMPRLE_B) % 256
                body = _rle_row([v] * w, False)
            rows.append(body)
        if corrupt:
            # a 255-run into a row with < 255 pixels left: overflow
            rows[0] = bytes((255, 7)) + rows[0]
        stream = bytearray()
        for i, body in enumerate(reversed(rows)):  # bottom-up
            stream += body
            last = i == len(rows) - 1
            stream += bytes((0, 1)) if last else bytes((0, 0))
        palette = b"".join(bytes((i % 256, (i * 2) % 256,
                                  (i * 3) % 256, 0)) for i in range(256))
        off = 14 + 40 + len(palette)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1,
                           len(stream), 2835, 2835, 0, 0)
        head = b"BM" + struct.pack("<IHHI", off + len(stream), 0, 0, off)
        return head + info + palette + bytes(stream)

    def decode_bmprle_stats(blob: bytes):
        try:
            blob = bytes(blob)
            if blob[:2] != b"BM" or len(blob) < 54:
                return None
            off = struct.unpack("<I", blob[10:14])[0]
            (bisize, w, h, planes, bpp, comp, _simg, _xp, _yp, clr,
             _imp) = struct.unpack("<IiiHHIIiiII", blob[14:54])
            if bisize != 40 or planes != 1 or bpp != 8 or comp != 1:
                return None
            if w <= 0 or h <= 0 or clr not in (0, 256):
                return None
            if off != 14 + 40 + 256 * 4 or off > len(blob):
                return None
            # file rows are bottom-up: px[file_y][x], file_y 0 = bottom
            px = [[0] * w for _ in range(h)]
            fy, x = 0, 0
            i = off
            abs_rows: set = set()
            n_delta = 0
            done = False
            while i + 1 < len(blob) and not done:
                c, v = blob[i], blob[i + 1]
                i += 2
                if c > 0:  # run
                    if fy >= h or x + c > w:
                        return None
                    for k in range(c):
                        px[fy][x + k] = v
                    x += c
                elif v == 0:    # end of line
                    fy += 1
                    x = 0
                elif v == 1:    # end of bitmap
                    done = True
                elif v == 2:    # delta move (gap stays 0)
                    if i + 1 >= len(blob):
                        return None
                    dx, dy = blob[i], blob[i + 1]
                    i += 2
                    n_delta += 1
                    x += dx
                    fy += dy
                    if fy > h or x > w:
                        return None
                else:           # absolute block of v pixels
                    if fy >= h or x + v > w or i + v > len(blob):
                        return None
                    for k in range(v):
                        px[fy][x + k] = blob[i + k]
                    x += v
                    i += v + (v % 2)  # even padding
                    abs_rows.add(fy)
            if not done:
                return None
            img = list(reversed(px))  # flip bottom-up to image order
            sum_idx = sum(sum(r) for r in img)
            return (w, h, sum_idx, img[0][0], img[-1][-1],
                    len(abs_rows), n_delta)
        except Exception:
            return None

    return make_bmprle, decode_bmprle_stats


make_bmprle, decode_bmprle_stats = _build_bmprle_codecs()


def synthesize_bmprle_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real RLE8 BMP bytes. Image row y: absolute-mode rows
    (y % 3 == 0) carry per-pixel (d*A + y*B + x*C) % 256; other rows
    are row-constant (d*A + y*B) % 256, and those with y % 5 == 0
    start with a delta move leaving a DELTA_SKIP zero gap. Every
    BMPRLE_CORRUPT_MOD-th doc's bottom row starts with a 255-run that
    overflows the row."""
    mk = make_bmprle

    def blob_of(d: int) -> bytes:
        return mk(d, BMPRLE_W_BASE + d % BMPRLE_W_MOD,
                  BMPRLE_H_BASE + d % BMPRLE_H_MOD,
                  d % BMPRLE_CORRUPT_MOD == 0)

    return _synthesize(df, blob_of)


def decode_bmprle(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_bmprle_stats, BMPRLE_SCHEMA)


def multimodal_decode_bmprle_query(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Real RLE8 parse end-to-end: escape-driven stream (EOL/EOF/delta
    gaps/absolute padding), strict row bounds, bottom-up flip pinned
    by first/last pixel; overflowing runs -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_bmprle(synthesize_bmprle_payloads(docs))


_BMPRLE_NULL = f"d % {BMPRLE_CORRUPT_MOD} = 0"

_MULTIMODAL_BMPRLE_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({BMPRLE_W_BASE} + abs(doc_id) % {BMPRLE_W_MOD} AS INT) AS width,
    CAST({BMPRLE_H_BASE} + abs(doc_id) % {BMPRLE_H_MOD} AS INT) AS height
  FROM documents
), s AS (
  SELECT doc_id, d, width, height,
    list_sum(list_transform(range(0, height), y ->
      CASE
        WHEN y % {BMPRLE_ABS_MOD} = 0 THEN
          list_sum(list_transform(range(0, width), x ->
            (d * {BMPRLE_A} + y * {BMPRLE_B} + x * {BMPRLE_C}) % 256))
        WHEN y % {BMPRLE_DELTA_MOD} = 0 THEN
          (width - {BMPRLE_DELTA_SKIP})
            * ((d * {BMPRLE_A} + y * {BMPRLE_B}) % 256)
        ELSE width * ((d * {BMPRLE_A} + y * {BMPRLE_B}) % 256)
      END)) AS sum_idx,
    CASE WHEN (height - 1) % {BMPRLE_ABS_MOD} = 0 THEN
      (d * {BMPRLE_A} + (height - 1) * {BMPRLE_B}
       + (width - 1) * {BMPRLE_C}) % 256
    ELSE (d * {BMPRLE_A} + (height - 1) * {BMPRLE_B}) % 256
    END AS last_px,
    len(list_filter(range(0, height),
        y -> y % {BMPRLE_ABS_MOD} = 0)) AS n_abs_rows,
    len(list_filter(range(0, height),
        y -> y % {BMPRLE_ABS_MOD} <> 0
         AND y % {BMPRLE_DELTA_MOD} = 0)) AS n_delta_rows
  FROM p
)
SELECT doc_id,
  CASE WHEN {_BMPRLE_NULL} THEN NULL ELSE width END AS width,
  CASE WHEN {_BMPRLE_NULL} THEN NULL ELSE height END AS height,
  CASE WHEN {_BMPRLE_NULL} THEN NULL
       ELSE CAST(sum_idx AS BIGINT) END AS sum_idx,
  CASE WHEN {_BMPRLE_NULL} THEN NULL
       ELSE CAST((d * {BMPRLE_A}) % 256 AS INT) END AS first_px,
  CASE WHEN {_BMPRLE_NULL} THEN NULL
       ELSE CAST(last_px AS INT) END AS last_px,
  CASE WHEN {_BMPRLE_NULL} THEN NULL
       ELSE CAST(n_abs_rows AS INT) END AS n_abs_rows,
  CASE WHEN {_BMPRLE_NULL} THEN NULL
       ELSE CAST(n_delta_rows AS INT) END AS n_delta_rows
FROM s
"""

register(QuerySpec("multimodal_decode_bmprle",
                   multimodal_decode_bmprle_query,
                   _MULTIMODAL_BMPRLE_SQL,
                   description="real BMP RLE8 decode: escape-driven "
                               "stream (EOL/EOF/delta gaps/absolute "
                               "padding), strict row bounds, bottom-up "
                               "flip; overflowing runs -> NULL"))


# --- real AVI/RIFF video container (nested LISTs + idx1 frame seek) ---------------

# AVI is the family's first VIDEO CONTAINER: nested RIFF LISTs
# (hdrl -> strl, movi), word-aligned chunk skipping (a planted
# odd-sized JUNK chunk makes the pad byte load-bearing), and — the
# video-specific discipline — the reader does NOT scan 'movi'
# linearly: it reads the idx1 frame index and SEEKS to the sampled
# frames only, verifying fourcc+size at each seek target. Frame
# sampling over a 100 TB video corpus is exactly this access pattern
# (read the index, touch 1/stride of the bytes). A lying idx1 offset
# (entry 0 shifted by 2) fails the seek-target verification -> NULL
# row: the T7 class, the AVI analogue of TIFF's lying strip offset.
# Frames are 24-bit bottom-up DIBs with 4-byte row padding, so the
# BMP flip/stride rules apply inside each frame.
AVI_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("us_per_frame", T.IntegerType()),
    T.StructField("n_sampled", T.IntegerType()),
    T.StructField("n_frame_bytes", T.LongType()),
    T.StructField("sum_px", T.LongType()),
    T.StructField("first_px", T.IntegerType()),
    T.StructField("last_px", T.IntegerType()),
])

AVI_W_BASE, AVI_W_MOD = 8, 9       # width 8..16: strides hit all 4 pads
AVI_H_BASE, AVI_H_MOD = 4, 5       # height 4..8
AVI_NF_BASE, AVI_NF_MOD = 2, 5     # 2..6 frames
AVI_UPF_BASE, AVI_UPF_MOD = 40000, 100  # per-doc frame duration (us)
AVI_SAMPLE_STRIDE = 2              # decode every 2nd frame via idx1
AVI_A, AVI_B, AVI_C, AVI_D, AVI_E = 5431, 91, 47, 17, 113
AVI_CORRUPT_MOD = 13               # idx1 entry 0 offset shifted by 2


def _build_avi_codecs():
    """Pure-stdlib AVI writer + index-seeking reader.

    Writer: RIFF(AVI ) { LIST(hdrl){ avih, LIST(strl){ strh 'vids'/
    'DIB ', strf BITMAPINFOHEADER 24bpp } }, JUNK(13 bytes, odd:
    forces the word-align pad), LIST(movi){ '00db' frames }, idx1 }.
    idx1 offsets are relative to the 'movi' fourcc (first chunk = 4,
    the standard convention). Pixel (f, y, x, c) =
    (d*A + f*B + y*C + x*D + c*E) % 256 in IMAGE coordinates; rows are
    written bottom-up with zero padding to 4-byte strides.

    Reader: real RIFF semantics — size-bounded recursive LIST walk
    with odd-size pad skipping, unknown chunks (JUNK, strh) skipped,
    avih/strf cross-validation (dims match, 24bpp, uncompressed), then
    per SAMPLED frame: seek movi+offset, verify fourcc and size
    against both the index entry and stride*h, flip bottom-up rows,
    skip padding, accumulate exact pixel sums. Returns None on any
    defect (T7).
    """
    import struct

    def make_avi(d: int, w: int, h: int, nf: int, upf: int,
                 corrupt: bool) -> bytes:
        stride = (w * 3 + 3) & ~3
        u32 = lambda x: struct.pack("<I", x)

        def chunk(fcc: bytes, data: bytes) -> bytes:
            pad = b"\x00" if len(data) & 1 else b""
            return fcc + u32(len(data)) + data + pad

        frames = []
        for f in range(nf):
            rows = []
            for y in range(h - 1, -1, -1):  # bottom-up storage
                row = bytearray()
                for x in range(w):
                    for c in range(3):
                        row.append((d * AVI_A + f * AVI_B + y * AVI_C
                                    + x * AVI_D + c * AVI_E) % 256)
                row += b"\x00" * (stride - w * 3)
                rows.append(bytes(row))
            frames.append(b"".join(rows))
        avih = struct.pack("<14I", upf, 0, 0, 0x10, nf, 0, 1,
                           stride * h, w, h, 0, 0, 0, 0)
        strh = (b"vids" + b"DIB "
                + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0,
                              nf, stride * h, 0, 0)
                + struct.pack("<HHHH", 0, 0, w, h))
        strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                           stride * h, 0, 0, 0, 0)
        strl = b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf)
        hdrl = b"hdrl" + chunk(b"avih", avih) + chunk(b"LIST", strl)
        movi_payload = b"movi"
        offsets = []
        for fr in frames:
            offsets.append(len(movi_payload))
            movi_payload += chunk(b"00db", fr)
        idx = b""
        for f, off in enumerate(offsets):
            o = off + (2 if (corrupt and f == 0) else 0)
            idx += b"00db" + u32(0x10) + u32(o) + u32(stride * h)
        body = (b"AVI " + chunk(b"LIST", hdrl)
                + chunk(b"JUNK", bytes(13))
                + chunk(b"LIST", movi_payload) + chunk(b"idx1", idx))
        return b"RIFF" + u32(len(body)) + body

    def decode_avi_stats(blob: bytes):
        u32 = lambda p: struct.unpack_from("<I", blob, p)[0]
        try:
            if blob[0:4] != b"RIFF" or blob[8:12] != b"AVI ":
                return None
            end = 8 + u32(4)
            if end > len(blob):
                return None
            found = {"avih": None, "strf": None, "movi": None,
                     "idx": None}

            def walk(p: int, stop: int) -> bool:
                while p + 8 <= stop:
                    fcc = blob[p:p + 4]
                    size = u32(p + 4)
                    d0 = p + 8
                    if d0 + size > stop:
                        return False
                    if fcc == b"LIST":
                        ltype = blob[d0:d0 + 4]
                        if ltype == b"movi":
                            found["movi"] = d0
                        elif not walk(d0 + 4, d0 + size):
                            return False
                    elif fcc == b"avih":
                        if size < 56:
                            return False
                        found["avih"] = struct.unpack_from(
                            "<14I", blob, d0)
                    elif fcc == b"strf":
                        if size < 40:
                            return False
                        found["strf"] = struct.unpack_from(
                            "<IiiHHI", blob, d0)
                    elif fcc == b"idx1":
                        found["idx"] = [
                            struct.unpack_from("<4sIII", blob,
                                               d0 + 16 * i)
                            for i in range(size // 16)]
                    # JUNK / strh / unknown: skipped, word-aligned
                    p = d0 + size + (size & 1)
                return True

            if not walk(12, end) or any(v is None
                                        for v in found.values()):
                return None
            avih, strf = found["avih"], found["strf"]
            movi_pos, idx = found["movi"], found["idx"]
            upf, nf, nstreams = avih[0], avih[4], avih[6]
            w, h = avih[8], avih[9]
            _, bi_w, bi_h, _, bpp, comp = strf
            if ((bi_w, bi_h) != (w, h) or bpp != 24 or comp != 0
                    or nstreams != 1 or nf < 1 or len(idx) < nf
                    or w < 1 or h < 1):
                return None
            stride = (w * 3 + 3) & ~3
            total = 0
            nbytes = 0
            nsamp = 0
            first = None
            last = None
            for f in range(0, nf, AVI_SAMPLE_STRIDE):
                fcc, _, off, sz = idx[f]
                p = movi_pos + off
                if p + 8 + sz > len(blob):
                    return None
                if (blob[p:p + 4] != fcc or u32(p + 4) != sz
                        or sz != stride * h):
                    return None
                data = blob[p + 8:p + 8 + sz]
                nsamp += 1
                nbytes += sz
                for yi in range(h):  # image row yi = file row h-1-yi
                    ro = (h - 1 - yi) * stride
                    row = data[ro:ro + w * 3]
                    total += sum(row)
                    if first is None:
                        first = row[0]
                    last = row[-1]
            return (w, h, nf, upf, nsamp, nbytes, total, first, last)
        except (struct.error, IndexError):
            return None

    return make_avi, decode_avi_stats


make_avi, decode_avi_stats = _build_avi_codecs()


def synthesize_avi_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real AVI bytes. Pixel (f, y, x, c) =
    (d*AVI_A + f*AVI_B + y*AVI_C + x*AVI_D + c*AVI_E) % 256 — closed
    form for the oracle. Every AVI_CORRUPT_MOD-th doc's idx1 entry 0
    offset is shifted by 2 (a lying frame index)."""
    mk = make_avi

    def blob_of(d: int) -> bytes:
        return mk(d, AVI_W_BASE + d % AVI_W_MOD,
                  AVI_H_BASE + d % AVI_H_MOD,
                  AVI_NF_BASE + d % AVI_NF_MOD,
                  AVI_UPF_BASE + d % AVI_UPF_MOD,
                  d % AVI_CORRUPT_MOD == 0)

    return _synthesize(df, blob_of)


def decode_avi(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_avi_stats, AVI_SCHEMA)


def multimodal_decode_avi_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Real AVI parse end-to-end: nested LIST walk, JUNK/pad skipping,
    idx1 frame-index SEEK sampling (every 2nd frame), bottom-up DIB
    flip; lying index offsets -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_avi(synthesize_avi_payloads(docs))


_AVI_NULL = f"d % {AVI_CORRUPT_MOD} = 0"

_MULTIMODAL_AVI_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    {AVI_W_BASE} + abs(doc_id) % {AVI_W_MOD} AS w,
    {AVI_H_BASE} + abs(doc_id) % {AVI_H_MOD} AS h,
    {AVI_NF_BASE} + abs(doc_id) % {AVI_NF_MOD} AS nf,
    {AVI_UPF_BASE} + abs(doc_id) % {AVI_UPF_MOD} AS upf
  FROM documents
), s AS (
  SELECT doc_id, d, w, h, nf, upf,
    (nf + {AVI_SAMPLE_STRIDE} - 1) // {AVI_SAMPLE_STRIDE} AS nsamp,
    ((w * 3 + 3) // 4) * 4 AS stride,
    list_sum(list_transform(
      range(0, (nf + {AVI_SAMPLE_STRIDE} - 1) // {AVI_SAMPLE_STRIDE}),
      si -> list_sum(list_transform(range(0, w * h * 3),
        i -> (d * {AVI_A} + (si * {AVI_SAMPLE_STRIDE}) * {AVI_B}
              + (i // (w * 3)) * {AVI_C} + ((i % (w * 3)) // 3) * {AVI_D}
              + (i % 3) * {AVI_E}) % 256)))) AS sum_px
  FROM p
)
SELECT doc_id,
  CASE WHEN {_AVI_NULL} THEN NULL ELSE CAST(w AS INT) END AS width,
  CASE WHEN {_AVI_NULL} THEN NULL ELSE CAST(h AS INT) END AS height,
  CASE WHEN {_AVI_NULL} THEN NULL ELSE CAST(nf AS INT) END AS n_frames,
  CASE WHEN {_AVI_NULL} THEN NULL ELSE CAST(upf AS INT) END
    AS us_per_frame,
  CASE WHEN {_AVI_NULL} THEN NULL ELSE CAST(nsamp AS INT) END
    AS n_sampled,
  CASE WHEN {_AVI_NULL} THEN NULL
       ELSE CAST(nsamp * stride * h AS BIGINT) END AS n_frame_bytes,
  CASE WHEN {_AVI_NULL} THEN NULL ELSE CAST(sum_px AS BIGINT) END
    AS sum_px,
  CASE WHEN {_AVI_NULL} THEN NULL
       ELSE CAST((d * {AVI_A}) % 256 AS INT) END AS first_px,
  CASE WHEN {_AVI_NULL} THEN NULL
       ELSE CAST((d * {AVI_A}
                  + ({AVI_SAMPLE_STRIDE}
                     * ((nf + {AVI_SAMPLE_STRIDE} - 1)
                        // {AVI_SAMPLE_STRIDE} - 1)) * {AVI_B}
                  + (h - 1) * {AVI_C} + (w - 1) * {AVI_D}
                  + 2 * {AVI_E}) % 256 AS INT) END AS last_px
FROM s
"""

register(QuerySpec("multimodal_decode_avi", multimodal_decode_avi_query,
                   _MULTIMODAL_AVI_SQL,
                   description="real AVI/RIFF video container decode: "
                               "nested LIST walk with word-align pads, "
                               "idx1 frame-index seek sampling, "
                               "bottom-up 24-bit DIB frames; lying "
                               "index offsets -> NULL"))


# --- real ZIP archive decode (EOCD backward search + CRC32 integrity) -------------

# ZIP is the family's first TAIL-ANCHORED container: there is no magic
# at offset 0 — the reader must scan BACKWARD from EOF for the
# end-of-central-directory record, walk the central directory it
# points at, and only then seek each member's local header. Real-world
# robustness disciplines made load-bearing here: a junk PREFIX is
# prepended (self-extracting-archive style), so every stored offset is
# wrong by the prefix length and the reader must derive the
# concatenation shift (actual CD position minus the EOCD's stated CD
# offset) and apply it to all local offsets; members mix STORED and
# real DEFLATE (raw zlib, wbits=-15) per member; and every member's
# bytes are verified against the central directory's CRC32 and
# uncompressed size — the planted corruption (a flipped payload byte)
# is only detectable through that integrity check (T7).
ZIP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_members", T.IntegerType()),
    T.StructField("n_deflated", T.IntegerType()),
    T.StructField("total_uncomp", T.LongType()),
    T.StructField("sum_bytes", T.LongType()),
    T.StructField("first_byte", T.IntegerType()),
    T.StructField("last_byte", T.IntegerType()),
])

ZIP_M_BASE, ZIP_M_MOD = 2, 3      # 2..4 members per archive
ZIP_L_BASE, ZIP_L_MOD = 20, 30    # member lengths 20..49
ZIP_A, ZIP_B, ZIP_C = 3413, 211, 59
ZIP_PREFIX = 7                    # junk bytes prepended (SFX shift)
ZIP_CORRUPT_MOD = 17              # flip a payload byte post-CRC


def _build_zip_codecs():
    """Pure-stdlib ZIP writer + reader (STORED + raw-DEFLATE members).

    Writer: [junk prefix] then per member a local header + data, then
    the central directory, then EOCD. Offsets are recorded WITHOUT the
    prefix (exactly what prepending data to a finished zip produces).

    Reader: backward EOCD signature scan from EOF, concatenation-shift
    derivation (actual CD position - stated offset), central-directory
    walk, per-member local-header validation (signature + name match
    against the central entry), raw-inflate for method 8, and CRC32 +
    size verification of every member. Returns None on any defect.
    """
    import struct
    import zlib

    def member_content(d: int, i: int) -> bytes:
        ln = ZIP_L_BASE + (d + i) % ZIP_L_MOD
        return bytes((d * ZIP_A + i * ZIP_B + j * ZIP_C) % 256
                     for j in range(ln))

    def make_zip(d: int, corrupt: bool) -> bytes:
        nm = ZIP_M_BASE + d % ZIP_M_MOD
        locs = []
        body = bytearray()
        centrals = []
        for i in range(nm):
            raw = member_content(d, i)
            crc = zlib.crc32(raw)
            method = 0 if (d + i) % 2 == 0 else 8
            if method == 8:
                co = zlib.compressobj(6, zlib.DEFLATED, -15)
                data = co.compress(raw) + co.flush()
            else:
                data = raw
            if corrupt and i == 0:
                data = bytes([data[0] ^ 0xFF]) + data[1:]
            name = f"m{i}.bin".encode()
            off = len(body)  # offset WITHOUT the junk prefix
            body += struct.pack("<IHHHHHIIIHH", 0x04034b50, 20, 0,
                                method, 0, 0, crc, len(data), len(raw),
                                len(name), 0) + name + data
            centrals.append((name, method, crc, len(data), len(raw),
                             off))
            locs.append(off)
        cd_off = len(body)
        for name, method, crc, csz, usz, off in centrals:
            body += struct.pack("<IHHHHHHIIIHHHHHII", 0x02014b50, 20,
                                20, 0, method, 0, 0, crc, csz, usz,
                                len(name), 0, 0, 0, 0, 0, off) + name
        cd_size = len(body) - cd_off
        body += struct.pack("<IHHHHIIH", 0x06054b50, 0, 0, len(centrals),
                            len(centrals), cd_size, cd_off, 0)
        return bytes(range(ZIP_PREFIX)) + bytes(body)

    def decode_zip_stats(blob: bytes):
        try:
            # 1. backward EOCD scan (last signature wins)
            tail_from = max(0, len(blob) - 65557)
            pos = blob.rfind(b"PK\x05\x06", tail_from)
            if pos < 0 or pos + 22 > len(blob):
                return None
            (_, _, _, n_here, n_total, cd_size,
             cd_off, cmt) = struct.unpack_from("<IHHHHIIH", blob, pos)
            if n_here != n_total or n_total < 1:
                return None
            # 2. concatenation shift: where the CD actually is vs where
            # the EOCD claims it is
            actual_cd = pos - cd_size
            if actual_cd < 0:
                return None
            shift = actual_cd - cd_off
            if shift < 0:
                return None
            # 3. central walk
            p = actual_cd
            members = []
            for _ in range(n_total):
                if blob[p:p + 4] != b"PK\x01\x02":
                    return None
                (_, _, _, _, method, _, _, crc, csz, usz, nlen, elen,
                 clen, _, _, _, off) = struct.unpack_from(
                    "<IHHHHHHIIIHHHHHII", blob, p)
                name = blob[p + 46:p + 46 + nlen]
                members.append((name, method, crc, csz, usz,
                                off + shift))
                p += 46 + nlen + elen + clen
            # 4. per-member local validation + integrity
            total_u = 0
            sum_b = 0
            n_defl = 0
            first = None
            last = None
            for name, method, crc, csz, usz, off in members:
                if blob[off:off + 4] != b"PK\x03\x04":
                    return None
                (_, _, _, lmethod, _, _, _, _, _, lnlen,
                 lelen) = struct.unpack_from("<IHHHHHIIIHH", blob, off)
                lname = blob[off + 30:off + 30 + lnlen]
                if lname != name or lmethod != method:
                    return None
                dstart = off + 30 + lnlen + lelen
                data = blob[dstart:dstart + csz]
                if len(data) != csz:
                    return None
                if method == 8:
                    raw = zlib.decompress(data, -15)
                    n_defl += 1
                elif method == 0:
                    raw = data
                else:
                    return None
                if len(raw) != usz or zlib.crc32(raw) != crc:
                    return None
                total_u += usz
                sum_b += sum(raw)
                if first is None:
                    first = raw[0]
                last = raw[-1]
            return (len(members), n_defl, total_u, sum_b, first, last)
        except (struct.error, IndexError, zlib.error):
            return None

    return make_zip, decode_zip_stats


make_zip, decode_zip_stats = _build_zip_codecs()


def synthesize_zip_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real (junk-prefixed) ZIP bytes. Member i byte j =
    (d*ZIP_A + i*ZIP_B + j*ZIP_C) % 256, length 20 + (d+i) % 30 —
    closed form for the oracle. Every ZIP_CORRUPT_MOD-th doc has one
    payload byte flipped AFTER its CRC was recorded."""
    mk = make_zip

    def blob_of(d: int) -> bytes:
        return mk(d, d % ZIP_CORRUPT_MOD == 0)

    return _synthesize(df, blob_of)


def decode_zip(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_zip_stats, ZIP_SCHEMA)


def multimodal_decode_zip_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Real ZIP parse end-to-end: backward EOCD search, prepended-junk
    concatenation shift, central/local cross-validation, raw DEFLATE,
    CRC32 integrity; flipped payload bytes -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_zip(synthesize_zip_payloads(docs))


_ZIP_NULL = f"d % {ZIP_CORRUPT_MOD} = 0"

_MULTIMODAL_ZIP_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    {ZIP_M_BASE} + abs(doc_id) % {ZIP_M_MOD} AS nm
  FROM documents
), s AS (
  SELECT doc_id, d, nm,
    list_sum(list_transform(range(0, nm),
      i -> CASE WHEN (d + i) % 2 = 1 THEN 1 ELSE 0 END)) AS n_defl,
    list_sum(list_transform(range(0, nm),
      i -> {ZIP_L_BASE} + (d + i) % {ZIP_L_MOD})) AS total_u,
    list_sum(list_transform(range(0, nm),
      i -> list_sum(list_transform(
             range(0, {ZIP_L_BASE} + (d + i) % {ZIP_L_MOD}),
             j -> (d * {ZIP_A} + i * {ZIP_B} + j * {ZIP_C}) % 256))))
      AS sum_b
  FROM p
)
SELECT doc_id,
  CASE WHEN {_ZIP_NULL} THEN NULL ELSE CAST(nm AS INT) END AS n_members,
  CASE WHEN {_ZIP_NULL} THEN NULL ELSE CAST(n_defl AS INT) END
    AS n_deflated,
  CASE WHEN {_ZIP_NULL} THEN NULL ELSE CAST(total_u AS BIGINT) END
    AS total_uncomp,
  CASE WHEN {_ZIP_NULL} THEN NULL ELSE CAST(sum_b AS BIGINT) END
    AS sum_bytes,
  CASE WHEN {_ZIP_NULL} THEN NULL
       ELSE CAST((d * {ZIP_A}) % 256 AS INT) END AS first_byte,
  CASE WHEN {_ZIP_NULL} THEN NULL
       ELSE CAST((d * {ZIP_A} + (nm - 1) * {ZIP_B}
                  + ({ZIP_L_BASE} + (d + nm - 1) % {ZIP_L_MOD} - 1)
                    * {ZIP_C}) % 256 AS INT) END AS last_byte
FROM s
"""

register(QuerySpec("multimodal_decode_zip", multimodal_decode_zip_query,
                   _MULTIMODAL_ZIP_SQL,
                   description="real ZIP archive decode: backward EOCD "
                               "search, prepended-junk concatenation "
                               "shift, central/local cross-validation, "
                               "raw DEFLATE, CRC32 integrity; flipped "
                               "bytes -> NULL"))


# --- real TAR archive decode (the WebDataset shard container) ----------------------

# TAR is how multimodal training data actually ships (WebDataset
# shards are plain tar files read sequentially): a BLOCK-STRUCTURED
# container — 512-byte header blocks with OCTAL-ASCII numeric fields,
# a header CHECKSUM computed with the checksum field blanked to
# spaces, ustar magic, per-entry typeflags (the reader must SKIP
# non-file entries: a planted directory entry makes the dispatch
# load-bearing), data padded to block boundaries, and an end-of-
# archive marker of two zero blocks. The planted corruption is an
# off-by-one header checksum — only the checksum verification can see
# it (T7), the tar analogue of ZIP's CRC class.
TAR_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_members", T.IntegerType()),
    T.StructField("n_skipped", T.IntegerType()),
    T.StructField("total_bytes", T.LongType()),
    T.StructField("sum_bytes", T.LongType()),
    T.StructField("first_byte", T.IntegerType()),
    T.StructField("last_byte", T.IntegerType()),
])

TAR_M_BASE, TAR_M_MOD = 2, 3      # 2..4 file members per archive
TAR_L_BASE, TAR_L_MOD = 30, 40    # member lengths 30..69
TAR_A, TAR_B, TAR_C = 2741, 173, 31
TAR_CORRUPT_MOD = 19              # first member's checksum off by one


def _build_tar_codecs():
    """Pure-stdlib ustar writer + reader (hand-rolled, not tarfile —
    the byte-level block/octal/checksum discipline is the point)."""

    def _octal(n: int, width: int) -> bytes:
        return (f"{n:0{width - 1}o}").encode() + b"\x00"

    def _header(name: bytes, size: int, typeflag: bytes) -> bytes:
        h = bytearray(512)
        h[0:len(name)] = name
        h[100:108] = _octal(0o644, 8)       # mode
        h[108:116] = _octal(0, 8)           # uid
        h[116:124] = _octal(0, 8)           # gid
        h[124:136] = _octal(size, 12)       # size
        h[136:148] = _octal(0, 12)          # mtime
        h[148:156] = b" " * 8               # chksum blanked for the sum
        h[156:157] = typeflag
        h[257:263] = b"ustar\x00"
        h[263:265] = b"00"
        csum = sum(h)
        h[148:155] = f"{csum:06o}".encode() + b"\x00"
        h[155:156] = b" "
        return bytes(h)

    def member_content(d: int, i: int) -> bytes:
        ln = TAR_L_BASE + (d + i) % TAR_L_MOD
        return bytes((d * TAR_A + i * TAR_B + j * TAR_C) % 256
                     for j in range(ln))

    def make_tar(d: int, corrupt: bool) -> bytes:
        nm = TAR_M_BASE + d % TAR_M_MOD
        out = bytearray()
        # planted non-file entry: readers must dispatch on typeflag
        out += _header(b"data/", 0, b"5")
        for i in range(nm):
            raw = member_content(d, i)
            hdr = _header(f"data/m{i}.bin".encode(), len(raw), b"0")
            if corrupt and i == 0:
                # off-by-one checksum: the only visible defect
                h = bytearray(hdr)
                stated = int(hdr[148:155].rstrip(b"\x00"), 8)
                h[148:155] = f"{stated + 1:06o}".encode() + b"\x00"
                hdr = bytes(h)
            out += hdr + raw
            pad = (-len(raw)) % 512
            out += b"\x00" * pad
        out += b"\x00" * 1024  # end-of-archive marker
        return bytes(out)

    def decode_tar_stats(blob: bytes):
        try:
            p = 0
            n_files = 0
            n_skipped = 0
            total = 0
            sum_b = 0
            first = None
            last = None
            while p + 512 <= len(blob):
                h = blob[p:p + 512]
                if h == b"\x00" * 512:
                    break  # end-of-archive
                if h[257:263] != b"ustar\x00":
                    return None
                stated = int(h[148:156].replace(b"\x00", b" ")
                             .strip() or b"0", 8)
                actual = sum(h[:148]) + 8 * 32 + sum(h[156:])
                if stated != actual:
                    return None
                size = int(h[124:136].replace(b"\x00", b" ")
                           .strip() or b"0", 8)
                typeflag = h[156:157]
                p += 512
                data_end = p + size
                if data_end > len(blob):
                    return None
                if typeflag == b"0":
                    data = blob[p:data_end]
                    n_files += 1
                    total += size
                    sum_b += sum(data)
                    if size:
                        if first is None:
                            first = data[0]
                        last = data[-1]
                else:
                    n_skipped += 1
                p = data_end + ((-size) % 512)
            else:
                return None  # ran off the end without a zero block
            if n_files < 1:
                return None
            return (n_files, n_skipped, total, sum_b, first, last)
        except (ValueError, IndexError):
            return None

    return make_tar, decode_tar_stats


make_tar, decode_tar_stats = _build_tar_codecs()


def synthesize_tar_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real ustar bytes (one directory entry + 2..4 file
    members; member i byte j = (d*TAR_A + i*TAR_B + j*TAR_C) % 256).
    Every TAR_CORRUPT_MOD-th doc's first member header carries an
    off-by-one checksum."""
    mk = make_tar

    def blob_of(d: int) -> bytes:
        return mk(d, d % TAR_CORRUPT_MOD == 0)

    return _synthesize(df, blob_of)


def decode_tar(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_tar_stats, TAR_SCHEMA)


def multimodal_decode_tar_query(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Real ustar parse end-to-end: block walk, octal fields, header
    checksum verification, typeflag dispatch (directory skipped),
    zero-block termination; off-by-one checksums -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_tar(synthesize_tar_payloads(docs))


_TAR_NULL = f"d % {TAR_CORRUPT_MOD} = 0"

_MULTIMODAL_TAR_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    {TAR_M_BASE} + abs(doc_id) % {TAR_M_MOD} AS nm
  FROM documents
), s AS (
  SELECT doc_id, d, nm,
    list_sum(list_transform(range(0, nm),
      i -> {TAR_L_BASE} + (d + i) % {TAR_L_MOD})) AS total_b,
    list_sum(list_transform(range(0, nm),
      i -> list_sum(list_transform(
             range(0, {TAR_L_BASE} + (d + i) % {TAR_L_MOD}),
             j -> (d * {TAR_A} + i * {TAR_B} + j * {TAR_C}) % 256))))
      AS sum_b
  FROM p
)
SELECT doc_id,
  CASE WHEN {_TAR_NULL} THEN NULL ELSE CAST(nm AS INT) END AS n_members,
  CASE WHEN {_TAR_NULL} THEN NULL ELSE 1 END AS n_skipped,
  CASE WHEN {_TAR_NULL} THEN NULL ELSE CAST(total_b AS BIGINT) END
    AS total_bytes,
  CASE WHEN {_TAR_NULL} THEN NULL ELSE CAST(sum_b AS BIGINT) END
    AS sum_bytes,
  CASE WHEN {_TAR_NULL} THEN NULL
       ELSE CAST((d * {TAR_A}) % 256 AS INT) END AS first_byte,
  CASE WHEN {_TAR_NULL} THEN NULL
       ELSE CAST((d * {TAR_A} + (nm - 1) * {TAR_B}
                  + ({TAR_L_BASE} + (d + nm - 1) % {TAR_L_MOD} - 1)
                    * {TAR_C}) % 256 AS INT) END AS last_byte
FROM s
"""

register(QuerySpec("multimodal_decode_tar", multimodal_decode_tar_query,
                   _MULTIMODAL_TAR_SQL,
                   description="real ustar/WebDataset-shard decode: "
                               "512-byte block walk, octal-ASCII "
                               "fields, header checksum verification, "
                               "typeflag dispatch; off-by-one "
                               "checksums -> NULL"))


# --- real MIDI (SMF format 0) decode: VLQ delta times + running status -----------

MIDI_DIV = 480          # ticks per quarter note
MIDI_N_BASE = 4         # notes per file = BASE + d % MOD
MIDI_N_MOD = 13
MIDI_CORRUPT_MOD = 41   # every 41st doc: lying MTrk length (truncation)

MIDI_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_notes", T.IntegerType()),
    T.StructField("total_ticks", T.LongType()),
    T.StructField("pitch_sum", T.LongType()),
    T.StructField("vel_sum", T.LongType()),
    T.StructField("max_delta", T.IntegerType()),
    T.StructField("tempo_us", T.IntegerType()),
])


def _build_midi_codecs():
    """Pure-stdlib Standard-MIDI-File writer + reader (hand-rolled, not
    a library): the disciplines here are the VARIABLE-LENGTH-QUANTITY
    delta-time encoding (7 data bits per byte, high bit = continuation,
    big-endian — the family's first VLQ after bit-packed LZW) and
    RUNNING STATUS (a channel-message status byte is omitted when it
    repeats; note-offs are written as velocity-0 note-ons precisely so
    the whole track rides one 0x90 status — the classic SMF idiom a
    naive parser breaks on)."""

    def vlq(n: int) -> bytes:
        if n < 0:
            raise ValueError("vlq of negative")
        out = [n & 0x7F]
        n >>= 7
        while n:
            out.append((n & 0x7F) | 0x80)
            n >>= 7
        return bytes(reversed(out))

    def _note_params(d: int, k: int):
        pitch = 36 + (d * 7 + k * 5) % 48
        vel = 32 + (d * 11 + k * 13) % 64
        delta_on = (d * 17 + k * 37) % 1000
        dur = 60 + (d + k * 29) % 200
        return pitch, vel, delta_on, dur

    def make_midi(d: int, corrupt: bool) -> bytes:
        nn = MIDI_N_BASE + d % MIDI_N_MOD
        tempo = 400_000 + (d % 100) * 1_000
        ev = bytearray()
        ev += vlq(0) + b"\xff\x51\x03" + tempo.to_bytes(3, "big")
        for k in range(nn):
            pitch, vel, delta_on, dur = _note_params(d, k)
            ev += vlq(delta_on)
            if k == 0:
                ev += b"\x90"          # status stated once...
            ev += bytes((pitch, vel))  # ...then running status
            ev += vlq(dur) + bytes((pitch, 0))  # vel-0 note-off
        ev += vlq(0) + b"\xff\x2f\x00"  # end of track
        stated = len(ev) + (7 if corrupt else 0)  # lying length -> walk
        hdr = (b"MThd" + (6).to_bytes(4, "big")
               + (0).to_bytes(2, "big") + (1).to_bytes(2, "big")
               + MIDI_DIV.to_bytes(2, "big"))
        return hdr + b"MTrk" + stated.to_bytes(4, "big") + bytes(ev)

    def read_vlq(blob: bytes, p: int, end: int):
        n = 0
        for i in range(4):  # spec: a VLQ is at most 4 bytes
            if p >= end:
                raise ValueError("truncated vlq")
            b = blob[p]
            p += 1
            n = (n << 7) | (b & 0x7F)
            if not b & 0x80:
                return n, p
        raise ValueError("overlong vlq")

    def decode_midi_stats(blob: bytes):
        try:
            if blob[:4] != b"MThd" or len(blob) < 14:
                return None
            if int.from_bytes(blob[4:8], "big") != 6:
                return None
            fmt = int.from_bytes(blob[8:10], "big")
            ntrks = int.from_bytes(blob[10:12], "big")
            if fmt != 0 or ntrks != 1:
                return None
            if blob[14:18] != b"MTrk":
                return None
            tlen = int.from_bytes(blob[18:22], "big")
            p, end = 22, 22 + tlen
            if end > len(blob):
                return None
            n_notes = total_ticks = pitch_sum = vel_sum = 0
            max_delta = 0
            tempo = None
            status = None
            ended = False
            while p < end:
                delta, p = read_vlq(blob, p, end)
                total_ticks += delta
                max_delta = max(max_delta, delta)
                if p >= end:
                    return None
                b = blob[p]
                if b == 0xFF:                      # meta event
                    if p + 2 > end:
                        return None
                    mtype = blob[p + 1]
                    mlen, q = read_vlq(blob, p + 2, end)
                    if q + mlen > end:
                        return None
                    if mtype == 0x51:
                        if mlen != 3:
                            return None
                        tempo = int.from_bytes(blob[q:q + mlen], "big")
                    if mtype == 0x2F:
                        if mlen != 0 or q != end:
                            return None  # EOT must close the track
                        ended = True
                        p = q
                        break
                    p = q + mlen
                    continue
                if b & 0x80:                       # new status byte
                    status = b
                    p += 1
                if status is None or not 0x80 <= status <= 0xEF:
                    return None
                ndata = 1 if status & 0xF0 in (0xC0, 0xD0) else 2
                if p + ndata > end:
                    return None
                if status & 0xF0 == 0x90 and blob[p + 1] > 0:
                    n_notes += 1
                    pitch_sum += blob[p]
                    vel_sum += blob[p + 1]
                p += ndata
            if not ended or tempo is None or n_notes < 1:
                return None
            return (n_notes, total_ticks, pitch_sum, vel_sum,
                    max_delta, tempo)
        except (ValueError, IndexError):
            return None

    return make_midi, decode_midi_stats, vlq, read_vlq


make_midi, decode_midi_stats, midi_vlq_encode, midi_vlq_read = \
    _build_midi_codecs()


def synthesize_midi_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real SMF-0 bytes (tempo meta + 4..16 notes as
    running-status velocity-0 pairs, multi-byte VLQ deltas up to 999
    ticks). Every MIDI_CORRUPT_MOD-th doc's MTrk states a length 7
    bytes past the actual events (T7: the walk runs off the stated
    window before end-of-track)."""
    mk = make_midi

    def blob_of(d: int) -> bytes:
        return mk(d, d % MIDI_CORRUPT_MOD == 0)

    return _synthesize(df, blob_of)


def decode_midi(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_midi_stats, MIDI_SCHEMA)


def multimodal_decode_midi_query(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Real SMF parse end-to-end: VLQ delta times, running status,
    meta-event walk, EOT-closes-stated-length check; lying MTrk
    lengths -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_midi(synthesize_midi_payloads(docs))


_MIDI_NULL = f"d % {MIDI_CORRUPT_MOD} = 0"

_MULTIMODAL_MIDI_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    {MIDI_N_BASE} + abs(doc_id) % {MIDI_N_MOD} AS nn
  FROM documents
), s AS (
  SELECT doc_id, d, nn,
    list_sum(list_transform(range(0, nn),
      k -> 36 + (d * 7 + k * 5) % 48)) AS pitch_sum,
    list_sum(list_transform(range(0, nn),
      k -> 32 + (d * 11 + k * 13) % 64)) AS vel_sum,
    list_sum(list_transform(range(0, nn),
      k -> (d * 17 + k * 37) % 1000 + 60 + (d + k * 29) % 200))
      AS total_ticks,
    greatest(
      list_max(list_transform(range(0, nn),
        k -> (d * 17 + k * 37) % 1000)),
      list_max(list_transform(range(0, nn),
        k -> 60 + (d + k * 29) % 200))) AS max_delta
  FROM p
)
SELECT doc_id,
  CASE WHEN {_MIDI_NULL} THEN NULL ELSE CAST(nn AS INT) END AS n_notes,
  CASE WHEN {_MIDI_NULL} THEN NULL ELSE CAST(total_ticks AS BIGINT) END
    AS total_ticks,
  CASE WHEN {_MIDI_NULL} THEN NULL ELSE CAST(pitch_sum AS BIGINT) END
    AS pitch_sum,
  CASE WHEN {_MIDI_NULL} THEN NULL ELSE CAST(vel_sum AS BIGINT) END
    AS vel_sum,
  CASE WHEN {_MIDI_NULL} THEN NULL ELSE CAST(max_delta AS INT) END
    AS max_delta,
  CASE WHEN {_MIDI_NULL} THEN NULL
       ELSE CAST(400000 + (d % 100) * 1000 AS INT) END AS tempo_us
FROM s
"""

register(QuerySpec("multimodal_decode_midi", multimodal_decode_midi_query,
                   _MULTIMODAL_MIDI_SQL,
                   description="real SMF-0 MIDI decode: VLQ delta "
                               "times (7-bit continuation bytes), "
                               "running status over velocity-0 "
                               "note-offs, meta-event walk; lying "
                               "track lengths -> NULL"))


# --- real PNG Adam7 INTERLACED decode (7-pass extraction + deinterlace) ----------

ADAM7_W_BASE = 9    # >= 9 so all seven passes are non-empty
ADAM7_W_MOD = 22
ADAM7_H_BASE = 9
ADAM7_H_MOD = 15
ADAM7_A = 6007
ADAM7_B = 100_003
ADAM7_C = 999_983
ADAM7_CORRUPT_MOD = 43  # every 43rd doc: truncated deflate stream

ADAM7_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_px", T.IntegerType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("pix_min", T.IntegerType()),
    T.StructField("pix_max", T.IntegerType()),
    T.StructField("pass1_sum", T.LongType()),
])

# (x_start, y_start, x_step, y_step) per PNG spec §8.2
ADAM7_PASSES = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _build_png_adam7_codecs():
    """Pure-stdlib Adam7-interlaced PNG codec (struct + zlib).

    The new discipline vs the sequential PNG codec: interlacing splits
    the image into SEVEN reduced sub-images, each with its own scanline
    geometry and its own filter context (the previous row is the
    previous row OF THE PASS, reset at every pass boundary; empty
    passes contribute zero bytes, not empty scanlines). A sequential
    decoder fed an interlaced stream sees the wrong raw length and must
    reject it — asserted in the units — so deinterlacing cannot be
    faked by ignoring the IHDR interlace flag."""
    import struct
    import zlib

    png_magic = b"\x89PNG\r\n\x1a\n"

    def _chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    def _paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    def _filt(row: bytes, prev: bytes, ft: int) -> bytes:
        if ft == 0:
            return bytes(row)
        if ft == 1:
            return bytes((row[x] - (row[x - 1] if x >= 1 else 0)) & 0xFF
                         for x in range(len(row)))
        if ft == 2:
            return bytes((row[x] - prev[x]) & 0xFF
                         for x in range(len(row)))
        if ft == 3:
            return bytes((row[x] - (((row[x - 1] if x >= 1 else 0)
                                     + prev[x]) >> 1)) & 0xFF
                         for x in range(len(row)))
        return bytes((row[x] - _paeth(row[x - 1] if x >= 1 else 0,
                                      prev[x],
                                      prev[x - 1] if x >= 1 else 0)) & 0xFF
                     for x in range(len(row)))

    def make_png_adam7(img: list[bytes], corrupt: bool = False) -> bytes:
        h = len(img)
        w = len(img[0]) if h else 0
        out = bytearray()
        for (x0, y0, dx, dy) in ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            if pw == 0 or ph == 0:
                continue  # empty pass: NO bytes at all
            prev = bytes(pw)
            for j in range(ph):
                row = bytes(img[y0 + j * dy][x0 + i * dx]
                            for i in range(pw))
                ft = j % 5
                out.append(ft)
                out += _filt(row, prev, ft)
                prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)  # interlace=1
        comp = zlib.compress(bytes(out), 6)
        if corrupt:
            comp = comp[:-4]  # truncated deflate: CRCs still verify
        return (png_magic + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", comp) + _chunk(b"IEND", b""))

    def _unfilt(line: bytes, prev: bytes, ft: int):
        n = len(line)
        cur = bytearray(n)
        if ft == 0:
            cur[:] = line
        elif ft == 1:
            for x in range(n):
                cur[x] = (line[x] + (cur[x - 1] if x >= 1 else 0)) & 0xFF
        elif ft == 2:
            for x in range(n):
                cur[x] = (line[x] + prev[x]) & 0xFF
        elif ft == 3:
            for x in range(n):
                cur[x] = (line[x] + (((cur[x - 1] if x >= 1 else 0)
                                      + prev[x]) >> 1)) & 0xFF
        elif ft == 4:
            for x in range(n):
                cur[x] = (line[x] + _paeth(cur[x - 1] if x >= 1 else 0,
                                           prev[x],
                                           prev[x - 1] if x >= 1
                                           else 0)) & 0xFF
        else:
            return None
        return bytes(cur)

    def decode_png_adam7_stats(blob: bytes):
        try:
            if bytes(blob[:8]) != png_magic:
                return None
            i = 8
            w = h = depth = ctype = inter = None
            idat = bytearray()
            while i + 12 <= len(blob):
                (ln,) = struct.unpack(">I", blob[i:i + 4])
                typ = bytes(blob[i + 4:i + 8])
                data = bytes(blob[i + 8:i + 8 + ln])
                if len(data) != ln or i + 12 + ln > len(blob):
                    return None
                (crc,) = struct.unpack(">I", blob[i + 8 + ln:i + 12 + ln])
                if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                    return None
                if typ == b"IHDR":
                    if len(data) != 13:
                        return None
                    w, h, depth, ctype, _, _, inter = struct.unpack(
                        ">IIBBBBB", data)
                elif typ == b"IDAT":
                    idat += data
                elif typ == b"IEND":
                    break
                i += 12 + ln
            if not w or not h or depth != 8 or ctype != 0 or inter != 1:
                return None
            raw = zlib.decompress(bytes(idat))
            img = [bytearray(w) for _ in range(h)]
            p = 0
            for (x0, y0, dx, dy) in ADAM7_PASSES:
                pw = (w - x0 + dx - 1) // dx if w > x0 else 0
                ph = (h - y0 + dy - 1) // dy if h > y0 else 0
                if pw == 0 or ph == 0:
                    continue
                prev = bytes(pw)
                for j in range(ph):
                    if p + 1 + pw > len(raw):
                        return None
                    cur = _unfilt(raw[p + 1:p + 1 + pw], prev, raw[p])
                    if cur is None:
                        return None
                    p += 1 + pw
                    for k in range(pw):
                        img[y0 + j * dy][x0 + k * dx] = cur[k]
                    prev = cur
            if p != len(raw):
                return None  # trailing bytes: not a valid interlaced body
            total = 0
            mn, mx = 255, 0
            p1 = 0
            for y in range(h):
                row = img[y]
                total += sum(row)
                mn = min(mn, min(row))
                mx = max(mx, max(row))
                if y % 8 == 0:
                    p1 += sum(row[0::8])
            return (w, h, w * h, total, mn, mx, p1)
        except Exception:
            return None

    return make_png_adam7, decode_png_adam7_stats


make_png_adam7, decode_png_adam7_stats = _build_png_adam7_codecs()


def synthesize_png_adam7_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> real Adam7-interlaced PNG bytes; pixel (y, x) =
    (d*A + y*B + x*C) % 256, width/height >= 9 so all seven passes are
    exercised. Every ADAM7_CORRUPT_MOD-th doc ships a truncated deflate
    stream whose chunk CRCs still verify (the defect is only visible to
    the inflater)."""
    mk = make_png_adam7
    wb, wm, hb, hm = ADAM7_W_BASE, ADAM7_W_MOD, ADAM7_H_BASE, ADAM7_H_MOD
    a, b, c = ADAM7_A, ADAM7_B, ADAM7_C

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        img = [bytes((d * a + y * b + x * c) % 256
                     for x in range(w)) for y in range(h)]
        return mk(img, corrupt=(d % ADAM7_CORRUPT_MOD == 0))

    return _synthesize(df, blob_of)


def decode_png_adam7(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_png_adam7_stats, ADAM7_SCHEMA)


def multimodal_decode_png_adam7_query(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Real Adam7 decode end-to-end: 7-pass sub-image extraction with
    per-pass filter contexts on the encode side, inflate + per-pass
    unfilter + DEINTERLACE on the decode side; stats (plus the pass-1
    lattice sum proving placement) recomputed by the oracle from the
    pixel formula alone. Truncated deflate -> NULL rows (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_png_adam7(synthesize_png_adam7_payloads(docs))


_ADAM7_NULL = f"d % {ADAM7_CORRUPT_MOD} = 0"

_MULTIMODAL_ADAM7_SQL = f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST({ADAM7_W_BASE} + abs(doc_id) % {ADAM7_W_MOD} AS INT) AS width,
    CAST({ADAM7_H_BASE} + abs(doc_id) % {ADAM7_H_MOD} AS INT) AS height
  FROM documents
), px AS (
  SELECT doc_id, d, width, height,
    list_transform(range(0, width * height),
      i -> (d * {ADAM7_A} + (i // width) * {ADAM7_B}
            + (i % width) * {ADAM7_C}) % 256) AS vals,
    list_sum(list_transform(range(0, width * height),
      i -> CASE WHEN (i // width) % 8 = 0 AND (i % width) % 8 = 0
           THEN (d * {ADAM7_A} + (i // width) * {ADAM7_B}
                 + (i % width) * {ADAM7_C}) % 256 ELSE 0 END)) AS p1
  FROM p
)
SELECT doc_id,
  CASE WHEN {_ADAM7_NULL} THEN NULL ELSE width END AS width,
  CASE WHEN {_ADAM7_NULL} THEN NULL ELSE height END AS height,
  CASE WHEN {_ADAM7_NULL} THEN NULL
       ELSE CAST(width * height AS INT) END AS n_px,
  CASE WHEN {_ADAM7_NULL} THEN NULL
       ELSE CAST(list_sum(vals) AS BIGINT) END AS pix_sum,
  CASE WHEN {_ADAM7_NULL} THEN NULL
       ELSE CAST(list_min(vals) AS INT) END AS pix_min,
  CASE WHEN {_ADAM7_NULL} THEN NULL
       ELSE CAST(list_max(vals) AS INT) END AS pix_max,
  CASE WHEN {_ADAM7_NULL} THEN NULL
       ELSE CAST(p1 AS BIGINT) END AS pass1_sum
FROM px
"""

register(QuerySpec("multimodal_decode_png_adam7",
                   multimodal_decode_png_adam7_query,
                   _MULTIMODAL_ADAM7_SQL,
                   description="real Adam7-interlaced PNG decode: "
                               "7-pass extraction, per-pass filter "
                               "contexts, deinterlace placement (pass-1 "
                               "lattice sum pinned); truncated deflate "
                               "-> NULL"))


# --- audio FIR convolution features (box filter over decoded PCM) ----------------
# FIR_TAPS / FIR_HOT are defined next to the other WAV constants above
# _build_audio_codecs so the Python decoder defaults and this SQL oracle
# share one definition.

FIR_CORRUPT_MOD = 19

FIR_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_out", T.IntegerType()),
    T.StructField("fir_peak", T.IntegerType()),
    T.StructField("fir_sum", T.LongType()),
    T.StructField("fir_hot", T.LongType()),
])


def decode_wav_fir(df: DataFrame) -> DataFrame:
    return _decode_stats(df, parse_wav_fir, FIR_SCHEMA)


def multimodal_audio_fir_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Integer box-FIR (4-tap 'valid' convolution) over genuinely
    decoded, de-interleaved channel-0 PCM — the smoothing/feature
    kernel an audio-quality gate runs before thresholding; the sliding
    window is maintained as a running sum (one add + one subtract per
    output, not taps multiplies). Truncated RIFF stubs -> NULL (T7)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_wav_fir(
        synthesize_wav_payloads(docs, corrupt_mod=FIR_CORRUPT_MOD))


def _fir_sql() -> str:
    def s(idx: str) -> str:
        return (f"((d * {WAV_SAMPLE_A} + ({idx}) * {WAV_SAMPLE_B}) "
                f"% {WAV_SAMPLE_MOD}) - {WAV_SAMPLE_OFF}")

    y = " + ".join(s(f"(f + {j}) * channels") for j in range(FIR_TAPS))
    cm = FIR_CORRUPT_MOD
    return f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    CAST(1 + abs(doc_id) % 2 AS INT) AS channels,
    CAST({WAV_FRAMES_BASE} + abs(doc_id) % {WAV_FRAMES_MOD} AS INT)
      AS n_frames
  FROM documents
), feat AS (
  SELECT doc_id, d, channels,
    n_frames - {FIR_TAPS} + 1 AS n_out,
    list_max(list_transform(range(0, n_frames - {FIR_TAPS} + 1),
      f -> abs({y}))) AS fir_peak,
    list_sum(list_transform(range(0, n_frames - {FIR_TAPS} + 1),
      f -> {y})) AS fir_sum,
    list_sum(list_transform(range(0, n_frames - {FIR_TAPS} + 1),
      f -> CASE WHEN abs({y}) > {FIR_HOT} THEN 1 ELSE 0 END)) AS fir_hot
  FROM p
)
SELECT doc_id,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE channels END AS channels,
  CASE WHEN d % {cm} = 0 THEN NULL ELSE CAST(n_out AS INT) END AS n_out,
  CASE WHEN d % {cm} = 0 THEN NULL
       ELSE CAST(fir_peak AS INT) END AS fir_peak,
  CASE WHEN d % {cm} = 0 THEN NULL
       ELSE CAST(fir_sum AS BIGINT) END AS fir_sum,
  CASE WHEN d % {cm} = 0 THEN NULL
       ELSE CAST(fir_hot AS BIGINT) END AS fir_hot
FROM feat
"""


register(QuerySpec("multimodal_audio_fir", multimodal_audio_fir_query,
                   _fir_sql(),
                   description="integer box-FIR convolution features "
                               "over decoded de-interleaved PCM "
                               "(running-sum sliding window); "
                               "truncated RIFF -> NULL"))


# --- JPEG restart-interval (DRI/RSTn) decode with per-segment salvage ------------
#
# The family's first RESYNC discipline (r12): every prior corruption
# class is all-or-nothing — one bad byte NULLs the whole payload. Real
# baseline JPEG has the repair mechanism built in: a DRI marker declares
# a restart interval, RST0..RST7 markers punctuate the entropy stream
# every N MCUs, and the DC predictor resets at each one — so a decoder
# that hits garbage can SKIP to the next restart marker and keep
# decoding, losing only the damaged interval. That per-segment salvage
# (what a production corpus pipeline actually does with damaged images)
# is the new semantic: a corrupt segment yields a row with the OTHER
# segments' pixels accounted, not a NULL row. Reference decode behavior
# per ITU T.81 §B.2.1.2 (DRI), §E.2.4 (restart processing).
#
# Planted classes (disjoint by CASE precedence, mirrored in the oracle):
#   d % DRI_CORRUPT_MOD == 0 -> ONE segment's entropy is an undecodable
#       bit pattern; every other segment decodes (salvage).
#   d % DRI_TRUNC_MOD == 0   -> the stream ends right after the last
#       RST: the tail segment and EOI never arrive; everything before
#       the cut decodes (salvage) — unless the image has a single
#       segment, where there is no marker to resync to and the payload
#       is honestly lost (NULL row).
#   d % DRI_BADRST_MOD == 0  -> a restart marker carries the WRONG
#       ordinal (RST1 where RST0 is due): the marker sequence itself is
#       corrupt, so block positions can no longer be trusted -> NULL.

DRI_W_BASE, DRI_W_MOD = 8, 21
DRI_H_BASE, DRI_H_MOD = 8, 13
DRI_R_BASE, DRI_R_MOD = 2, 5      # restart interval: 2..6 MCUs
DRI_CORRUPT_MOD = 11
DRI_TRUNC_MOD = 13
DRI_BADRST_MOD = 19

DRI_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_segs", T.IntegerType()),
    T.StructField("n_ok_blocks", T.IntegerType()),
    T.StructField("ok_pix_sum", T.LongType()),
])


def _build_jpeg_dri_codecs():
    """Pure-stdlib DRI-enabled baseline JPEG codec pair. Self-contained
    closure factory (the multimodal discipline: classes/functions that
    ship to executors pickle by VALUE). Huffman/quant tables match the
    plain JPEG builder — one shared table discipline — but the plain
    decoder deliberately REJECTS restart-punctuated scans (an RST where
    it expects EOI), and this decoder requires a DRI marker: each
    certifies its own stream class."""
    import math
    import struct

    DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    DC_VALS = tuple(range(12))
    AC_BITS = (1, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    AC_VALS = (0x00, 0x01, 0xF0)
    QTAB = (JPEG_QDC,) + (17,) * 63

    def _canonical(bits, vals):
        enc, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                enc[vals[k]] = (code, ln)
                k += 1
                code += 1
            code <<= 1
        return enc

    DC_ENC = _canonical(DC_BITS, DC_VALS)
    AC_ENC = _canonical(AC_BITS, AC_VALS)

    class _BitW:
        def __init__(self):
            self.buf, self.acc, self.n = bytearray(), 0, 0

        def put(self, code, length):
            for i in range(length - 1, -1, -1):
                self.acc = (self.acc << 1) | ((code >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.buf.append(self.acc)
                    if self.acc == 0xFF:
                        self.buf.append(0)
                    self.acc, self.n = 0, 0

        def flush(self):
            while self.n:
                self.put(1, 1)

    def _cat(v):
        return v.bit_length() if v >= 0 else (-v).bit_length()

    def _amp(v, c):
        return v if v >= 0 else v + (1 << c) - 1

    def _headers(w, h, restart_every):
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(QTAB)
        out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) \
            + bytes((1, 0x11, 0))
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(DC_VALS)) \
            + b"\x00" + bytes(DC_BITS) + bytes(DC_VALS)
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(AC_VALS)) \
            + b"\x10" + bytes(AC_BITS) + bytes(AC_VALS)
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_every)  # DRI
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes((1, 0x00, 0, 63, 0))
        return out

    def make_jpeg_dri(dc_grid, w, h, restart_every, corrupt_seg=None,
                      truncate_tail=False, bad_rst=False) -> bytes:
        """Baseline grayscale JPEG with a DRI marker and RSTn-punctuated
        entropy segments of ``restart_every`` MCUs; DC prediction resets
        per segment (the resync contract). ``corrupt_seg`` replaces that
        segment's entropy with an undecodable bit pattern; ``truncate``
        drops the final segment AND the EOI; ``bad_rst`` writes RST1
        where RST0 is due."""
        out = _headers(w, h, restart_every)
        nb = len(dc_grid)
        n_segs = -(-nb // restart_every)
        for s in range(n_segs):
            if s == n_segs - 1 and truncate_tail:
                return bytes(out)  # tail segment + EOI never arrive
            if s == corrupt_seg:
                out += b"\xff\x00\xff\x00"  # 16 one-bits: no DC code
            else:
                bw = _BitW()
                prev = 0
                for bi in range(s * restart_every,
                                min((s + 1) * restart_every, nb)):
                    diff = dc_grid[bi] - prev
                    prev = dc_grid[bi]
                    c = _cat(diff)
                    code, ln = DC_ENC[c]
                    bw.put(code, ln)
                    if c:
                        bw.put(_amp(diff, c), c)
                    code, ln = AC_ENC[0x00]
                    bw.put(code, ln)
                bw.flush()
                out += bw.buf
            if s < n_segs - 1:
                m = s % 8
                if bad_rst and s == 0:
                    m = (m + 1) % 8
                out += bytes((0xFF, 0xD0 + m))
        out += b"\xff\xd9"
        return bytes(out)

    COS = [[math.cos((2 * i + 1) * u * math.pi / 16) for u in range(8)]
           for i in range(8)]
    C = [1 / math.sqrt(2)] + [1.0] * 7

    class _BitR:
        def __init__(self, data):
            self.d, self.i, self.acc, self.n = data, 0, 0, 0

        def bit(self):
            if not self.n:
                self.acc = self.d[self.i]  # IndexError -> segment bad
                self.i += 1
                self.n = 8
            self.n -= 1
            return (self.acc >> self.n) & 1

        def bits(self, k):
            v = 0
            for _ in range(k):
                v = (v << 1) | self.bit()
            return v

        def huff(self, table):
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | self.bit()
                ln += 1
                if (ln, code) in table:
                    return table[(ln, code)]
            raise ValueError("invalid huffman code")

    def _extend(v, c):
        return v if v >= (1 << (c - 1)) else v - (1 << c) + 1

    def decode_jpeg_dri_stats(blob: bytes):
        """(width, height, n_blocks, n_segs, n_ok_blocks, ok_pix_sum)
        with per-segment SALVAGE, or None on structural defects (bad
        ordinal sequence, more segments than the geometry admits, no
        resync point on a truncated stream). ``ok_pix_sum`` sums the
        in-image pixels of every block whose segment decoded."""
        try:
            blob = bytes(blob)
            if blob[:2] != b"\xff\xd8":
                return None
            i = 2
            qt: dict = {}
            huffs: dict = {}
            w = h = sof_tq = None
            dri = None
            segs = None
            rst_ords: list = []
            ended_with_eoi = False
            while i < len(blob):
                if blob[i] != 0xFF:
                    return None
                m = blob[i + 1]
                i += 2
                if m == 0xD9:
                    return None  # EOI before any scan data
                ln = struct.unpack(">H", blob[i:i + 2])[0]
                seg = blob[i + 2:i + ln]
                if len(seg) != ln - 2:
                    return None
                if m == 0xDB:
                    j = 0
                    while j < len(seg):
                        if seg[j] >> 4 != 0:
                            return None
                        qt[seg[j] & 15] = list(seg[j + 1:j + 65])
                        if len(qt[seg[j] & 15]) != 64:
                            return None
                        j += 65
                elif m == 0xC0:
                    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
                    if prec != 8 or nc != 1 or seg[7] != 0x11:
                        return None
                    sof_tq = seg[8]
                elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                           0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    return None
                elif m == 0xC4:
                    j = 0
                    while j < len(seg):
                        tc, th = seg[j] >> 4, seg[j] & 15
                        bits = seg[j + 1:j + 17]
                        nv = sum(bits)
                        vals = seg[j + 17:j + 17 + nv]
                        if len(vals) != nv:
                            return None
                        tbl, code, k = {}, 0, 0
                        for L in range(1, 17):
                            for _ in range(bits[L - 1]):
                                tbl[(L, code)] = vals[k]
                                k += 1
                                code += 1
                            code <<= 1
                        huffs[(tc, th)] = tbl
                        j += 17 + nv
                elif m == 0xDD:  # DRI
                    if len(seg) != 2:
                        return None
                    dri = struct.unpack(">H", seg)[0]
                elif m == 0xDA:
                    if seg[0] != 1:
                        return None
                    sos_td, sos_ta = seg[2] >> 4, seg[2] & 15
                    j = i + ln
                    segs = [bytearray()]
                    while j < len(blob):
                        b0 = blob[j]
                        if b0 == 0xFF:
                            if j + 1 >= len(blob):
                                break  # dangling FF: truncated
                            nxt = blob[j + 1]
                            if nxt == 0x00:
                                segs[-1].append(0xFF)
                                j += 2
                                continue
                            if 0xD0 <= nxt <= 0xD7:  # RSTn: resync point
                                rst_ords.append(nxt - 0xD0)
                                segs.append(bytearray())
                                j += 2
                                continue
                            if nxt == 0xD9:
                                ended_with_eoi = True
                            break
                        segs[-1].append(b0)
                        j += 1
                    break
                i += ln
            if segs is None or w is None or not w or not h or not dri:
                return None
            # the marker SEQUENCE is the resync trust anchor: a wrong
            # ordinal means block positions can't be recovered
            for idx, mm in enumerate(rst_ords):
                if mm != idx % 8:
                    return None
            if not ended_with_eoi and not rst_ords:
                return None  # truncated with nothing to resync to
            dct, act = huffs[(0, sos_td)], huffs[(1, sos_ta)]
            q = qt[sof_tq]
            nbx, nby = -(-w // 8), -(-h // 8)
            nb = nbx * nby
            n_segs = -(-nb // dri)
            if len(segs) > n_segs:
                return None  # more restart intervals than MCUs admit
            n_ok = 0
            pix_sum = 0
            for s in range(n_segs):
                if s >= len(segs):
                    break  # lost to truncation: blocks stay missing
                lo, hi = s * dri, min((s + 1) * dri, nb)
                br = _BitR(bytes(segs[s]))
                prev = 0
                got = []  # (bi, coef) decoded this segment
                try:
                    for bi in range(lo, hi):
                        coef = [0] * 64
                        c = br.huff(dct)
                        if c > 11:
                            raise ValueError("bad DC category")
                        diff = _extend(br.bits(c), c) if c else 0
                        prev += diff
                        coef[0] = prev * q[0]
                        k = 1
                        while k < 64:
                            rs = br.huff(act)
                            if rs == 0x00:
                                break
                            if rs == 0xF0:
                                k += 16
                                continue
                            k += rs >> 4
                            sz = rs & 15
                            if k > 63 or not sz:
                                raise ValueError("bad AC run")
                            coef[_JPEG_ZIGZAG[k]] = \
                                _extend(br.bits(sz), sz) * q[k]
                            k += 1
                        got.append((bi, coef))
                except (ValueError, IndexError):
                    continue  # segment lost; next RST resyncs
                for bi, coef in got:
                    by, bx = divmod(bi, nbx)
                    for y in range(min(8, h - by * 8)):
                        for x in range(min(8, w - bx * 8)):
                            v = 0.0
                            for u in range(8):
                                cu = C[u] * COS[x][u]
                                for t in range(8):
                                    f = coef[t * 8 + u]
                                    if f:
                                        v += C[t] * cu * COS[y][t] * f
                            p = int(round(v / 4)) + 128
                            pix_sum += min(255, max(0, p))
                n_ok += len(got)
            return (w, h, nb, n_segs, n_ok, pix_sum)
        except (ValueError, IndexError, KeyError, struct.error):
            return None

    return make_jpeg_dri, decode_jpeg_dri_stats


make_jpeg_dri, decode_jpeg_dri_stats = _build_jpeg_dri_codecs()


def synthesize_jpeg_dri_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> DRI-enabled baseline JPEG (restart interval 2..6 MCUs,
    doc-derived) with the three planted damage classes in-band; DC
    grids reuse :func:`jpeg_dc_value`."""
    mk, dcv = make_jpeg_dri, jpeg_dc_value
    wb, wm, hb, hm = DRI_W_BASE, DRI_W_MOD, DRI_H_BASE, DRI_H_MOD
    rb, rm = DRI_R_BASE, DRI_R_MOD
    cm, tm, bm = DRI_CORRUPT_MOD, DRI_TRUNC_MOD, DRI_BADRST_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        r = rb + d % rm
        nbx, nby = -(-w // 8), -(-h // 8)
        nb = nbx * nby
        n_segs = -(-nb // r)
        grid = [dcv(d, by, bx)
                for by in range(nby) for bx in range(nbx)]
        kw = {}
        if d % cm == 0:
            kw["corrupt_seg"] = (d // cm) % n_segs
        elif d % tm == 0:
            kw["truncate_tail"] = True
        elif d % bm == 0 and n_segs > 1:
            # a single-segment image writes no RST marker, so
            # there is no ordinal to corrupt: such docs are OK
            kw["bad_rst"] = True
        return mk(grid, w, h, r, **kw)

    return _synthesize(df, blob_of)


def decode_jpeg_dri(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_jpeg_dri_stats, DRI_SCHEMA)


def multimodal_jpeg_restart_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """DRI/RSTn salvage end-to-end: synthesize restart-punctuated
    streams with planted per-segment damage, decode OUT OF THE BYTES
    with resync, and pin the salvage accounting against the oracle's
    arithmetic mirror (which segment each block belongs to, which
    segments survive each damage class, the in-image pixel count and
    the 2·dc+128 constant of every surviving block)."""
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_jpeg_dri(synthesize_jpeg_dri_payloads(docs))


def _jpeg_dri_sql() -> str:
    dcv = (f"((d * {JPEG_DC_A} + (i // nbx) * {JPEG_DC_B} "
           f"+ (i % nbx) * {JPEG_DC_C}) % {JPEG_DC_MOD} - 64)")
    npix = (f"(least(8, height - (i // nbx) * 8) "
            f"* least(8, width - (i % nbx) * 8))")
    seg_ok = (f"CASE WHEN cls = 'corrupt' THEN (i // r) <> cseg "
              f"WHEN cls = 'trunc' THEN (i // r) < n_segs - 1 "
              f"ELSE TRUE END")
    return f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    {DRI_W_BASE} + abs(doc_id) % {DRI_W_MOD} AS width,
    {DRI_H_BASE} + abs(doc_id) % {DRI_H_MOD} AS height,
    {DRI_R_BASE} + abs(doc_id) % {DRI_R_MOD} AS r
  FROM documents
), g AS (
  SELECT doc_id, d, width, height, r,
    (width + 7) // 8 AS nbx,
    ((width + 7) // 8) * ((height + 7) // 8) AS nb
  FROM p
), cl AS (
  SELECT *, (nb + r - 1) // r AS n_segs,
    CASE WHEN d % {DRI_CORRUPT_MOD} = 0 THEN 'corrupt'
         WHEN d % {DRI_TRUNC_MOD} = 0 THEN 'trunc'
         WHEN d % {DRI_BADRST_MOD} = 0 AND (nb + r - 1) // r > 1
           THEN 'badrst'
         ELSE 'ok' END AS cls,
    CASE WHEN d % {DRI_CORRUPT_MOD} = 0
         THEN (d // {DRI_CORRUPT_MOD}) % ((nb + r - 1) // r) END AS cseg
  FROM g
), ok AS (
  SELECT doc_id, width, height, nb, n_segs,
    CAST(list_sum(list_transform(range(0, nb),
      i -> CASE WHEN {seg_ok} THEN 1 ELSE 0 END)) AS INT) AS n_ok_blocks,
    CAST(list_sum(list_transform(range(0, nb),
      i -> CASE WHEN {seg_ok}
           THEN {npix} * least(greatest(2 * {dcv} + 128, 0), 255)
           ELSE 0 END)) AS BIGINT) AS ok_pix_sum
  FROM cl WHERE cls <> 'badrst' AND NOT (cls = 'trunc' AND n_segs = 1)
)
SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
  CAST(nb AS INT) AS n_blocks, CAST(n_segs AS INT) AS n_segs,
  n_ok_blocks, ok_pix_sum
FROM ok
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL
FROM cl WHERE cls = 'badrst' OR (cls = 'trunc' AND n_segs = 1)
"""


register(QuerySpec("multimodal_jpeg_restart", multimodal_jpeg_restart_query,
                   _jpeg_dri_sql(),
                   description="DRI/RSTn restart-interval JPEG decode "
                               "with per-segment SALVAGE: a corrupt or "
                               "truncated interval loses only itself "
                               "(the family's first resync discipline); "
                               "wrong restart ordinal -> NULL"))


# --- progressive JPEG (SOF2): DC scan + successive-approximation refinement ------
#
# The family's first MULTI-SCAN accumulation discipline (r12): baseline
# JPEG delivers each block once; progressive JPEG delivers the image as
# a SEQUENCE of scans that successively refine shared coefficient
# state — the format every large web corpus is full of, and the reason
# thumbnailers can render a preview from a prefix of the file. This
# codec implements the DC band (Ss=Se=0) pair per ITU T.81 §G: a FIRST
# scan carrying the point-transformed coefficients (dc >> Al,
# Huffman-coded diffs exactly like baseline — the arithmetic shift is
# two's-complement, so Python's >> on negatives is the spec behavior)
# and a REFINEMENT scan (Ah=1, Al=0) carrying ONE RAW BIT per block —
# no Huffman at all, the successive-approximation low bit:
# dc = (first << 1) | bit. Blocks whose refinement bit never arrives
# keep their PREVIEW value (first << 1 = dc − (dc & 1)) — which makes
# truncated refinement a PER-BLOCK salvage class, sharper than the
# DRI codec's per-segment one.
#
# Planted classes (CASE precedence, mirrored in the oracle):
#   d % PROG_PARTIAL_MOD == 0 -> the refinement scan is truncated to K
#       unstuffed bytes: the first min(nb, 8K) blocks are refined, the
#       rest stay preview (mixed per-block state, exactly what a real
#       decoder shows for a half-downloaded progressive file).
#   d % PROG_PREVIEW_MOD == 0 -> the refinement scan never arrives
#       (n_scans = 1): every block at its preview value.
#   d % PROG_BASELINE_MOD == 0 -> a BASELINE (SOF0) stream: the
#       progressive decoder rejects it (NULL row) just as the baseline
#       decoders reject SOF2 — each certifies its own frame class.

PROG_W_BASE, PROG_W_MOD = 8, 21
PROG_H_BASE, PROG_H_MOD = 8, 13
PROG_PARTIAL_MOD = 11
PROG_PREVIEW_MOD = 13
PROG_BASELINE_MOD = 19
PROG_AL = 1  # successive-approximation split: first scan sends dc >> 1

PROG_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_scans", T.IntegerType()),
    T.StructField("n_refined", T.IntegerType()),
    T.StructField("pix_sum", T.LongType()),
])


def _build_jpeg_prog_codecs():
    """Pure-stdlib progressive-DC JPEG codec pair (closure factory:
    ships to executors by value)."""
    import struct

    DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    DC_VALS = tuple(range(12))
    QTAB = (JPEG_QDC,) + (17,) * 63

    def _canonical(bits, vals):
        enc, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                enc[vals[k]] = (code, ln)
                k += 1
                code += 1
            code <<= 1
        return enc

    DC_ENC = _canonical(DC_BITS, DC_VALS)

    class _BitW:
        def __init__(self):
            self.buf, self.acc, self.n = bytearray(), 0, 0

        def put(self, code, length):
            for i in range(length - 1, -1, -1):
                self.acc = (self.acc << 1) | ((code >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.buf.append(self.acc)
                    if self.acc == 0xFF:
                        self.buf.append(0)
                    self.acc, self.n = 0, 0

        def flush(self):
            while self.n:
                self.put(1, 1)

    def _cat(v):
        return v.bit_length() if v >= 0 else (-v).bit_length()

    def _amp(v, c):
        return v if v >= 0 else v + (1 << c) - 1

    def make_jpeg_prog(dc_grid, w, h, refine=True,
                       refine_bytes=None) -> bytes:
        """Progressive grayscale JPEG: SOF2 + DC first scan at Al=1 +
        (optionally) the Ah=1 refinement scan. ``refine_bytes``
        truncates the refinement data to that many UNSTUFFED bytes
        (None = full)."""
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(QTAB)
        out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) \
            + bytes((1, 0x11, 0))                          # SOF2
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(DC_VALS)) \
            + b"\x00" + bytes(DC_BITS) + bytes(DC_VALS)
        # scan 1: DC first scan, Ss=Se=0, Ah=0, Al=PROG_AL
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes((1, 0x00, 0, 0, PROG_AL))
        bw = _BitW()
        prev = 0
        for dc in dc_grid:
            v = dc >> PROG_AL  # arithmetic shift: the DC point transform
            diff = v - prev
            prev = v
            c = _cat(diff)
            code, ln = DC_ENC[c]
            bw.put(code, ln)
            if c:
                bw.put(_amp(diff, c), c)
        bw.flush()
        out += bw.buf
        if refine:
            # scan 2: DC refinement, Ah=PROG_AL, Al=0 — one raw bit per
            # block, NO Huffman (T.81 §G.1.2.1)
            out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
                + bytes((1, 0x00, 0, 0, (PROG_AL << 4) | 0))
            raw = bytearray()
            acc, n = 0, 0
            for dc in dc_grid:
                acc = (acc << 1) | (dc & 1)
                n += 1
                if n == 8:
                    raw.append(acc)
                    acc, n = 0, 0
            if n:
                raw.append((acc << (8 - n)) | ((1 << (8 - n)) - 1))
            if refine_bytes is not None:
                raw = raw[:refine_bytes]
            for b in raw:  # stuff on write, like any entropy data
                out.append(b)
                if b == 0xFF:
                    out.append(0)
        out += b"\xff\xd9"
        return bytes(out)

    class _BitR:
        def __init__(self, data):
            self.d, self.i, self.acc, self.n = data, 0, 0, 0

        def bit(self):
            if not self.n:
                self.acc = self.d[self.i]
                self.i += 1
                self.n = 8
            self.n -= 1
            return (self.acc >> self.n) & 1

        def bits(self, k):
            v = 0
            for _ in range(k):
                v = (v << 1) | self.bit()
            return v

        def huff(self, table):
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | self.bit()
                ln += 1
                if (ln, code) in table:
                    return table[(ln, code)]
            raise ValueError("invalid huffman code")

    def _extend(v, c):
        return v if v >= (1 << (c - 1)) else v - (1 << c) + 1

    def decode_jpeg_prog_stats(blob: bytes):
        """(width, height, n_blocks, n_scans, n_refined, pix_sum) from
        a progressive DC-band stream, or None on structural defects
        (non-SOF2 frame, AC scans, wrong approximation parameters).
        Blocks without a refinement bit keep the preview value — the
        per-block salvage contract."""
        try:
            blob = bytes(blob)
            if blob[:2] != b"\xff\xd8":
                return None
            i = 2
            qt: dict = {}
            huffs: dict = {}
            w = h = sof_tq = None
            scans = []  # (Ss, Se, Ah, Al, td, data)
            while i < len(blob):
                if blob[i] != 0xFF:
                    return None
                m = blob[i + 1]
                i += 2
                if m == 0xD9:
                    break
                ln = struct.unpack(">H", blob[i:i + 2])[0]
                seg = blob[i + 2:i + ln]
                if len(seg) != ln - 2:
                    return None
                if m == 0xDB:
                    j = 0
                    while j < len(seg):
                        if seg[j] >> 4 != 0:
                            return None
                        qt[seg[j] & 15] = list(seg[j + 1:j + 65])
                        if len(qt[seg[j] & 15]) != 64:
                            return None
                        j += 65
                elif m == 0xC2:  # SOF2 progressive — the ONLY frame here
                    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
                    if prec != 8 or nc != 1 or seg[7] != 0x11:
                        return None
                    sof_tq = seg[8]
                elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                           0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    return None  # every other frame class rejected
                elif m == 0xC4:
                    j = 0
                    while j < len(seg):
                        tc, th = seg[j] >> 4, seg[j] & 15
                        bits = seg[j + 1:j + 17]
                        nv = sum(bits)
                        vals = seg[j + 17:j + 17 + nv]
                        if len(vals) != nv:
                            return None
                        tbl, code, k = {}, 0, 0
                        for L in range(1, 17):
                            for _ in range(bits[L - 1]):
                                tbl[(L, code)] = vals[k]
                                k += 1
                                code += 1
                            code <<= 1
                        huffs[(tc, th)] = tbl
                        j += 17 + nv
                elif m == 0xDA:
                    if seg[0] != 1:
                        return None
                    td = seg[2] >> 4
                    ss, se, ahal = seg[3], seg[4], seg[5]
                    data = bytearray()
                    j = i + ln
                    while j < len(blob) - 1:
                        b0 = blob[j]
                        if b0 == 0xFF:
                            if blob[j + 1] == 0x00:
                                data.append(0xFF)
                                j += 2
                                continue
                            break
                        data.append(b0)
                        j += 1
                    scans.append((ss, se, ahal >> 4, ahal & 15, td,
                                  bytes(data)))
                    i = j
                    continue
                i += ln
            if w is None or not w or not h or not scans:
                return None
            nbx, nby = -(-w // 8), -(-h // 8)
            nb = nbx * nby
            ss, se, ah, al, td, data = scans[0]
            if (ss, se, ah, al) != (0, 0, 0, PROG_AL):
                return None  # first scan must be the DC band at Al
            dct = huffs[(0, td)]
            q = qt[sof_tq]
            br = _BitR(data)
            prev = 0
            first = []
            for _ in range(nb):
                c = br.huff(dct)
                if c > 11:
                    return None
                diff = _extend(br.bits(c), c) if c else 0
                prev += diff
                first.append(prev)
            n_refined = 0
            refined_dc = [v << PROG_AL for v in first]  # preview values
            if len(scans) > 1:
                ss2, se2, ah2, al2, _, rdata = scans[1]
                if (ss2, se2, ah2, al2) != (0, 0, PROG_AL, 0):
                    return None
                if len(scans) > 2:
                    return None  # AC scans: outside this decoder's band
                n_refined = min(nb, len(rdata) * 8)
                rr = _BitR(rdata)
                for bi in range(n_refined):
                    refined_dc[bi] |= rr.bit()
            # Se=0 scans carry NO AC, so the 8x8 IDCT of each block is
            # the constant dc·q0/8 exactly — computed directly (the
            # baseline decoders run the full IDCT because AC can exist)
            pix_sum = 0
            for bi, dc in enumerate(refined_dc):
                by, bx = divmod(bi, nbx)
                npix = min(8, h - by * 8) * min(8, w - bx * 8)
                val = (dc * q[0]) // 8 if (dc * q[0]) % 8 == 0 else None
                if val is None:  # q0=16 makes this exact; guard anyway
                    val = round(dc * q[0] / 8)
                pix_sum += npix * min(255, max(0, val + 128))
            return (w, h, nb, len(scans), n_refined, pix_sum)
        except (ValueError, IndexError, KeyError, struct.error):
            return None

    return make_jpeg_prog, decode_jpeg_prog_stats


make_jpeg_prog, decode_jpeg_prog_stats = _build_jpeg_prog_codecs()


def synthesize_jpeg_prog_payloads(df: DataFrame) -> DataFrame:
    mk, dcv, mk_base = make_jpeg_prog, jpeg_dc_value, make_jpeg_dc
    wb, wm, hb, hm = PROG_W_BASE, PROG_W_MOD, PROG_H_BASE, PROG_H_MOD
    cm, tm, bm = PROG_PARTIAL_MOD, PROG_PREVIEW_MOD, PROG_BASELINE_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        nbx, nby = -(-w // 8), -(-h // 8)
        nb = nbx * nby
        grid = [dcv(d, by, bx)
                for by in range(nby) for bx in range(nbx)]
        if d % cm == 0:
            kept = (d // cm) % (nb // 8 + 1)
            return mk(grid, w, h, refine_bytes=kept)
        if d % tm == 0:
            return mk(grid, w, h, refine=False)
        if d % bm == 0:
            return mk_base(grid, w, h)  # SOF0 in-band
        return mk(grid, w, h)

    return _synthesize(df, blob_of)


def decode_jpeg_prog(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_jpeg_prog_stats, PROG_SCHEMA)


def multimodal_jpeg_progressive_query(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_jpeg_prog(synthesize_jpeg_prog_payloads(docs))


def _jpeg_prog_sql() -> str:
    # preview value of a block = dc − (dc & 1); low bit via pmod (both
    # engines' % is sign-preserving, so ((dc % 2) + 2) % 2 is the
    # two's-complement low bit for negatives too)
    dcv = (f"((d * {JPEG_DC_A} + (i // nbx) * {JPEG_DC_B} "
           f"+ (i % nbx) * {JPEG_DC_C}) % {JPEG_DC_MOD} - 64)")
    npix = (f"(least(8, height - (i // nbx) * 8) "
            f"* least(8, width - (i % nbx) * 8))")
    refined = (f"CASE WHEN cls = 'full' THEN TRUE "
               f"WHEN cls = 'partial' THEN i < n_ref ELSE FALSE END")
    val = (f"CASE WHEN {refined} THEN {dcv} "
           f"ELSE {dcv} - ((({dcv}) % 2) + 2) % 2 END")
    return f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    {PROG_W_BASE} + abs(doc_id) % {PROG_W_MOD} AS width,
    {PROG_H_BASE} + abs(doc_id) % {PROG_H_MOD} AS height
  FROM documents
), g AS (
  SELECT doc_id, d, width, height,
    (width + 7) // 8 AS nbx,
    ((width + 7) // 8) * ((height + 7) // 8) AS nb
  FROM p
), cl AS (
  SELECT *,
    CASE WHEN d % {PROG_PARTIAL_MOD} = 0 THEN 'partial'
         WHEN d % {PROG_PREVIEW_MOD} = 0 THEN 'preview'
         WHEN d % {PROG_BASELINE_MOD} = 0 THEN 'baseline'
         ELSE 'full' END AS cls,
    CASE WHEN d % {PROG_PARTIAL_MOD} = 0
         THEN least(nb, 8 * ((d // {PROG_PARTIAL_MOD}) % (nb // 8 + 1)))
         ELSE 0 END AS n_ref
  FROM g
), ok AS (
  SELECT doc_id, width, height, nb,
    CASE WHEN cls = 'preview' THEN 1 ELSE 2 END AS n_scans,
    CASE WHEN cls = 'full' THEN nb ELSE n_ref END AS n_refined,
    CAST(list_sum(list_transform(range(0, nb),
      i -> {npix} * least(greatest(2 * ({val}) + 128, 0), 255)))
      AS BIGINT) AS pix_sum
  FROM cl WHERE cls <> 'baseline'
)
SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
  CAST(nb AS INT) AS n_blocks, CAST(n_scans AS INT) AS n_scans,
  CAST(n_refined AS INT) AS n_refined, pix_sum
FROM ok
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL
FROM cl WHERE cls = 'baseline'
"""


register(QuerySpec("multimodal_jpeg_progressive",
                   multimodal_jpeg_progressive_query, _jpeg_prog_sql(),
                   description="progressive (SOF2) JPEG DC-band decode: "
                               "point-transformed first scan + raw-bit "
                               "successive-approximation refinement "
                               "scan accumulated into shared state; "
                               "truncated refinement salvages PER BLOCK "
                               "(preview value), baseline frames "
                               "rejected"))


# --- progressive JPEG (SOF2): AC spectral-selection scans with EOBRUN -------------
#
# The DC codec above covers the successive-approximation axis of
# progression; real progressive files also progress along the SPECTRAL
# axis — AC coefficients delivered in band scans (Ss..Se, T.81 §G.1.2.2)
# whose entropy coding differs from baseline in one fundamental way:
# the END-OF-BAND symbol carries a RUN LENGTH (EOBRUN = 2^R + R raw
# bits − 1), terminating the band in up to 32767 CONSECUTIVE BLOCKS
# with a single code. That cross-block run is the genuinely new
# entropy discipline here: baseline and the DC scans reset state per
# block, while an AC band scan's decode state (the pending EOBRUN)
# spans blocks — mis-tracking it desynchronizes every later block in
# the scan. The encoder also exercises ZRL (0xF0 = 16 zeros) for the
# long in-band gaps the planted spectra contain.
#
# Streams carry three spectral-selection scans — DC (Ss=Se=0), low AC
# band (1..5), high AC band (6..63), all Ah=Al=0 — and the decoder
# salvages at SCAN granularity: a scan whose entropy data exhausts
# mid-decode contributes nothing (a viewer renders the last complete
# scan), earlier complete scans keep their coefficients. Output is
# entropy-domain (coefficient counts/checksums, no IDCT), which the
# arithmetic oracle reproduces from the plant formulas exactly.
#
# Planted classes (CASE precedence, mirrored in the oracle):
#   d % ACS_TRUNC_MOD == 0 -> the high-band scan's entropy data is cut
#       to zero bytes (died right after the scan header): that scan is
#       dropped, DC + low band survive (n_scans_ok = 2).
#   d % ACS_DCONLY_MOD == 0 -> only the DC scan is present.
#   d % ACS_BASELINE_MOD == 0 -> SOF0 baseline stream: rejected (NULL),
#       and this decoder likewise rejects the DC codec's Ah/Al != 0
#       successive-approximation streams — the two progressive
#       disciplines certify each other's frame class.

ACS_W_BASE, ACS_W_MOD = 8, 29
ACS_H_BASE, ACS_H_MOD = 8, 23
ACS_TRUNC_MOD = 11
ACS_DCONLY_MOD = 13
ACS_BASELINE_MOD = 19
ACS_BANDS = ((1, 5), (6, 63))

ACS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_scans_ok", T.IntegerType()),
    T.StructField("n_ac", T.IntegerType()),
    T.StructField("ac_checksum", T.LongType()),
    T.StructField("dc_sum", T.LongType()),
])


def _build_jpeg_ac_plant():
    def jpeg_ac_plant(d: int, bi: int) -> dict:
        """The synthesized AC spectrum of block ``bi`` (natural in-scan
        coefficient order): sparse, with empty-band blocks (EOBRUN food),
        long zero gaps (ZRL food), and sign/amplitude variety. The oracle
        knows payload content ONLY through this formula."""
        coeffs = {}
        if (d + bi) % 3 != 0:  # low band (1..5): at most one coefficient
            k = 1 + (d + bi) % 5
            v = 1 + (d * 7 + bi) % 6
            coeffs[k] = v if (d + bi) % 2 == 0 else -v
        if (d + bi) % 4 == 1:  # high band (6..63): two, far apart
            k1 = 6 + (d + bi * 3) % 20
            coeffs[k1] = 1 + (d + bi) % 3
            k2 = 30 + (d * 3 + bi) % 34
            coeffs[k2] = -(1 + (d * 5 + bi) % 4)
        return coeffs

    return jpeg_ac_plant


# nested so closures calling it pickle it by value (see make_png)
jpeg_ac_plant = _build_jpeg_ac_plant()


def _build_jpeg_ac_codecs():
    """Pure-stdlib spectral-selection progressive codec pair (closure
    factory: ships to executors by value)."""
    import struct

    DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    DC_VALS = tuple(range(12))
    # AC table: every RS symbol the encoder can emit — EOBRUN lengths
    # (r<<4)|0 for r = 0..14, ZRL (0xF0), and (run<<4)|size for
    # run 0..15, size 1..3. 64 symbols: 62 six-bit + 2 seven-bit codes
    # (a full-depth tree would leave no code space — T.81 canonical
    # tables must be incomplete at the last length).
    AC_VALS = tuple([(r << 4) | 0 for r in range(15)] + [0xF0]
                    + [(r << 4) | s for r in range(16)
                       for s in range(1, 4)])
    AC_BITS = (0, 0, 0, 0, 0, 62, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    QTAB = (JPEG_QDC,) + (17,) * 63

    def _canonical(bits, vals):
        enc, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                enc[vals[k]] = (code, ln)
                k += 1
                code += 1
            code <<= 1
        return enc

    DC_ENC = _canonical(DC_BITS, DC_VALS)
    AC_ENC = _canonical(AC_BITS, AC_VALS)

    class _BitW:
        def __init__(self):
            self.buf, self.acc, self.n = bytearray(), 0, 0

        def put(self, code, length):
            for i in range(length - 1, -1, -1):
                self.acc = (self.acc << 1) | ((code >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.buf.append(self.acc)
                    if self.acc == 0xFF:
                        self.buf.append(0)
                    self.acc, self.n = 0, 0

        def flush(self):
            while self.n:
                self.put(1, 1)

    def _cat(v):
        return v.bit_length() if v >= 0 else (-v).bit_length()

    def _amp(v, c):
        return v if v >= 0 else v + (1 << c) - 1

    def _encode_band(blocks_coeffs, ss, se):
        """One AC first scan's entropy data (T.81 §G.1.2.2): zero runs
        with ZRL escapes inside a block, EOBRUN accumulation across
        blocks."""
        bw = _BitW()
        eobrun = 0

        def flush_eobrun():
            nonlocal eobrun
            while eobrun > 0:
                r = min(14, eobrun.bit_length() - 1)
                take = min(eobrun, (1 << (r + 1)) - 1)
                r = take.bit_length() - 1
                code, ln = AC_ENC[(r << 4) | 0]
                bw.put(code, ln)
                if r:
                    bw.put(take - (1 << r), r)
                eobrun -= take

        for coeffs in blocks_coeffs:
            band = [(k, v) for k, v in sorted(coeffs.items())
                    if ss <= k <= se]
            if not band:
                eobrun += 1
                continue
            flush_eobrun()
            pos = ss
            for k, v in band:
                run = k - pos
                while run > 15:
                    code, ln = AC_ENC[0xF0]
                    bw.put(code, ln)
                    run -= 16
                s = _cat(v)
                code, ln = AC_ENC[(run << 4) | s]
                bw.put(code, ln)
                bw.put(_amp(v, s), s)
                pos = k + 1
            if pos <= se:   # trailing zeros: this block ends-of-band
                eobrun += 1
        flush_eobrun()
        bw.flush()
        return bw.buf

    def make_jpeg_ac(dc_grid, ac_grid, w, h, bands=ACS_BANDS,
                     n_band_scans=None, trunc_last=False) -> bytes:
        """Spectral-selection progressive grayscale JPEG: SOF2, DC
        first scan (Al=0), then one AC first scan per band.
        ``n_band_scans`` keeps only the first that many band scans;
        ``trunc_last`` writes the final band scan's header but zero
        entropy bytes."""
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(QTAB)
        out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) \
            + bytes((1, 0x11, 0))                          # SOF2
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(DC_VALS)) \
            + b"\x00" + bytes(DC_BITS) + bytes(DC_VALS)
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(AC_VALS)) \
            + b"\x10" + bytes(AC_BITS) + bytes(AC_VALS)
        # scan 1: DC band, Ss=Se=0, Ah=Al=0 (pure spectral selection)
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
            + bytes((1, 0x00, 0, 0, 0))
        bw = _BitW()
        prev = 0
        for dc in dc_grid:
            diff = dc - prev
            prev = dc
            c = _cat(diff)
            code, ln = DC_ENC[c]
            bw.put(code, ln)
            if c:
                bw.put(_amp(diff, c), c)
        bw.flush()
        out += bw.buf
        use = bands if n_band_scans is None else bands[:n_band_scans]
        for bi, (ss, se) in enumerate(use):
            out += b"\xff\xda" + struct.pack(">HB", 8, 1) \
                + bytes((1, 0x00, ss, se, 0))  # Td=0 unused, Ta=0
            if trunc_last and bi == len(use) - 1:
                continue  # header only: the data died with the socket
            out += _encode_band(ac_grid, ss, se)
        out += b"\xff\xd9"
        return bytes(out)

    class _BitR:
        def __init__(self, data):
            self.d, self.i, self.acc, self.n = data, 0, 0, 0

        def bit(self):
            if not self.n:
                self.acc = self.d[self.i]
                self.i += 1
                self.n = 8
            self.n -= 1
            return (self.acc >> self.n) & 1

        def bits(self, k):
            v = 0
            for _ in range(k):
                v = (v << 1) | self.bit()
            return v

        def huff(self, table):
            code, ln = 0, 0
            while ln < 16:
                code = (code << 1) | self.bit()
                ln += 1
                if (ln, code) in table:
                    return table[(ln, code)]
            raise ValueError("invalid huffman code")

    def _extend(v, c):
        return v if v >= (1 << (c - 1)) else v - (1 << c) + 1

    def decode_jpeg_ac_stats(blob: bytes):
        """(width, height, n_blocks, n_scans_ok, n_ac, ac_checksum,
        dc_sum) from a spectral-selection progressive stream, or None
        on structural defects (non-SOF2 frames, successive-
        approximation scans, bad first scan). A band scan whose
        entropy data exhausts mid-decode is dropped whole — salvage at
        scan granularity — without poisoning other scans."""
        try:
            blob = bytes(blob)
            if blob[:2] != b"\xff\xd8":
                return None
            i = 2
            huffs: dict = {}
            w = h = None
            scans = []  # (ss, se, ah, al, td, ta, data)
            while i < len(blob):
                if blob[i] != 0xFF:
                    return None
                m = blob[i + 1]
                i += 2
                if m == 0xD9:
                    break
                ln = struct.unpack(">H", blob[i:i + 2])[0]
                seg = blob[i + 2:i + ln]
                if len(seg) != ln - 2:
                    return None
                if m == 0xC2:
                    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
                    if prec != 8 or nc != 1 or seg[7] != 0x11:
                        return None
                elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                           0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    return None
                elif m == 0xC4:
                    j = 0
                    while j < len(seg):
                        tc, th = seg[j] >> 4, seg[j] & 15
                        bits = seg[j + 1:j + 17]
                        nv = sum(bits)
                        vals = seg[j + 17:j + 17 + nv]
                        if len(vals) != nv:
                            return None
                        tbl, code, k = {}, 0, 0
                        for L in range(1, 17):
                            for _ in range(bits[L - 1]):
                                tbl[(L, code)] = vals[k]
                                k += 1
                                code += 1
                            code <<= 1
                        huffs[(tc, th)] = tbl
                        j += 17 + nv
                elif m == 0xDA:
                    if seg[0] != 1:
                        return None
                    td, ta = seg[2] >> 4, seg[2] & 15
                    ss, se, ahal = seg[3], seg[4], seg[5]
                    data = bytearray()
                    j = i + ln
                    while j < len(blob) - 1:
                        b0 = blob[j]
                        if b0 == 0xFF:
                            if blob[j + 1] == 0x00:
                                data.append(0xFF)
                                j += 2
                                continue
                            break
                        data.append(b0)
                        j += 1
                    scans.append((ss, se, ahal >> 4, ahal & 15, td, ta,
                                  bytes(data)))
                    i = j
                    continue
                i += ln
            if w is None or not w or not h or not scans:
                return None
            nbx, nby = -(-w // 8), -(-h // 8)
            nb = nbx * nby
            ss, se, ah, al, td, _, data = scans[0]
            if (ss, se, ah, al) != (0, 0, 0, 0):
                return None  # first scan must be the plain DC band
            br = _BitR(data)
            prev, dc_sum = 0, 0
            dct = huffs[(0, td)]
            for _ in range(nb):
                c = br.huff(dct)
                if c > 11:
                    return None
                prev += _extend(br.bits(c), c) if c else 0
                dc_sum += prev
            n_scans_ok, n_ac, ac_checksum = 1, 0, 0
            seen = [(0, 0)]
            for ss, se, ah, al, _, ta, data in scans[1:]:
                if (ah, al) != (0, 0):
                    return None  # successive approximation: not ours
                if ss < 1 or se > 63 or se < ss:
                    return None
                if any(not (se < s0 or ss > s1) for s0, s1 in seen):
                    return None  # bands must be disjoint (first scans)
                seen.append((ss, se))
                act = huffs[(1, ta)]
                rr = _BitR(data)
                eobrun = 0
                got = []  # (bi, k, v) — committed only if scan completes
                try:
                    for bi in range(nb):
                        if eobrun > 0:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            rs = rr.huff(act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += rr.bits(r)
                                break
                            k += r
                            if k > se:
                                raise ValueError("run past band end")
                            got.append((bi, k, _extend(rr.bits(s), s)))
                            k += 1
                except (ValueError, IndexError):
                    continue  # truncated/corrupt scan: dropped whole
                n_scans_ok += 1
                for bi, k, v in got:
                    n_ac += 1
                    ac_checksum += k * v * (bi + 1)
            return (w, h, nb, n_scans_ok, n_ac, ac_checksum, dc_sum)
        except (ValueError, IndexError, KeyError, struct.error):
            return None

    return make_jpeg_ac, decode_jpeg_ac_stats


make_jpeg_ac, decode_jpeg_ac_stats = _build_jpeg_ac_codecs()


def synthesize_jpeg_ac_payloads(df: DataFrame) -> DataFrame:
    mk, dcv, plant, mk_base = (make_jpeg_ac, jpeg_dc_value, jpeg_ac_plant,
                               make_jpeg_dc)
    wb, wm, hb, hm = ACS_W_BASE, ACS_W_MOD, ACS_H_BASE, ACS_H_MOD
    tm, dm, bm = ACS_TRUNC_MOD, ACS_DCONLY_MOD, ACS_BASELINE_MOD

    def blob_of(d: int) -> bytes:
        w, h = wb + d % wm, hb + d % hm
        nbx, nby = -(-w // 8), -(-h // 8)
        nb = nbx * nby
        grid = [dcv(d, by, bx)
                for by in range(nby) for bx in range(nbx)]
        acg = [plant(d, bi) for bi in range(nb)]
        if d % tm == 0:
            return mk(grid, acg, w, h, trunc_last=True)
        if d % dm == 0:
            return mk(grid, acg, w, h, n_band_scans=0)
        if d % bm == 0:
            return mk_base(grid, w, h)  # SOF0 in-band
        return mk(grid, acg, w, h)

    return _synthesize(df, blob_of)


def decode_jpeg_ac(df: DataFrame) -> DataFrame:
    return _decode_stats(df, decode_jpeg_ac_stats, ACS_SCHEMA)


def multimodal_jpeg_ac_query(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents", key="doc_id")
    return decode_jpeg_ac(synthesize_jpeg_ac_payloads(docs))


def _jpeg_ac_sql() -> str:
    dc = (f"((d * {JPEG_DC_A} + (i // nbx) * {JPEG_DC_B} "
          f"+ (i % nbx) * {JPEG_DC_C}) % {JPEG_DC_MOD} - 64)")
    # low band (1..5): one coefficient when (d+i) % 3 <> 0
    lo_k = "(1 + (d + i) % 5)"
    lo_v = ("(CASE WHEN (d + i) % 2 = 0 THEN 1 ELSE -1 END "
            "* (1 + (d * 7 + i) % 6))")
    lo_on = "(d + i) % 3 <> 0"
    # high band (6..63): two coefficients when (d+i) % 4 = 1
    hi_on = "(d + i) % 4 = 1"
    hi_k1, hi_v1 = "(6 + (d + i * 3) % 20)", "(1 + (d + i) % 3)"
    hi_k2, hi_v2 = "(30 + (d * 3 + i) % 34)", "(-(1 + (d * 5 + i) % 4))"
    lo_n = f"CASE WHEN {lo_on} THEN 1 ELSE 0 END"
    lo_ck = f"CASE WHEN {lo_on} THEN {lo_k} * {lo_v} * (i + 1) ELSE 0 END"
    hi_n = f"CASE WHEN {hi_on} THEN 2 ELSE 0 END"
    hi_ck = (f"CASE WHEN {hi_on} THEN ({hi_k1} * {hi_v1} "
             f"+ {hi_k2} * {hi_v2}) * (i + 1) ELSE 0 END")
    return f"""
WITH p AS (
  SELECT doc_id, abs(doc_id) AS d,
    {ACS_W_BASE} + abs(doc_id) % {ACS_W_MOD} AS width,
    {ACS_H_BASE} + abs(doc_id) % {ACS_H_MOD} AS height
  FROM documents
), g AS (
  SELECT doc_id, d, width, height,
    (width + 7) // 8 AS nbx,
    ((width + 7) // 8) * ((height + 7) // 8) AS nb,
    CASE WHEN d % {ACS_TRUNC_MOD} = 0 THEN 'trunc'
         WHEN d % {ACS_DCONLY_MOD} = 0 THEN 'dconly'
         WHEN d % {ACS_BASELINE_MOD} = 0 THEN 'baseline'
         ELSE 'full' END AS cls
  FROM p
), ok AS (
  SELECT doc_id, width, height, nb,
    CASE cls WHEN 'full' THEN 3 WHEN 'trunc' THEN 2 ELSE 1 END
      AS n_scans_ok,
    CAST(CASE WHEN cls = 'dconly' THEN 0
      ELSE list_sum(list_transform(range(0, nb), i -> {lo_n}
        + CASE WHEN cls = 'full' THEN {hi_n} ELSE 0 END)) END
      AS INT) AS n_ac,
    CAST(CASE WHEN cls = 'dconly' THEN 0
      ELSE list_sum(list_transform(range(0, nb), i -> {lo_ck}
        + CASE WHEN cls = 'full' THEN {hi_ck} ELSE 0 END)) END
      AS BIGINT) AS ac_checksum,
    CAST(list_sum(list_transform(range(0, nb), i -> {dc}))
      AS BIGINT) AS dc_sum
  FROM g WHERE cls <> 'baseline'
)
SELECT doc_id, CAST(width AS INT) AS width,
  CAST(height AS INT) AS height, CAST(nb AS INT) AS n_blocks,
  CAST(n_scans_ok AS INT) AS n_scans_ok, n_ac, ac_checksum, dc_sum
FROM ok
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM g WHERE cls = 'baseline'
"""


register(QuerySpec("multimodal_jpeg_ac", multimodal_jpeg_ac_query,
                   _jpeg_ac_sql(),
                   description="progressive (SOF2) AC spectral-selection "
                               "scans: per-band first scans with EOBRUN "
                               "cross-block run-length and ZRL escapes; "
                               "a scan whose entropy data exhausts is "
                               "dropped whole (salvage at scan "
                               "granularity), successive-approximation "
                               "and baseline frames rejected"))
