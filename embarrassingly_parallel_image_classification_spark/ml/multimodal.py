"""K5: multimodal columns — image/audio/video as opaque binary + typed
metadata + embeddings, in ordinary DataFrames (SURVEY.md §2-K).

The reference's unit of work is an image file [PK]; here a media row is

    (media_id, payload: binary, meta: struct<width,height,format>,
     embedding: array<float>)

and every relational operator accepts it opaquely — binary columns
shuffle, join and write like any other column.

Decode/feature-extraction runs as ``mapInPandas`` (Arrow batches, one
Python worker init per task — the J6 shape). Image decode is REAL for
the dependency-free formats (binary PPM/PGM via ``decode_image``, pure
numpy — exercised with genuine image bytes in tests); every other
format falls back to ``decode_stub``'s deterministic pseudo-pixels (no
PNG/JPEG codecs in this container), so the Spark-side plumbing —
schema, batch iteration, partitioning — is fully real either way, and
swapping in PIL/libvips later changes one function.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import register
from ..sources.tables import t

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("mean_byte", DoubleType()),
        StructField("feat_hash", LongType()),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the media table from the documents fixture: payload =
    utf8 bytes of text (a stand-in for PNG bytes), meta derived
    deterministically. At 100 TB this is `spark.read.format('binaryFile')`
    over an object store plus a manifest join — same schema."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").cast(BinaryType()).alias("payload"),
        F.struct(
            (F.pmod(F.col("n_chars"), F.lit(640)) + 64).cast("int").alias("width"),
            (F.pmod(F.col("n_chars"), F.lit(480)) + 48).cast("int").alias("height"),
            F.when(F.col("doc_id") % 2 == 0, "png").otherwise("jpeg").alias("format"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes) -> np.ndarray:
    """Deterministic fake decode: payload bytes as a uint8 'pixel' array.
    Replace with a real decoder (PIL.Image.open → np.asarray) when
    imaging libs are available; the contract (bytes → ndarray) holds."""
    return np.frombuffer(payload, dtype=np.uint8)


def decode_image(payload: bytes) -> np.ndarray:
    """REAL image decode for the dependency-free formats: binary PPM
    (P6 → H×W×3 uint8) and PGM (P5 → H×W uint8), parsed with pure
    numpy — no imaging libs needed, so this path is genuinely real in
    this container; any other payload falls back to ``decode_stub``.

    Strictness makes the fallback safe: the magic must be P6/P5,
    maxval must be 255, AND the pixel data length must equal
    width·height·channels exactly — an ASCII text payload that happens
    to start with "P6" cannot satisfy the exact-length check, so the
    fixture-derived payloads keep their stub semantics (and their
    oracles) bit-for-bit."""
    try:
        if payload[:2] in (b"P6", b"P5"):
            fields: list[int] = []
            i = 2
            while len(fields) < 3:
                while i < len(payload) and payload[i : i + 1].isspace():
                    i += 1
                if payload[i : i + 1] == b"#":  # comment line
                    while i < len(payload) and payload[i : i + 1] != b"\n":
                        i += 1
                    continue
                j = i
                while j < len(payload) and not payload[j : j + 1].isspace():
                    j += 1
                fields.append(int(payload[i:j]))
                i = j
            w, h, maxval = fields
            i += 1  # exactly one whitespace byte after maxval
            ch = 3 if payload[:2] == b"P6" else 1
            if maxval == 255 and len(payload) - i == w * h * ch:
                arr = np.frombuffer(payload, dtype=np.uint8, offset=i)
                return arr.reshape((h, w, 3)) if ch == 3 else arr.reshape((h, w))
    except (ValueError, IndexError):
        pass
    return decode_stub(payload)


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over media rows (Arrow-batched).

    One batch = thousands of rows; the decode loop is per-row (as a real
    image decode must be) but stats are vectorized. Output is a narrow
    feature frame — the wide payload column never crosses back to JVM.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"], strict=True
            ):
                px = decode_image(payload).ravel()
                feats.append(
                    (
                        int(mid),
                        meta["format"],
                        int(px.size),
                        float(px.mean()) if px.size else 0.0,
                        int(np.int64(px[:64].sum()) if px.size else 0),
                    )
                )
            yield pd.DataFrame(
                feats, columns=["media_id", "format", "n_bytes", "mean_byte", "feat_hash"]
            )

    return df.mapInPandas(extract, MEDIA_FEATURE_SCHEMA)


@register(
    "q_multimodal",
    oracle="""
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           COUNT(*) AS n_media,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY 1
    """,
    tags=("K5",),
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media rows grouped by format with payload byte totals — binary
    columns flowing through scan → struct access → aggregate. The
    oracle recomputes the same facts from the source table, proving the
    binary round-trip is lossless."""
    m = media_table(spark, sf_dir)
    return m.groupBy(F.col("meta.format").alias("format")).agg(
        F.count("*").alias("n_media"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
    )


@register(
    "q_multimodal_features",
    oracle="""
    WITH ch AS (
        SELECT doc_id, SUM(unicode(c.x)) AS code_sum
        FROM documents, UNNEST(regexp_extract_all(text, '.')) AS c(x)
        GROUP BY doc_id),
    hd AS (
        SELECT doc_id, SUM(unicode(c.x)) AS head_sum
        FROM documents, UNNEST(regexp_extract_all(LEFT(text, 64), '.')) AS c(x)
        GROUP BY doc_id)
    SELECT d.doc_id AS media_id,
           CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(STRLEN(d.text) AS INT) AS n_bytes,
           CAST(ch.code_sum AS DOUBLE) / STRLEN(d.text) AS mean_byte,
           CAST(hd.head_sum AS BIGINT) AS feat_hash
    FROM documents d
    JOIN ch ON ch.doc_id = d.doc_id
    JOIN hd ON hd.doc_id = d.doc_id
    """,
    tags=("K5", "J6"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature extraction via mapInPandas (decode_image: real
    PPM/PGM parsing, stub fallback for the fixture's text payloads). The stub
    'pixels' are the payload bytes and the payload is the doc's utf-8
    text (pure ASCII), so SQL reproduces every feature exactly:
    n_bytes = byte length, mean_byte = per-char code-point sum / length
    (integer sum in float64 — order-independent, one division), and
    feat_hash = code sum of the first 64 bytes. A Python fanout stage
    whose output is pinned by a relational oracle — same pattern as
    q_multimodal_frames."""
    return extract_features(media_table(spark, sf_dir))


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_md5", StringType()),
    ]
)

_FRAME_LEN, _FRAME_STRIDE, _FRAME_EVERY = 32, 16, 4


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling over media payloads — the audio/video analog of
    decode_stub: a 'frame' is a 32-byte window at stride 16 (overlapped,
    audio-style), and every 4th frame is kept. One input row fans out to
    0..n output rows (the UDTF-ish mapInPandas shape). A real video
    sampler (pyav / ffmpeg keyframe extraction) replaces the windowing
    loop only; batch iteration, fanout schema and partitioning hold."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out: list[tuple[int, int, str]] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"], strict=True):
                buf = bytes(payload)
                n_frames = (len(buf) - _FRAME_LEN) // _FRAME_STRIDE + 1
                for i in range(0, max(n_frames, 0), _FRAME_EVERY):
                    frame = buf[i * _FRAME_STRIDE : i * _FRAME_STRIDE + _FRAME_LEN]
                    out.append((int(mid), i, hashlib.md5(frame).hexdigest()))
            yield pd.DataFrame(out, columns=["media_id", "frame_idx", "frame_md5"])

    return df.select("media_id", "payload").mapInPandas(frames, FRAME_SCHEMA)


@register(
    "q_multimodal_frames",
    oracle="""
    WITH idx AS (
        SELECT doc_id, text,
               unnest(range(0, CAST((strlen(text) - 32) // 16 AS BIGINT) + 1, 4))
               AS i
        FROM documents WHERE strlen(text) >= 32)
    SELECT doc_id AS media_id,
           CAST(i AS BIGINT) AS frame_idx,
           md5(substr(text, CAST(i * 16 + 1 AS INT), 32)) AS frame_md5
    FROM idx
    """,
    tags=("K5", "J6"),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample every media payload (video/audio K5 path). Because
    the stub 'codec' is deterministic byte windowing over ASCII payloads,
    the whole mapInPandas fanout is exactly reproducible in SQL
    (substr windows + md5) — an oracle-backed Python fanout UDF. Scale:
    no shuffle at all; each task fans its own Arrow batches out and the
    wide payload column never returns to the JVM."""
    return sample_frames(media_table(spark, sf_dir))


@register(
    "q_multimodal_dup_frames",
    oracle="""
    WITH idx AS (
        SELECT doc_id, text,
               unnest(range(0, CAST((strlen(text) - 32) // 16 AS BIGINT) + 1, 4))
               AS i
        FROM documents WHERE strlen(text) >= 32),
    fr AS (
        SELECT doc_id AS media_id,
               md5(substr(text, CAST(i * 16 + 1 AS INT), 32)) AS frame_md5
        FROM idx)
    SELECT frame_md5,
           CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_media,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(media_id) AS BIGINT) AS canonical_media
    FROM fr
    GROUP BY frame_md5
    HAVING COUNT(DISTINCT media_id) >= 2
    """,
    tags=("K5", "K1", "J6"),
)
def q_multimodal_dup_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-media duplicate-frame detection — the multimodal analog of
    exact text dedup: frames sampled from every payload (the same
    mapInPandas fanout as q_multimodal_frames), hashed, and grouped so
    any frame appearing in ≥2 distinct media surfaces with its
    occurrence census and a deterministic canonical owner (min
    media_id) — the dedup decision a video/audio training pipeline
    applies before storage and training (shared intros, stock footage,
    silence frames). The Python stage stays shuffle-free (per-task
    Arrow fanout, payload never returns to the JVM); the only exchange
    is the fixed-width (hash, media_id) groupBy — at 100 TB this is
    the same shape as exact text dedup: shuffle bytes ∝ frames, never
    payloads."""
    fr = sample_frames(media_table(spark, sf_dir))
    return (
        fr.groupBy("frame_md5")
        .agg(
            F.countDistinct("media_id").cast("bigint").alias("n_media"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.min("media_id").cast("bigint").alias("canonical_media"),
        )
        .filter(F.col("n_media") >= 2)
    )


# PCM16 audio synth/decode constants — shared by the Spark synth UDF,
# the numpy feature extractor AND (as literals) the DuckDB oracle, so
# one definition governs all three. 256 samples/clip, 64-sample frames.
PCM_SAMPLES = 256
PCM_FRAME = 64
PCM_MUL = 2654435761  # Knuth multiplicative hash constant
PCM_STEP = 40503


@register(
    "q_multimodal_audio",
    oracle=f"""
    WITH samples AS (
        SELECT vec_id, i,
               CAST((vec_id * {PCM_MUL} + i * {PCM_STEP}) % 65536 - 32768
                    AS BIGINT) AS s,
               i // {PCM_FRAME} AS frame
        FROM embeddings, UNNEST(range({PCM_SAMPLES})) AS u(i)
    ),
    sl AS (
        SELECT vec_id, frame, s,
               LAG(s) OVER (PARTITION BY vec_id, frame ORDER BY i) AS prev
        FROM samples
    )
    SELECT vec_id, CAST(frame AS BIGINT) AS frame,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(COUNT(*) FILTER (WHERE prev IS NOT NULL
                                 AND ((s >= 0) <> (prev >= 0))) AS BIGINT)
               AS zero_cross,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak
    FROM sl GROUP BY vec_id, frame ORDER BY vec_id, frame
    """,
    tags=("K5", "J6", "A3"),
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO DECODE + FRAME FEATURES over a real binary column — the
    K5 audio path done end-to-end: each clip is {PCM_SAMPLES} PCM16-LE
    samples synthesized from a deterministic integer formula, PACKED
    TO ACTUAL LITTLE-ENDIAN BYTES in one mapInPandas stage, then a
    second mapInPandas stage — the operator under test — decodes the
    binary payload with `np.frombuffer('<i2')` and emits per-
    {PCM_FRAME}-sample-frame energy (Σs², the loudness census),
    zero-crossing count (the pitch/voicing proxy) and peak amplitude,
    all exact BIGINTs. The ORACLE never sees a byte: it recomputes the
    features from the SAME integer formula in SQL — so an exact match
    PROVES the pack→binary-column→Arrow→frombuffer round trip is
    lossless, including int16 sign and endianness (a byte-order or
    signedness bug flips zero_cross and energy immediately). This is
    the pattern for every codec this container lacks: the Spark-side
    plumbing (binary schema, Arrow batching, frame slicing) is real;
    only the waveform source is synthetic.

    Plan: two chained mapInPandas passes (Arrow in, Arrow out, no
    shuffle between them — payloads never leave the task that made
    them). At 100 TB the synth
    stage is replaced by `binaryFile` reads; the decode stage is
    unchanged."""
    ids = t(spark, sf_dir, "embeddings").select("vec_id")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for m in pdf["vec_id"]:
                i = np.arange(PCM_SAMPLES, dtype=np.int64)
                s = (int(m) * PCM_MUL + i * PCM_STEP) % 65536 - 32768
                payloads.append(s.astype("<i2").tobytes())
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "payload": payloads})

    clips = ids.mapInPandas(synth, "vec_id long, payload binary")

    def feats(batches):
        for pdf in batches:
            rows = []
            for m, buf in zip(pdf["vec_id"], pdf["payload"]):
                s = np.frombuffer(buf, dtype="<i2").astype(np.int64)
                for f in range(len(s) // PCM_FRAME):
                    sl = s[f * PCM_FRAME : (f + 1) * PCM_FRAME]
                    rows.append(
                        {
                            "vec_id": int(m),
                            "frame": f,
                            "energy": int((sl * sl).sum()),
                            "zero_cross": int(
                                ((sl[1:] >= 0) != (sl[:-1] >= 0)).sum()
                            ),
                            "peak": int(np.abs(sl).max()),
                        }
                    )
            yield pd.DataFrame(rows)

    return clips.mapInPandas(
        feats, "vec_id long, frame long, energy long, zero_cross long, peak long"
    )


# Keyframe selection: a frame is a KEYFRAME when its energy (sum of
# bytes — the stand-in for a luminance histogram) jumps more than this
# vs the previous frame; the first frame of every media is always kept.
_KEYFRAME_DELTA = 64


@register(
    "q_multimodal_keyframes",
    oracle=f"""
    WITH idx AS (
        SELECT doc_id, text,
               unnest(range(0,
                   CAST((strlen(text) - {_FRAME_LEN}) // {_FRAME_STRIDE}
                        AS BIGINT) + 1)) AS i
        FROM documents WHERE strlen(text) >= {_FRAME_LEN}
    ),
    ch AS (
        SELECT doc_id, i, text, unnest(range(0, {_FRAME_LEN})) AS j
        FROM idx
    ),
    en AS (
        SELECT doc_id, i,
               CAST(SUM(ascii(substr(text,
                    CAST(i * {_FRAME_STRIDE} + j + 1 AS INT), 1)))
                    AS BIGINT) AS energy
        FROM ch GROUP BY doc_id, i
    ),
    d AS (
        SELECT doc_id, i, energy,
               LAG(energy) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM en
    )
    SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx, energy
    FROM d
    WHERE prev IS NULL OR ABS(energy - prev) > {_KEYFRAME_DELTA}
    ORDER BY media_id, frame_idx
    """,
    tags=("K5", "J6"),
)
def q_multimodal_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYFRAME SELECTION by frame differencing — the shot/scene-change
    detector every video curation pipeline runs before storing or
    embedding frames (keep a frame only when it CHANGES; ffmpeg's
    select='gt(scene,t)' is the production analog): consecutive
    32-byte frames at stride 16, per-frame energy = exact integer byte
    sum (the luminance-histogram stand-in), keep frame 0 and every
    frame whose energy jumps > 64 vs its predecessor. A real decoder swaps ONLY the energy function
    (frombuffer → decode + histogram); the sequential frame walk,
    fanout schema and partitioning hold verbatim.

    Plan: one shuffle-free mapInPandas fanout (payloads never return to
    the JVM — the K5 contract); per media the energies come from ONE
    numpy cumulative sum (each window sum is prefix[i+L] - prefix[i]),
    so the Python stage is vectorized end to end. The oracle recomputes
    every energy character-by-character in SQL — a completely
    independent spelling of the same integers."""
    import numpy as np  # noqa: F811 (vectorized path below)

    def keyframes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[int, int, int]] = []
            for mid, payload in zip(
                pdf["media_id"], pdf["payload"], strict=True
            ):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                if len(buf) < _FRAME_LEN:
                    continue
                n_frames = (len(buf) - _FRAME_LEN) // _FRAME_STRIDE + 1
                prefix = np.concatenate(
                    ([0], np.cumsum(buf, dtype=np.int64))
                )
                starts = np.arange(n_frames, dtype=np.int64) * _FRAME_STRIDE
                energy = prefix[starts + _FRAME_LEN] - prefix[starts]
                keep = np.empty(n_frames, dtype=bool)
                keep[0] = True
                if n_frames > 1:
                    keep[1:] = (
                        np.abs(np.diff(energy)) > _KEYFRAME_DELTA
                    )
                for i in np.nonzero(keep)[0]:
                    out.append((int(mid), int(i), int(energy[i])))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "energy"]
            )

    return (
        media_table(spark, sf_dir)
        .select("media_id", "payload")
        .mapInPandas(
            keyframes, "media_id long, frame_idx long, energy long"
        )
    )
