"""Audio column pipeline (EXT scope, SURVEY.md §2.14 X4): documents
rendered to REAL RIFF/WAVE blobs, decoded/resampled/chunked by
Arrow-batched `mapInPandas` kernels over the engine's pure-stdlib codec
(multimodal/wav.py).

Synth contract (what makes the driver oracle possible): each document's
utf-8 payload becomes a deterministic 8 kHz mono PCM16 clip of
``800 + (n_bytes % 1600)`` samples — the payload bytes tiled and centered
(``(b - 128) * 256``), so every content byte contributes to the real
waveform. The SQL oracle reproduces the *arithmetic* consequences
(sample counts, durations, chunk counts) from ``octet_length(text)``
alone, while the Spark side earns them by actually encoding and parsing
WAV byte streams — a regression anywhere in the codec (header layout,
chunk walk, PCM reshape) breaks the hash match.

One Python stage per query: each codec step (WAV encode, decode,
resample, chunk) is a per-batch function and a query runs its whole
chain as one `mapInPandas` (`binary.kernel_chain`), so each partition
pays the Python task set-up once and the WAV blobs never cross back to
the JVM between steps. The chain carries ``source`` through to the
per-source aggregate, so no query joins ``documents`` back on doc_id.
The public stage functions (`wav_assets_from_documents`, `decode_audio`,
`resample_audio`, `chunk_audio`) are one-stage chains over the same
batch functions.

Scale: the chain is the only Python touchpoint, Arrow-batched and
shuffle-free (O(bytes) per partition); aggregation happens JVM-side after
it, so at 100 TB the audio stage is an embarrassingly parallel map over
object-store blobs — the same shape as the image path.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from minio_iceberg_polaris_lakehouse_spark.multimodal import wav
from minio_iceberg_polaris_lakehouse_spark.multimodal.binary import (
    Stage,
    drop_blobs,
    kernel_chain,
    with_blobs,
)
from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import (
    load_table,
    sort_result,
    spread_for_kernel as _spread,
)

SAMPLE_RATE = 8000
CHUNK_LEN = 400  # 50 ms training chunks at 8 kHz

AUDIO_ASSET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("blob", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

AUDIO_DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("audio_ms", LongType()),
        StructField("rms", LongType()),
    ]
)

AUDIO_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_id", IntegerType()),
        StructField("chunk", BinaryType()),
    ]
)


def doc_samples(payload: bytes) -> np.ndarray:
    """Deterministic mono PCM16 clip for a document payload: byte values
    tiled to ``800 + (len % 1600)`` samples and centered to int16."""
    n = 800 + (len(payload) % 1600)
    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.size == 0:
        buf = np.zeros(1, dtype=np.uint8)
    reps = -(-n // buf.size)
    tiled = np.tile(buf, reps)[:n].astype(np.int16)
    return (tiled - 128) * 256


def encode_wav_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """text → WAV asset columns: each payload is synthesized to PCM
    (`doc_samples`) and RIFF-encoded by the engine's codec."""
    blobs = [wav.encode_wav(doc_samples(t.encode("utf-8")), SAMPLE_RATE) for t in pdf["text"]]
    return with_blobs(pdf.drop(columns="text"), "audio/wav", blobs)


def decode_wav_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """WAV asset columns → sample_rate, n_samples, audio_ms and the
    integer-rounded RMS, from a RIFF chunk walk and fmt/data parse."""
    decoded = [wav.decode_wav(bytes(b)) for b in pdf["blob"]]
    n = [samples.shape[0] for samples, _rate in decoded]
    rates = [rate for _samples, rate in decoded]
    return drop_blobs(pdf).assign(
        sample_rate=rates,
        n_samples=n,
        audio_ms=[wav.duration_ms(k, r) for k, r in zip(n, rates)],
        rms=[int(round(wav.rms(samples))) for samples, _rate in decoded],
    )


def resample_wav_batch(pdf: pd.DataFrame, dst_rate: int) -> pd.DataFrame:
    """WAV blob → WAV blob at ``dst_rate``: decode → linear resample →
    re-encode. n_bytes is the new blob's length incl. the RIFF header;
    sample counts come from a decode, never from this column."""
    blobs = []
    for blob in pdf["blob"]:
        samples, rate = wav.decode_wav(bytes(blob))
        blobs.append(wav.encode_wav(wav.resample_linear(samples[:, 0], rate, dst_rate), dst_rate))
    return with_blobs(pdf, "audio/wav", blobs)


def chunk_wav_batch(pdf: pd.DataFrame, chunk_len: int) -> pd.DataFrame:
    """WAV blob → one row per zero-padded ``chunk_len``-sample chunk
    (chunk_id, chunk); the other columns repeat per chunk."""
    pieces = [wav.chunk_fixed(wav.decode_wav(bytes(b))[0][:, 0], chunk_len) for b in pdf["blob"]]
    rows = np.repeat(np.arange(len(pdf)), [len(p) for p in pieces])
    return (
        drop_blobs(pdf)
        .iloc[rows]
        .reset_index(drop=True)
        .assign(
            chunk_id=[i for p in pieces for i in range(len(p))],
            chunk=[c.tobytes() for p in pieces for c in p],
        )
    )


def wav_assets_from_documents(df: DataFrame) -> DataFrame:
    """Asset table with REAL audio blobs: each document's payload is
    synthesized to PCM and WAV-encoded by the engine's codec, so the
    decode kernels exercise an actual RIFF parse, not a stub."""
    return kernel_chain(_spread(df.select("doc_id", "text")), AUDIO_ASSET_SCHEMA, encode_wav_batch)


def decode_audio(assets: DataFrame) -> DataFrame:
    """Arrow-batched audio decode: RIFF chunk walk → fmt/data parse →
    typed columns (rate, sample count, duration, integer-rounded RMS)."""
    return kernel_chain(assets, AUDIO_DECODED_SCHEMA, decode_wav_batch)


def resample_audio(assets: DataFrame, dst_rate: int) -> DataFrame:
    """Batch sample-rate conversion: decode → linear resample →
    re-encode, keeping the asset columns."""
    return kernel_chain(assets, AUDIO_ASSET_SCHEMA, partial(resample_wav_batch, dst_rate=dst_rate))


def chunk_audio(assets: DataFrame, chunk_len: int = CHUNK_LEN) -> DataFrame:
    """Fixed-length chunk fan-out (the audio twin of sequence packing):
    one output row per zero-padded training chunk."""
    return kernel_chain(assets, AUDIO_CHUNK_SCHEMA, partial(chunk_wav_batch, chunk_len=chunk_len))


def _audio_chain(
    spark: SparkSession, sf_dir: str, schema: StructType, *stages: Stage
) -> DataFrame:
    """The documents, spread for the kernel, through WAV encode and then
    ``stages`` in one Python stage; ``source`` rides along for the
    per-source aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    out = StructType([StructField("source", StringType()), *schema.fields])
    return kernel_chain(_spread(docs), out, encode_wav_batch, *stages)


@register(
    "mm_audio_stats",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_clips,
           CAST(SUM(800 + (octet_length(encode(text)) % 1600)) AS BIGINT)
             AS total_samples,
           CAST(SUM((800 + (octet_length(encode(text)) % 1600)) // 8) AS BIGINT)
             AS total_ms,
           {SAMPLE_RATE} AS sample_rate
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode statistics per source, earned by a REAL WAV parse:
    payload → PCM synth → RIFF encode → RIFF decode (chunk walk,
    fmt/data, little-endian reshape), one Python stage → per-source
    aggregation. The oracle reproduces the sample/duration arithmetic
    from octet_length alone; any codec regression breaks the hash."""
    decoded = _audio_chain(spark, sf_dir, AUDIO_DECODED_SCHEMA, decode_wav_batch)
    return (
        decoded.groupBy("source")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_samples").cast("long").alias("total_samples"),
            F.sum("audio_ms").cast("long").alias("total_ms"),
            F.first("sample_rate").alias("sample_rate"),
        )
        .transform(sort_result, "source")
    )


@register(
    "mm_audio_chunks",
    oracle=f"""
    SELECT source,
           CAST(SUM((800 + (octet_length(encode(text)) % 1600) + {CHUNK_LEN} - 1)
                    // {CHUNK_LEN}) AS BIGINT) AS total_chunks,
           CAST(SUM((800 + (octet_length(encode(text)) % 1600) + {CHUNK_LEN} - 1)
                    // {CHUNK_LEN}) * {CHUNK_LEN} * 2 AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length chunking fan-out over real WAV blobs: each clip is
    decoded and split into zero-padded 50 ms training chunks; the oracle
    pins ceil-division chunk counts and padded byte totals."""
    chunks = _audio_chain(
        spark, sf_dir, AUDIO_CHUNK_SCHEMA, partial(chunk_wav_batch, chunk_len=CHUNK_LEN)
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("total_chunks"),
            F.sum(F.octet_length("chunk")).cast("long").alias("total_bytes"),
        )
        .transform(sort_result, "source")
    )


@register(
    "mm_audio_resample",
    oracle="""
    SELECT source,
           CAST(SUM(2 * (800 + (octet_length(encode(text)) % 1600))) AS BIGINT)
             AS total_resampled,
           CAST(16000 AS INTEGER) AS dst_rate
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 kHz → 16 kHz linear resample over real WAV blobs: decode →
    np.interp upsample → re-encode → decode again to count samples (the
    count survives a full encode/decode round-trip, so the oracle pins
    both the resampler's length contract and the codec)."""
    decoded = _audio_chain(
        spark,
        sf_dir,
        AUDIO_DECODED_SCHEMA,
        partial(resample_wav_batch, dst_rate=16000),
        decode_wav_batch,
    )
    return (
        decoded.groupBy("source")
        .agg(
            F.sum("n_samples").cast("long").alias("total_resampled"),
            F.first("sample_rate").alias("dst_rate"),
        )
        .transform(sort_result, "source")
    )
