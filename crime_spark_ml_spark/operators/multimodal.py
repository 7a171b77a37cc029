"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing is real and tested — schema, partitioning,
UDF signature, Arrow batch shape. The codec step itself is stubbed
(PIL/librosa/ffmpeg are not in this container): ``decode_image``
raises ``NotImplementedError`` when a real codec is requested and
otherwise produces a deterministic fake derived from the payload
bytes, so tests pin exact values.

Scale notes: payloads never hit the driver; ``mapInPandas`` streams
Arrow batches through Python workers partition-by-partition.
``spark.sql.files.maxPartitionBytes`` (and binaryFile's own limits)
bound batch memory; metadata-only transforms (resize plan, frame
sampling) are pure JVM expressions that never touch the bytes.

DECISION (round 3, permanent): this container will never gain
PIL/ffmpeg, so the stub IS the end state here. Production deploys must
inject a codec by replacing the body of the ``real_codec`` branch in
``decode_image`` (one function, inside the already-tested Arrow UDF
boundary — schema and batch shape do not change); until then
``real_codec=True`` fails loudly rather than faking silently.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("phash", T.LongType()),
    ]
)


def synthetic_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake media table from the documents fixture: the
    UTF-8 bytes of the text stand in for an encoded payload."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.col(text_col).cast("binary").alias("payload"),
        # dims vary per row via prime-multiplier arithmetic on the id
        # (not a hash) so an ANSI-SQL oracle can reproduce them exactly
        F.struct(
            (F.pmod(F.col(id_col) * 7919 + 13, 640) + 1).cast("int").alias("width"),
            (F.pmod(F.col(id_col) * 104729 + 7, 480) + 1).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(F.col(id_col), 300) + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def decode_image(df: DataFrame, real_codec: bool = False) -> DataFrame:
    """Arrow-batched decode → per-image features.

    ``real_codec=True`` is the production path (PIL decode); it is
    STUBBED in this environment.
    """
    if real_codec:
        raise NotImplementedError(
            "real image decode requires PIL/opencv, not available in this "
            "container; run with real_codec=False for the deterministic stub"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len).astype("int64")
            mean_byte = payloads.map(
                lambda b: round(sum(b) / len(b), 6) if len(b) else 0.0
            ).astype("float64")
            # deterministic 48-bit perceptual-hash stand-in from the bytes
            phash = payloads.map(
                lambda b: int.from_bytes(bytes(b[:6]).ljust(6, b"\0"), "big")
            ).astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": n_bytes,
                    "mean_byte": mean_byte,
                    "phash": phash,
                }
            )

    return df.select("media_id", "payload").mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


def resize_plan(df: DataFrame, max_side: int = 256) -> DataFrame:
    """Metadata-only resize: target dims preserving aspect ratio.
    Pure JVM expressions — the byte-level resample is the stubbed
    codec step."""
    w, h = F.col("meta.width").cast("double"), F.col("meta.height").cast("double")
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / F.greatest(w, h))
    return df.withColumn(
        "resize",
        F.struct(
            F.ceil(w * scale).cast("int").alias("width"),
            F.ceil(h * scale).cast("int").alias("height"),
        ),
    )


def frame_sample(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame sampling plan: indices 0, n, 2n, … < n_frames as an
    array column (row-local sequence; the decode of those frames is
    the stubbed codec step)."""
    return df.withColumn(
        "frame_indices",
        F.when(
            # n_frames=0 (corrupt/truncated media) → empty list, not the
            # 'Illegal sequence boundaries' abort sequence(0,-1,n) throws
            (F.col("kind") == "video") & (F.col("meta.n_frames") >= 1),
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n)),
        ).when(F.col("kind") == "video", F.array().cast("array<int>")),
    )
