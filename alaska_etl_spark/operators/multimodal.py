"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode and frame-sample as Arrow-batched Pandas
operations over ``mapInPandas`` (BASELINE north-star op).

Design for 100 TB:
- media bytes live in ONE binary column next to narrow typed metadata,
  so column pruning keeps metadata-only queries from ever reading bytes
  (parquet column split);
- every operator is ``mapInPandas`` over an iterator of Arrow batches —
  constant memory per task regardless of partition size, no collect, no
  driver round-trip; partition by ``media_id`` (or storage path) before
  heavy decode so work spreads;
- decode itself needs codec libraries (PIL/libav) that are NOT
  installed here; the codec boundary is isolated behind tiny
  ``_decode_*_impl`` hooks. The default implementation is a
  DETERMINISTIC FAKE (stats derived from the bytes via a rolling hash)
  so the full Spark plumbing — schemas, batch iteration, explode
  shapes, joins downstream — is real and tested; pass ``real=True`` to
  demand actual codecs (raises NotImplementedError until the libs are
  provisioned on the cluster image).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pandas imported lazily inside UDFs (executor-side)
    import pandas as pd

#: canonical media table schema: opaque bytes + typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("format", StringType(), True),  # png/jpeg/wav/mp4/...
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("channels", LongType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

_P = (1 << 31) - 1


def _byte_stats(content: bytes | None, k: int) -> list[float]:
    """Deterministic pseudo-statistics of a byte string: k rolling-hash
    features in [0, 1). Stands in for decoded pixel/sample statistics —
    stable across runs, partitions, and engines."""
    if not content:
        return [0.0] * k
    out = []
    h = 2166136261
    for i, b in enumerate(content):
        h = (h * 16777619 + b) % _P
        if i % 7 == 0:
            out.append(h)
    while len(out) < k:
        h = (h * 16777619 + len(out)) % _P
        out.append(h)
    # fold down to k features
    folded = [0] * k
    for i, v in enumerate(out):
        folded[i % k] = (folded[i % k] * 31 + v) % _P
    return [v / _P for v in folded]


def _require_real_codecs() -> None:
    raise NotImplementedError(
        "real media decode requires codec libraries (PIL / soundfile / av) "
        "which are not provisioned in this environment; run with the "
        "default deterministic-fake decoder or install codecs on the "
        "cluster image"
    )


def _pil_image_module():
    """Codec loader seam: PIL.Image when installed, else None. Callers
    capture the result at PLAN time (driver) so whatever this returns —
    the real module on a provisioned image, a monkeypatched fake in
    tests — rides the mapInPandas closure to executors; executor-side
    re-imports are never needed."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


def _real_image_stats(image_mod, content: bytes | None, k: int) -> list[float]:
    """Decoded-pixel statistics via the (possibly injected) PIL-like
    module: overall mean + per-channel means in [0, 1], cycled to ``k``
    features. Anything without content decodes to zeros, matching the
    fake's contract."""
    if not content:
        return [0.0] * k
    import io

    import numpy as np

    img = image_mod.open(io.BytesIO(content)).convert("RGB")
    arr = np.asarray(img, dtype=np.float64) / 255.0
    feats = [float(arr.mean())] + [float(m) for m in arr.reshape(-1, arr.shape[-1]).mean(axis=0)]
    return (feats * ((k // len(feats)) + 1))[:k]


DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("stats", ArrayType(DoubleType()), True),
    ]
)


def decode_stats(df: DataFrame, *, n_stats: int = 4, real: bool = False) -> DataFrame:
    """Decode each media row to summary statistics (fake: byte-derived;
    real: per-pixel means via PIL for image rows, byte-stats fallback
    for other kinds until their codecs are provisioned). One Arrow batch
    in, one out; bytes never leave the executor. ``real=True`` without
    an installed/injected codec raises at plan time, not mid-job."""
    image_mod = None
    if real:
        image_mod = _pil_image_module()
        if image_mod is None:
            _require_real_codecs()

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for b in batches:
            if image_mod is not None:
                stats = [
                    _real_image_stats(image_mod, c, n_stats)
                    if k == "image"
                    else _byte_stats(c, n_stats)
                    for k, c in zip(b["kind"], b["content"])
                ]
            else:
                stats = [_byte_stats(c, n_stats) for c in b["content"]]
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "kind": b["kind"],
                    "n_bytes": [len(c) if c is not None else 0 for c in b["content"]],
                    "stats": stats,
                }
            )

    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    return ensure_min_parallelism(df, "media_id").mapInPandas(fn, DECODE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("ts_ms", LongType(), False),
        StructField("frame_stats", ArrayType(DoubleType()), True),
    ]
)


def sample_frames(
    df: DataFrame, *, every_ms: int = 1000, real: bool = False
) -> DataFrame:
    """Video → one row per sampled frame at ``every_ms`` spacing (fake:
    frame stats are byte stats salted by frame index; real: actual frame
    grabs). The row explosion happens executor-side inside the batch
    iterator — the driver never sees frames. Real frame grabs are not
    implemented yet (no video codec to build against); ``real=True``
    always raises rather than silently emitting fake stats."""
    if real:
        _require_real_codecs()

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for b in batches:
            ids, idxs, tss, stats = [], [], [], []
            for mid, content, dur in zip(b["media_id"], b["content"], b["duration_ms"]):
                n = max(int((dur or 0) // every_ms), 1)
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(i * every_ms)
                    salted = (content or b"") + i.to_bytes(4, "big")
                    stats.append(_byte_stats(salted, 4))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "ts_ms": tss, "frame_stats": stats}
            )

    from alaska_etl_spark.operators.parallelism import ensure_min_parallelism

    return ensure_min_parallelism(
        df.filter(F.col("kind") == "video"), "media_id"
    ).mapInPandas(fn, FRAME_SCHEMA)


def media_from_documents(docs: DataFrame, *, kind: str = "image") -> DataFrame:
    """Adapter: build a MEDIA_SCHEMA table from the documents corpus by
    treating encoded text as opaque bytes — the test/bench stand-in for
    a real object-store media load."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("raw").alias("format"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(None).cast("long").alias("channels"),
        F.lit(None).cast("long").alias("sample_rate"),
        (F.length("text").cast("long") * 100).alias("duration_ms"),
    )
