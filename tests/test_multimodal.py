"""Multimodal plumbing: schemas, mapInPandas batch iteration, frame
explosion, determinism, and the real-codec gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alaska_etl_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_stats,
    media_from_documents,
    sample_frames,
)


@pytest.fixture()
def media(spark):
    rows = [
        (0, "image", b"\x89PNGfakebytes", "png", 640, 480, 3, None, None),
        (1, "image", b"\xff\xd8jpegfake", "jpeg", 800, 600, 3, None, None),
        (2, "video", b"\x00\x00movfake", "mp4", 1280, 720, 3, None, 3500),
        (3, "audio", b"RIFFwavfake", "wav", None, None, 1, 16000, 2000),
        (4, "image", None, "png", 1, 1, 3, None, None),  # null content
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id")


def test_decode_stats_shape_and_determinism(spark, media):
    a = {r.media_id: r for r in decode_stats(media, n_stats=4).collect()}
    b = {r.media_id: r for r in decode_stats(media, n_stats=4).collect()}
    assert len(a) == 5
    assert all(len(r.stats) == 4 for r in a.values())
    assert all(0.0 <= v < 1.0 for r in a.values() for v in r.stats)
    for k in a:
        assert a[k].stats == b[k].stats  # deterministic across runs/partitions
    assert a[0].n_bytes == 13
    assert a[4].n_bytes == 0 and a[4].stats == [0.0, 0.0, 0.0, 0.0]


def test_sample_frames_explosion(spark, media):
    frames = sample_frames(media, every_ms=1000).collect()
    assert {r.media_id for r in frames} == {2}
    assert sorted(r.frame_idx for r in frames) == [0, 1, 2]  # 3500ms // 1000
    assert [r.ts_ms for r in sorted(frames, key=lambda r: r.frame_idx)] == [0, 1000, 2000]
    # frame stats differ by index (salted) but are deterministic
    again = sample_frames(media, every_ms=1000).collect()
    assert sorted(map(str, frames)) == sorted(map(str, again))


def test_real_codec_gate(spark, media, monkeypatch):
    from alaska_etl_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "_pil_image_module", lambda: None)
    with pytest.raises(NotImplementedError, match="codec"):
        decode_stats(media, real=True)
    with pytest.raises(NotImplementedError, match="codec"):
        sample_frames(media, real=True)


# executors can't import the pytest-loaded test module by name, so ship
# FakePIL (captured in the decode closure) by VALUE instead of by ref
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


class FakePIL:
    """Minimal PIL.Image-like module for codec-seam injection: content
    is ``b'<w>,<h>:'`` + w*h*3 raw RGB bytes."""

    class _Img:
        def __init__(self, data: bytes):
            head, _, body = bytes(data).partition(b":")
            w, h = (int(x) for x in head.split(b","))
            self.size = (w, h)
            self._body = body

        def convert(self, mode):
            return self

        def __array__(self, dtype=None, copy=None):
            import numpy as np

            w, h = self.size
            arr = np.frombuffer(self._body, dtype=np.uint8).reshape(h, w, 3)
            return arr.astype(dtype) if dtype is not None else arr

    @staticmethod
    def open(bio):
        return FakePIL._Img(bio.read())


def _img_bytes(w: int, h: int, val: int) -> bytes:
    return f"{w},{h}:".encode() + bytes([val]) * (w * h * 3)


def test_real_decode_via_injected_codec(spark, monkeypatch):
    """The real=True dispatch path end-to-end with an injected codec:
    image rows get decoded-pixel means, other kinds keep the byte-stats
    fallback, and the captured codec survives the trip to executors."""
    from alaska_etl_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "_pil_image_module", lambda: FakePIL)
    rows = [
        (0, "image", _img_bytes(4, 2, 255), "png", 4, 2, 3, None, None),
        (1, "image", _img_bytes(2, 2, 0), "png", 2, 2, 3, None, None),
        (3, "audio", b"RIFFwavfake", "wav", None, None, 1, 16000, 2000),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r.stats for r in mm.decode_stats(media, n_stats=4, real=True).collect()}
    assert out[0] == [1.0, 1.0, 1.0, 1.0]  # all-255 pixels
    assert out[1] == [0.0, 0.0, 0.0, 0.0]  # all-0 pixels
    fake = {r.media_id: r.stats for r in mm.decode_stats(media, n_stats=4).collect()}
    assert out[3] == fake[3]  # audio: byte-stats fallback


def test_media_from_documents_adapter(spark):
    docs = spark.createDataFrame([(7, "hello world")], "doc_id bigint, text string")
    m = media_from_documents(docs)
    row = m.collect()[0]
    assert m.schema == MEDIA_SCHEMA or [f.name for f in m.schema] == [f.name for f in MEDIA_SCHEMA]
    assert row.media_id == 7
    assert bytes(row.content) == b"hello world"
    assert row.duration_ms == 1100


def test_metadata_query_prunes_bytes(spark, media, tmp_path):
    """The scale contract: metadata-only queries must not read the
    binary column (ReadSchema excludes `content`)."""
    p = str(tmp_path / "media")
    media.write.parquet(p)
    q = spark.read.parquet(p).groupBy("kind").agg(F.count(F.lit(1)).alias("n"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan
    assert q.count() == 3
