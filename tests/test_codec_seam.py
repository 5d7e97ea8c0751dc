"""The codec seam's shared machinery: the one Arrow batch loop
(multimodal._row_batches under _codec_map_in_pandas), the per-container
video frame iterators and the one video-container dispatch.

Legs: (1) the batch loop emits a frame with the schema's columns for
an empty batch, and Spark types it — for empty input, zero rows out and
one row in / many rows out; (2) every frame iterator refuses another
container's bytes with NotImplementedError, at the iterator and at the
stats operator bound to it, so a shared dispatch cannot widen one
container's operator to the others; (3) sample_frames' dispatch samples
exactly the (frame_idx, ts_ms) each per-container stats operator does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imdb_top_250_etl_pipeline_spark.operators import multimodal as mm
from imdb_top_250_etl_pipeline_spark.operators.avi import avi_encode
from imdb_top_250_etl_pipeline_spark.operators.mp4 import (
    mp4_encode_fragmented,
    mp4_encode_gray,
)

OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("tag", T.BinaryType()),
    ]
)


def _fan_out(doc_id, blob):
    """doc_id % 3 output rows per input row: 0, 1 or 2."""
    return [(doc_id, k, bytes(blob)) for k in range(doc_id % 3)]


def _blobs(spark, ids):
    return spark.createDataFrame(
        [(i, bytearray(b"x%d" % i)) for i in ids], "doc_id long, blob binary"
    )


# --- leg 1: the batch loop ----------------------------------------------------


def test_batch_loop_empty_batch_has_schema_columns():
    run = mm._row_batches(_fan_out, ("doc_id", "blob"), OUT.fieldNames())
    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "blob": pd.Series([], dtype=object)})
    (frame,) = list(run(iter([empty])))
    assert list(frame.columns) == ["doc_id", "k", "tag"]
    assert len(frame) == 0


def test_seam_empty_input_is_typed(spark):
    out = mm._codec_map_in_pandas(_blobs(spark, []), _fan_out, OUT)
    assert out.schema == OUT
    assert out.collect() == []


def test_seam_zero_and_many_rows_out(spark):
    # every row of the first input emits nothing: each batch is empty
    none = mm._codec_map_in_pandas(_blobs(spark, [0, 3, 6]), _fan_out, OUT)
    assert none.schema == OUT
    assert none.collect() == []
    got = mm._codec_map_in_pandas(_blobs(spark, range(6)), _fan_out, OUT)
    rows = sorted((r.doc_id, r.k, bytes(r.tag)) for r in got.collect())
    assert rows == [
        (1, 0, b"x1"), (2, 0, b"x2"), (2, 1, b"x2"),
        (4, 0, b"x4"), (5, 0, b"x5"), (5, 1, b"x5"),
    ]


# --- leg 2: each iterator is bound to its own container -----------------------


def _containers() -> dict[str, bytes]:
    frames = [np.full((16, 16), 40 + 9 * f, dtype=np.uint8) for f in range(4)]
    y4m = b"YUV4MPEG2 W16 H16 F10:1 Cmono\n" + b"".join(
        b"FRAME\n" + f.tobytes() for f in frames
    )
    return {
        "y4m": y4m,
        "avi": avi_encode(frames, rate=10),
        "mp4": mp4_encode_gray(frames, fps=10, key_every=2),
        "mp4frag": mp4_encode_fragmented(
            mm._pgop_specs(5, 2, 2), 16, 16, fps=10, qp=12
        ),
    }


ITERATORS = {
    "y4m": (mm._y4m_frame_iter, {"avi", "mp4", "mp4frag"}),
    "avi": (mm._avi_frame_iter, {"y4m", "mp4", "mp4frag"}),
    "mp4": (mm._mp4_frame_iter, {"y4m", "avi"}),
    "mp4frag": (mm._mp4_sidx_frame_iter, {"y4m", "avi"}),
}


@pytest.mark.parametrize("name", sorted(ITERATORS))
def test_iterator_refuses_foreign_containers(name):
    raws = _containers()
    frames, foreign = ITERATORS[name]
    # its own container yields frames whose lazy pixels decode
    first = next(frames(raws[name], 1))
    assert first[4]().shape == (16, 16)
    for other in foreign:
        with pytest.raises(NotImplementedError, match="demuxer"):
            next(frames(raws[other], 1))


@pytest.mark.parametrize(
    "stats, foreign",
    [
        (mm.y4m_frame_stats, "avi"),
        (mm.avi_frame_stats, "y4m"),
        (mm.mp4_frame_stats, "y4m"),
        (mm.mp4_frag_keyframe_stats, "avi"),
    ],
)
def test_stats_operator_refuses_foreign_container(spark, stats, foreign):
    df = spark.createDataFrame(
        [(1, bytearray(_containers()[foreign]))], "doc_id long, blob binary"
    )
    with pytest.raises(Exception, match="NotImplementedError"):
        stats(df, every_k=1).collect()


# --- leg 3: sample_frames samples what the stats operators sample -------------


@pytest.mark.parametrize(
    "synth, stats",
    [
        (mm.synthesize_y4m_blobs, mm.y4m_frame_stats),
        (mm.synthesize_avi_blobs, mm.avi_frame_stats),
        (mm.synthesize_mp4_blobs, mm.mp4_frame_stats),
    ],
)
def test_sample_frames_matches_stats_frames(spark, synth, stats):
    videos = synth(
        spark.range(3, 9).select(F.col("id").alias("doc_id")), "doc_id"
    )

    def key(df):
        return sorted((r.doc_id, r.frame_idx, r.ts_ms) for r in df.collect())

    sampled = key(mm.sample_frames(videos, every_k=2))
    assert len(sampled) > 6  # several frames per video
    assert sampled == key(stats(videos, every_k=2))
