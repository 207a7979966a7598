"""SemDeDup on degenerate embeddings: a zero-norm vector and a vector
with a NaN element have no cosine, so they never pair — the same answer
as a document without an embedding — on both the batch stage
(semantic_dedup_removal) and the stream micro-batch
(_semdedup_one_batch), instead of aborting the job."""

import math

import pytest

from engine.cleaning import semantic_dedup_removal
from engine.index import write_ann_index
from engine.streaming import _semdedup_one_batch

_DEGENERATE = {"zero_norm": [0.0, 0.0], "nan_element": [float("nan"), 1.0]}


def _unit(deg):
    return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]


# 16 directions 22.5 degrees apart (cosine 0.92 < tau between
# neighbours): one k-means cell each; vec 103 is a 3-degree turn of
# vec 3, the one true semantic pair
_BASE = [(i + 1, _unit(22.5 * i)) for i in range(16)]
_PARTNER = (103, _unit(22.5 * 2 + 3))


@pytest.mark.parametrize("case", sorted(_DEGENERATE))
def test_batch_semdedup_degenerate_vector_never_pairs(spark, case):
    emb = spark.createDataFrame(
        _BASE + [_PARTNER, (200, _DEGENERATE[case])],
        "vec_id long, e array<double>")
    docs = spark.createDataFrame(
        [(i, f"doc body {i}") for i in [v for v, _ in _BASE] + [103, 200]],
        "doc_id long, text string")
    for policy in ("clusters", "pairwise"):
        kept = {r.doc_id for r in
                semantic_dedup_removal(docs, emb, policy).collect()}
        assert 200 in kept
        assert len({3, 103} & kept) == 1
        assert len(kept) == 17


@pytest.mark.parametrize("case", sorted(_DEGENERATE))
def test_stream_semdedup_degenerate_vector_never_pairs(spark, tmp_path,
                                                       case):
    index = str(tmp_path / "ann")
    write_ann_index(spark.createDataFrame(_BASE,
                                          "vec_id long, e array<double>"),
                    index)
    batch = spark.createDataFrame(
        [_PARTNER, (200, _DEGENERATE[case])],
        "vec_id long, embedding array<float>")
    work = str(tmp_path / "sem")
    _semdedup_one_batch(spark, batch, 0, index, work)
    pairs = {frozenset((r.removed_id, r.keeper_id)) for r in
             spark.read.parquet(f"{work}/pairs").collect()}
    assert pairs == {frozenset((3, 103))}
    members = {r.vec_id for r in
               spark.read.parquet(f"{work}/members").collect()}
    assert members == {103, 200}
