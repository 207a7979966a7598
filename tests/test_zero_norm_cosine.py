"""Zero-norm embeddings get a defined cosine, not an abort.

A zero vector has no cosine: the one cosine expression (``_cos``) is
NULL for it, so a degenerate pair never passes a threshold and ranks
below every real cosine.  Before, the ANN / near-dup / IVF queries
divided by the zero norm and aborted with ANSI DIVIDE_BY_ZERO.  The
corpus here is sf0.001's embeddings plus three all-zero vectors."""

import pytest

import engine.analytics  # noqa: F401  (registers the queries)
from engine.queries import _REGISTRY
from tests.test_ann_recall import SF

# none is a multiple of 10, so none gets a planted perturbed copy
_ZERO_IDS = (501, 503, 507)
_QUERIES = ("ann_cosine_topk", "ann_lsh_top1", "ann_recall_report",
            "dedup_embedding_cosine", "ann_ivf_topk",
            "ann_ivf_sampled_topk", "ann_ivf_recall", "semdedup")


@pytest.fixture(scope="module")
def sf_zero(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_zero")
    base = spark.read.parquet(f"{SF}/embeddings.parquet")
    dims = len(base.first().embedding)
    zeros = spark.createDataFrame(
        [(v, [0.0] * dims, 0) for v in _ZERO_IDS], base.schema)
    base.unionByName(zeros).coalesce(1).write.parquet(
        str(out / "embeddings.parquet"))
    return str(out)


@pytest.mark.parametrize("name", _QUERIES)
def test_query_completes_with_zero_vectors(spark, sf_zero, name):
    fn, _ = _REGISTRY[name]
    assert fn(spark, sf_zero).collect()


def test_dedup_cosine_ignores_zero_vectors_keeps_plants(spark, sf_zero):
    fn, _ = _REGISTRY["dedup_embedding_cosine"]
    rows = fn(spark, sf_zero).collect()
    assert not {r.dup_id for r in rows} & set(_ZERO_IDS)
    assert not {r.keeper_id for r in rows} & set(_ZERO_IDS)
    # every planted (v, v + off) pair is still confirmed, and nothing
    # else: the natural corpus is near-random
    base = [r.vec_id for r in
            spark.read.parquet(f"{SF}/embeddings.parquet").collect()]
    off = max(base + list(_ZERO_IDS)) + 1
    assert {(r.keeper_id, r.dup_id) for r in rows} == \
        {(v, v + off) for v in base if v % 10 == 0}
