"""Batch = stream with an empty index.  A stream_clean micro-batch is
the batch job's stage chain run against the survivor index of earlier
batches, so over the same documents

(a) one micro-batch into an empty work dir gives run_cleaning_job's
    (doc_id, text) rows, and
(b) N micro-batches with arrival-ordered ids and no near-dup chain
    across batches give them too,

for each near-dup sketch, substring-cut mode and decontaminate mode.

The fixture is a few dozen articles of perfbench/data/articles.parquet
(real texts, 4 per article) with planted exact copies, word-drop
near-dups and shared 40-token runs, within and across batches, an
email, a gate-failing stub and two docs quoting an eval text."""

import os

import pyarrow.parquet as pq
import pytest

from engine.cleaning import run_cleaning_job
from engine.streaming import _clean_one_batch

_ARTICLES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench", "data", "articles.parquet")

# each value of every stage option is covered once
_CONFIGS = {
    "minhash-tokens-drop": dict(sketch="minhash", substring_mode="tokens",
                                decontaminate_mode="drop"),
    "simhash128-bytes-cut": dict(sketch="simhash128",
                                 substring_mode="bytes",
                                 decontaminate_mode="cut"),
}
# arrival order: ids ascend across batches
_BATCHES = [range(1, 21), range(21, 40)]


def _fixture():
    texts = pq.read_table(_ARTICLES, columns=["text"]) \
        .column("text").to_pylist()
    docs = {i + 1: " ".join(texts[4 * i:4 * i + 4]) for i in range(24)}
    docs[4] += " write to editor@example.com for the full report"

    def word_drop(i):
        return " ".join(w for k, w in enumerate(docs[i].split())
                        if k % 10 != 3)

    def with_run(i, fresh):
        run = " ".join(docs[i].split()[30:70])
        return " ".join(texts[fresh:fresh + 4]) + " " + run

    docs.update({
        25: "too short to pass",      # fails the quality gate
        26: docs[22],                 # exact copy, same batch
        28: word_drop(21),            # near-dup, same batch
        29: with_run(23, 100),        # shared run, same batch
        31: docs[9],                  # the rest: of batch 0 docs
        32: word_drop(5),
        33: word_drop(16),
        34: docs[20],
        35: with_run(7, 104),
        36: with_run(18, 108),
    })
    bench = (" ".join(docs[11].split()[20:45]) + " and "
             + " ".join(docs[19].split()[5:30]))
    return docs, bench


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("equiv")
    docs, bench = _fixture()
    inp, bench_path = str(root / "in"), str(root / "bench")
    spark.createDataFrame(sorted(docs.items()), "doc_id long, text string") \
        .coalesce(1).write.parquet(inp)
    spark.createDataFrame([(0, bench)], "doc_id long, text string") \
        .write.parquet(bench_path)
    return root, docs, inp, bench_path


def _rows(spark, path):
    return sorted(tuple(r) for r in
                  spark.read.parquet(path).select("doc_id", "text")
                  .collect())


def _batch_job(spark, world, name):
    root, _docs, inp, bench_path = world
    out = str(root / f"batch-{name}")
    cfg = _CONFIGS[name]
    metrics = run_cleaning_job(
        spark, inp, out, sketch=cfg["sketch"], substring_cut=True,
        substring_mode=cfg["substring_mode"],
        decontaminate_path=bench_path,
        decontaminate_mode=cfg["decontaminate_mode"])
    return _rows(spark, out), metrics


def _stream(spark, world, name, batches):
    root, docs, _inp, bench_path = world
    cfg = _CONFIGS[name]
    work = str(root / f"stream-{name}-{len(batches)}")
    for batch_id, ids in enumerate(batches):
        _clean_one_batch(
            spark, spark.createDataFrame([(i, docs[i]) for i in ids
                                          if i in docs],
                                         "doc_id long, text string"),
            batch_id, work, sketch=cfg["sketch"], substring_cut=True,
            substring_mode=cfg["substring_mode"],
            decontaminate_path=bench_path,
            decontaminate_mode=cfg["decontaminate_mode"])
    return _rows(spark, f"{work}/cleaned")


@pytest.mark.parametrize("name", sorted(_CONFIGS))
def test_stream_clean_equals_batch_job(spark, world, name):
    want, m = _batch_job(spark, world, name)
    # the fixture exercises every stage: the gate and decontamination
    # drop, exact copies and near-dups go, runs are cut
    drop = _CONFIGS[name]["decontaminate_mode"] == "drop"
    assert m["rows_in"] - m["after_quality_language"] == (3 if drop else 1)
    assert m["after_quality_language"] - m["after_exact_dedup"] == 3
    assert m["after_exact_dedup"] - m["after_neardup_removal"] == 3
    assert m["substring_tokens_cut"] >= 3 * 40
    if not drop:
        assert m["decontaminated_tokens_cut"] >= 2 * 13
    assert [t for _, t in want if "[EMAIL]" in t]

    # (a) one micro-batch into an empty work dir
    assert _stream(spark, world, name, [range(1, 40)]) == want
    # (b) arrival-ordered micro-batches, no near-dup chain across them
    assert _stream(spark, world, name, _BATCHES) == want
