"""Replay safety of the streaming jobs (ADVICE r4 items 1+2).

The crash window: foreachBatch writes batch N's index partitions, then
the process dies BEFORE the checkpoint commit.  On restart Spark
replays batch N — whose own rows are now already in the index.  The
fixed jobs exclude ``batch = N`` from every index read
(engine/streaming._seen), so the replay sees exactly the
pre-batch state and rewrites its partitions identically.

These tests drive the module-level per-batch functions directly (the
same functions foreachBatch calls) so the replay can be invoked
without forging checkpoint internals.
"""

from pyspark.sql import functions as F

from engine.streaming import _clean_one_batch, _neardup_one_batch
from tests.test_streaming_neardup import _DOCS_1, _DOCS_2, _write


def _rows(spark, path, cols):
    return sorted(tuple(r) for r in
                  spark.read.parquet(path).select(*cols).collect())


def test_stream_clean_replay_rewrites_batch_identically(spark, tmp_path):
    """The high-severity defect: pre-fix, a replayed batch read its own
    survivor hashes and the left_anti join dropped the whole batch —
    cleaned/batch=N was rewritten EMPTY."""
    work = str(tmp_path / "work")
    b0 = spark.createDataFrame(_DOCS_1, "doc_id long, text string")
    _clean_one_batch(spark, b0, 0, work)

    batch1 = [
        (11, _DOCS_1[0][1]),                      # exact copy of doc 1
        (13, "a fresh report about the annual harvest and the farmers "
             "who gathered it was mailed to editor@example.com for "
             "review by the board"),
    ]
    b1 = spark.createDataFrame(batch1, "doc_id long, text string")
    _clean_one_batch(spark, b1, 1, work)

    cleaned = _rows(spark, f"{work}/cleaned/batch=1", ["doc_id", "text"])
    hashes = _rows(spark, f"{work}/index/hashes/batch=1",
                   ["content_hash", "doc_id"])
    metrics = _rows(spark, f"{work}/metrics/batch=1",
                    ["batch_id", "rows_in", "after_gates",
                     "after_exact_dedup", "after_neardup_removal"])
    assert [d for d, _ in cleaned] == [13]  # 11 deduped vs indexed doc 1

    # replay batch 1 (index partitions for batch=1 already exist)
    _clean_one_batch(spark, b1, 1, work)
    assert _rows(spark, f"{work}/cleaned/batch=1",
                 ["doc_id", "text"]) == cleaned
    assert _rows(spark, f"{work}/index/hashes/batch=1",
                 ["content_hash", "doc_id"]) == hashes
    assert _rows(spark, f"{work}/metrics/batch=1",
                 ["batch_id", "rows_in", "after_gates",
                  "after_exact_dedup", "after_neardup_removal"]) == metrics


def test_stream_neardup_replay_identical_pairs_and_jaccard(spark, tmp_path):
    """The medium defect: pre-fix, a replayed batch unioned its own
    shingles into dist_all TWICE, inflating n_common/sizes and shifting
    the jaccard values (and potentially the >=0.2 survivor set)."""
    inp = str(tmp_path / "in")  # unused; direct per-batch invocation
    idx = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    del inp

    b0 = spark.createDataFrame(_DOCS_1, "doc_id long, text string")
    _neardup_one_batch(spark, b0, 0, idx, pairs)
    b1 = spark.createDataFrame(_DOCS_2, "doc_id long, text string")
    _neardup_one_batch(spark, b1, 1, idx, pairs)

    got = _rows(spark, f"{pairs}/batch=1", ["doc_a", "doc_b", "jaccard"])
    assert [(a, b) for a, b, _ in got] == [(1, 6)]
    j_original = got[0][2]

    # replay batch 1: pairs AND the jaccard value must be unchanged
    _neardup_one_batch(spark, b1, 1, idx, pairs)
    replay = _rows(spark, f"{pairs}/batch=1", ["doc_a", "doc_b", "jaccard"])
    assert replay == got
    assert replay[0][2] == j_original
    # index partitions rewritten identically too
    assert (_rows(spark, f"{idx}/dist/batch=1", ["doc_id", "h"])
            == _rows(spark, f"{idx}/dist/batch=1", ["doc_id", "h"]))
    assert spark.read.parquet(f"{idx}/dist") \
        .select("doc_id").distinct().count() == 5


def test_stream_neardup_bucketed_index_mode(spark, tmp_path):
    """VERDICT r4 'What's wrong' 1: after compaction the hot loop must
    candidate-join against the bucketed tables IN PLACE (plan shows the
    bucketed scan) with the uncompacted tail on top — and produce the
    same pairs as the plain-dir path."""
    from engine.index import compact_stream_index

    idx = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")

    b0 = spark.createDataFrame(_DOCS_1, "doc_id long, text string")
    _neardup_one_batch(spark, b0, 0, idx, pairs)
    compact_stream_index(spark, idx, "t_hot", str(tmp_path / "bidx"))

    # batch 1 arrives post-compaction; batch 2 lands in the
    # uncompacted tail before batch 3 runs — all three index layers
    # (bucketed table, tail dir, batch itself) are exercised
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = []
        b1 = spark.createDataFrame(_DOCS_2, "doc_id long, text string")
        _neardup_one_batch(spark, b1, 1, idx, pairs,
                           bucketed_name="t_hot", plan_probe=probe)
        got1 = _rows(spark, f"{pairs}/batch=1", ["doc_a", "doc_b"])
        assert got1 == [(1, 6)]  # caught vs the COMPACTED corpus
        plan = probe[0]
        assert "Bucketed: true" in plan, plan
        assert ("FileScan parquet spark_catalog.default"
                ".t_hot_bands") in plan
        # the bucketed join shuffles ONLY the arriving side: exactly
        # one single-column band_key exchange in the whole plan (the
        # tail join's exchanges are composite (band_key, band_id) and
        # the bucketed scan itself feeds its join exchange-free)
        import re
        solo = re.findall(r"Exchange hashpartitioning\(band_key#\d+L?,"
                          r" \d+\)", plan)
        assert len(solo) == 1, plan

        # near-dup of tail doc 7 arrives in batch 2
        b2 = spark.createDataFrame(
            [(21, _DOCS_2[1][1] + " until dawn")],
            "doc_id long, text string")
        _neardup_one_batch(spark, b2, 2, idx, pairs,
                           bucketed_name="t_hot")
        got2 = _rows(spark, f"{pairs}/batch=2", ["doc_a", "doc_b"])
        assert got2 == [(7, 21)]  # caught vs the UNCOMPACTED tail
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # replay safety holds in bucketed mode too
    _neardup_one_batch(spark, b2, 2, idx, pairs, bucketed_name="t_hot")
    assert _rows(spark, f"{pairs}/batch=2", ["doc_a", "doc_b"]) == got2


def test_stream_clean_bucketed_index_mode(spark, tmp_path):
    """stream_clean's near-dup step through the compacted tables: a
    near-dup of a compacted survivor is still dropped, and the plan
    reads the bucketed index in place."""
    from engine.index import compact_stream_index

    work = str(tmp_path / "work")
    b0 = spark.createDataFrame(_DOCS_1, "doc_id long, text string")
    _clean_one_batch(spark, b0, 0, work)
    compact_stream_index(spark, work + "/index", "t_cln",
                         str(tmp_path / "bidx"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = []
        b1 = spark.createDataFrame(
            [(12, _DOCS_1[1][1] + " and the cellar"),  # near-dup of 2
             (13, _DOCS_1[0][1])],                     # exact copy of 1
            "doc_id long, text string")
        _clean_one_batch(spark, b1, 1, work, bucketed_name="t_cln",
                         plan_probe=probe)
        # 12 dropped by the near-dup band table, 13 by the bucketed
        # exact-hash table — both corpus sides read in place
        assert _rows(spark, f"{work}/cleaned/batch=1", ["doc_id"]) == []
        assert "Bucketed: true" in probe[0], probe[0]

        # the exact-dedup anti-join engages the hashes table's
        # bucketing: keyed on the bucket column, the bucketed scan
        # feeds the join without an index-side exchange
        from engine.analytics import _verify_jaccard  # noqa: F401
        from pyspark.sql import functions as F
        gated = b1.withColumn(
            "content_hash", F.md5(F.col("text").cast("binary")))
        j = gated.join(spark.table("t_cln_hashes")
                       .select("content_hash"),
                       "content_hash", "left_anti")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        scan_at = plan.index("FileScan parquet spark_catalog.default"
                             ".t_cln_hashes")
        assert "Exchange" not in plan[scan_at:], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_replay_after_crash_window_compaction(spark, tmp_path):
    """ADVICE r5 medium: compact_stream_index may run while the stream
    is down INSIDE the crash window (batch N's index written, its
    checkpoint uncommitted).  The replayed batch's rows then arrive
    via the bucketed TABLES, not the per-batch tail — pre-fix,
    stream_clean anti-joined the batch against itself (cleaned/batch=N
    rewritten empty) and the near-dup verify double-counted shingles.
    The index reads now filter `batch != batch_id`
    (engine/streaming._seen), so the replay is
    byte-identical."""
    from engine.index import compact_stream_index

    # --- stream_clean ---
    work = str(tmp_path / "work")
    b0 = spark.createDataFrame(_DOCS_1, "doc_id long, text string")
    _clean_one_batch(spark, b0, 0, work)
    b1 = spark.createDataFrame(
        [(12, _DOCS_1[1][1] + " and the cellar"),  # near-dup of 2
         (14, "an entirely new account of the mountain expedition was "
              "published with photographs and careful maps of the "
              "northern ridge for the curious public")],
        "doc_id long, text string")
    _clean_one_batch(spark, b1, 1, work, bucketed_name="t_rp")
    cleaned = _rows(spark, f"{work}/cleaned/batch=1", ["doc_id", "text"])
    assert [d for d, _ in cleaned] == [14]

    # crash-window compaction: batch 1's survivors land in the tables
    compact_stream_index(spark, work + "/index", "t_rp",
                         str(tmp_path / "bidx"))
    folded = {r.batch for r in
              spark.table("t_rp_hashes").select("batch")
              .distinct().collect()}
    assert 1 in folded  # the replayed batch IS in the table

    # replay batch 1 in bucketed mode: identical rewrite, not empty
    _clean_one_batch(spark, b1, 1, work, bucketed_name="t_rp")
    assert _rows(spark, f"{work}/cleaned/batch=1",
                 ["doc_id", "text"]) == cleaned

    # --- stream_dedup_neardup: jaccard must not be inflated ---
    idx = str(tmp_path / "nidx")
    pairs = str(tmp_path / "npairs")
    _neardup_one_batch(spark, b0, 0, idx, pairs)
    b1n = spark.createDataFrame(_DOCS_2, "doc_id long, text string")
    _neardup_one_batch(spark, b1n, 1, idx, pairs)
    got = _rows(spark, f"{pairs}/batch=1", ["doc_a", "doc_b", "jaccard"])
    assert [(a, b) for a, b, _ in got] == [(1, 6)]

    compact_stream_index(spark, idx, "t_rpn", str(tmp_path / "bidxn"))
    _neardup_one_batch(spark, b1n, 1, idx, pairs, bucketed_name="t_rpn")
    assert _rows(spark, f"{pairs}/batch=1",
                 ["doc_a", "doc_b", "jaccard"]) == got


def test_folded_batches_refuses_batchless_table(spark, tmp_path):
    """ADVICE r5 low: a bucketed table without the `batch` provenance
    column cannot exclude already-folded batches — bucketed mode must
    refuse loudly instead of double-counting the tail."""
    import pytest

    from engine.streaming import _folded_batches

    spark.createDataFrame([(1, 2, 3)], "doc_id long, band_id long, "
                          "band_key long") \
        .write.mode("overwrite").bucketBy(4, "band_key") \
        .option("path", str(tmp_path / "nb")) \
        .saveAsTable("t_nobatch_bands")
    try:
        with pytest.raises(ValueError, match="batch"):
            _folded_batches(spark, "t_nobatch_bands")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_nobatch_bands")
