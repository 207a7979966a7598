"""Bucketed near-dup index (engine/index.py): the candidate join
against the compacted index must shuffle ONLY the arriving side (the
bucketed table is read in place — the co-located-join layout the
incremental dedup docstrings prescribe), and the near-dup stage run
against the compacted index as its seen side must reproduce the
in-memory incremental semantics."""

import pytest
from pyspark.sql import functions as F

from engine.analytics import (_hashed_shingles_df, _minhash_bands,
                              _minhash_pairs)
from engine.cleaning import neardup_pairs
from engine.index import compact_stream_index
from engine.streaming import _neardup_one_batch, _neardup_seen

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast(spark):
    """Force a shuffle join so the bucketed-scan property is visible
    (a broadcast join would hide it — and at production index sizes
    the arriving side is not broadcast-small either)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _compacted(spark, tmp_path, docs, name):
    """Index ``docs`` as stream batch 0 and compact it into the
    bucketed tables ``{name}_bands`` / ``{name}_dist``; returns the
    stream index dir."""
    idx = str(tmp_path / f"{name}_sidx")
    _neardup_one_batch(spark, docs, 0, idx, str(tmp_path / f"{name}_p"))
    compact_stream_index(spark, idx, name, str(tmp_path / f"{name}_b"))
    return idx


def test_bucketed_index_matches_incremental_semantics(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    indexed = docs.filter(F.col("doc_id") % 2 == 0)
    arriving = docs.filter(F.col("doc_id") % 2 == 1)

    idx = _compacted(spark, tmp_path, indexed, "t_idx")
    seen = _neardup_seen(spark, idx, 1, "minhash", "t_idx")
    got = {(r.doc_a, r.doc_b, r.jaccard)
           for r in neardup_pairs(arriving, seen=seen).collect()}

    # ground truth: the full-batch pairs restricted to >=1 odd member
    # (the dedup_minhash_incremental decomposition).  The table arm
    # keys on band_key alone (bucketing), so its candidate set is a
    # SUPERSET of the (band_id, band_key) candidates — every verified
    # pair it adds is a true >=0.2-Jaccard pair the stricter banding
    # happened to miss; recall can only go up
    expected = {(r.doc_a, r.doc_b, r.jaccard) for r in _minhash_pairs(
        _hashed_shingles_df(docs),
        cand_filter=lambda a, b: ~((a % 2 == 0) & (b % 2 == 0)))
        .collect()}
    assert expected <= got and len(expected) > 0
    assert all(j >= 0.2 for _, _, j in got)
    assert all(a % 2 == 1 or b % 2 == 1 for a, b, _ in got)


def test_bucketed_candidate_join_shuffles_only_arriving_side(
        spark, tmp_path, no_broadcast):
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    _compacted(spark, tmp_path, docs.filter(F.col("doc_id") % 2 == 0),
               "t_plan")

    arr_bands = _minhash_bands(_hashed_shingles_df(
        docs.filter(F.col("doc_id") % 2 == 1)))
    idx = spark.table("t_plan_bands")
    j = (arr_bands.alias("a")
         .join(idx.alias("b"),
               (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") != F.col("b.doc_id"))))
    plan = j._jdf.queryExecution().executedPlan().toString()

    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount: 16 out of 16" in plan
    # exactly ONE band_key exchange — the arriving side shuffling to
    # the index's bucketing; the bucketed scan feeds the join directly
    # (its sortBy even saves the SMJ sort).  The other exchanges in
    # the plan are the arriving side's own minhash computation
    # (shingle groupBy), not the join.
    assert plan.count("Exchange hashpartitioning(band_key") == 1, plan
    scan_at = plan.index("FileScan parquet spark_catalog.default"
                         ".t_plan_bands")
    assert "Exchange" not in plan[scan_at:], \
        "the bucketed scan must feed the join without a shuffle"


def test_compact_stream_index_to_bucketed_tables(spark, tmp_path):
    """The ingest → compact split: the streaming near-dup job builds
    its replay-idempotent per-batch parquet index; compaction folds it
    into the bucketed tables, after which the near-dup stage against
    the bucketed index finds the same cross-batch pair the streaming
    job found."""
    from engine.streaming import stream_dedup_neardup
    from tests.test_streaming_neardup import _DOCS_1, _DOCS_2, _write

    inp = str(tmp_path / "in")
    idx = str(tmp_path / "sidx")
    pairs = str(tmp_path / "pairs")
    cp = str(tmp_path / "cp")
    _write(spark, _DOCS_1, inp)
    q = stream_dedup_neardup(spark, inp, idx, pairs, cp)
    q.awaitTermination(120)

    compact_stream_index(spark, idx, "t_cmp", str(tmp_path / "bidx"))
    arriving = spark.createDataFrame(_DOCS_2, "doc_id long, text string")
    seen = _neardup_seen(spark, idx, 1, "minhash", "t_cmp")
    got = {(r.doc_a, r.doc_b)
           for r in neardup_pairs(arriving, seen=seen).collect()}
    assert got == {(1, 6)}  # doc 6 is the near-dup of indexed doc 1
    plan = (spark.table("t_cmp_bands").groupBy("band_key").count()
            ._jdf.queryExecution().executedPlan().toString())
    assert "Bucketed: true" in plan and "Exchange" not in plan


def test_bucketed_index_append_keeps_layout_and_catches_late_dup(
        spark, tmp_path, no_broadcast):
    """The index grows by appended per-batch dirs that a re-compaction
    folds into the bucketed tables: the layout survives the growth
    and a late near-dup of the first batch is still caught."""
    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over a lazy dog while the sun "
             "sets on the quiet valley and the river runs north")],
        "doc_id long, text string")
    batch2 = spark.createDataFrame(
        [(2, "a completely different document about maritime law and "
             "the taxation of harbor goods in the northern provinces")],
        "doc_id long, text string")
    # near-dup of doc 1 arrives in batch 3, after an append cycle
    batch3 = spark.createDataFrame(
        [(3, "the quick brown fox jumps over a lazy dog while the sun "
             "sets on the quiet valley and the river runs north past "
             "the mill")],
        "doc_id long, text string")

    idx = _compacted(spark, tmp_path, base, "t_app")
    pairs = str(tmp_path / "t_app_p")
    _neardup_one_batch(spark, batch2, 1, idx, pairs, bucketed_name="t_app")
    assert spark.read.parquet(f"{pairs}/batch=1").count() == 0
    compact_stream_index(spark, idx, "t_app", str(tmp_path / "t_app_b2"))

    _neardup_one_batch(spark, batch3, 2, idx, pairs, bucketed_name="t_app")
    got = {(r.doc_a, r.doc_b)
           for r in spark.read.parquet(f"{pairs}/batch=2").collect()}
    assert got == {(1, 3)}
    # the re-compacted files kept the bucket layout: a bucket-key
    # aggregation over the table still runs exchange-free on the
    # bucketed scan (a bare scan would not engage bucketing at all)
    plan = (spark.table("t_app_bands").groupBy("band_key").count()
            ._jdf.queryExecution().executedPlan().toString())
    assert "Bucketed: true" in plan, plan
    assert "Exchange" not in plan, plan
