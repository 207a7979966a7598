"""Multi-query single-pass extraction: shared DOM parse per turn must
be output-equivalent to independent single-query runs."""

from pyspark.sql import functions as F

from engine.extract import extract_turns, extract_turns_multi
from engine.synth import CANONICAL_QUERY, synth_transcripts

QUERIES = {
    "q_book": CANONICAL_QUERY,
    "q_title": "List book title, price and availability",
    "q_bad": "the",
}


def _canon(df, extra=()):
    cols = ["conv_id", "turn_idx", "entity", "results", "n_results",
            "message", "strategy", "status", *extra]
    return [tuple(r) for r in df.select(*cols).orderBy("conv_id", "turn_idx").collect()]


def test_multi_equals_singles(spark):
    df = synth_transcripts(spark, n_conversations=12, turns_per_conv=6)
    multi = extract_turns_multi(df, QUERIES)
    assert multi.count() == df.count() * len(QUERIES)
    for qid, query in QUERIES.items():
        got = _canon(multi.filter(F.col("query_id") == qid))
        want = _canon(extract_turns(df, query))
        assert got == want, qid


def test_multi_query_pipeline_job(spark, tmp_path):
    from engine.pipeline import JobConfig, run_extraction_job

    inp = str(tmp_path / "in")
    synth_transcripts(spark, n_conversations=8, turns_per_conv=6) \
        .write.parquet(inp)
    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lin"),
                    query="", queries={"a": CANONICAL_QUERY,
                                       "b": QUERIES["q_title"]},
                    n_buckets=4)
    run_extraction_job(spark, cfg)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 48 * 2
    assert out.select("query_id").distinct().count() == 2
    # turn order restored per (conv, query)
    assert out.filter(F.col("turn_seq") != F.col("turn_idx") + 1).count() == 0


def test_multi_query_crash_resume_equals_single_shot(spark, tmp_path):
    from engine.pipeline import JobConfig, SimulatedFailure, run_extraction_job

    import pytest

    inp = str(tmp_path / "in")
    synth_transcripts(spark, n_conversations=8, turns_per_conv=6) \
        .write.parquet(inp)
    qs = {"a": CANONICAL_QUERY, "b": QUERIES["q_title"]}

    ref = JobConfig(input_path=inp, output_path=str(tmp_path / "ref_out"),
                    lineage_path=str(tmp_path / "ref_lin"),
                    query="", queries=qs, n_buckets=4)
    run_extraction_job(spark, ref)

    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lin"),
                    query="", queries=qs, n_buckets=4,
                    buckets_per_commit=2, fail_after_groups=1)
    with pytest.raises(SimulatedFailure):
        run_extraction_job(spark, cfg)
    cfg2 = JobConfig(input_path=inp, output_path=cfg.output_path,
                     lineage_path=cfg.lineage_path,
                     query="", queries=qs, n_buckets=4, buckets_per_commit=2)
    run_extraction_job(spark, cfg2)

    cols = ["query_id", "conv_id", "turn_idx", "n_results", "status"]
    a = (spark.read.parquet(cfg.output_path).select(*cols)
         .orderBy(*cols).collect())
    b = (spark.read.parquet(ref.output_path).select(*cols)
         .orderBy(*cols).collect())
    assert a == b


def test_multi_query_crash_before_lineage_no_duplicates(spark, tmp_path):
    """VERDICT.md r1 item 8: the duplicate-risk window (output written,
    lineage NOT committed) in QUERIES mode — the re-run bucket's
    dynamic-partition overwrite must keep the (turn × query) grain
    exactly-once."""
    from engine.pipeline import JobConfig, SimulatedFailure, run_extraction_job

    import pytest

    inp = str(tmp_path / "in")
    synth_transcripts(spark, n_conversations=8, turns_per_conv=6) \
        .write.parquet(inp)
    qs = {"a": CANONICAL_QUERY, "b": QUERIES["q_title"]}

    ref = JobConfig(input_path=inp, output_path=str(tmp_path / "ref_out"),
                    lineage_path=str(tmp_path / "ref_lin"),
                    query="", queries=qs, n_buckets=4)
    run_extraction_job(spark, ref)

    cfg = JobConfig(input_path=inp, output_path=str(tmp_path / "out"),
                    lineage_path=str(tmp_path / "lin"),
                    query="", queries=qs, n_buckets=4,
                    buckets_per_commit=2, fail_before_lineage_group=2)
    with pytest.raises(SimulatedFailure):
        run_extraction_job(spark, cfg)
    cfg2 = JobConfig(input_path=inp, output_path=cfg.output_path,
                     lineage_path=cfg.lineage_path,
                     query="", queries=qs, n_buckets=4, buckets_per_commit=2)
    metrics = run_extraction_job(spark, cfg2)
    assert metrics["resumed"] is True

    out = spark.read.parquet(cfg.output_path)
    # exactly-once at the (turn, query) grain: no duplicate keys
    assert out.count() == 48 * 2
    assert out.select("query_id", "conv_id", "turn_idx").distinct() \
              .count() == 48 * 2
    cols = ["query_id", "conv_id", "turn_idx", "turn_seq", "n_results",
            "status"]
    a = out.select(*cols).orderBy(*cols).collect()
    b = (spark.read.parquet(ref.output_path).select(*cols)
         .orderBy(*cols).collect())
    assert a == b
    # lineage is per (bucket, query): EACH query's rows_in reconciles
    # against the input-turn count independently
    lin = spark.read.parquet(cfg.lineage_path)
    per_query = {r.query_id: r.total for r in
                 lin.groupBy("query_id")
                 .agg(F.sum("rows_in").alias("total")).collect()}
    assert per_query == {"a": 48, "b": 48}


def test_multi_query_per_query_resume(spark, tmp_path):
    """The (bucket, query_id) lineage grain (VERDICT r3 item 7): after
    query 'a' completes, adding query 'b' to the same output/lineage
    computes ONLY b — a's buckets stay complete (its lineage rows keep
    the first run's run_id and its output partitions are untouched),
    and a third run is a no-op."""
    from engine.pipeline import JobConfig, run_extraction_job

    inp = str(tmp_path / "in")
    synth_transcripts(spark, n_conversations=8, turns_per_conv=6) \
        .write.parquet(inp)
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lin")

    m1 = run_extraction_job(spark, JobConfig(
        input_path=inp, output_path=out, lineage_path=lin,
        query="", queries={"a": CANONICAL_QUERY}, n_buckets=4))
    assert m1["buckets_processed"] == 4 and m1["resumed"] is False
    a_rows_first = (spark.read.parquet(out)
                    .filter(F.col("query_id") == "a")
                    .select("conv_id", "turn_idx", "n_results", "status")
                    .orderBy("conv_id", "turn_idx").collect())

    # add query b: only b's buckets run
    m2 = run_extraction_job(spark, JobConfig(
        input_path=inp, output_path=out, lineage_path=lin,
        query="", queries={"a": CANONICAL_QUERY,
                           "b": QUERIES["q_title"]}, n_buckets=4))
    assert m2["buckets_processed"] == 4 and m2["resumed"] is True

    lineage = spark.read.parquet(lin)
    by_q = {r.query_id: r for r in
            lineage.groupBy("query_id")
            .agg(F.countDistinct("bucket").alias("n_buckets"),
                 F.countDistinct("run_id").alias("n_runs"),
                 F.sum("rows_in").alias("rows_in")).collect()}
    assert by_q["a"].n_buckets == 4 and by_q["b"].n_buckets == 4
    assert by_q["a"].rows_in == 48 and by_q["b"].rows_in == 48
    # a was NOT recomputed: all its lineage rows are from run 1
    a_runs = {r.run_id for r in
              lineage.filter(F.col("query_id") == "a")
              .select("run_id").distinct().collect()}
    assert a_runs == {m1["run_id"]}

    # a's output is byte-identical to before b ran
    a_rows_after = (spark.read.parquet(out)
                    .filter(F.col("query_id") == "a")
                    .select("conv_id", "turn_idx", "n_results", "status")
                    .orderBy("conv_id", "turn_idx").collect())
    assert a_rows_after == a_rows_first
    assert spark.read.parquet(out).count() == 48 * 2

    # both queries complete -> no-op
    m3 = run_extraction_job(spark, JobConfig(
        input_path=inp, output_path=out, lineage_path=lin,
        query="", queries={"a": CANONICAL_QUERY,
                           "b": QUERIES["q_title"]}, n_buckets=4))
    assert m3["buckets_processed"] == 0 and m3["resumed"] is True


def test_multi_query_changed_text_invalidates_only_that_query(spark, tmp_path):
    """Changing ONE query's text marks its lineage rows stale and
    recomputes exactly that query (output overwritten wholesale) —
    while an UNCHANGED sibling query stays done; changing the SHARED
    config (n_buckets) still refuses (bucket spaces would not line up
    for overwrite)."""
    import pytest

    from engine.pipeline import (JobConfig, SnapshotMismatch,
                                 run_extraction_job)

    inp = str(tmp_path / "in")
    synth_transcripts(spark, n_conversations=4, turns_per_conv=3) \
        .write.parquet(inp)
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lin")

    run_extraction_job(spark, JobConfig(
        input_path=inp, output_path=out, lineage_path=lin,
        query="", queries={"a": CANONICAL_QUERY,
                           "b": QUERIES["q_title"]}, n_buckets=2))

    # change query a's text: a recomputes (2 buckets), b stays done
    m = run_extraction_job(spark, JobConfig(
        input_path=inp, output_path=out, lineage_path=lin,
        query="", queries={"a": QUERIES["q_title"],
                           "b": QUERIES["q_title"]}, n_buckets=2))
    assert m["buckets_processed"] == 2
    got = spark.read.parquet(out)
    # a's output was replaced: both query partitions now extract the
    # same (title) query, so their per-query row counts agree
    counts = {r.query_id: r["count"] for r in
              got.groupBy("query_id").count().collect()}
    assert counts["a"] == counts["b"] == 12

    # flip a's text BACK: ambiguous lineage (matching + stale rows,
    # no commit order) -> conservative recompute, never trust-as-done
    m2 = run_extraction_job(spark, JobConfig(
        input_path=inp, output_path=out, lineage_path=lin,
        query="", queries={"a": CANONICAL_QUERY,
                           "b": QUERIES["q_title"]}, n_buckets=2))
    assert m2["buckets_processed"] == 2

    # shared-config change is still a hard refusal
    with pytest.raises(SnapshotMismatch):
        run_extraction_job(spark, JobConfig(
            input_path=inp, output_path=out, lineage_path=lin,
            query="", queries={"a": CANONICAL_QUERY,
                               "b": QUERIES["q_title"]}, n_buckets=4))


def test_multi_query_id_column_first(spark):
    df = synth_transcripts(spark, n_conversations=3, turns_per_conv=3)
    multi = extract_turns_multi(df, {"a": CANONICAL_QUERY})
    assert multi.columns[0] == "query_id"


def test_multi_fast_path_equivalent_and_jvm_side(spark):
    """The multi-query JVM prose fast path (VERDICT r2 item 4) must be
    output-equivalent to the all-Python kernel path, and its plan must
    show prose rows never cross Arrow: exactly ONE MapInPandas node,
    gated by the markup filter."""
    from engine.extract import extract_turns_multi
    from engine.synth import synth_transcripts

    df = synth_transcripts(spark, n_conversations=12, turns_per_conv=6)
    qs = {
        "good": "Can you give me the book: name and price?",
        "bad": "books",                       # entity, no attributes
        "crash": "give me"                    # entity-less parse crash
    }

    def canon(d):
        return sorted(
            (r["query_id"], r["conv_id"], r["turn_idx"], r["role"],
             r["entity"], tuple(map(str, r["results"])), r["n_results"],
             r["message"], r["strategy"], r["status"], r["error"],
             r["text_nbytes"])
            for r in d.collect())

    fast = extract_turns_multi(df, qs, jvm_prose_fast_path=True)
    slow = extract_turns_multi(df, qs, jvm_prose_fast_path=False)
    assert canon(fast) == canon(slow)

    # after collect AQE prints final + initial sections; inspect the
    # final one only
    plan = (fast._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("MapInPandas") == 1
    # the Python kernel's input subtree is the markup-filtered branch
    kernel_subtree = plan.split("MapInPandas", 1)[1]
    assert "Filter" in kernel_subtree

    # one-scan mode: every query, good or failing, runs in the ONE
    # kernel over ONE scan of the input
    slow_plan = (slow._jdf.queryExecution().executedPlan().toString()
                 .split("== Initial Plan ==")[0])
    assert slow_plan.count("MapInPandas") == 1
    assert slow_plan.count("Range (") == 1


def test_multi_fast_path_null_text_and_all_bad_queries(spark):
    from engine.extract import extract_turns_multi

    df = spark.createDataFrame(
        [("c", 0, "assistant", None), ("c", 1, "user", "plain prose"),
         ("c", 2, "assistant", "<p>markup</p>")],
        "conv_id string, turn_idx int, role string, text string")
    qs = {"good": "Can you give me the book: name and price?",
          "crash": "give me"}
    rows = {(r["query_id"], r["turn_idx"]): r
            for r in extract_turns_multi(df, qs).collect()}
    assert len(rows) == 6  # exactly once per (turn, query)
    assert rows[("good", 0)]["status"] == "no_results"
    assert rows[("good", 0)]["text_nbytes"] == 0
    assert rows[("crash", 2)]["status"] == "parse_error"
    assert "cannot unpack non-iterable NoneType" in \
        rows[("crash", 1)]["message"]

    # no extractable query at all -> zero Python, constant envelopes
    only_bad = extract_turns_multi(df, {"crash": "give me"})
    plan = only_bad._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert only_bad.count() == 3
