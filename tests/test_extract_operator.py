"""Plan rules of the one extraction operator (engine/extract.py):
single- and multi-query jobs scan each commit group once through one
kernel; multi-query output passes ``ts`` through; a crashing DOM parse
gives the parse_error envelope for every extracting query."""

import pandas as pd
import pytest

from engine.synth import CANONICAL_QUERY, synth_transcripts

MIXED = {
    "good": CANONICAL_QUERY,
    "bad": "get the book",   # entity, no attributes -> bad_query
    "crash": "the",          # entity-less parse crash -> parse_error
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def small_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("op") / "in")
    synth_transcripts(spark, n_conversations=4, turns_per_conv=6,
                      partitions=2).write.parquet(path)
    return path


@pytest.mark.parametrize("queries", [None, {"a": CANONICAL_QUERY,
                                            "b": "get the book"}])
def test_pipeline_group_scans_once_through_one_kernel(spark, tmp_path,
                                                      monkeypatch,
                                                      small_input, queries):
    from engine import pipeline

    plans = []
    write = pipeline._write_output

    def probe(df, cfg, part_cols):
        plans.append(_plan(df))
        write(df, cfg, part_cols)

    monkeypatch.setattr(pipeline, "_write_output", probe)
    pipeline.run_extraction_job(spark, pipeline.JobConfig(
        input_path=small_input, output_path=str(tmp_path / "out"),
        lineage_path=str(tmp_path / "lin"), query=CANONICAL_QUERY,
        queries=queries, n_buckets=2))
    assert len(plans) == 1
    assert plans[0].count("FileScan") == 1
    assert plans[0].count("MapInPandas") == 1


def test_multi_query_passes_ts_through(spark):
    import datetime

    from engine.extract import extract_turns_multi

    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    df = spark.createDataFrame(
        [("c", 0, "user", "prose", ts), ("c", 1, "tool", "<p>x</p>", ts)],
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp")
    out = extract_turns_multi(df, {"a": CANONICAL_QUERY, "b": "the"})
    assert out.columns[:5] == ["query_id", "conv_id", "turn_idx", "role",
                               "ts"]
    assert {r.ts for r in out.collect()} == {ts}
    assert out.count() == 4


def test_kernel_gives_parse_error_envelope_when_dom_parse_raises(
        monkeypatch):
    from engine import dom
    from engine.extract import _kernel, _parse
    from engine.parser import extract_turn

    def boom(text):
        raise ValueError("tokenizer blew up")

    monkeypatch.setattr(dom, "parse_html", boom)
    entries = [(qid, *_parse(q)) for qid, q in sorted(MIXED.items())]
    batch = pd.DataFrame({"conv_id": ["c", "c"], "turn_idx": [0, 1],
                          "role": ["tool", "user"],
                          "text": ["<p>markup</p>", None],
                          "text_nbytes": [13, 5]})
    out = next(_kernel(entries, True, ["conv_id", "turn_idx", "role"],
                       0.6, None)(iter([batch])))
    rows = {(r.query_id, r.turn_idx): r for r in out.itertuples()}
    assert len(rows) == 2 * len(MIXED)

    good = rows[("good", 0)]
    parsed = {qid: p for qid, p, _ in entries}["good"]
    want = extract_turn("<p>markup</p>", parsed)
    assert (good.entity, good.message, good.strategy, good.status,
            good.error) == (want.entity, want.message, want.strategy,
                            want.status, want.error)
    assert good.status == "parse_error"
    assert good.error == "tokenizer blew up"
    # prose never reaches the parser; failing queries keep their envelope
    assert rows[("good", 1)].status == "no_results"
    assert rows[("bad", 0)].status == "bad_query"
    assert rows[("crash", 0)].status == "parse_error"
    assert rows[("crash", 0)].error.startswith("Parsing error:")
