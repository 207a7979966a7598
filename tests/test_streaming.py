"""Structured Streaming tests: incremental extraction with checkpoint
resume and exactly-once after a mid-stream crash, and a row-map
operator running unchanged on a stream."""

from pyspark.sql import functions as F

from engine.streaming import stream_extract
from engine.synth import CANONICAL_QUERY, synth_transcripts


def _write_batch(spark, path, n_conversations, offset=0):
    df = synth_transcripts(spark, n_conversations=n_conversations,
                           turns_per_conv=6, shuffled=False)
    if offset:
        df = df.withColumn(
            "conv_id", F.concat(F.lit(f"b{offset}_"), F.col("conv_id")))
    df.coalesce(2).write.mode("append").parquet(path)


def test_stream_extract_incremental_with_checkpoint(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    _write_batch(spark, inp, 10)
    q = stream_extract(spark, inp, out, cp, CANONICAL_QUERY)
    q.awaitTermination(120)
    first = spark.read.parquet(out).count()
    assert first == 60

    # new files land; the checkpoint makes the second drain incremental
    _write_batch(spark, inp, 5, offset=1)
    q2 = stream_extract(spark, inp, out, cp, CANONICAL_QUERY)
    q2.awaitTermination(120)
    total = spark.read.parquet(out)
    assert total.count() == 60 + 30
    # no row processed twice
    assert total.select("conv_id", "turn_idx").distinct().count() == 90


def test_boilerplate_strip_composes_with_streaming(spark, tmp_path):
    """strip_boilerplate is a pure row map (mapInPandas), so it runs
    unchanged on a streaming DataFrame — the same operator serves
    batch backfill and the live stream (north rule: one engine)."""
    from engine.boilerplate import strip_boilerplate

    inp = str(tmp_path / "in")
    _write_batch(spark, inp, 6)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    out = strip_boilerplate(stream)
    q = (out.writeStream.format("memory").queryName("bp")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM bp").collect()
    assert len(rows) == 36
    # synth paragraphs are below the 25-char candidate threshold, so
    # markup turns take the [document] fallback (full visible text,
    # script payloads excluded); prose turns short-circuit as 'none'
    tags = {r.winner_tag for r in rows}
    assert tags == {"none", "[document]"}
    assert all(r.main_text is not None and r.removed_len >= 0 for r in rows)
    json_rows = [r for r in rows if '"book"' not in r.main_text
                 and r.winner_tag == "[document]"]
    assert json_rows, "ld+json script text must not leak into main_text"


def test_stream_extract_exactly_once_after_midstream_crash(spark, tmp_path):
    """Kill the stream AFTER a micro-batch's output is written but
    BEFORE its commit (the streaming analogue of the batch pipeline's
    duplicate-risk window), restart against the same checkpoint, and
    prove the (conv, turn) grain stays exactly-once: Spark replays the
    uncommitted batch with the SAME batch_id, and the idempotent
    per-batch overwrite (the canonical foreachBatch pattern) absorbs
    the replay."""
    from engine.extract import extract_turns
    from engine.streaming import read_transcript_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    for i in range(4):
        _write_batch(spark, inp, 3, offset=i)  # 4 appends × 2 files each

    def run(bomb_after):
        stream = read_transcript_stream(spark, inp, max_files_per_trigger=2)
        extracted = extract_turns(stream, CANONICAL_QUERY,
                                  jvm_prose_fast_path=False)

        def sink(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(f"{out}/batch={batch_id}"))
            if bomb_after is not None and batch_id >= bomb_after:
                raise RuntimeError("simulated failure after write, "
                                   "before commit")

        q = (extracted.writeStream.foreachBatch(sink)
             .option("checkpointLocation", cp)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
            return None
        except Exception as exc:  # StreamingQueryException wraps the bomb
            return exc

    err = run(bomb_after=1)
    assert err is not None and "simulated failure" in str(err)
    partial = spark.read.parquet(out)
    assert 0 < partial.count() < 72  # some but not all landed

    assert run(bomb_after=None) is None  # resume drains the rest
    final = spark.read.parquet(out)
    assert final.count() == 72  # 4 appends × 3 convs × 6 turns
    assert final.select("conv_id", "turn_idx").distinct().count() == 72
    assert final.filter(F.col("status") == "parse_error").count() == 0
