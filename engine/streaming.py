"""Structured Streaming variant of the extraction pipeline.

The reference is strictly request/response (no streaming semantics —
SURVEY.md §1.3), but a web-scale transcript pipeline also has to drain
a continuously-landing table.  This module runs the SAME Arrow-batched
extraction kernel as a stateless streaming transformation:

* file/Iceberg-append source → ``extract_turns`` → parquet sink with a
  checkpoint: restart-safe exactly-once via Spark's own offset
  tracking (the streaming analogue of engine/pipeline.py's bucket
  lineage);
* a watermarked windowed aggregation over event time (``ts``) for the
  monitoring surface (turns and extraction failures per conversation
  window), tolerating late arrivals.

The per-conversation ordering window is a batch concern (row_number is
not available over unbounded streams); order is restored by the batch
reader downstream, per SURVEY.md §3.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.extract import extract_turns, extract_turns_multi
from engine.schema import TRANSCRIPTS_SCHEMA


def read_transcript_stream(spark: SparkSession, input_path: str,
                           max_files_per_trigger: int = 32) -> DataFrame:
    """File-append streaming source over the transcripts directory."""
    return (spark.readStream
            .schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_path))


def stream_extract(spark: SparkSession, input_path: str, output_path: str,
                   checkpoint_path: str, query: str,
                   available_now: bool = True):
    """Run the extraction kernel over newly-arrived transcript files.

    ``available_now=True`` drains everything currently present and
    stops (the batch-incremental mode used in tests and backfills);
    ``False`` runs continuously.  Returns the StreamingQuery.
    """
    stream = read_transcript_stream(spark, input_path)
    # in-kernel prose skip: the two-branch JVM split would re-read each
    # micro-batch's files once per branch
    extracted = extract_turns(stream, query, jvm_prose_fast_path=False)
    writer = (extracted.writeStream
              .format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_batched(spark: SparkSession, input_path: str,
                           output_path: str, checkpoint_path: str,
                           query: str = "", available_now: bool = True,
                           plan_probe: list | None = None,
                           queries: dict | None = None):
    """Streaming extraction WITH the JVM prose fast path (VERDICT r3
    item 4): a foreachBatch job that persists each micro-batch once
    and runs the two-branch extract (markup rows → Arrow kernel; prose
    rows → codegen'd JVM envelope) over the cache — the branch union
    reads the micro-batch's files ONCE instead of once per branch (the
    documented constraint that forced stream_extract to pin
    jvm_prose_fast_path=False).  Output is per-batch-id overwrite
    partitions, so replayed batches are exactly-once (same pattern as
    stream_dedup_neardup and the crash test).

    ``plan_probe``: test hook — when a list is passed, each
    micro-batch's executed-plan string is appended so tests can assert
    the prose rows bypass MapInPandas inside the micro-batch.

    ``queries`` (dict query_id → NL query) runs every query over each
    micro-batch in one pass (one DOM parse per turn shared across all
    queries, prose/bad-query envelopes stamped JVM-side); without it
    ``query`` runs alone.  Batch/stream × single/multi all share the
    one operator."""
    stream = read_transcript_stream(spark, input_path)

    def _process(batch_df, batch_id):
        batch = batch_df.persist()
        extracted = extract_turns_multi(batch, queries or {None: query})
        if plan_probe is not None:
            plan_probe.append(
                extracted._jdf.queryExecution().executedPlan().toString())
        extracted.write.mode("overwrite") \
            .parquet(f"{output_path}/batch={batch_id}")
        batch.unpersist()

    writer = (stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _stream_index_tail(spark: SparkSession, dir_: str, cols, batch_id,
                       folded):
    """Read a per-batch index dir (``.../batch=N`` partitions) minus

    * the CURRENT batch's own partition — on a replay after a crash
      between the index write and the checkpoint commit, batch N's
      partition already holds its own rows; reading them back would
      anti-join the whole batch against itself (stream_clean) or
      double-count its shingles in the Jaccard verify
      (stream_dedup_neardup) — the two ADVICE r4 replay defects.
      Excluding ``batch = N`` makes the replay see exactly the state
      the original run saw, so the rewrite is byte-identical;
    * batches already FOLDED into the bucketed tables by
      ``compact_stream_index`` (the table carries its source batch
      ids), so the compacted rows are never unioned twice.

    Both filters hit the ``batch`` partition column → static partition
    pruning, no data files of excluded batches are read.  Returns None
    when the dir does not exist yet (first batch)."""
    import os as _os

    if not _os.path.isdir(dir_):
        return None
    df = spark.read.parquet(dir_).filter(F.col("batch") != F.lit(batch_id))
    if folded:
        df = df.filter(~F.col("batch").isin(folded))
    return df.select(*cols)


def _folded_batches(spark: SparkSession, table: str) -> list:
    """Batch ids already folded into a bucketed index table — read
    from the table itself (single source of truth: no side marker file
    whose crash-window staleness could double-count a batch).  The
    collect is driver-sized metadata (one id per micro-batch ever
    compacted).

    A table WITHOUT the ``batch`` provenance column cannot answer
    "which batches are already folded", so the tail union would stack
    every per-batch dir on top of already-folded rows — double-counted
    shingles, inflated Jaccard (ADVICE r5).  Refuse loudly instead of
    guessing: re-run compact_stream_index (it always writes the
    column) and resume."""
    tbl = spark.table(table)
    if "batch" not in tbl.columns:
        raise ValueError(
            f"bucketed index table {table!r} has no 'batch' column, so "
            "already-folded batches cannot be excluded from the "
            "per-batch tail (rows would be read twice). Re-run "
            "compact_stream_index to rebuild the table with batch "
            "provenance.")
    return [r.batch for r in tbl.select("batch").distinct().collect()]


def _folded_batches_from_partitions(spark: SparkSession,
                                    table: str) -> list:
    """Folded-batch ids for a table PARTITIONED by ``batch``
    (compact_substring_index's windows layout): read from the catalog
    partition listing — pure metadata, nothing scanned.  The windows
    table is one row per token position, so the generic
    _folded_batches (a distinct over the column) would put a
    corpus-sized scan into every streaming trigger.  Falls back to
    _folded_batches for a non-partitioned table (which raises on a
    batch-less one — same contract)."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.sql(f"SHOW PARTITIONS {table}").collect()
    except AnalysisException:
        return _folded_batches(spark, table)
    out = []
    for r in rows:
        for kv in r[0].split("/"):
            k, _, v = kv.partition("=")
            if k == "batch":
                out.append(int(v))
    return out


def _read_index_table(spark: SparkSession, table: str, batch_id):
    """A bucketed index table read for a streaming hot loop, minus the
    replaying batch's OWN rows (ADVICE r5 medium): if
    compact_stream_index ran in the crash window between batch N's
    index write and its checkpoint commit, batch N's rows are in the
    TABLE on replay rather than the per-batch tail —
    ``_stream_index_tail``'s own-partition exclusion never sees them,
    so without this filter stream_clean anti-joins the batch against
    itself (cleaned/batch=N rewritten empty) and the near-dup verify
    double-counts shingles.  The filter is on a non-bucket row column,
    which does not break the bucketed scan layout."""
    return spark.table(table).filter(F.col("batch") != F.lit(batch_id))


def _stream_neardup_pairs(spark: SparkSession, dist_arr, bands_arr,
                          index_dir: str, batch_id,
                          bucketed_name: str | None = None,
                          plan_probe: list | None = None,
                          chunks_arr=None):
    """Verified near-dup pairs (≥1 arriving member) of a micro-batch
    against the persisted index — the shared candidate+verify step of
    stream_dedup_neardup and stream_clean.

    Index side = (optional) bucketed tables read IN PLACE (one
    arriving-side exchange — engine/index.py's co-located layout,
    VERDICT r4 "What's wrong" 1) ∪ the uncompacted per-batch tail ∪
    the batch itself.  The bucketed join keys on ``band_key`` alone
    (the bucket column — a composite key disables the bucketed scan);
    the candidate superset is closed by the exact-Jaccard verify.
    The tail join keeps the stricter (band_id, band_key) key.

    ``chunks_arr``: when given (the ``sketch="simhash128"`` path),
    candidates come from 32-bit simhash-chunk buckets of the arriving
    chunks against the persisted chunk index (``{index_dir}/chunks``)
    instead of MinHash bands — the near-identical-doc generator; the
    exact-Jaccard verify is unchanged.  Mutually exclusive with
    ``bucketed_name`` (the bucketed tables are MinHash-band layout)."""
    from engine.analytics import _SIMHASH128_CHUNKS, _verify_jaccard

    if chunks_arr is not None and bucketed_name is not None:
        raise ValueError("simhash128 sketch and bucketed band index "
                         "are mutually exclusive")

    use_tables = (bucketed_name is not None
                  and spark.catalog.tableExists(f"{bucketed_name}_bands"))
    folded = (_folded_batches(spark, f"{bucketed_name}_bands")
              if use_tables else [])
    tail_dist = _stream_index_tail(spark, f"{index_dir}/dist",
                                   ["doc_id", "h"], batch_id, folded)
    tail_bands = _stream_index_tail(spark, f"{index_dir}/bands",
                                    ["doc_id", "band_id", "band_key"],
                                    batch_id, folded)
    dist_all = dist_arr if tail_dist is None else tail_dist.unionAll(dist_arr)

    def _band_join(a_df, b_df, on_band_id: bool):
        a, b = a_df.alias("a"), b_df.alias("b")
        cond = ((F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") != F.col("b.doc_id")))
        if on_band_id:
            cond = cond & (F.col("a.band_id") == F.col("b.band_id"))
        return (a.join(b, cond)
                .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                        F.greatest("a.doc_id", "b.doc_id").alias("doc_b")))

    if chunks_arr is not None:
        chunk_cols = ["doc_id"] + [f"c{c}"
                                   for c in range(_SIMHASH128_CHUNKS)]
        tail_chunks = _stream_index_tail(spark, f"{index_dir}/chunks",
                                         chunk_cols, batch_id, [])
        all_chunks = (chunks_arr if tail_chunks is None
                      else tail_chunks.unionAll(chunks_arr))

        def _cbands(df):
            return df.select("doc_id", F.posexplode(F.array(*[
                F.col(f"c{c}") for c in range(_SIMHASH128_CHUNKS)]))
                .alias("band_id", "band_key"))

        cand = _band_join(_cbands(chunks_arr), _cbands(all_chunks),
                          on_band_id=True).distinct()
    elif use_tables:
        dist_all = (_read_index_table(spark, f"{bucketed_name}_dist",
                                      batch_id)
                    .select("doc_id", "h").unionAll(dist_all))
        cand = _band_join(bands_arr,
                          _read_index_table(spark,
                                            f"{bucketed_name}_bands",
                                            batch_id),
                          on_band_id=False)
        cand = cand.unionAll(_band_join(bands_arr, bands_arr,
                                        on_band_id=True))
        if tail_bands is not None:
            cand = cand.unionAll(_band_join(bands_arr, tail_bands,
                                            on_band_id=True))
        cand = cand.distinct()
    else:
        bands_all = (bands_arr if tail_bands is None
                     else tail_bands.unionAll(bands_arr))
        cand = _band_join(bands_arr, bands_all, on_band_id=True).distinct()

    pairs = _verify_jaccard(cand, dist_all)
    if plan_probe is not None:
        plan_probe.append(
            pairs._jdf.queryExecution().executedPlan().toString())
    return pairs


def stream_clean(spark: SparkSession, input_path: str, work_dir: str,
                 checkpoint_path: str, available_now: bool = True,
                 gopher_gate: bool = False,
                 bucketed_name: str | None = None,
                 plan_probe: list | None = None,
                 sketch: str = "minhash",
                 substring_cut: bool = False,
                 substring_mode: str = "tokens",
                 semantic_index: str | None = None,
                 sem_embeddings_path: str | None = None,
                 decontaminate_path: str | None = None,
                 decontaminate_mode: str = "drop"):
    """STREAMING corpus cleaning — the continuously-landing form of
    engine/cleaning.py's batch job, composed from the family's
    streaming members: per micro-batch,

        quality/language gates (+ optional Gopher repetition gate)
        → [benchmark decontamination vs a static eval parquet
          (``decontaminate_path``): mode "drop" gates contaminated
          docs out, mode "cut" excises the contaminated spans
          byte-preservingly BEFORE the content hash — stateless per
          batch, replay-identical by construction]
        → exact dedup (within batch AND against the survivor hash
          index — first occurrence wins)
        → near-dup removal (MinHash vs the survivor band index +
          within batch; the arriving LARGER-id member of a confirmed
          pair is dropped)
        → [SemDeDup (``semantic_index`` + ``sem_embeddings_path``):
          survivors' embeddings run one stream_semdedup micro-batch
          against the frozen-quantizer serving index + earlier stream
          members; the arriving removed members drop here, removals
          of already-shipped members stay in the {idx}/sem/pairs
          decision log for compact_semdedup_stream — metrics gain
          after_semantic_dedup.  Honest boundary: the embedding
          lookup is a STATIC parquet keyed by doc_id, so an arriving
          doc absent from it bypasses the gate (the batch gate's
          missing-embedding rule) — including a byte-identical copy
          of a previously REMOVED doc under a fresh id (its keeper's
          hash/bands don't match it, and the removed doc's never
          entered the survivor state).  A production stream computes
          embeddings from CONTENT (e.g. doc_hashed_embeddings with a
          frozen idf), making copies carry their original's vector;
          with a static lookup, keep it current or accept the gap]
        → [ExactSubstr cut (``substring_cut=True``): duplicated
          >=20-token window occurrences of the SURVIVORS are cut
          position-wise against the persisted window index of shipped
          text ∪ the batch itself — the indexed side (earlier text)
          is always the keeper, and within the batch the smallest
          (doc_id, pos) occurrence keeps, overlap-protected like the
          batch stage; the REBUILT text's windows join the index, so
          future batches dedup against exactly what shipped;
          ``substring_mode="bytes"`` splices cut spans out of the
          ORIGINAL character stream (the batch stage's byte mode,
          shared _byte_splice) with byte_exact riding the output]
        → PII scrub → cleaned parquet + one metrics row,

    and the batch's SURVIVORS (only) join the persisted index, so a
    dropped document never blocks future documents — the index is the
    corpus, exactly as in the batch job.  All writes are per-batch-id
    overwrites (the stream_dedup_neardup exactly-once pattern); a
    replayed batch rewrites its own partitions byte-identically —
    every index read excludes the batch's OWN partition
    (``_stream_index_tail``), so a replay after a crash between the
    index write and the checkpoint commit sees exactly the pre-batch
    state instead of anti-joining the batch against itself (the
    ADVICE r4 high-severity defect; tests/test_stream_replay.py).

    ``bucketed_name``: after ``compact_stream_index`` has folded the
    per-batch index dirs into bucketed tables, pass their name prefix
    and the near-dup candidate join reads the compacted corpus IN
    PLACE (bucketed scan, one arriving-side exchange) with only the
    uncompacted per-batch tail unioned on top.

    Layout under ``work_dir``: ``cleaned/batch=N`` (output),
    ``index/{hashes,dist,bands}/batch=N`` (survivor state),
    ``metrics/batch=N`` (per-batch funnel row — the streaming
    analogue of the batch job's metrics dict).

    Ordering caveat (documented, not hidden): the larger-id-drop
    policy assumes doc_ids are arrival-ordered (a monotonically
    assigned ingest id — the production norm).  A late arrival with a
    SMALLER id than an indexed near-dup survives alongside it (the
    index is never retroactively evicted); the batch job with the
    clusters policy is the tool for retroactive canonicalization."""
    stream = (spark.readStream
              .schema("doc_id LONG, text STRING")
              .option("maxFilesPerTrigger", "1")
              .parquet(input_path))

    def _process(batch_df, batch_id):
        _clean_one_batch(spark, batch_df, batch_id, work_dir,
                         gopher_gate=gopher_gate,
                         bucketed_name=bucketed_name,
                         plan_probe=plan_probe, sketch=sketch,
                         substring_cut=substring_cut,
                         substring_mode=substring_mode,
                         semantic_index=semantic_index,
                         sem_embeddings_path=sem_embeddings_path,
                         decontaminate_path=decontaminate_path,
                         decontaminate_mode=decontaminate_mode)

    writer = (stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _substring_cut_batch(spark: SparkSession, survivors, batch_id,
                         idx: str, min_len: int = 20,
                         mode: str = "tokens"):
    """ExactSubstr cut of one stream_clean micro-batch's survivors
    against the persisted window index — the streaming form of
    engine/cleaning.substring_cut_stage.  Keeper rule: an occurrence
    whose window key is ALREADY INDEXED is always cut (the indexed —
    earlier-shipped — text is the keeper); within the batch the
    smallest (doc_id, pos) occurrence keeps, with the batch stage's
    overlap protection (a position inside any keeper occurrence is
    never cut).  Returns (rebuilt, wins_out, caches): the rewritten
    (doc_id, text, n_tokens_cut) frame for EVERY survivor (normalized
    token stream, like the batch stage), the window rows of the
    REBUILT text (what actually ships is what future batches dedup
    against), and the persisted frames for the caller to release.
    Like the batch stage (VERDICT r6 item 1a), survivors the cut did
    NOT touch ship their ORIGINAL text byte-identically — the window
    keys are tokenization-invariant, so the index sees the same
    stream either way."""
    from engine.analytics import (_SPARK_TOKS,
                                  _substring_window_md5_expr)

    toks_all = (survivors.select("doc_id", "text",
                                 F.expr(_SPARK_TOKS).alias("t"))
                .persist())
    wins_arr = (toks_all.filter(F.expr(f"size(t) >= {min_len}"))
                .select("doc_id", F.posexplode(
                    F.expr(_substring_window_md5_expr(min_len)))
                    .alias("pos", "wkey"))
                .select("doc_id",
                        F.col("pos").cast("long").alias("pos"), "wkey")
                .persist())
    keep = wins_arr.groupBy("wkey").agg(
        F.min(F.struct("doc_id", "pos")).alias("k"),
        F.count("*").alias("nb"))
    w2 = wins_arr.join(keep, "wkey")
    tail = _stream_index_tail(spark, f"{idx}/windows", ["wkey"],
                              batch_id, [])
    if tail is not None:
        w2 = w2.join(tail.distinct().withColumn("in_idx", F.lit(1)),
                     "wkey", "left")
    else:
        w2 = w2.withColumn("in_idx", F.lit(None).cast("int"))
    dup = (F.col("nb") >= 2) | F.col("in_idx").isNotNull()
    is_keep = (F.col("in_idx").isNull()
               & (F.col("k.doc_id") == F.col("doc_id"))
               & (F.col("k.pos") == F.col("pos")))
    s2 = w2.filter(dup).select("doc_id", "pos",
                               is_keep.alias("is_keep"))
    cover = s2.select(
        "doc_id", "is_keep",
        F.explode(F.expr(
            f"sequence(pos, pos + {min_len} - 1)")).alias("p"))
    cut = (cover.groupBy("doc_id", "p")
           .agg(F.max(F.col("is_keep").cast("int")).alias("any_keep"))
           .filter(F.col("any_keep") == 0))
    cuts = cut.groupBy("doc_id").agg(F.collect_set("p").alias("c"))
    if mode == "bytes":
        # byte-preserving splice shared with the batch stage
        # (substring_cut_bytes): touched docs keep every original
        # character outside the cut spans; byte_exact flows into the
        # shipped output as a lineage column
        from engine.analytics import _byte_splice
        rebuilt = (_byte_splice(toks_all.join(cuts, "doc_id", "left"))
                   .select("doc_id", "text", "byte_exact",
                           F.col("n_cut").alias("n_tokens_cut")))
    else:
        if mode != "tokens":
            raise ValueError(f"unknown substring-cut mode: {mode!r}")
        rebuilt_txt = (
            "array_join(filter(transform(t, (x, i) -> "
            "IF(array_contains(c, cast(i as bigint)), null, x)), "
            "x -> x is not null), ' ')")
        rebuilt = (toks_all.join(cuts, "doc_id", "left")
                   .withColumn("c", F.coalesce(
                       "c", F.expr("array()").cast("array<bigint>")))
                   .select("doc_id",
                           F.when(F.size("c") == 0, F.col("text"))
                           .otherwise(F.expr(rebuilt_txt)).alias("text"),
                           F.size("c").cast("long")
                           .alias("n_tokens_cut")))
    wins_out = (rebuilt
                .select("doc_id", F.expr(_SPARK_TOKS).alias("t"))
                .filter(F.expr(f"size(t) >= {min_len}"))
                .select("doc_id", F.posexplode(
                    F.expr(_substring_window_md5_expr(min_len)))
                    .alias("pos", "wkey"))
                .select("doc_id",
                        F.col("pos").cast("long").alias("pos"),
                        "wkey"))
    return rebuilt, wins_out, [toks_all, wins_arr]


def _clean_one_batch(spark: SparkSession, batch_df, batch_id,
                     work_dir: str, gopher_gate: bool = False,
                     bucketed_name: str | None = None,
                     plan_probe: list | None = None,
                     sketch: str = "minhash",
                     substring_cut: bool = False,
                     substring_mode: str = "tokens",
                     semantic_index: str | None = None,
                     sem_embeddings_path: str | None = None,
                     decontaminate_path: str | None = None,
                     decontaminate_mode: str = "drop") -> None:
    """One stream_clean micro-batch — module-level so the replay test
    can re-invoke it with the same batch_id and assert the rewrite is
    identical (the crash-after-index-write/before-commit window).

    ``sketch="simhash128"`` switches the near-dup candidate generator
    to 128-bit simhash chunk buckets (see engine/cleaning.neardup_pairs
    for the trade); the stream then persists a ``chunks`` index instead
    of ``bands`` — pick ONE sketch for a stream's lifetime."""
    from engine.analytics import (_hashed_shingles_df, _minhash_bands,
                                  _simhash128_chunks)
    from engine.cleaning import (gopher_repetition_gate, pii_scrub_text,
                                 quality_language_gate)

    out_dir = f"{work_dir}/cleaned"
    idx = f"{work_dir}/index"

    batch = batch_df.select("doc_id", "text").persist()
    n_in = batch.count()
    gated = quality_language_gate(batch)
    if gopher_gate:
        gated = gopher_repetition_gate(gated)
    if decontaminate_path is not None:
        # benchmark decontamination against a STATIC eval parquet —
        # stateless per batch (the eval gram set broadcasts each
        # trigger; no stream index involved), so replay-identical by
        # construction.  Mirrors the batch job's two modes: drop =
        # the gate; cut = the byte-preserving span excision BEFORE
        # the content hash, so exact/near-dup/window state all see
        # decontaminated text.
        bench = spark.read.parquet(decontaminate_path)
        if decontaminate_mode == "cut":
            from engine.analytics import decontaminate_cut
            gated = (decontaminate_cut(
                gated.select("doc_id", "text"), bench)
                .select("doc_id", "text",
                        F.col("byte_exact").alias("decon_byte_exact")))
        elif decontaminate_mode == "drop":
            from engine.analytics import decontaminate_gate
            gated = decontaminate_gate(gated, bench)
        else:
            raise ValueError(
                f"unknown decontaminate mode: {decontaminate_mode!r}")
    gated = gated.withColumn(
        "content_hash",
        F.md5(F.col("text").cast("binary"))).persist()
    n_gated = gated.count()

    # survivor hash index, minus this batch's own partition (replay).
    # With a compacted bucketed hashes table, the anti-join keys on
    # the bucket column (content_hash) and reads the table in place —
    # the exact-dedup analogue of the band-index hot loop; the
    # uncompacted tail dirs union on top.
    use_hash_tbl = (bucketed_name is not None and
                    spark.catalog.tableExists(f"{bucketed_name}_hashes"))
    folded_h = (_folded_batches(spark, f"{bucketed_name}_hashes")
                if use_hash_tbl else [])
    seen = _stream_index_tail(spark, f"{idx}/hashes",
                              ["content_hash"], batch_id, folded_h)
    fresh = gated
    if use_hash_tbl:
        # separate anti-join (NOT unioned with the tail): a union
        # would erase the table's bucketing and force a full shuffle.
        # Own-batch rows are excluded (ADVICE r5: a compaction in the
        # crash window moves the replaying batch's hashes into the
        # table; without the filter the batch anti-joins itself and
        # the replay rewrites cleaned/batch=N empty)
        fresh = fresh.join(
            _read_index_table(spark, f"{bucketed_name}_hashes",
                              batch_id).select("content_hash"),
            "content_hash", "left_anti")
    if seen is not None:
        fresh = fresh.join(seen, "content_hash", "left_anti")
    w_keep = (fresh.groupBy("content_hash")
              .agg(F.min("doc_id").alias("doc_id")))
    exact = fresh.join(w_keep, ["content_hash", "doc_id"],
                       "left_semi").persist()
    n_exact = exact.count()

    dist_arr = _hashed_shingles_df(
        exact.select("doc_id", "text")).persist()
    if sketch == "simhash128":
        bands_arr = None
        chunks_arr = _simhash128_chunks(
            exact.select("doc_id", "text")).persist()
    elif sketch == "minhash":
        bands_arr = _minhash_bands(dist_arr).persist()
        chunks_arr = None
    else:
        raise ValueError(f"unknown near-dup sketch: {sketch!r}")
    drop = (_stream_neardup_pairs(spark, dist_arr, bands_arr, idx,
                                  batch_id, bucketed_name, plan_probe,
                                  chunks_arr=chunks_arr)
            .select(F.col("doc_b").alias("doc_id")).distinct())
    survivors = exact.join(drop, "doc_id", "left_anti").persist()
    n_surv = survivors.count()

    # fourth gate (VERDICT r6 item 4, mirroring the batch job's stage
    # order: near-dup → semantic → substring-cut): the post-near-dup
    # survivors' embeddings run one stream_semdedup micro-batch
    # against the FROZEN-quantizer serving index + earlier stream
    # members — decisions land in the {idx}/sem/pairs decision log
    # (per-batch overwrite, replay-identical via _stream_index_tail's
    # own-partition exclusion), and the funnel drops the ARRIVING
    # members of confirmed pairs.  A decision that removes an
    # already-shipped earlier member cannot recall shipped output —
    # it stays in the log and is applied by compact_semdedup_stream,
    # the documented stream_semdedup contract.  Docs without an
    # embedding row pass through (the batch gate's missing-embedding
    # rule).  Both flags are stream-lifetime choices.
    n_sem = None
    nd_survivors = survivors
    if semantic_index is not None:
        if sem_embeddings_path is None:
            raise ValueError(
                "semantic_index requires sem_embeddings_path — the "
                "streaming semantic gate looks arriving survivors' "
                "embeddings up by doc_id")
        emb = (spark.read.parquet(sem_embeddings_path)
               .join(survivors.select(F.col("doc_id").alias("vec_id")),
                     "vec_id", "left_semi"))
        _semdedup_one_batch(spark, emb, batch_id, semantic_index,
                            f"{idx}/sem")
        removed = (spark.read
                   .parquet(f"{idx}/sem/pairs/batch={batch_id}")
                   .select(F.col("removed_id").alias("doc_id"))
                   .distinct())
        survivors = survivors.join(removed, "doc_id", "left_anti") \
            .persist()
        n_sem = survivors.count()
        # FUNNEL discipline on the sem members state (self-review r7):
        # stream_semdedup's own contract writes EVERY arriving vector
        # to members/batch=N (its lossless-decomposition semantics),
        # but in the funnel an arrival removed by this very batch's
        # decisions never SHIPS — leaving it in the members tail would
        # let a later arrival be removed for pairing with a GHOST that
        # compaction then deletes too, losing every representative of
        # that cluster.  Rewrite the batch's members partition to the
        # shipped survivors only (localCheckpoint materializes the
        # filtered rows before the same-path overwrite; deterministic,
        # so replays still rewrite identically).
        mem_path = f"{idx}/sem/members/batch={batch_id}"
        mem = (spark.read.parquet(mem_path)
               .join(removed.select(F.col("doc_id").alias("vec_id")),
                     "vec_id", "left_anti")
               .localCheckpoint())
        mem.write.mode("overwrite").parquet(mem_path)

    cut_caches: list = []
    tokens_cut = None
    if substring_cut:
        # near-dup state (below) indexes the PRE-cut survivor text —
        # that stage's own view; the window state indexes the POST-cut
        # text, i.e. exactly what ships.  The flag is a stream-
        # lifetime choice (like ``sketch``): toggling it mid-stream
        # changes the metrics schema and leaves window-index gaps.
        rebuilt, wins_out, cut_caches = _substring_cut_batch(
            spark, survivors.select("doc_id", "text"), batch_id, idx,
            mode=substring_mode)
        rebuilt = rebuilt.persist()
        cut_caches.append(rebuilt)
        tokens_cut = int(rebuilt.agg(
            F.coalesce(F.sum("n_tokens_cut"), F.lit(0))).first()[0])
        wins_out.write.mode("overwrite") \
            .parquet(f"{idx}/windows/batch={batch_id}")
        keep = ["doc_id", "text"] + (
            ["byte_exact"] if "byte_exact" in rebuilt.columns else [])
        cleaned_src = rebuilt.select(*keep)
        if "decon_byte_exact" in survivors.columns:
            cleaned_src = cleaned_src.join(
                survivors.select("doc_id", "decon_byte_exact"),
                "doc_id")
    else:
        keep = ["doc_id", "text"] + (
            ["decon_byte_exact"]
            if "decon_byte_exact" in survivors.columns else [])
        cleaned_src = survivors.select(*keep)

    cleaned = pii_scrub_text(cleaned_src)
    cleaned.write.mode("overwrite") \
        .parquet(f"{out_dir}/batch={batch_id}")
    survivors.select("content_hash", "doc_id").write \
        .mode("overwrite").parquet(f"{idx}/hashes/batch={batch_id}")
    surv_ids = survivors.select("doc_id")
    dist_arr.join(surv_ids, "doc_id", "left_semi").write \
        .mode("overwrite").parquet(f"{idx}/dist/batch={batch_id}")
    if bands_arr is not None:
        bands_arr.join(surv_ids, "doc_id", "left_semi").write \
            .mode("overwrite").parquet(f"{idx}/bands/batch={batch_id}")
    if chunks_arr is not None:
        chunks_arr.join(surv_ids, "doc_id", "left_semi").write \
            .mode("overwrite").parquet(f"{idx}/chunks/batch={batch_id}")
    cols = [("batch_id", batch_id), ("rows_in", n_in),
            ("after_gates", n_gated), ("after_exact_dedup", n_exact),
            ("after_neardup_removal", n_surv)]
    if n_sem is not None:
        cols.append(("after_semantic_dedup", n_sem))
    if tokens_cut is not None:
        cols.append(("substring_tokens_cut", tokens_cut))
    metrics_row = spark.createDataFrame(
        [tuple(v for _, v in cols)],
        ", ".join(f"{name} long" for name, _ in cols))
    metrics_row.coalesce(1).write.mode("overwrite") \
        .parquet(f"{work_dir}/metrics/batch={batch_id}")
    for df in (batch, gated, exact, dist_arr, bands_arr, chunks_arr,
               nd_survivors, survivors, *cut_caches):
        if df is not None:
            df.unpersist()


CONV_STATE_SCHEMA = "n_turns LONG, n_records LONG, max_turn_idx LONG"
CONV_PROGRESS_SCHEMA = ("conv_id STRING, n_turns LONG, n_records LONG, "
                        "max_turn_idx LONG")


def _conversation_progress_fn(key, pdfs, state):
    """Custom stateful operator: accumulate per-conversation extraction
    progress across micro-batches.  State (turns seen, records
    extracted, max turn index) lives in the state store and survives
    restarts through the checkpoint."""
    import pandas as pd  # noqa: F811 — runs on executors

    if state.exists:
        n_turns, n_records, max_turn = state.get
    else:
        n_turns, n_records, max_turn = 0, 0, -1
    for pdf in pdfs:
        n_turns += len(pdf)
        n_records += int(pdf["n_results"].sum())
        if len(pdf):
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
    state.update((n_turns, n_records, max_turn))
    yield pd.DataFrame({"conv_id": [key[0]], "n_turns": [n_turns],
                        "n_records": [n_records], "max_turn_idx": [max_turn]})


def stream_conversation_progress(spark: SparkSession, input_path: str,
                                 query: str) -> DataFrame:
    """Stateful per-conversation progress stream (applyInPandasWithState).

    Emits one updated row per conversation per micro-batch; use with
    ``outputMode("update")``.  Restarting against the same checkpoint
    resumes the accumulated state exactly — the stateful analogue of
    the batch pipeline's lineage resume."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = read_transcript_stream(spark, input_path)
    extracted = extract_turns(stream, query, jvm_prose_fast_path=False)
    return (extracted
            .groupBy("conv_id")
            .applyInPandasWithState(
                _conversation_progress_fn,
                outputStructType=CONV_PROGRESS_SCHEMA,
                stateStructType=CONV_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_metrics(spark: SparkSession, input_path: str, query: str,
                   window: str = "10 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    """Watermarked windowed monitoring aggregation: turns, extracted
    records and failures per event-time window (late data within the
    watermark still lands in its window)."""
    stream = read_transcript_stream(spark, input_path)
    # ts rides through the kernel (event-time passthrough), so no
    # stream-stream join is needed before the watermarked aggregation.
    # NULL event times would be silently dropped by the watermark —
    # surface them explicitly instead of losing them.
    extracted = extract_turns(stream, query, jvm_prose_fast_path=False)
    extracted = extracted.filter(F.col("ts").isNotNull())
    return (extracted
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window))
            .agg(F.count("*").alias("turns"),
                 F.sum("n_results").alias("records"),
                 F.sum(F.when(F.col("status") == "parse_error", 1)
                       .otherwise(0)).alias("parse_failures")))


def stream_dedup_exact(spark: SparkSession, input_path: str,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming EXACT dedup over arriving transcript turns: the first
    occurrence of each content hash within the event-time watermark
    passes, later copies are dropped — the streaming member of the
    dedup family (batch: dedup_exact; batch-incremental:
    dedup_minhash_incremental).

    ``dropDuplicatesWithinWatermark`` keyed on the content hash keeps
    its state in the checkpointed state store (so resume is exact) and
    EVICTS a hash's state once the watermark passes that hash's first
    event time + the delay — plain ``dropDuplicates`` on a
    non-event-time key would keep every hash forever even under a
    watermark (state is only evicted when the event-time column is
    part of the dedup key), which is impossible at 10^12 turns.  The
    contract is therefore "exactly-once within the watermark horizon,
    at-least-once across horizons" — the same trade every production
    streaming dedup makes; tests/test_streaming.py proves BOTH halves
    (a copy inside the horizon is dropped; a copy arriving after the
    watermark passed the original's horizon is re-admitted, i.e. the
    state really was evicted).  Rows with NULL event time would be
    silently dropped by the watermark; they are filtered explicitly so
    the drop is visible in the plan."""
    stream = read_transcript_stream(spark, input_path)
    return (stream
            .filter(F.col("ts").isNotNull())
            .withColumn("content_hash",
                        F.md5(F.coalesce(F.col("text"), F.lit(""))
                              .cast("binary")))
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["content_hash"]))


def stream_dedup_neardup(spark: SparkSession, input_path: str,
                         index_dir: str, pairs_dir: str,
                         checkpoint_path: str, available_now: bool = True,
                         bucketed_name: str | None = None,
                         plan_probe: list | None = None):
    """Streaming NEAR-dup detection — the streaming member of the
    MinHash family (VERDICT r3 item 3; batch: dedup_minhash_lsh,
    batch-incremental: dedup_minhash_incremental): each micro-batch's
    documents are shingled and banded, band-joined against the
    PERSISTED index of everything seen so far (plus themselves), the
    candidates are exact-Jaccard verified, and the batch's bands +
    hashed shingles are appended to the index — the production form
    dedup_minhash_incremental's docstring describes, as a running job.

    Incrementality: the band join is one-sided (arriving bands ×
    (indexed ∪ arriving) bands), so indexed×indexed is never
    re-joined — pairs between two indexed documents were emitted when
    the later one arrived.  Exactly-once across restarts: all writes
    are per-batch-id overwrites (pairs and index live under
    ``batch=<id>`` partitions), and every index read excludes the
    batch's OWN partition (``_stream_index_tail``), so a replay after
    a crash between the index write and the checkpoint commit sees
    exactly the pre-batch index — without the exclusion the replayed
    batch's shingles would appear twice in the Jaccard verify and
    inflate n_common (the ADVICE r4 medium defect;
    tests/test_stream_replay.py asserts identical pairs + jaccard).

    ``bucketed_name``: name prefix of the bucketed tables built by
    ``compact_stream_index`` — when present, the candidate join reads
    the compacted corpus IN PLACE (bucketed scan on band_key, one
    arriving-side exchange — the co-located layout engine/index.py
    exists for) and only the uncompacted per-batch tail plus the batch
    itself is unioned on top; the per-batch dirs keep accumulating so
    the next compaction folds them in.  Input is a (doc_id, text)
    document stream."""
    stream = (spark.readStream
              .schema("doc_id LONG, text STRING")
              .option("maxFilesPerTrigger", "1")
              .parquet(input_path))

    def _process(batch_df, batch_id):
        _neardup_one_batch(spark, batch_df, batch_id, index_dir,
                           pairs_dir, bucketed_name=bucketed_name,
                           plan_probe=plan_probe)

    writer = (stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _neardup_one_batch(spark: SparkSession, batch_df, batch_id,
                       index_dir: str, pairs_dir: str,
                       bucketed_name: str | None = None,
                       plan_probe: list | None = None) -> None:
    """One stream_dedup_neardup micro-batch — module-level so the
    replay test can re-invoke it with the same batch_id."""
    from engine.analytics import _hashed_shingles_df, _minhash_bands

    batch_docs = batch_df.select("doc_id", "text").persist()
    dist_arr = _hashed_shingles_df(batch_docs).persist()
    bands_arr = _minhash_bands(dist_arr).persist()
    pairs = _stream_neardup_pairs(spark, dist_arr, bands_arr, index_dir,
                                  batch_id, bucketed_name, plan_probe)
    pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch={batch_id}")
    dist_arr.write.mode("overwrite") \
        .parquet(f"{index_dir}/dist/batch={batch_id}")
    bands_arr.write.mode("overwrite") \
        .parquet(f"{index_dir}/bands/batch={batch_id}")
    for df in (batch_docs, dist_arr, bands_arr):
        df.unpersist()


def stream_substring_dedup(spark: SparkSession, input_path: str,
                           work_dir: str, checkpoint_path: str,
                           min_len: int = 20,
                           available_now: bool = True,
                           bucketed_name: str | None = None,
                           plan_probe: list | None = None):
    """Streaming SUBSTRING dedup — the streaming member of the
    substring family (batch: engine/analytics.substring_dedup_spans /
    substring_cut), completing the batch/stream matrix the exact,
    MinHash and SemDeDup families already have: per micro-batch of
    (doc_id, text), every stride-1 ``min_len``-token window of the
    ARRIVING documents is keyed by the md5 of its text, counted
    against the persisted window index of everything seen so far
    (plus the batch itself), and the arriving documents' duplicated
    coverage is emitted as merged (doc_id, span_start, span_len)
    spans — exactly the batch operator's span shape.

    Contract (tested, tests/test_stream_substring.py): the spans
    emitted for batch N == substring_dedup_spans over the corpus
    ACCUMULATED THROUGH batch N, restricted to batch N's documents.
    The stream flags the ARRIVING side only — an earlier document
    whose text only becomes duplicated when a later copy arrives is
    not retro-flagged (its spans would need re-emission); the batch
    operator is the retroactive sweep, the same arrival-order caveat
    stream_clean documents for its larger-id-drop policy.

    Key choice (vs the batch operator's prefix doubling): each batch
    pays the O(L)-per-position md5 over its OWN rows once, because
    every arriving position's key must be durable in the index for
    FUTURE batches to match against — a doubling prune has nothing to
    prune when the keys are the persisted artifact.  The md5 is the
    same 128-bit content-hash equality exact_dedup rests on, so no
    separate verify pass is needed.  Exactly-once: per-batch-id
    overwrites; every index read excludes the batch's OWN partition
    (``_stream_index_tail``) so replays rewrite identically.

    ``bucketed_name``: after ``compact_substring_index`` has folded
    the per-batch window dirs into the wkey-bucketed
    ``{name}_windows`` table, pass its name prefix and the
    duplicated-window probe reads the compacted corpus IN PLACE (a
    left-semi join on the bucket column — one arriving-side exchange,
    the band-index hot-loop pattern) with only the uncompacted tail
    counted the per-batch way.  Crash-window compactions are safe:
    the table read excludes the replaying batch's own rows.

    Layout under ``work_dir``: ``spans/batch=N`` (output),
    ``index/windows/batch=N`` ((doc_id, pos, wkey) rows)."""
    stream = (spark.readStream
              .schema("doc_id LONG, text STRING")
              .option("maxFilesPerTrigger", "1")
              .parquet(input_path))

    def _process(batch_df, batch_id):
        _substring_one_batch(spark, batch_df, batch_id, work_dir,
                             min_len=min_len,
                             bucketed_name=bucketed_name,
                             plan_probe=plan_probe)

    writer = (stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _substring_one_batch(spark: SparkSession, batch_df, batch_id,
                         work_dir: str, min_len: int = 20,
                         bucketed_name: str | None = None,
                         plan_probe: list | None = None) -> None:
    """One stream_substring_dedup micro-batch — module-level so the
    replay test can re-invoke it with the same batch_id.

    An arriving window start is duplicated iff its key appears >= 2
    times across (compacted table ∪ tail ∪ batch).  With the bucketed
    table that decomposes into two arms whose union is exact:

    * key matches the TABLE at least once → a left-semi join keyed on
      the bucket column, corpus side read in place;
    * key appears >= 2 times within (tail ∪ batch) → the per-batch
      count, corpus-independent.

    A start caught by both arms appears twice in the union; the
    islands merge is duplicate-start-insensitive (equal pos rows land
    in the same island and min/max are unchanged), so no distinct is
    spent on it."""
    from engine.analytics import (_SPARK_TOKS, _merge_span_islands,
                                  _substring_window_md5_expr)

    idx = f"{work_dir}/index/windows"
    batch = batch_df.select("doc_id", "text").persist()
    toks = (batch.select("doc_id", F.expr(_SPARK_TOKS).alias("t"))
            .filter(F.expr(f"size(t) >= {min_len}")))
    wins_arr = (toks.select(
        "doc_id",
        F.posexplode(F.expr(_substring_window_md5_expr(min_len)))
        .alias("pos", "wkey"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "wkey")
        .persist())
    use_tbl = (bucketed_name is not None and
               spark.catalog.tableExists(f"{bucketed_name}_windows"))
    folded = (_folded_batches_from_partitions(
        spark, f"{bucketed_name}_windows") if use_tbl else [])
    tail = _stream_index_tail(spark, idx, ["doc_id", "pos", "wkey"],
                              batch_id, folded)
    local = wins_arr if tail is None else tail.unionAll(wins_arr)
    local_dup = (local.groupBy("wkey").agg(F.count("*").alias("n"))
                 .filter(F.col("n") >= 2).select("wkey"))
    starts = wins_arr.join(local_dup, "wkey", "left_semi")
    if use_tbl:
        tbl = _read_index_table(spark, f"{bucketed_name}_windows",
                                batch_id).select("wkey")
        starts = starts.unionAll(wins_arr.join(tbl, "wkey", "left_semi"))
    spans = _merge_span_islands(starts.select("doc_id", "pos"), min_len)
    if plan_probe is not None:
        plan_probe.append(
            spans._jdf.queryExecution().executedPlan().toString())
    spans.write.mode("overwrite") \
        .parquet(f"{work_dir}/spans/batch={batch_id}")
    wins_arr.write.mode("overwrite").parquet(f"{idx}/batch={batch_id}")
    batch.unpersist()
    wins_arr.unpersist()


def stream_semdedup(spark: SparkSession, input_path: str,
                    ann_index_path: str, work_dir: str,
                    checkpoint_path: str, available_now: bool = True,
                    plan_probe: list | None = None):
    """Streaming SemDeDup — the streaming member of the semantic-dedup
    family (batch: engine/analytics.q_semdedup / semdedup_pairs):
    each micro-batch of embeddings is assigned under the serving
    index's FROZEN coarse quantizer (engine/index.write_ann_index —
    the same frozen-quantizer discipline as append_to_ann_index),
    scored against its cell centroid, and pair-checked at cosine >=
    _SEM_TAU against (a) the index members of exactly the TOUCHED
    cells — a partition-pruned read, never the whole index — (b)
    earlier stream batches' members in those cells, and (c) itself.

    Decisions are emitted as (removed_id, keeper_id, cell) PAIR rows
    per batch (the _stream_neardup_pairs contract): the kept set is an
    anti-join downstream, so a decision that removes an already-
    indexed member (the arriving vector was farther from the centroid
    — SemDeDup keeps diversity, and the index side is not
    automatically the keeper) is an ordinary output row applied at
    compaction, not a mutation of the index.

    Lossless decomposition (tested): semdedup_pairs over (index corpus
    ∪ all batches) with the same quantizer == semdedup_pairs(index
    corpus) ∪ union-of-batch pair outputs — cross pairs are found when
    the later member arrives, one-sided (arriving × seen is never
    re-joined as seen × seen).  Exactly-once on replay: members and
    pairs live under ``batch=<id>`` partitions, per-batch overwrites,
    and every members read EXCLUDES the current batch's own partition
    (_stream_index_tail) — the r4-ADVICE replay discipline.

    Input schema: ``vec_id LONG, embedding ARRAY<FLOAT>``."""
    stream = (spark.readStream
              .schema("vec_id LONG, embedding ARRAY<FLOAT>")
              .option("maxFilesPerTrigger", "1")
              .parquet(input_path))

    def _process(batch_df, batch_id):
        _semdedup_one_batch(spark, batch_df, batch_id, ann_index_path,
                            work_dir, plan_probe=plan_probe)

    writer = (stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_SEM_MEMBER_COLS = ["vec_id", "cell", "cc", "ne", "theta", "e"]


def _semdedup_one_batch(spark: SparkSession, batch_df, batch_id,
                        ann_index_path: str, work_dir: str,
                        plan_probe: list | None = None) -> None:
    """One stream_semdedup micro-batch — module-level so the replay
    test can re-invoke it with the same batch_id."""
    from engine.analytics import (_SEM_TAU, _ivf_assign,
                                  _sem_candidate_pairs, _sem_decide,
                                  _sem_score)

    # frozen coarse quantizer: k×dims, driver-sized, re-embedded as a
    # literal frame so assignment is a broadcast + partial-agg argmax
    cent_rows = [(r.cell, list(r.ce)) for r in
                 spark.read.parquet(f"{ann_index_path}/centroids")
                 .collect()]
    cent = spark.createDataFrame(cent_rows, "cell long, ce array<double>")

    arr = batch_df.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("e"))
    scored_arr = _sem_score(arr, cent, _ivf_assign(arr, cent)).persist()
    cells = [r.cell for r in
             scored_arr.select("cell").distinct().collect()]

    # index members of the touched cells only — the members table is
    # partitioned by cell (write_ann_index), so this is partition
    # pruning, same as a probe
    idx = (spark.read.parquet(f"{ann_index_path}/members")
           .filter(F.col("cell").isin(cells)))
    # the members table already carries its cell (the partition
    # column IS the frozen-quantizer assignment) — re-assigning would
    # redo members×k cosines every batch for identical answers
    scored_idx = _sem_score(idx.select("vec_id", "e"), cent,
                            idx.select("vec_id", "cell"))
    if plan_probe is not None:
        plan_probe.append(
            idx._jdf.queryExecution().executedPlan().toString())
    tail = _stream_index_tail(spark, f"{work_dir}/members",
                              _SEM_MEMBER_COLS, batch_id, folded=[])
    seen = scored_idx if tail is None else \
        scored_idx.unionByName(tail.filter(F.col("cell").isin(cells)))

    decided = _sem_decide(
        _sem_candidate_pairs(scored_arr, seen, _SEM_TAU, ordered=False)
        .unionByName(
            _sem_candidate_pairs(scored_arr, scored_arr, _SEM_TAU,
                                 ordered=True)))
    decided.write.mode("overwrite") \
        .parquet(f"{work_dir}/pairs/batch={batch_id}")
    scored_arr.select(*_SEM_MEMBER_COLS).write.mode("overwrite") \
        .parquet(f"{work_dir}/members/batch={batch_id}")
    scored_arr.unpersist()
