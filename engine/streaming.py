"""Structured Streaming forms of the extraction and cleaning jobs.

``stream_extract`` runs the extraction kernel (engine/extract.py) as a
stateless streaming transformation: file-append source →
``extract_turns`` → parquet sink, exactly-once through Spark's
checkpointed offsets (the analogue of engine/pipeline.py's bucket
lineage; turn order is restored by the batch reader, SURVEY.md §3.5).

``stream_clean``, ``stream_dedup_neardup``, ``stream_substring_dedup``
and ``stream_semdedup`` are micro-batch jobs run by one
``foreachBatch`` loop (``_drive``).  A micro-batch is the batch
job's stage chain (engine/cleaning.py) run against a *seen* side — the
index of what earlier batches shipped, read by ``_seen`` — and the
batch job is that chain with an empty seen side.  Every write is a
per-batch-id overwrite under ``batch=<id>`` and every seen read
excludes the batch's own partition, so a batch replayed after a crash
between its index write and its checkpoint commit rewrites its
partitions byte-identically (tests/test_stream_replay.py).
engine/index.py compacts the per-batch index dirs into bucketed
tables, which the jobs then read in place beside the uncompacted tail.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.extract import extract_turns
from engine.schema import TRANSCRIPTS_SCHEMA

_DOCS_SCHEMA = "doc_id LONG, text STRING"


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


def _drive(spark: SparkSession, input_path: str, schema: str,
           checkpoint_path: str, available_now: bool, process):
    """The foreachBatch loop of every micro-batch job: one input file
    per trigger, ``process(batch_df, batch_id)`` per micro-batch;
    ``available_now`` drains what is present and stops."""
    writer = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(input_path)
              .writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _probe(plan_probe: list | None, df: DataFrame) -> None:
    """Test hook: append ``df``'s executed-plan string."""
    if plan_probe is not None:
        plan_probe.append(df._jdf.queryExecution().executedPlan().toString())


def _folded_batches(spark: SparkSession, table: str) -> list:
    """Batch ids already folded into a compacted index table, read
    from the table itself (no side marker whose crash-window staleness
    could double-count a batch): from the catalog partition listing
    for a table partitioned by ``batch`` (the windows layout — no
    corpus-sized scan in the trigger), else a distinct over its
    ``batch`` column (one id per micro-batch ever compacted).  A table
    without the column cannot say what it folded, so the tail would
    be read on top of it twice (ADVICE r5): refuse loudly."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.sql(f"SHOW PARTITIONS {table}").collect()
    except AnalysisException:
        tbl = spark.table(table)
        if "batch" not in tbl.columns:
            raise ValueError(
                f"bucketed index table {table!r} has no 'batch' column, "
                "so already-folded batches cannot be excluded from the "
                "per-batch tail (rows would be read twice). Re-run "
                "the compaction to rebuild the table with batch "
                "provenance.")
        return [r.batch for r in tbl.select("batch").distinct().collect()]
    return [int(v) for r in rows
            for k, _, v in (kv.partition("=") for kv in r[0].split("/"))
            if k == "batch"]


def _seen(spark: SparkSession, index_dir: str, batch_id, kinds: dict,
          table_prefix: str | None = None):
    """The seen side of micro-batch ``batch_id``: what earlier batches
    shipped into the index under ``index_dir``.  ``kinds`` maps each
    index kind — the dir ``{index_dir}/{kind}`` of ``batch=N``
    partitions and, once compacted, the table ``{table_prefix}_{kind}``
    — to the columns to read.  Returns ``(table, tail)``, two ``{kind:
    frame}`` dicts or None, kept apart: a union would erase the
    table's bucketing.

    Both exclude the replaying batch's OWN rows (after a crash between
    batch N's index write and its checkpoint commit they sit in the
    tail, or in the table if a compaction ran in that window; reading
    them would anti-join the batch against itself or double-count its
    shingles), and the tail drops the batches the first kind's table
    has folded.  The tail filters prune ``batch`` partitions; the
    table's is a row filter on a non-bucket column, which keeps the
    bucketed scan."""
    lead = next(iter(kinds))
    table, tail, folded = None, None, []
    if table_prefix is not None and \
            spark.catalog.tableExists(f"{table_prefix}_{lead}"):
        folded = _folded_batches(spark, f"{table_prefix}_{lead}")
        table = {k: spark.table(f"{table_prefix}_{k}")
                 .filter(F.col("batch") != F.lit(batch_id)).select(*cols)
                 for k, cols in kinds.items()}
    if os.path.isdir(f"{index_dir}/{lead}"):
        tail = {}
        for k, cols in kinds.items():
            df = (spark.read.parquet(f"{index_dir}/{k}")
                  .filter(F.col("batch") != F.lit(batch_id)))
            if folded:
                df = df.filter(~F.col("batch").isin(folded))
            tail[k] = df.select(*cols)
    return table, tail


# near-dup index kinds as persisted (engine/cleaning.neardup_sketch
# frames; band rows without the carried signature, c0..c3 the
# simhash128 chunks)
_SKETCH_COLS = {"dist": ["doc_id", "h"],
                "bands": ["doc_id", "band_id", "band_key"],
                "chunks": ["doc_id", "c0", "c1", "c2", "c3"]}


def _neardup_seen(spark: SparkSession, index_dir: str, batch_id,
                  sketch: str, bucketed_name: str | None) -> list:
    """Seen sources of the near-dup stage (engine/cleaning.sketch_pairs):
    compacted tables and tail.  The band table is read WITHOUT
    band_id, so its arm joins on band_key, the bucket column, alone (a
    composite key disables the bucketed scan; the verify closes the
    wider candidate set).  The simhash128 chunks are never compacted."""
    key = "chunks" if sketch == "simhash128" else "bands"
    if key == "chunks" and bucketed_name is not None:
        raise ValueError("simhash128 sketch and bucketed band index "
                         "are mutually exclusive")
    table, tail = _seen(spark, index_dir, batch_id,
                        {k: _SKETCH_COLS[k] for k in (key, "dist")},
                        bucketed_name)
    if table is not None:
        table["bands"] = table["bands"].drop("band_id")
    return [s for s in (table, tail) if s is not None]


def _write_sketch(arriving: dict, index_dir: str, batch_id,
                  keep: DataFrame | None = None) -> None:
    """Append a neardup_sketch dict to the index as batch ``batch_id``
    (only the ``keep`` doc_ids when given: the survivors)."""
    for kind, frame in arriving.items():
        if keep is not None:
            frame = frame.join(keep, "doc_id", "left_semi")
        frame.select(*_SKETCH_COLS[kind]).write.mode("overwrite") \
            .parquet(f"{index_dir}/{kind}/batch={batch_id}")


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
    """STREAMING corpus cleaning — engine/cleaning.py's batch job run
    per micro-batch against the survivor index of earlier batches:

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
    overwrites; a replayed batch rewrites its own partitions
    byte-identically (every index read excludes the batch's OWN
    partition — ``_seen``; tests/test_stream_replay.py).

    ``bucketed_name``: after ``compact_stream_index`` has folded the
    per-batch index dirs into bucketed tables, pass their name prefix
    and the exact-dedup anti-join and the near-dup candidate join read
    the compacted corpus IN PLACE (bucketed scan, one arriving-side
    exchange) beside the uncompacted per-batch tail.

    Layout under ``work_dir``: ``cleaned/batch=N`` (output),
    ``index/{hashes,dist,bands}/batch=N`` (survivor state),
    ``metrics/batch=N`` (per-batch funnel row — the streaming
    analogue of the batch job's metrics dict; in decontaminate cut
    mode it carries ``decontaminated_tokens_cut`` like the batch's).

    Equivalence (tests/test_stream_equivalence.py): one micro-batch
    into an empty work dir IS the batch job, and N micro-batches give
    its (doc_id, text) rows when doc_ids are arrival-ordered and no
    near-dup chain crosses batches — the two caveats of a
    survivors-only index read in arrival order.  A late arrival with a
    SMALLER id than an indexed near-dup survives alongside it (the
    index is never retroactively evicted); in a chain A~B~C split
    across batches, B dropped as A's near-dup is not indexed, so the
    later C meets only A and ships, where the batch pairwise policy
    drops it.  The batch job with the clusters policy is the tool for
    retroactive canonicalization."""
    return _drive(spark, input_path, _DOCS_SCHEMA, checkpoint_path,
                  available_now,
                  partial(_clean_one_batch, spark, work_dir=work_dir,
                          gopher_gate=gopher_gate,
                          bucketed_name=bucketed_name,
                          plan_probe=plan_probe, sketch=sketch,
                          substring_cut=substring_cut,
                          substring_mode=substring_mode,
                          semantic_index=semantic_index,
                          sem_embeddings_path=sem_embeddings_path,
                          decontaminate_path=decontaminate_path,
                          decontaminate_mode=decontaminate_mode))


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
    Three steps: read the seen side (the survivor index), run the
    batch job's stages against it, write ``cleaned/``, ``index/`` and
    ``metrics/``.

    ``sketch="simhash128"`` switches the near-dup candidate generator
    to 128-bit simhash chunk buckets (see engine/cleaning.neardup_pairs
    for the trade); the stream then persists a ``chunks`` index instead
    of ``bands`` — pick ONE sketch for a stream's lifetime."""
    from engine.cleaning import (drop_pair_members, exact_dedup, gates,
                                 neardup_sketch, pii_scrub_text,
                                 sketch_pairs)

    idx = f"{work_dir}/index"
    seen_hashes = [s["hashes"] for s in
                   _seen(spark, idx, batch_id, {"hashes": ["content_hash"]},
                         bucketed_name) if s is not None]
    seen_neardup = _neardup_seen(spark, idx, batch_id, sketch,
                                 bucketed_name)

    decon = (spark.read.parquet(decontaminate_path)
             if decontaminate_path is not None else None)
    batch = batch_df.select("doc_id", "text").persist()
    gated = gates(batch, gopher_gate, decon, decontaminate_mode).persist()
    exact = exact_dedup(gated, seen=seen_hashes).persist()
    arriving = {k: v.persist()
                for k, v in neardup_sketch(exact, sketch).items()}
    pairs = sketch_pairs(arriving, seen_neardup)
    _probe(plan_probe, pairs)
    survivors = drop_pair_members(exact, pairs).persist()
    caches = [batch, gated, exact, *arriving.values(), survivors]
    metrics = [("batch_id", batch_id), ("rows_in", batch.count()),
               ("after_gates", gated.count())]
    if decon is not None and decontaminate_mode == "cut":
        metrics.append(("decontaminated_tokens_cut", int(gated.agg(
            F.coalesce(F.sum("n_decontaminated_tokens"), F.lit(0)))
            .first()[0])))
    metrics += [("after_exact_dedup", exact.count()),
                ("after_neardup_removal", survivors.count())]

    # stream-only stages, in the batch job's order: near-dup →
    # semantic → substring-cut (both flags are stream-lifetime choices)
    shipped = survivors
    if semantic_index is not None:
        shipped = _semantic_gate(spark, survivors, batch_id, idx,
                                 semantic_index,
                                 sem_embeddings_path).persist()
        caches.append(shipped)
        metrics.append(("after_semantic_dedup", shipped.count()))
    decon_col = [c for c in ("decon_byte_exact",) if c in shipped.columns]
    cleaned_src = shipped.select("doc_id", "text", *decon_col)
    if substring_cut:
        # near-dup state (below) indexes the PRE-cut survivor text —
        # that stage's own view; the window state indexes the POST-cut
        # text, i.e. exactly what ships.  Toggling the flag mid-stream
        # changes the metrics schema and leaves window-index gaps.
        rebuilt, wins_out, cut_caches = _substring_cut_batch(
            spark, shipped.select("doc_id", "text"), batch_id, idx,
            mode=substring_mode)
        rebuilt = rebuilt.persist()
        caches += [*cut_caches, rebuilt]
        metrics.append(("substring_tokens_cut", int(rebuilt.agg(
            F.coalesce(F.sum("n_tokens_cut"), F.lit(0))).first()[0])))
        wins_out.write.mode("overwrite") \
            .parquet(f"{idx}/windows/batch={batch_id}")
        cleaned_src = rebuilt.drop("n_tokens_cut")
        if decon_col:
            cleaned_src = cleaned_src.join(
                shipped.select("doc_id", *decon_col), "doc_id")

    pii_scrub_text(cleaned_src).write.mode("overwrite") \
        .parquet(f"{work_dir}/cleaned/batch={batch_id}")
    shipped.select(F.md5(F.col("text").cast("binary")).alias("content_hash"),
                   "doc_id").write.mode("overwrite") \
        .parquet(f"{idx}/hashes/batch={batch_id}")
    _write_sketch(arriving, idx, batch_id, keep=shipped.select("doc_id"))
    spark.createDataFrame(
        [tuple(v for _, v in metrics)],
        ", ".join(f"{name} long" for name, _ in metrics)) \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{work_dir}/metrics/batch={batch_id}")
    for df in caches:
        df.unpersist()


def _semantic_gate(spark: SparkSession, survivors: DataFrame, batch_id,
                   idx: str, semantic_index: str,
                   sem_embeddings_path: str | None) -> DataFrame:
    """stream_clean's SemDeDup gate (VERDICT r6 item 4; contract in
    stream_clean's docstring): one stream_semdedup micro-batch over
    the survivors' embeddings, decisions in {idx}/sem/pairs; returns
    the survivors minus the ARRIVING removed members."""
    if sem_embeddings_path is None:
        raise ValueError(
            "semantic_index requires sem_embeddings_path — the "
            "streaming semantic gate looks arriving survivors' "
            "embeddings up by doc_id")
    emb = (spark.read.parquet(sem_embeddings_path)
           .join(survivors.select(F.col("doc_id").alias("vec_id")),
                 "vec_id", "left_semi"))
    _semdedup_one_batch(spark, emb, batch_id, semantic_index, f"{idx}/sem")
    removed = (spark.read
               .parquet(f"{idx}/sem/pairs/batch={batch_id}")
               .select(F.col("removed_id").alias("doc_id"))
               .distinct())
    # FUNNEL discipline on the sem members state (self-review r7):
    # stream_semdedup's own contract writes EVERY arriving vector to
    # members/batch=N (its lossless-decomposition semantics), but in
    # the funnel an arrival removed by this very batch's decisions
    # never SHIPS — leaving it in the members tail would let a later
    # arrival be removed for pairing with a GHOST that compaction then
    # deletes too, losing every representative of that cluster.
    # Rewrite the batch's members partition to the shipped survivors
    # only (localCheckpoint materializes the filtered rows before the
    # same-path overwrite; deterministic, so replays still rewrite
    # identically).
    mem_path = f"{idx}/sem/members/batch={batch_id}"
    mem = (spark.read.parquet(mem_path)
           .join(removed.select(F.col("doc_id").alias("vec_id")),
                 "vec_id", "left_anti")
           .localCheckpoint())
    mem.write.mode("overwrite").parquet(mem_path)
    return survivors.join(removed, "doc_id", "left_anti")


def _substring_cut_batch(spark: SparkSession, survivors, batch_id,
                         idx: str, min_len: int = 20,
                         mode: str = "tokens"):
    """ExactSubstr cut of one stream_clean micro-batch's survivors
    against the persisted window index (keeper rule in stream_clean's
    docstring; overlap protection and the token/byte splices are the
    batch stage's).  Returns (rebuilt, wins_out, caches): the
    (doc_id, text, [byte_exact], n_tokens_cut) frame for EVERY
    survivor — untouched ones keep their ORIGINAL text (VERDICT r6
    item 1a) — the window rows of the REBUILT text (what ships is what
    future batches dedup against), and the frames to release."""
    from engine.analytics import (_SPARK_TOKS, _byte_splice,
                                  _cut_positions, _substring_md5_windows,
                                  _token_splice)

    toks_all = (survivors.select("doc_id", "text",
                                 F.expr(_SPARK_TOKS).alias("t"))
                .persist())
    wins_arr = _substring_md5_windows(toks_all, min_len).persist()
    keep = wins_arr.groupBy("wkey").agg(
        F.min(F.struct("doc_id", "pos")).alias("k"),
        F.count("*").alias("nb"))
    w2 = wins_arr.join(keep, "wkey")
    _, tail = _seen(spark, idx, batch_id, {"windows": ["wkey"]})
    if tail is not None:
        w2 = w2.join(tail["windows"].distinct().withColumn("in_idx",
                                                           F.lit(1)),
                     "wkey", "left")
    else:
        w2 = w2.withColumn("in_idx", F.lit(None).cast("int"))
    dup = (F.col("nb") >= 2) | F.col("in_idx").isNotNull()
    is_keep = (F.col("in_idx").isNull()
               & (F.col("k.doc_id") == F.col("doc_id"))
               & (F.col("k.pos") == F.col("pos")))
    cuts = _cut_positions(
        w2.filter(dup).select("doc_id", "pos", is_keep.alias("is_keep")),
        min_len)
    joined = toks_all.join(cuts, "doc_id", "left")
    if mode == "bytes":
        # byte_exact flows into the shipped output as a lineage column
        rebuilt = _byte_splice(joined).select(
            "doc_id", "text", "byte_exact",
            F.col("n_cut").alias("n_tokens_cut"))
    elif mode == "tokens":
        rebuilt = _token_splice(joined).select(
            "doc_id", "text", F.col("n_cut").alias("n_tokens_cut"))
    else:
        raise ValueError(f"unknown substring-cut mode: {mode!r}")
    wins_out = _substring_md5_windows(
        rebuilt.select("doc_id", F.expr(_SPARK_TOKS).alias("t")), min_len)
    return rebuilt, wins_out, [toks_all, wins_arr]


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
    hashed shingles are appended to the index — the batch job's
    near-dup stage (engine/cleaning.sketch_pairs) with the index as
    its seen side.

    Incrementality: the band join is one-sided (arriving bands ×
    (indexed ∪ arriving) bands), so indexed×indexed is never
    re-joined — pairs between two indexed documents were emitted when
    the later one arrived.  Exactly-once across restarts: all writes
    are per-batch-id overwrites (pairs and index live under
    ``batch=<id>`` partitions), and every index read excludes the
    batch's OWN partition (``_seen``), so a replay after a crash
    between the index write and the checkpoint commit sees exactly
    the pre-batch index — without the exclusion the replayed batch's
    shingles would appear twice in the Jaccard verify and inflate
    n_common (the ADVICE r4 medium defect; tests/test_stream_replay.py
    asserts identical pairs + jaccard).

    ``bucketed_name``: name prefix of the bucketed tables built by
    ``compact_stream_index`` — when present, the candidate join reads
    the compacted corpus IN PLACE (bucketed scan on band_key, one
    arriving-side exchange — the co-located layout engine/index.py
    exists for) beside the uncompacted per-batch tail and the batch
    itself; the per-batch dirs keep accumulating so the next
    compaction folds them in.  Input is a (doc_id, text) document
    stream."""
    return _drive(spark, input_path, _DOCS_SCHEMA, checkpoint_path,
                  available_now,
                  partial(_neardup_one_batch, spark, index_dir=index_dir,
                          pairs_dir=pairs_dir, bucketed_name=bucketed_name,
                          plan_probe=plan_probe))


def _neardup_one_batch(spark: SparkSession, batch_df, batch_id,
                       index_dir: str, pairs_dir: str,
                       bucketed_name: str | None = None,
                       plan_probe: list | None = None) -> None:
    """One stream_dedup_neardup micro-batch — module-level so the
    replay test can re-invoke it with the same batch_id."""
    from engine.cleaning import neardup_sketch, sketch_pairs

    seen = _neardup_seen(spark, index_dir, batch_id, "minhash",
                         bucketed_name)
    arriving = {k: v.persist() for k, v in
                neardup_sketch(batch_df.select("doc_id", "text")).items()}
    pairs = sketch_pairs(arriving, seen)
    _probe(plan_probe, pairs)
    pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch={batch_id}")
    _write_sketch(arriving, index_dir, batch_id)
    for df in arriving.values():
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
    (``_seen``) so replays rewrite identically.

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
    return _drive(spark, input_path, _DOCS_SCHEMA, checkpoint_path,
                  available_now,
                  partial(_substring_one_batch, spark, work_dir=work_dir,
                          min_len=min_len, bucketed_name=bucketed_name,
                          plan_probe=plan_probe))


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
                                  _substring_md5_windows)

    idx = f"{work_dir}/index"
    table, tail = _seen(spark, idx, batch_id, {"windows": ["wkey"]},
                        bucketed_name)
    batch = batch_df.select("doc_id", "text").persist()
    wins_arr = _substring_md5_windows(
        batch.select("doc_id", F.expr(_SPARK_TOKS).alias("t")),
        min_len).persist()
    local = wins_arr.select("wkey")
    if tail is not None:
        local = tail["windows"].unionAll(local)
    local_dup = (local.groupBy("wkey").agg(F.count("*").alias("n"))
                 .filter(F.col("n") >= 2).select("wkey"))
    starts = wins_arr.join(local_dup, "wkey", "left_semi")
    if table is not None:
        starts = starts.unionAll(
            wins_arr.join(table["windows"], "wkey", "left_semi"))
    spans = _merge_span_islands(starts.select("doc_id", "pos"), min_len)
    _probe(plan_probe, spans)
    spans.write.mode("overwrite") \
        .parquet(f"{work_dir}/spans/batch={batch_id}")
    wins_arr.write.mode("overwrite") \
        .parquet(f"{idx}/windows/batch={batch_id}")
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
    per batch (the engine/cleaning.sketch_pairs contract): the kept
    set is an anti-join downstream, so a decision that removes an
    already-indexed member (the arriving vector was farther from the
    centroid — SemDeDup keeps diversity, and the index side is not
    automatically the keeper) is an ordinary output row applied at
    compaction, not a mutation of the index.

    Lossless decomposition (tested): semdedup_pairs over (index corpus
    ∪ all batches) with the same quantizer == semdedup_pairs(index
    corpus) ∪ union-of-batch pair outputs — cross pairs are found when
    the later member arrives, one-sided (arriving × seen is never
    re-joined as seen × seen).  Exactly-once on replay: members and
    pairs live under ``batch=<id>`` partitions, per-batch overwrites,
    and every members read EXCLUDES the current batch's own partition
    (``_seen``) — the r4-ADVICE replay discipline.

    Input schema: ``vec_id LONG, embedding ARRAY<FLOAT>``."""
    return _drive(spark, input_path, "vec_id LONG, embedding ARRAY<FLOAT>",
                  checkpoint_path, available_now,
                  partial(_semdedup_one_batch, spark,
                          ann_index_path=ann_index_path, work_dir=work_dir,
                          plan_probe=plan_probe))


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
    _probe(plan_probe, idx)
    _, tail = _seen(spark, work_dir, batch_id,
                    {"members": _SEM_MEMBER_COLS})
    seen = scored_idx if tail is None else scored_idx.unionByName(
        tail["members"].filter(F.col("cell").isin(cells)))

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
