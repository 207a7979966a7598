"""Batch extraction pipeline: read → salt → extract → order → write,
with per-bucket lineage enabling exact resume (SURVEY.md §3.5, §7).

Scale design (targets 10^12 turns / 1000 executors; tested local[N]):

* **Buckets** — work is tracked in ``n_buckets`` hash buckets of
  ``conv_id`` (``pmod(xxhash64(conv_id), n_buckets)``).  A bucket is
  the unit of commit + resume: its lineage row is appended only after
  its output is durably written, so a crash between commits re-runs
  only the unfinished buckets (idempotent — output is re-derived, the
  anti-join against lineage prevents duplication).
* **One operator, one scan** — single- and multi-query jobs both run
  ``extract_turns_multi`` keyed by query id (None = single query, no
  ``query_id`` column) with ``jvm_prose_fast_path=False``: every turn
  and query runs in the one kernel (prose text nulled JVM-side), so
  each commit group scans its input once.  The only single/multi difference is the key column
  ``query_id`` in the ordering window, the output partitioning and the
  lineage read-back.
* **Salting** — the extraction stage repartitions on
  ``(conv_id, turn_idx div salt_block)`` so one 10^6-turn conversation
  spreads over ~turns/salt_block tasks instead of serializing one
  executor.  Extraction is a pure row map, so salting is free of
  semantic effect.
* **Ordering** — the per-conversation order is restored AFTER
  extraction via ``row_number() OVER (PARTITION BY conv_id ORDER BY
  turn_idx)`` (north rule).  Running the window on the post-extraction
  rows (structured results, not raw 16 MB HTML) bounds the unsalted
  conv_id shuffle: even an extreme conversation is only result-sized
  in one task.
* **Lineage** — rows_in / rows_out / parse_failures / wall_ms are
  aggregated from the written output (a column-pruned scan of three
  small columns), not from a second pass over the input.
* **I/O abstraction** — paths are parquet directories here; on a real
  cluster the same code targets Iceberg via ``writeTo(...).append()``
  (``io_format='iceberg'``).  The sandbox has no Iceberg runtime jar,
  so the parquet path is the tested one (SURVEY.md §7.4.5);
  ``input_snapshot`` carries the pinned snapshot/version id either way.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.extract import extract_turns_multi
from engine.matcher import matcher_factory_from_name
from engine.schema import LINEAGE_SCHEMA


@dataclass
class JobConfig:
    input_path: str
    output_path: str
    lineage_path: str
    query: str
    # optional: run MANY queries in one pass (query_id -> NL query);
    # when set, `query` is ignored and output carries a query_id column
    queries: Optional[dict] = None
    io_format: str = "parquet"          # parquet | iceberg
    n_buckets: int = 64
    buckets_per_commit: int = 0         # 0 → all pending buckets in one commit
    salt_block: int = 256
    similarity_threshold: float = 0.6
    # optional role predicate (e.g. ["assistant", "tool"]) — pushed down
    # to the scan (PushedFilters: In(role, ...)), pruning user/prose
    # turns before any compute
    roles: Optional[List[str]] = None
    # semantic-tier configuration: "none" (parity-pinned degraded mode)
    # or "token" (TokenSimilarityMatcher; see engine/matcher.py).
    # Folded into the resume fingerprint — matcher-on output is not
    # interchangeable with matcher-off output.
    matcher: str = "none"
    input_snapshot: Optional[str] = None
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    # test hooks: simulated crashes
    fail_after_groups: int = 0         # raise after N committed groups
    fail_before_lineage_group: int = 0  # raise after group N's output
    #                                     write but BEFORE its lineage
    #                                     commit (duplicate-risk window)


def _read_input(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    if cfg.io_format == "iceberg":
        reader = spark.read
        if cfg.input_snapshot:
            reader = reader.option("snapshot-id", cfg.input_snapshot)
        return reader.table(cfg.input_path)
    return spark.read.parquet(cfg.input_path)


def _input_fingerprint(spark: SparkSession, path: str) -> str:
    """Content fingerprint of a parquet input: hash of the sorted
    (path, size, mtime) listing — the parquet stand-in for an Iceberg
    snapshot id, pinned into every lineage row so a resume against a
    changed input is detectable."""
    import hashlib

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    entries = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().toString()
        if name.endswith(("_SUCCESS", ".crc")):
            continue
        entries.append(f"{name}:{f.getLen()}:{f.getModificationTime()}")
    digest = hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()
    return f"listing:{digest[:16]}"


def _config_fingerprint(cfg: JobConfig) -> str:
    """Fingerprint of the SHARED job knobs.  The query text is NOT
    here — it is folded into each query's own lineage snapshot
    (_query_snapshots), so in multi-query mode adding or changing one
    query invalidates only that query's buckets."""
    import hashlib
    import json as _json

    payload = _json.dumps({
        "roles": cfg.roles,
        "n_buckets": cfg.n_buckets,
        "similarity_threshold": cfg.similarity_threshold,
        "matcher": cfg.matcher,
    }, sort_keys=True)
    return hashlib.md5(payload.encode()).hexdigest()[:8]


def _job_queries(cfg: JobConfig) -> dict:
    """query_id -> NL query.  Single-query mode uses the key None
    (no query_id output column; lineage rows carry query_id = NULL)."""
    return cfg.queries or {None: cfg.query}


def _query_snapshots(cfg: JobConfig, input_base: str) -> dict:
    """query_id -> lineage snapshot string."""
    import hashlib

    shared = _config_fingerprint(cfg)

    def qhash(text: str) -> str:
        return hashlib.md5((text or "").encode()).hexdigest()[:8]

    return {qid: f"{input_base}|cfg:{shared}|q:"
                 f"{'' if qid is None else f'{qid}:'}{qhash(q)}"
            for qid, q in _job_queries(cfg).items()}


class SnapshotMismatch(RuntimeError):
    """Resume attempted against an input that changed since the first
    run (different snapshot fingerprint in lineage)."""


def _completed_work(spark: SparkSession, cfg: JobConfig, input_base: str,
                    snaps: dict) -> set:
    """Completed (query_id, bucket) pairs from lineage.

    Raises SnapshotMismatch when (a) ANY lineage row was written for a
    different input content (its snapshot does not start with this
    input's fingerprint — mixing inputs is never safe), or (b) a row
    for one of THIS run's queries was written under a different SHARED
    config (e.g. n_buckets — the bucket spaces would not line up for
    overwrite).  A row whose input + shared config match but whose
    query TEXT hash differs is treated as stale work instead (ADVICE
    r4 item 3): the query's buckets recompute and dynamic partition
    overwrite replaces its output — changing one query really does
    invalidate only that query.  Lineage rows for query_ids NOT in
    this run are ignored: their output partitions are disjoint
    ((bucket, query_id) partitioning), which is what lets one query's
    buckets stay complete while another query's process."""
    # cheap existence probe for local paths avoids a noisy (benign)
    # FileNotFoundException WARN on every first run
    if "://" not in cfg.lineage_path and not os.path.exists(cfg.lineage_path):
        return set()
    try:
        lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(cfg.lineage_path)
    except Exception:
        return set()
    rows = (lineage.select("query_id", "bucket", "input_snapshot")
            .distinct().collect())
    bad_input = {r.input_snapshot for r in rows
                 if not (r.input_snapshot or "").startswith(input_base + "|")}
    if bad_input:
        raise SnapshotMismatch(
            f"lineage at {cfg.lineage_path} was written for input "
            f"snapshot(s) {sorted(bad_input)} but the input now "
            f"fingerprints as {input_base}; refusing to mix snapshots "
            f"(restart against a fresh lineage/output path, or on Iceberg "
            f"pin the original snapshot-id so the input content is truly "
            f"stable)")
    shared_prefix = f"{input_base}|cfg:{_config_fingerprint(cfg)}|"
    matched, stale = set(), set()
    for r in rows:
        if r.query_id in snaps:
            if r.input_snapshot != snaps[r.query_id]:
                if (r.input_snapshot or "").startswith(shared_prefix):
                    # same input + same shared config, different query
                    # TEXT: the old rows are STALE WORK, not a mixing
                    # hazard — this run recomputes the query's buckets
                    # (the bucket space is identical because n_buckets
                    # lives in the shared config) and dynamic partition
                    # overwrite replaces its output partitions
                    # wholesale.  This is what makes the
                    # _config_fingerprint docstring true: a changed
                    # query invalidates only itself.
                    stale.add((r.query_id, r.bucket))
                    continue
                raise SnapshotMismatch(
                    f"lineage row for query {r.query_id!r} was written "
                    f"under snapshot {r.input_snapshot} but this run "
                    f"fingerprints it as {snaps[r.query_id]} (shared "
                    f"config changed — e.g. n_buckets, whose bucket "
                    f"space must match for overwrite to cover the old "
                    f"partitions); refusing to mix")
            else:
                matched.add((r.query_id, r.bucket))
    # append-only lineage has no commit order, so a bucket with BOTH a
    # matching and a stale row is ambiguous (text changed A→B→A: the
    # A rows match but the output on disk may be B's) — recompute it;
    # overwrite makes recomputation always safe, only never-changed
    # buckets get the fast path.  Cost: a query whose text flip-flops
    # loses resume granularity until given a fresh lineage path.
    return matched - stale


def _write_output(df: DataFrame, cfg: JobConfig, part_cols: list) -> None:
    """Idempotent per-unit write: a crash between a unit's output
    write and its lineage commit means the unit re-runs on resume —
    dynamic partition OVERWRITE replaces exactly the re-run units'
    partitions instead of appending duplicates.  (Iceberg gets the
    same via overwritePartitions.)  Multi-query mode partitions by
    (bucket, query_id), so re-running ONE query's buckets cannot
    clobber another query's completed output in the same buckets."""
    if cfg.io_format == "iceberg":
        df.writeTo(cfg.output_path).overwritePartitions()
    else:
        (df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*part_cols).parquet(cfg.output_path))


class SimulatedFailure(RuntimeError):
    """Raised by the fail_after_groups test hook (resume test, §5.2.5)."""


def run_extraction_job(spark: SparkSession, cfg: JobConfig) -> dict:
    """Execute (or resume) the extraction job.  Returns job metrics."""
    df = _read_input(spark, cfg)
    df = df.select("conv_id", "turn_idx", "role", "text")
    if cfg.roles:
        df = df.filter(F.col("role").isin(cfg.roles))
    df = df.withColumn("bucket",
                       F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).cast("int"))

    if cfg.input_snapshot:
        input_base = cfg.input_snapshot
    elif cfg.io_format == "parquet":
        input_base = _input_fingerprint(spark, cfg.input_path)
    else:
        input_base = cfg.input_path
    # the resume identity covers the JOB CONFIG too: resuming half-done
    # output with a different query / bucket count would silently mix
    # incompatible results.  Shared knobs + the query text are folded
    # into PER-QUERY snapshots, so the lineage grain is (bucket,
    # query_id): one query's buckets can be complete while another's
    # resume, and adding a query to a finished run computes only the
    # new query (VERDICT r3 item 7).
    snaps = _query_snapshots(cfg, input_base)
    queries = _job_queries(cfg)
    # the one single/multi fork: multi-query output carries query_id,
    # which keys the ordering window, the output partitions and the
    # lineage read-back
    qkey = ["query_id"] if cfg.queries else []

    done = _completed_work(spark, cfg, input_base, snaps)
    # a bucket's WORK UNIT is the tuple of queries still pending for
    # it; buckets sharing a pending set run together in one pass (one
    # scan and one DOM parse per turn shared by the set's queries),
    # buckets with different pending sets run in separate passes
    units: dict = {}
    for b in range(cfg.n_buckets):
        qs = tuple(qid for qid in snaps if (qid, b) not in done)
        if qs:
            units.setdefault(qs, []).append(b)
    if not units:
        return {"run_id": cfg.run_id, "buckets_processed": 0, "resumed": True}

    all_groups: List[tuple] = []  # (pending query_ids, bucket group)
    for qs, buckets in units.items():
        group_size = cfg.buckets_per_commit or len(buckets)
        for i in range(0, len(buckets), group_size):
            all_groups.append((qs, buckets[i:i + group_size]))

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    buckets_processed = 0

    for gi, (qs, group) in enumerate(all_groups):
        t0 = time.time()
        part = df.filter(F.col("bucket").isin(group))

        # jvm_prose_fast_path=False: the two-branch JVM split would
        # rescan the input once per branch (and per commit group);
        # inside the pipeline the in-kernel prose skip keeps ONE scan
        # per group at the cost of prose rows crossing Arrow with their
        # text nulled.  Salting happens inside the operator.
        extracted = extract_turns_multi(
            part.drop("bucket"), {qid: queries[qid] for qid in qs},
            cfg.similarity_threshold,
            matcher_factory=matcher_factory_from_name(cfg.matcher),
            jvm_prose_fast_path=False, salt_partitions=shuffle_n,
            salt_block=cfg.salt_block)
        extracted = extracted.withColumn(
            "bucket",
            F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).cast("int"))

        # restore stable per-conversation turn order (north rule);
        # in multi-query mode each query's stream orders independently
        order = Window.partitionBy("conv_id", *qkey).orderBy("turn_idx")
        extracted = extracted.withColumn("turn_seq", F.row_number().over(order))

        _write_output(extracted, cfg, ["bucket", *qkey])

        if cfg.fail_before_lineage_group and gi + 1 == cfg.fail_before_lineage_group:
            raise SimulatedFailure(
                f"injected failure after output write, before lineage "
                f"commit, group {gi + 1}")

        # lineage from the written output: column-pruned scan
        if cfg.io_format == "iceberg":
            written = spark.read.table(cfg.output_path)
        else:
            written = spark.read.parquet(cfg.output_path)
        # one lineage row per (bucket, query): rows_in is that query's
        # input-turn count for the bucket, so per query sum(rows_in)
        # reconciles against the input table; the unit's queries prune
        # the query_id partitions, so finished queries are not re-read
        keep = F.col("bucket").isin(group)
        if qkey:
            keep &= F.col("query_id").isin(list(qs))
        written = written.filter(keep)
        stats = written.groupBy("bucket", *qkey).agg(
            F.count("*").alias("rows_in"),
            F.sum("n_results").alias("rows_out"),
            F.sum(F.when(F.col("status") == "parse_error", 1).otherwise(0))
             .alias("parse_failures"),
        ).collect()
        stat_by_key = {(r.asDict().get("query_id"), r.bucket): r
                       for r in stats}
        wall_ms = int((time.time() - t0) * 1000)
        lineage_rows = []
        for qid in qs:
            for b in group:
                r = stat_by_key.get((qid, b))
                lineage_rows.append((
                    b, snaps[qid],
                    int(r.rows_in) if r else 0,
                    int(r.rows_out or 0) if r else 0,
                    int(r.parse_failures) if r else 0,
                    wall_ms, cfg.run_id, qid,
                ))
        spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(cfg.lineage_path)
        buckets_processed += len(group)

        if cfg.fail_after_groups and gi + 1 >= cfg.fail_after_groups \
                and gi + 1 < len(all_groups):
            raise SimulatedFailure(
                f"injected failure after commit group {gi + 1}")

    return {
        "run_id": cfg.run_id,
        "buckets_processed": buckets_processed,
        "resumed": len(done) > 0,
    }
