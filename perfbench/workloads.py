"""The workloads.  Each drives the engine only through its public
functions and checks every output against the generator's truth.

A workload has:

* ``prepare(run)``  — build inputs from the seed (untimed; Spark inputs
  are written once per (workload, seed) and reused);
* ``warmup(run)``   — an untimed pass, the end of set-up;
* ``op(run, i)``    — one timed operation plus its (untimed) check; a run
  makes at least ``min_ops`` of them, and more until ``--seconds`` pass;
* ``replay(run)``   — traced runs only: the kernel work of one
  operation repeated in this process, so wrappers can see it;
* ``noop(run)``     — traced ``markup_job`` only: the job's extraction
  call on the same input, to a noop sink;
* ``layers(...)``   — traced runs only: the workload's per-layer figures.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List, Optional, Sequence, Tuple

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import checks, gen, hostspeed

STRATEGIES = ("json_script", "table", "general", "none")


@dataclass
class Op:
    wall_s: float                # the timed region
    units: int                   # pages or turns processed
    tally: checks.Tally
    in_bytes: int
    out_bytes: int
    extra: Dict[str, float] = field(default_factory=dict)
    # host speed probes taken while the timed work ran, or the
    # perf_counter window in which a background meter took them
    probes: List[float] = field(default_factory=list)
    window: Tuple[float, float] = (0.0, 0.0)
    # ``pages`` only: per call, in the same page order on every op, its
    # latency and the scale factor of the host speed at its moment
    latencies_ms: List[float] = field(default_factory=list)
    record_scales: List[float] = field(default_factory=list)
    # share of its wanted CPU time the guest got while the op ran
    # (``hostspeed.run_share``)
    run_share: float = 1.0


# -- parquet helpers -------------------------------------------------------

def parquet_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet"))


def read_rows(path: Path, columns: Optional[Sequence[str]] = None) -> List[dict]:
    table = ds.dataset(str(path), format="parquet",
                       partitioning="hive").to_table(columns=columns)
    return table.to_pylist()


def write_input(base: Path, columns: Dict[str, list], n_files: int = 4) -> Path:
    """Write rows as ``n_files`` parquet files under ``base`` plus a
    digest of the rows, once: later runs that generate the same rows
    reuse the files, and changed rows never meet stale files."""
    table = pa.table(columns)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    digest = hashlib.sha1(sink.getvalue()).hexdigest()[:12]
    path = base.with_name(f"{base.name}-{digest}")
    if path.exists():
        return path
    tmp = path.with_name(path.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), tmp / f"part-{i}.parquet")
    tmp.rename(path)
    return path


# -- pages -------------------------------------------------------------------

class Pages:
    """Closed loop, one client: ``parse(html, query)`` over a seeded pool,
    one full pass of the pool per operation.  No Spark."""

    name = "pages"
    spark = False
    modules = ("engine.parser", "engine.dom")
    pool_size = 1000
    warm_pages = 150
    # p99 is taken over per-call medians; with three ops a run its
    # spread between runs was 9.5%, with six 4-6%
    min_ops = 6
    probe_halfwidth = 5          # a call's speed: the probes of its 11 neighbours

    def prepare(self, run) -> None:
        self.pool = gen.make_pages(run.seed, self.pool_size)
        self.n_records = self.pool_size
        self.queries = [gen.QUERIES[p.query_id][0] for p in self.pool]
        # the same share of every size and family under every seed
        by_size = sorted(range(self.pool_size), key=lambda i: len(self.pool[i].html))
        self.warm = by_size[::self.pool_size // self.warm_pages]

    def warmup(self, run) -> List[float]:
        parser = run.mods["parser"]
        probes = []
        for i in self.warm:
            parser.parse(self.pool[i].html, self.queries[i])
            probes.append(hostspeed.probe())
        return probes

    def op(self, run, i: int) -> Op:
        parser = run.mods["parser"]
        lat: List[float] = []
        tally = checks.Tally()
        in_bytes = out_bytes = 0
        strategies = dict.fromkeys(STRATEGIES, 0)
        probes: List[float] = []
        clock = time.perf_counter
        for page, query in zip(self.pool, self.queries):
            t0 = clock()
            response = parser.parse(page.html, query)
            lat.append((clock() - t0) * 1e3)
            probes.append(hostspeed.probe())
            tally.add(checks.check_page(response, page))
            in_bytes += len(page.html.encode())
            out_bytes += len(json.dumps(response, ensure_ascii=False).encode())
            used = (response.get("metadata", {}).get("approaches_used", {})
                    .get("html_parsing", "none"))
            strategies[used if used in strategies else "none"] += 1
        h = self.probe_halfwidth
        local = [hostspeed.scale(probes[max(0, k - h):k + h + 1]) for k in range(len(probes))]
        return Op(sum(lat) / 1e3, len(self.pool), tally, in_bytes, out_bytes,
                  {f"parser.strategy.{k}": v for k, v in strategies.items()}, probes,
                  latencies_ms=lat, record_scales=local)

    def replay(self, run) -> Dict[str, float]:
        return {}

    def layers(self, traced: Op, events: dict, noop_s: float) -> Dict[str, float]:
        return dict(traced.extra)


# -- extraction job ----------------------------------------------------------

class MarkupJob:
    """``run_extraction_job``: one query, one commit group; 70% of turns
    are pages from the ``pages`` generator; one conversation holds 5%
    of all turns."""

    name = "markup_job"
    spark = True
    modules = ("engine.parser", "engine.dom", "engine.extract", "engine.pipeline")
    n_turns = 2000
    markup_share = 0.7
    query_id = "q0"
    n_buckets = 8
    salt_block = 32
    min_ops = 3

    def _turns(self, seed: int, n: int) -> List[gen.Turn]:
        return gen.make_transcripts(seed, n, self.markup_share, n_convs=max(4, n // 30),
                                    whale_share=0.05, query_ids=(self.query_id,),
                                    max_bytes=110_000, prose_sentences=(1, 3))

    def _write(self, path: Path, turns: Sequence[gen.Turn]) -> Path:
        return write_input(path, {
            "conv_id": [t.conv_id for t in turns],
            "turn_idx": pa.array([t.turn_idx for t in turns], pa.int32()),
            "role": [t.role for t in turns],
            "text": [t.text for t in turns],
            "tool": ["browser" if t.page else None for t in turns],
        })

    def prepare(self, run) -> None:
        self.turns = self._turns(run.seed, self.n_turns)
        self.input = self._write(run.inputs / f"{self.name}-s{run.seed}", self.turns)
        self.in_bytes = parquet_bytes(self.input)
        self.n_records = len(self.turns)

    def _run(self, run, out: Path) -> None:
        pipeline = run.mods["pipeline"]
        pipeline.run_extraction_job(run.spark, pipeline.JobConfig(
            input_path=str(self.input), output_path=str(out / "out"),
            lineage_path=str(out / "lineage"), query=gen.QUERIES[self.query_id][0],
            n_buckets=self.n_buckets, salt_block=self.salt_block))

    def warmup(self, run) -> None:
        # the whole input: a smaller one leaves the first timed job slow
        out = run.out / "warmup"
        self._run(run, out)
        shutil.rmtree(out, ignore_errors=True)

    def op(self, run, i: int) -> Op:
        out = run.out / f"op{i}"
        t0 = time.perf_counter()
        self._run(run, out)
        t1 = time.perf_counter()
        rows = read_rows(out / "out", ["conv_id", "turn_idx", "results", "n_results",
                                       "status", "turn_seq"])
        tally = checks.check_job_rows(rows, self.turns)
        lineage = read_rows(out / "lineage")
        tally += checks.check_lineage(lineage, len(self.turns))
        op = Op(t1 - t0, len(self.turns), tally, self.in_bytes, parquet_bytes(out / "out"),
                {"pipeline.lineage_rows": len(lineage),
                 "pipeline.commit_groups": len(list((out / "lineage").glob("*.parquet")))},
                window=(t0, t1))
        shutil.rmtree(out, ignore_errors=True)
        return op

    def noop(self, run) -> float:
        """The job's extraction call on the same input, to a noop sink."""
        extract = run.mods["extract"]
        df = run.spark.read.parquet(str(self.input)).select("conv_id", "turn_idx", "role", "text")
        shuffle_n = int(run.spark.conf.get("spark.sql.shuffle.partitions"))
        t0 = time.perf_counter()
        out = extract.extract_turns(
            df, gen.QUERIES[self.query_id][0], salt_partitions=shuffle_n,
            salt_block=self.salt_block, jvm_prose_fast_path=False)
        out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def replay(self, run) -> Dict[str, float]:
        """The kernel's per-turn work in this process, as the Arrow
        kernel does it: markup turns only, one ``extract_turn`` each."""
        from engine.query_parse import parse_query_hybrid

        parser = run.mods["parser"]
        parsed = parse_query_hybrid(gen.QUERIES[self.query_id][0])
        strategies = dict.fromkeys(STRATEGIES, 0)
        tracer = run.tracer
        for turn in self.turns:
            text = turn.text
            if "<" not in text and "&" not in text:
                continue
            with tracer.span("parser"):
                result = parser.extract_turn(text, parsed)
            strategies[result.strategy if result.strategy in strategies else "none"] += 1
        return {f"parser.strategy.{k}": v for k, v in strategies.items()}

    def layers(self, traced: Op, events: dict, noop_s: float) -> Dict[str, float]:
        job = events.get("job", {})
        out = dict(traced.extra)
        out.update({
            "extract.py_bytes_sent": job.get("py_bytes_sent", 0),
            "extract.py_bytes_returned": job.get("py_bytes_returned", 0),
            "extract.py_run_s": job.get("py_run_s", 0),
            "extract.py_start_s": job.get("py_start_s", 0),
            "extract.arrow_batches": job.get("arrow_batches", 0),
            "extract.noop_s": noop_s,
            "pipeline.spark_jobs": job.get("spark_jobs", 0),
            "pipeline.tasks": job.get("tasks", 0),
            "pipeline.scan_records_per_turn": job.get("records_read", 0) / len(self.turns),
            "pipeline.shuffle_write_bytes": job.get("shuffle_write_bytes", 0),
            "pipeline.shuffle_read_bytes": job.get("shuffle_read_bytes", 0),
            "pipeline.output_bytes": job.get("output_bytes", 0),
            "pipeline.executor_run_s": job.get("executor_run_s", 0),
            "pipeline.executor_cpu_s": job.get("executor_cpu_s", 0),
            "pipeline.gc_s": job.get("gc_s", 0),
            "pipeline.spill_bytes": job.get("spill_bytes", 0),
            "pipeline.self_s": traced.wall_s - noop_s,
        })
        return out


# -- web corpus ----------------------------------------------------------------

class WebCorpus:
    """``strip_boilerplate`` over article pages wrapped in nav and footer
    boilerplate, written out as documents, then ``run_cleaning_job``
    (quality gates, exact dedup, MinHash near-dup, PII scrub)."""

    name = "web_corpus"
    spark = True
    modules = ("engine.dom", "engine.boilerplate", "engine.cleaning")
    n_originals = 820
    min_ops = 3

    def _write(self, path: Path, pages: Sequence[gen.WebPage]) -> Path:
        return write_input(path, {
            "conv_id": ["web"] * len(pages),
            "turn_idx": pa.array([p.doc_id for p in pages], pa.int32()),
            "role": ["page"] * len(pages),
            "text": [p.html for p in pages],
        })

    def prepare(self, run) -> None:
        self.pages = gen.make_web_corpus(run.seed, self.n_originals)
        self.n_records = len(self.pages)
        self.input = self._write(run.inputs / f"{self.name}-s{run.seed}", self.pages)
        self.in_bytes = parquet_bytes(self.input)

    def _pass(self, run, out: Path) -> tuple:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        pages = run.spark.read.parquet(str(self.input))
        stripped = run.mods["boilerplate"].strip_boilerplate(pages)
        run.set_group(run.group + ".strip")
        (stripped.select(F.col("turn_idx").cast("long").alias("doc_id"),
                         F.col("main_text").alias("text"))
         .write.mode("overwrite").parquet(str(out / "docs")))
        run.set_group(run.group + ".clean")
        metrics = run.mods["cleaning"].run_cleaning_job(
            run.spark, str(out / "docs"), str(out / "clean"))
        run.set_group(run.group)
        return t0, time.perf_counter(), metrics

    def warmup(self, run) -> None:
        # two passes over the whole input: after one, the first timed
        # pass still ran 20-30% slower than the next
        for k in range(2):
            out = run.out / f"warmup{k}"
            self._pass(run, out)
            shutil.rmtree(out, ignore_errors=True)

    def op(self, run, i: int) -> Op:
        out = run.out / f"op{i}"
        t0, t2, metrics = self._pass(run, out)
        tally = checks.check_web(read_rows(out / "docs"), read_rows(out / "clean", ["doc_id", "text"]),
                                 self.pages)
        op = Op(t2 - t0, len(self.pages), tally, self.in_bytes, parquet_bytes(out / "clean"),
                {"cleaning.rows.gated": metrics["after_quality_language"],
                 "cleaning.rows.exact": metrics["after_exact_dedup"],
                 "cleaning.rows.survivors": metrics["after_neardup_removal"],
                 "cleaning.rows.out": metrics["rows_out"]}, window=(t0, t2))
        if run.tracer is not None:
            op.extra["cleaning.neardup_pairs"] = self._pairs(run, out / "docs")
        shutil.rmtree(out, ignore_errors=True)
        return op

    def _pairs(self, run, docs: Path) -> int:
        cleaning = run.mods["cleaning"]
        run.set_group(run.group + ".probe")
        exact = cleaning.exact_dedup(cleaning.quality_language_gate(
            run.spark.read.parquet(str(docs))))
        n = cleaning.neardup_pairs(exact).count()
        run.set_group(run.group)
        return n

    def replay(self, run) -> Dict[str, float]:
        boilerplate = run.mods["boilerplate"]
        removed = total = 0
        for page in self.pages:
            r = boilerplate.extract_main_text(page.html)
            removed += r["removed_len"]
            total += r["total_len"]
        return {"boilerplate.removed_ratio": removed / total if total else 0.0}

    def layers(self, traced: Op, events: dict, noop_s: float) -> Dict[str, float]:
        strip, clean = events.get("job.strip", {}), events.get("job.clean", {})
        out = dict(traced.extra)
        out.update({
            "boilerplate.py_run_s": strip.get("py_run_s", 0),
            "cleaning.spark_jobs": clean.get("spark_jobs", 0),
            "cleaning.scan_records_per_doc": clean.get("records_read", 0) / len(self.pages),
            "cleaning.shuffle_write_bytes": clean.get("shuffle_write_bytes", 0),
            "cleaning.executor_run_s": clean.get("executor_run_s", 0),
            "cleaning.gc_s": clean.get("gc_s", 0),
            "cleaning.spill_bytes": clean.get("spill_bytes", 0),
        })
        return out


WORKLOADS = {w.name: w for w in (Pages, MarkupJob, WebCorpus)}
