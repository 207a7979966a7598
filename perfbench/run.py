"""Benchmark entry point.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 12 --trace 0

Run from the repository root (or any checkout of it): the engine is
imported from the parent of this directory.  The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``; the line before it carries annotations (host context,
sample counts) that are not metrics.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` makes a separate traced run and
reports the per-layer metrics.  Working files go to ``.bench_work/``.
"""

from __future__ import annotations

import os
import time


def process_age_s() -> float:
    """Seconds since this process started, by the kernel's record, so
    interpreter start-up counts too."""
    with open("/proc/self/stat", "rb") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = time.perf_counter() - process_age_s()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import checks, hostspeed, sparkenv, stats  # noqa: E402
from perfbench.trace import OVERHEAD, Tracer, read_event_log_dir  # noqa: E402
from perfbench.workloads import WORKLOADS, Op  # noqa: E402

END_TO_END = {
    "setup_s": "s", "throughput_per_s": "1/s", "p50_ms": "ms", "p99_ms": "ms",
    "peak_rss_mb": "MB", "ok_rate": "ratio", "out_bytes_per_in_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "query_parse.calls": "count", "query_parse.busy_s": "s",
    "dom.calls": "count", "dom.busy_s": "s", "dom.in_bytes": "bytes",
    "dom.elements": "count", "dom.iter_elements.calls": "count",
    "dom.iter_elements.yielded": "count", "dom.find_all.calls": "count",
    "jsonld.find.calls": "count", "jsonld.find.busy_s": "s",
    "jsonld.parse.calls": "count", "jsonld.parse.busy_s": "s",
    "jsonld.gate_pass_ratio": "ratio",
    "table.calls": "count", "table.busy_s": "s",
    "general.calls": "count", "general.busy_s": "s",
    "structures.repeated.calls": "count", "structures.repeated.busy_s": "s",
    "general.likely_containers_ratio": "ratio",
    "parser.self_s": "s", "parser.strategy.json_script": "count",
    "parser.strategy.table": "count", "parser.strategy.general": "count",
    "parser.strategy.none": "count",
    "extract.py_bytes_sent": "bytes", "extract.py_bytes_returned": "bytes",
    "extract.py_run_s": "s", "extract.py_start_s": "s",
    "extract.arrow_batches": "count", "extract.noop_s": "s",
    "pipeline.commit_groups": "count", "pipeline.spark_jobs": "count",
    "pipeline.tasks": "count", "pipeline.scan_records_per_turn": "ratio",
    "pipeline.shuffle_write_bytes": "bytes", "pipeline.shuffle_read_bytes": "bytes",
    "pipeline.output_bytes": "bytes", "pipeline.executor_run_s": "s",
    "pipeline.executor_cpu_s": "s", "pipeline.gc_s": "s",
    "pipeline.spill_bytes": "bytes", "pipeline.lineage_rows": "count",
    "pipeline.self_s": "s",
    "boilerplate.py_run_s": "s", "boilerplate.busy_s": "s",
    "boilerplate.removed_ratio": "ratio",
    "cleaning.rows.gated": "count", "cleaning.rows.exact": "count",
    "cleaning.rows.survivors": "count", "cleaning.rows.out": "count",
    "cleaning.neardup_pairs": "count", "cleaning.spark_jobs": "count",
    "cleaning.scan_records_per_doc": "ratio",
    "cleaning.shuffle_write_bytes": "bytes", "cleaning.executor_run_s": "s",
    "cleaning.gc_s": "s", "cleaning.spill_bytes": "bytes",
    "trace.overhead_pct": "%",
}


class Run:
    """State one benchmark process shares with its workload."""

    def __init__(self, seed: int, traced: bool):
        self.seed = seed
        self.work = ROOT / ".bench_work"
        self.inputs = self.work / "inputs"
        self.own = self.work / f"run-{os.getpid()}"
        self.out = self.own / "out"
        self.event_log = self.own / "eventlog" if traced else None
        self.spark = None
        self.mods: dict = {}
        self.tracer = None
        self.meter = None
        self.group = "setup"

    def set_group(self, label: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(label, label)

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None


def stop_gateway() -> None:
    """End the JVM the driver launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def setup(run: Run, wl, gen_s: float, ticks0) -> dict:
    """Engine imports, the Spark session and the untimed warm-up pass.
    ``total`` runs from process start to the end of the warm-up, less
    the input generation (``gen_s``)."""
    t0 = time.perf_counter()
    run.mods = {n.rsplit(".", 1)[-1]: importlib.import_module(n) for n in wl.modules}
    t1 = time.perf_counter()
    if wl.spark:
        run.spark = sparkenv.start_session(run.own, run.event_log)
        run.set_group("warmup")
    t2 = time.perf_counter()
    probes = wl.warmup(run) or run.meter.between(t0, time.perf_counter())
    t3 = time.perf_counter()
    share = hostspeed.run_share(ticks0, hostspeed.cpu_ticks())
    return {"total": t3 - T_PROCESS - gen_s, "import": t1 - t0, "start": t2 - t1,
            "warmup": t3 - t2, "scale": hostspeed.scale(probes) * share}


def host_scale(run: Run, op: Op) -> float:
    if not op.probes:
        op.probes = run.meter.between(*op.window)
    return hostspeed.scale(op.probes) * op.run_share


def run_op(run: Run, wl, i: int) -> Op:
    ticks = hostspeed.cpu_ticks()
    try:
        op = wl.op(run, i)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return Op(0.0, 0, checks.Tally(attempted=wl.n_records, failed=wl.n_records), 0, 0)
    op.run_share = hostspeed.run_share(ticks, hostspeed.cpu_ticks())
    return op


def end_to_end(run: Run, ops, setup_info, rss) -> dict:
    """The end-to-end metrics, times scaled to the reference host speed
    (``perfbench.hostspeed``), plus the same figures as measured."""
    done = [op for op in ops if op.units and op.wall_s > 0]
    scales = [host_scale(run, op) for op in done]

    def figures(scaled: bool) -> dict:
        f = scales if scaled else [1.0] * len(done)
        if done[0].latencies_ms:
            # a call's latency is its median over the ops; percentiles
            # are taken over calls, so one slow op or one GC pause in a
            # call does not make the tail
            per_call = [stats.median(xs) for xs in zip(*(
                [x * (r * op.run_share if scaled else 1.0)
                 for x, r in zip(op.latencies_ms, op.record_scales)]
                for op in done))]
            p50, p99 = stats.percentile(per_call, 50), stats.percentile(per_call, 99)
        else:
            # a job is one request, and its records commit together:
            # both figures are its median wall time, not percentiles
            p50 = p99 = stats.median([op.wall_s * f[k] * 1e3 for k, op in enumerate(done)])
        return {
            "setup_s": setup_info["total"] * (setup_info["scale"] if scaled else 1.0),
            "throughput_per_s": stats.median([op.units / (op.wall_s * f[k])
                                              for k, op in enumerate(done)]),
            "p50_ms": p50,
            "p99_ms": p99,
        }

    attempted = sum(op.tally.attempted for op in ops)
    failed = sum(op.tally.failed for op in ops)
    in_bytes = sum(op.in_bytes for op in done)
    metrics = figures(scaled=True)
    metrics.update({
        "peak_rss_mb": stats.median([rss.peak_between(*op.window) for op in done]),
        "ok_rate": (attempted - failed) / attempted if attempted else 0.0,
        "out_bytes_per_in_byte": (sum(op.out_bytes for op in done) / in_bytes
                                  if in_bytes else 0.0),
    })
    return {"metrics": metrics, "as_measured": figures(scaled=False),
            "host_scale": [round(x, 4) for x in scales],
            "op_wall_s": [round(op.wall_s, 3) for op in done],
            "run_share": [round(op.run_share, 4) for op in done],
            "peak_rss_mb_per_op": [round(rss.peak_between(*op.window), 1) for op in done]}


def install_wrappers(tracer: Tracer, run: Run) -> None:
    from engine import dom
    from engine.kernels import general, jsonld, structures, table

    def dom_sizes(t, root, args):
        t.counts["dom.in_bytes"] += len(args[0].encode("utf-8", "ignore"))
        n, stack = 0, [root]
        while stack:
            node = stack.pop()
            for child in node.children:
                if isinstance(child, dom.Node):
                    n += 1
                    stack.append(child)
        t.counts["dom.elements"] += n

    def gate(t, passed, args):
        t.counts["jsonld.gate_pass"] += bool(passed)

    if "parser" in run.mods:
        parser = run.mods["parser"]
        tracer.wrap(parser, "parse", "parser")
        tracer.wrap(parser, "parse_query_hybrid", "query_parse")
    if "extract" in run.mods:
        tracer.wrap(run.mods["extract"], "parse_query_hybrid", "query_parse")
    if "boilerplate" in run.mods:
        tracer.wrap(run.mods["boilerplate"], "extract_main_text", "boilerplate")
    tracer.wrap(dom, "parse_html", "dom", after=dom_sizes)
    tracer.count_generator(dom.Node, "iter_elements", "dom.iter_elements")
    tracer.count_calls(dom.Node, "find_all", "dom.find_all.calls")
    tracer.wrap(jsonld, "find_json_scripts", "jsonld.find")
    tracer.wrap(jsonld, "parse_json_scripts", "jsonld.parse")
    tracer.wrap(jsonld, "sufficiency_gate", "jsonld.gate", after=gate)
    tracer.wrap(table, "parse_tables", "table")
    tracer.wrap(general, "parse_general", "general")
    tracer.wrap(general, "parse_from_likely_containers", "general.likely")
    tracer.wrap(structures, "find_repeated_structures", "structures.repeated")


def kernel_layers(t: Tracer) -> dict:
    parses, generals = t.calls("jsonld.parse"), t.calls("general")
    out = {f"{n}.calls": t.calls(n) for n in (
        "query_parse", "dom", "jsonld.find", "jsonld.parse", "table", "general",
        "structures.repeated")}
    out.update({f"{n}.busy_s": t.busy(n) for n in (
        "query_parse", "dom", "jsonld.find", "jsonld.parse", "table", "general",
        "structures.repeated", "boilerplate")})
    out.update({k: t.counts[k] for k in (
        "dom.in_bytes", "dom.elements", "dom.iter_elements.calls",
        "dom.iter_elements.yielded", "dom.find_all.calls")})
    out["jsonld.gate_pass_ratio"] = t.counts["jsonld.gate_pass"] / parses if parses else 0.0
    out["general.likely_containers_ratio"] = (t.calls("general.likely") / generals
                                              if generals else 0.0)
    out["parser.self_s"] = t.self_time("parser")
    return out


def traced_run(run: Run, wl, setup_info) -> dict:
    run.group = "plain"
    run.set_group(run.group)
    plain = wl.op(run, 0)
    tracer = Tracer()
    run.tracer = tracer
    install_wrappers(tracer, run)
    try:
        run.group = "job"
        run.set_group(run.group)
        tracer.op = 1
        traced = wl.op(run, 1)
        tracer.op = 2               # the in-process replay
        replayed = wl.replay(run)
    finally:
        tracer.restore()
        run.tracer = None
    # untraced ops on both sides of the traced one, so warming up does not
    # count as tracing overhead
    run.group = "plain"
    run.set_group(run.group)
    plain_after = wl.op(run, 2)
    noop_s = 0.0
    if wl.spark:
        if hasattr(wl, "noop"):
            run.set_group("noop")
            noop_s = wl.noop(run)
        run.stop_spark()
    events = read_event_log_dir(run.event_log) if wl.spark else {}
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers["session.start_s"] = setup_info["start"]
    layers["session.warmup_s"] = setup_info["warmup"]
    layers.update(kernel_layers(tracer))
    layers.update(wl.layers(traced, events, noop_s))
    layers.update(replayed)
    untraced = [op.wall_s * host_scale(run, op) for op in (plain, plain_after)]
    layers["trace.overhead_pct"] = (traced.wall_s * host_scale(run, traced)
                                    / statistics.fmean(untraced) - 1.0) * 100.0
    tracer.dump(run.work / "traces" / f"{wl.name}-s{run.seed}.jsonl")
    tally = checks.Tally()
    for op in (plain, traced, plain_after):
        tally += op.tally
    return {"metrics": layers, "tally": tally,
            "spans": len(tracer.spans) - tracer.calls(OVERHEAD)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    importlib.import_module("engine")       # fail fast outside a checkout
    wl = WORKLOADS[args.workload]()
    run = Run(args.seed, bool(args.trace))
    run.inputs.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(run.own, ignore_errors=True)
    run.own.mkdir(parents=True)
    sparkenv.prepare_env(ROOT, run.own)
    ticks0 = hostspeed.cpu_ticks()
    t_gen = time.perf_counter()
    wl.prepare(run)
    gen_s = time.perf_counter() - t_gen
    try:
        with sparkenv.PeakRss(with_children=wl.spark) as rss, \
                hostspeed.SpeedMeter(enabled=wl.spark) as meter:
            run.meter = meter
            setup_info = setup(run, wl, gen_s, ticks0)
            if args.trace:
                result = traced_run(run, wl, setup_info)
                metrics, units = result["metrics"], PER_LAYER
                tally = result["tally"]
                extra = {"spans": result["spans"]}
            else:
                run.group = "job"
                run.set_group(run.group)
                ops, t0 = [], time.perf_counter()
                while len(ops) < wl.min_ops or time.perf_counter() - t0 < args.seconds:
                    ops.append(run_op(run, wl, len(ops)))
                measured_s = time.perf_counter() - t0
        if not args.trace:
            e2e = end_to_end(run, ops, setup_info, rss)
            metrics, units = e2e["metrics"], END_TO_END
            tally = checks.Tally()
            for op in ops:
                tally += op.tally
            extra = {"ops": len(ops), "measured_s": round(measured_s, 3),
                     "latency_of": "parse call" if ops[0].latencies_ms else "job",
                     "latency_samples": len(ops[0].latencies_ms) or len(ops),
                     "host_scale": e2e["host_scale"], "as_measured": e2e["as_measured"],
                     "op_wall_s": e2e["op_wall_s"], "run_share": e2e["run_share"],
                     "peak_rss_mb_per_op": e2e["peak_rss_mb_per_op"]}
    finally:
        run.stop_spark()
        if wl.spark:
            stop_gateway()
        shutil.rmtree(run.own, ignore_errors=True)
    annotations = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_1m": os.getloadavg()[0],
        "spark_master": sparkenv.MASTER if wl.spark else None,
        "input_gen_s": round(gen_s, 3),
        "setup_parts_s": {k: round(setup_info[k], 3) for k in ("import", "start", "warmup")},
        **extra,
    }
    print(json.dumps({"annotations": annotations}))
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted, "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
