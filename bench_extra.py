"""Per-query isolation bench (guide §1.4) — NOT the driver contract.

``bench.py`` is frozen for measurement; this helper exists so the
optimization loop can time ONE query at a time through the same
methodology (warmup at a tiny SF, timed at the target SF, noop sink,
clearCache between runs) and dump its ``explain("formatted")`` plan.
Kept because it is the per-query interleaved A/B tool (run it from a
parent checkout and the change in turn, min of ≥ 3 per side) until a
per-node profiler replaces it.

Usage:
  python bench_extra.py q1 q2 ...            # time the named queries
  python bench_extra.py --reps 3 q1          # min of N timed passes
  python bench_extra.py --plan plans/r08 --suffix before q1 ...
                                             # also dump plans to
                                             # plans/r08/q1_before.txt
  python bench_extra.py --all                # the full bench.py list

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_WARM_DIR.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

# the analytics list from bench.py (round-start copy), kept here so
# --all matches the driver's suite without touching the frozen file
BENCH_ANALYTICS = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_incremental",
    "dedup_clusters", "minhash_estimate_report", "dedup_ngram_jaccard",
    "dedup_simhash", "simhash_hamming_candidates",
    "simhash128_hamming_candidates",
    "dedup_embedding_cosine", "dedup_span_exact", "dedup_substring",
    "dedup_substring_cut", "dedup_substring_cut_bytes",
    "doc_embedding_hashed",
    "ann_cosine_topk", "ann_lsh_top1",
    "ann_ivf_topk", "ann_ivf_sampled_topk", "winnowing_overlap",
    "decontaminate_ngram", "decontaminate_cut", "gopher_repetition",
    "neardup_pairs_simhash128", "sample_stratified",
    "pack_token_budget", "lm_perplexity_filter",
    "lm_perplexity_filter_ref", "lm2_perplexity_filter_ref",
    "tfidf_top_terms",
    "corpus_shuffle", "dup_ngram_fraction", "dsir_importance",
    "semdedup", "top_ngrams", "corpus_stats",
    "source_overlap_matrix", "mixture_weights", "semdedup_clusters",
    "lm2_perplexity_filter",
    "sessionize", "group_winner_rank", "turn_order_window",
    "quality_score", "token_count", "pii_scrub", "cleaning_pass",
    "boilerplate_strip", "pdf_extract"]


def explain_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plan", default=None,
                    help="directory to write <query>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip the timed passes")
    args = ap.parse_args()

    from engine.queries import _REGISTRY
    import engine.analytics  # noqa: F401
    from engine.session import get_spark

    names = BENCH_ANALYTICS if args.all else args.names
    unknown = [n for n in names if n not in _REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS * 2)
    spark.sparkContext.setLogLevel("ERROR")

    with open("/proc/loadavg") as f:
        load0 = f.read().split()[0]

    def _await_quiet(threshold=2.5, timeout_s=300, poll_s=10):
        deadline = time.time() + timeout_s
        while True:
            with open("/proc/loadavg") as f:
                load = float(f.read().split()[0])
            if load < threshold or time.time() >= deadline:
                return load
            time.sleep(poll_s)

    out: dict = {}
    for name in names:
        fn, _ = _REGISTRY[name]
        if not args.no_time:
            _await_quiet()
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            plan = explain_str(fn(spark, SF_DIR))
            with open(os.path.join(args.plan,
                                   f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        if args.no_time:
            continue
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        t0 = time.time()
        fn(spark, WARM_DIR).write.mode("overwrite").format("noop").save()
        warm = round(time.time() - t0, 3)
        samples = []
        for rep in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            samples.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
        out[name] = {"warmup": warm, "samples": samples,
                     "min": min(samples)}
        print(json.dumps({name: out[name]}), flush=True)

    with open("/proc/loadavg") as f:
        load1 = f.read().split()[0]
    print(json.dumps({"sf": SF_DIR, "cpus": CPUS,
                      "load": [load0, load1],
                      "queries": {k: v["min"] for k, v in out.items()}}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
