#!/usr/bin/env python3
"""One decade of scale evidence (VERDICT r3 item 6): synthesize a 10×
sf0.1-equivalent corpus, run the dedup/ANN/cleaning suite on BOTH
scales in one session (warmed, same methodology as bench.py), and
report per-query wall ratios — a plan that is really linear in the
input shows ~10× wall at 10× rows on fixed cores.

Corpus construction (deterministic, preserves duplicate DENSITY so the
comparison is honest):

* documents: 10 copies; copy k>0 prefixes every CONTENT word with
  ``v{k}`` while leaving the C4-stopword / language-vote tokens
  untouched.  The per-copy word map is injective and position-
  independent, so every within-copy near-dup pair of the base corpus
  exists in every copy (pair count scales exactly 10×) and the
  quality/language gates see identical token-membership counts
  (cleaning funnels scale 10× too); cross-copy shingle overlap is
  limited to the rare all-stopword 3-gram, far below the Jaccard
  verify threshold.
* embeddings: 10 copies; copy k rotates every vector by k components —
  rotation is orthogonal, so within-copy cosine structure (and the
  planted-pair machinery the ANN queries build on top) is preserved
  exactly, while cross-copy cosines stay near-random.

Usage: python scripts/scale_decade.py [base_sf_dir] [out_json]
Writes the 10× corpus under /tmp/scale10 and prints one JSON line per
query: {"query", "wall_base", "wall_10x", "ratio", ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COPIES = 10
SCALE_DIR = "/tmp/scale10"
WARM_DIR = "/root/testdata/sf0.001"

SUITE = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_incremental",
    "dedup_clusters", "dedup_ngram_jaccard", "dedup_simhash",
    "simhash_hamming_candidates", "simhash128_hamming_candidates",
    "neardup_pairs_simhash128", "dedup_embedding_cosine",
    "ann_cosine_topk", "ann_lsh_top1", "ann_ivf_topk",
    "ann_ivf_sampled_topk", "winnowing_overlap", "fingerprint_winnowing",
    "pii_scrub", "cleaning_pass", "quality_score", "token_count",
    "lang_id_heuristic", "doc_fingerprint",
    "sample_stratified", "pack_token_budget",
    "lm_perplexity_filter", "tfidf_top_terms", "corpus_shuffle",
    "dup_ngram_fraction", "dsir_importance", "top_ngrams",
    "corpus_stats", "source_overlap_matrix", "mixture_weights",
    "lm2_perplexity_filter", "dedup_substring", "dedup_substring_cut",
    "dedup_substring_cut_bytes", "doc_embedding_hashed",
    "decontaminate_cut",
    "lm_perplexity_filter_ref", "lm2_perplexity_filter_ref",
]
if os.environ.get("SCALE_SUITE"):  # subset override for re-runs
    SUITE = os.environ["SCALE_SUITE"].split(",")


def synth_decade(spark, base_dir: str) -> None:
    from pyspark.sql import functions as F

    from engine.analytics import _C4_STOPWORDS, _LANG_SETS

    keep = sorted(set(_C4_STOPWORDS)
                  | {w for ws in _LANG_SETS.values() for w in ws})
    keep_sql = ", ".join(f"'{w}'" for w in keep)
    docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    extra = [c for c in docs.columns if c not in ("doc_id", "text")]
    dmax = docs.agg(F.max("doc_id")).first()[0] + 1
    parts = [docs.select("doc_id", "text", *extra)]
    for k in range(1, COPIES):
        marked = F.expr(
            f"array_join(transform(filter(split(text, ' '), "
            f"x -> length(x) > 0), w -> CASE WHEN lower(w) IN ({keep_sql}) "
            f"THEN w ELSE concat('v{k}', w) END), ' ')")
        parts.append(docs.select(
            (F.col("doc_id") + k * dmax).alias("doc_id"),
            marked.alias("text"), *extra))
    big = parts[0]
    for p in parts[1:]:
        big = big.unionAll(p)
    big.repartition(64).write.mode("overwrite") \
        .parquet(f"{SCALE_DIR}/documents.parquet")

    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    vmax = emb.agg(F.max("vec_id")).first()[0] + 1
    eparts = [emb.select("vec_id", "embedding", "label")]
    for k in range(1, COPIES):
        rotated = F.expr(
            f"concat(slice(embedding, {k + 1}, {64 - k}), "
            f"slice(embedding, 1, {k}))")
        eparts.append(emb.select(
            (F.col("vec_id") + k * vmax).alias("vec_id"),
            rotated.alias("embedding"), "label"))
    bige = eparts[0]
    for p in eparts[1:]:
        bige = bige.unionAll(p)
    bige.repartition(32).write.mode("overwrite") \
        .parquet(f"{SCALE_DIR}/embeddings.parquet")


def main() -> None:
    base_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else None

    from engine.queries import _REGISTRY
    import engine.analytics  # noqa: F401
    from engine.cleaning import run_cleaning_job
    from engine.session import get_spark

    spark = get_spark(app_name="scale-decade")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    synth_decade(spark, base_dir)
    n_docs = spark.read.parquet(f"{SCALE_DIR}/documents.parquet").count()
    n_vecs = spark.read.parquet(f"{SCALE_DIR}/embeddings.parquet").count()
    print(json.dumps({"synth_sec": round(time.time() - t0, 1),
                      "docs_10x": n_docs, "vecs_10x": n_vecs}))

    results = []
    for name in SUITE:
        fn, _ = _REGISTRY[name]
        fn(spark, WARM_DIR).write.mode("overwrite").format("noop").save()
        t0 = time.time()
        df = fn(spark, base_dir)
        df.write.mode("overwrite").format("noop").save()
        wall_base = time.time() - t0
        rows_base = df.count() if name.startswith(("dedup", "winnow")) \
            else None
        t0 = time.time()
        df = fn(spark, SCALE_DIR)
        df.write.mode("overwrite").format("noop").save()
        wall_10x = time.time() - t0
        rows_10x = df.count() if rows_base is not None else None
        rec = {"query": name, "wall_base": round(wall_base, 2),
               "wall_10x": round(wall_10x, 2),
               "ratio": round(wall_10x / max(wall_base, 1e-9), 1)}
        if rows_base is not None:
            rec["rows_base"], rec["rows_10x"] = rows_base, rows_10x
        results.append(rec)
        print(json.dumps(rec))

    sections = set(os.environ.get(
        "SCALE_SECTIONS", "semdedup,jobs,simhash_jobs,curation").split(","))

    # SemDeDup decade (r5 tail): with k FIXED the within-cell pairwise
    # is quadratic in corpus size (|cell| grows 10x -> ~100x pair
    # work); the paper's contract is k PROPORTIONAL TO n, which holds
    # |cell| constant.  Measure both, so the table shows the trap AND
    # the published fix.  train_limit scales with k (>=10 samples per
    # centroid keeps the bounded fit non-degenerate).
    from engine.analytics import (_planted_embeddings, semdedup_removals,
                                  _IVF_K)
    for name, d, k in (
            (("semdedup_k16_base", base_dir, _IVF_K),
             ("semdedup_k16_10x", SCALE_DIR, _IVF_K),
             ("semdedup_k_prop_n_10x", SCALE_DIR, _IVF_K * COPIES))
            if "semdedup" in sections else ()):
        spark.catalog.clearCache()
        emb, _off = _planted_embeddings(spark, d)
        t0 = time.time()
        df = semdedup_removals(emb, k=k,
                               train_limit=max(200, 10 * k)).persist()
        df.write.mode("overwrite").format("noop").save()
        wall = time.time() - t0
        rows = df.count()  # cache read, not a pipeline recompute
        df.unpersist()
        rec = {"query": name, "k": k,
               "wall": round(wall, 2), "rows": rows}
        results.append(rec)
        print(json.dumps(rec))

    # training-corpus assembly job (r5 tail): sample -> shuffle ->
    # shard over both scales
    from engine.curation import run_curation_job
    for sf_name, sf_dir in ((("base", base_dir), ("10x", SCALE_DIR))
                            if "curation" in sections else ()):
        spark.catalog.clearCache()
        m = run_curation_job(spark, f"{sf_dir}/documents.parquet",
                             f"/tmp/scale10_curate_{sf_name}")
        rec = {"query": f"curation_job_{sf_name}", **m}
        results.append(rec)
        print(json.dumps(rec))

    for sf_name, sf_dir in ((("base", base_dir), ("10x", SCALE_DIR))
                            if "jobs" in sections else ()):
        m = run_cleaning_job(spark, f"{sf_dir}/documents.parquet",
                             f"/tmp/scale10_clean_{sf_name}")
        rec = {"query": f"cleaning_job_{sf_name}", **m}
        results.append(rec)
        print(json.dumps(rec))

    # the r5 candidate-generator option: same job, simhash128 sketch
    for sf_name, sf_dir in ((("base", base_dir), ("10x", SCALE_DIR))
                            if "simhash_jobs" in sections else ()):
        m = run_cleaning_job(spark, f"{sf_dir}/documents.parquet",
                             f"/tmp/scale10_clean_sim_{sf_name}",
                             sketch="simhash128")
        rec = {"query": f"cleaning_job_simhash128_{sf_name}", **m}
        results.append(rec)
        print(json.dumps(rec))

    if out_json:
        with open(out_json, "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
