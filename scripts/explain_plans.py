"""Inspect the physical plans of the main pipeline stages and assert
the scale-critical properties hold:

* column pruning reaches the parquet scan (ReadSchema only carries the
  needed columns — a scan reading `text` for a count-only query is a
  regression);
* filters are pushed (PushedFilters non-empty where a filter exists);
* the extraction stage has NO shuffle other than the explicit salted
  repartition; the ordering window adds exactly one;
* small-side joins are broadcast (BroadcastHashJoin in the fuzzy
  theta-join);
* the default cleaning job's write plan is node for node the pinned
  one, and a stream_clean micro-batch against a compacted index reads
  the bucketed tables with no Exchange between scan and join.

Run: python scripts/explain_plans.py  (prints plans; exits non-zero on
a violated property).
"""

from __future__ import annotations

import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


# the default run_cleaning_job write plan over the benchmark's
# articles (formatted-mode node names in order; 14 of them Exchange):
# the batch cleaning plan, pinned so a change to the shared stages
# cannot move it unnoticed
_ARTICLES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench", "data", "articles.parquet")
_CLEANING_NODES = """
InMemoryTableScan InMemoryRelation InMemoryTableScan
InMemoryRelation InMemoryTableScan InMemoryRelation Scan
ColumnarToRow Filter TableCacheQueryStage Filter
InMemoryTableScan InMemoryRelation TableCacheQueryStage Project
HashAggregate Exchange ShuffleQueryStage AQEShuffleRead
HashAggregate Filter BroadcastExchange BroadcastQueryStage
BroadcastHashJoin ResultQueryStage Filter Project HashAggregate
Exchange HashAggregate Filter BroadcastExchange
BroadcastHashJoin AdaptiveSparkPlan Exchange Sort
InMemoryTableScan InMemoryRelation Filter Exchange Project
Generate Project HashAggregate Exchange HashAggregate
HashAggregate Exchange HashAggregate Generate Filter
InMemoryTableScan InMemoryRelation Filter Exchange Project
Generate Project HashAggregate Exchange HashAggregate
HashAggregate Exchange HashAggregate Generate Filter
BroadcastExchange BroadcastHashJoin Project HashAggregate
HashAggregate InMemoryTableScan InMemoryRelation Filter Exchange
Project Generate Filter Project HashAggregate Exchange
HashAggregate BroadcastExchange BroadcastHashJoin Project
InMemoryTableScan InMemoryRelation Filter Exchange Project
Generate Filter Project HashAggregate Exchange HashAggregate
BroadcastExchange BroadcastHashJoin Project HashAggregate
HashAggregate Filter Project HashAggregate Exchange
HashAggregate Sort SortMergeJoin AdaptiveSparkPlan Project
AdaptiveSparkPlan
""".split()


def explain_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _joins_above_index_scans(df, table_prefix: str) -> list:
    """(scan, nodes between it and its join) for every bucketed scan
    of a ``table_prefix`` table in ``df``'s physical plan, walking
    through AQE and cached (InMemoryRelation) subplans."""
    out = []

    def walk(node, path):
        name = node.nodeName()
        if name.startswith("Scan") and table_prefix in name \
                and "Bucketed: true" in node.toString():
            between = []
            for above in reversed(path):
                if "Join" in above:
                    break
                between.append(above)
            out.append((name, between))
        if name == "AdaptiveSparkPlan":
            kids = [node.executedPlan()]
        elif name == "InMemoryTableScan":
            kids = [node.relation().cachedPlan()]
        else:
            seq = node.children()
            kids = [seq.apply(k) for k in range(seq.size())]
        for kid in kids:
            walk(kid, path + [name])

    walk(df._jdf.queryExecution().executedPlan(), [])
    return out


def main() -> int:
    from engine.extract import extract_turns, extract_turns_multi
    from engine.queries import _REGISTRY
    import engine.analytics  # noqa: F401
    from engine.session import get_spark
    from engine.synth import CANONICAL_QUERY, synth_transcripts

    spark = get_spark(app_name="explain", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    failures = []

    # --- extraction pipeline plan ---------------------------------------
    synth_transcripts(spark, 10, 6).write.mode("overwrite") \
        .parquet("/tmp/explain_transcripts")
    df = spark.read.parquet("/tmp/explain_transcripts")
    # single query, and several queries (one crashing: its envelope is
    # stamped JVM-side) ordered per (conv_id, query_id)
    multi = {"book": CANONICAL_QUERY,
             "title": "List book title, price and availability",
             "crash": "the"}
    for name, extracted, keys in (
            ("extraction", extract_turns(df, CANONICAL_QUERY,
                                         salt_partitions=4, salt_block=256),
             ["conv_id"]),
            ("multi-query extraction",
             extract_turns_multi(df, multi, salt_partitions=4,
                                 salt_block=256),
             ["conv_id", "query_id"])):
        w = Window.partitionBy(*keys).orderBy("turn_idx")
        final = extracted.withColumn("turn_seq", F.row_number().over(w))
        plan = explain_str(final)
        print(f"=== {name} pipeline ===")
        print(plan)

        n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
        if n_exchanges != 2:
            failures.append(
                f"{name} plan: expected exactly 2 shuffles (salt on the "
                f"markup branch + ordering window; prose branch must "
                f"stay shuffle-free), found {n_exchanges}")
        for read_schema in re.findall(r"ReadSchema: (.*)", plan):
            if "tool" in read_schema:
                failures.append(f"a {name} scan reads 'tool' — pruning "
                                f"regressed")

    # --- filter pushdown ---------------------------------------------------
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    fplan = explain_str(li.filter(F.col("l_returnflag") == "R")
                        .select("l_orderkey"))
    if "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" \
            not in fplan:
        failures.append("filter not pushed to parquet scan")
    rs = re.search(r"ReadSchema: (.*)", fplan)
    if rs and "l_quantity" in rs.group(1):
        failures.append("projection not pruned in filtered scan")

    # --- broadcast in fuzzy theta-join ----------------------------------
    fn, _ = _REGISTRY["fuzzy_theta_join"]
    jplan = explain_str(fn(spark, "/root/testdata/sf0.001"))
    if "BroadcastNestedLoopJoin" not in jplan and "BroadcastHashJoin" not in jplan:
        failures.append("fuzzy theta-join did not broadcast the small side")

    # --- ANN LSH: no broadcast HINTS, no cartesian products --------------
    # (AQE may still CHOOSE broadcast at tiny SF — that's runtime
    # adaptivity, not a plan assumption; a ResolvedHint or a cartesian
    # in the analyzed plan would be a 10^9-vector scale bug)
    # (the LM-family queries are NOT here: their F.broadcast(tot) is a
    # 1-row totals frame — a correct hint, not a size assumption)
    for qname in ("ann_lsh_top1", "dedup_embedding_cosine",
                  "dedup_minhash_lsh", "simhash_hamming_candidates",
                  "dedup_ngram_jaccard", "dedup_substring",
                  "dedup_substring_cut", "dedup_substring_cut_bytes"):
        fn, _ = _REGISTRY[qname]
        qdf = fn(spark, "/root/testdata/sf0.001")
        analyzed = explain_str(qdf, "extended")
        if "ResolvedHint" in analyzed or "hints=[broadcast]" in analyzed:
            failures.append(f"{qname}: broadcast hint present — the "
                            f"candidate join must not assume a side fits")
        physical = explain_str(qdf)
        if "CartesianProduct" in physical:
            failures.append(f"{qname}: cartesian product in the plan")

    # --- simhash: single-pass projection, no explode/shuffle -------------
    fn, _ = _REGISTRY["dedup_simhash"]
    splan = explain_str(fn(spark, "/root/testdata/sf0.001"))
    n_sh = len(re.findall(r"\(\d+\) Exchange\b", splan))
    if n_sh > 1:
        failures.append(
            f"dedup_simhash: expected ≤1 shuffle (the parallelism "
            f"repartition only), found {n_sh}")
    if re.search(r"\(\d+\) Generate\b.*explode\(sequence", splan):
        failures.append("dedup_simhash: bit-axis explode crept back in")

    # --- substring dedup: the prefix doubling is ONE fused projection ----
    # (log2(L) doubling rounds as nested array transforms — a Generate
    # or Exchange between the scan and the posexplode would mean the
    # rounds de-fused into per-round operators/shuffles)
    fn, _ = _REGISTRY["dedup_substring"]
    subplan = explain_str(fn(spark, "/root/testdata/sf0.001"))
    m_scan = re.search(r"\(\d+\) Scan parquet", subplan)
    m_gen = re.search(r"\(\d+\) Generate\b", subplan)
    if not (m_scan and m_gen):
        failures.append("dedup_substring: plan anchors missing "
                        "(scan/explode) — the de-fusion guard cannot "
                        "run")
    else:
        # formatted mode numbers detail blocks in execution order, so
        # the segment between the scan's and the Generate's detail
        # headers holds every operator the doubling passes through.
        # The exchange KIND lives on the block's `Arguments:` line
        # (the header is just `(n) Exchange`) — read it from there.
        between = subplan[m_scan.start():m_gen.start()]
        kinds = re.findall(
            r"\(\d+\) Exchange\n(?:[^\n]+\n)*?Arguments: (\w+)",
            between)
        # exactly the explicit parallelism repartition is expected;
        # an empty match list means the regex lost the plan format —
        # fail loudly instead of passing vacuously
        if kinds != ["RoundRobinPartitioning"]:
            failures.append(
                f"dedup_substring: narrow input — expected exactly the "
                f"RoundRobin repartition between scan and window explode "
                f"(doubling must stay one fused projection), found "
                f"exchange kinds {kinds}")

    # --- substring dedup, WIDE input: the operator-head repartition is
    # CONDITIONAL (VERDICT r6 item 2) — when the scan already arrives
    # with >= defaultParallelism partitions, _spread must NOT insert
    # the RoundRobin exchange: zero exchanges between scan and explode.
    from engine.analytics import substring_dedup_spans
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        docs_w = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        n_parts = docs_w.rdd.getNumPartitions()
        if n_parts < spark.sparkContext.defaultParallelism:
            failures.append(
                f"wide-input fixture failed to materialize: scan has "
                f"{n_parts} partitions — the conditional-repartition "
                f"check cannot run")
        else:
            wplan = explain_str(substring_dedup_spans(docs_w))
            m_scan = re.search(r"\(\d+\) Scan parquet", wplan)
            m_gen = re.search(r"\(\d+\) Generate\b", wplan)
            if not (m_scan and m_gen):
                failures.append("dedup_substring wide: plan anchors "
                                "missing (scan/explode)")
            else:
                wkinds = re.findall(
                    r"\(\d+\) Exchange\n(?:[^\n]+\n)*?Arguments: (\w+)",
                    wplan[m_scan.start():m_gen.start()])
                if wkinds:
                    failures.append(
                        f"dedup_substring: wide input — expected ZERO "
                        f"exchanges between scan and window explode "
                        f"(the operator-head repartition must be "
                        f"conditional), found {wkinds}")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)

    # --- boilerplate/pdf operators: pure row maps (no shuffle) -----------
    from engine.boilerplate import strip_boilerplate
    from engine.pdf import parse_pdf_turns
    bdf = strip_boilerplate(df)
    bplan = explain_str(bdf)
    if re.search(r"\(\d+\) Exchange\b", bplan):
        failures.append("strip_boilerplate: shuffle in a pure row map")
    pdf_in = df.select("conv_id", "turn_idx", "role",
                       F.col("text").cast("binary").alias("payload"))
    pplan = explain_str(parse_pdf_turns(pdf_in))
    if re.search(r"\(\d+\) Exchange\b", pplan):
        failures.append("parse_pdf_turns: shuffle in a pure row map")

    # --- cleaning: the batch job's write plan, and a bucketed micro-batch
    from engine.cleaning import cleaning_stages, exact_dedup, neardup_pairs
    from engine.index import compact_stream_index
    from engine.streaming import _clean_one_batch, _neardup_seen, _seen

    docs = spark.read.parquet(_ARTICLES).select("doc_id", "text")
    stages = cleaning_stages(docs)
    cplan = explain_str(stages["cleaned"])
    print("=== cleaning job write plan ===")
    print(cplan)
    nodes = re.findall(r"^\(\d+\) (\w+)", cplan, re.M)
    if nodes != _CLEANING_NODES or nodes.count("Exchange") != 14:
        failures.append(f"cleaning job plan moved: nodes {nodes}")
    for name in ("gated", "exact", "survivors"):
        stages[name].unpersist()

    # a stream_clean micro-batch against a compacted index: its
    # exact-dedup and near-dup candidate joins, built by the calls
    # _clean_one_batch makes, read the hashes and bands tables in place
    # (the Jaccard verify unions the dist table with the tail, so that
    # one is reshuffled)
    work = "/tmp/explain_stream_clean"
    shutil.rmtree(work, ignore_errors=True)
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _clean_one_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), 0,
                         work)
        compact_stream_index(spark, f"{work}/index", "explain_cln",
                             f"{work}/bidx")
        arriving = docs.filter(F.col("doc_id") % 2 == 1)
        hashes, _ = _seen(spark, f"{work}/index", 1,
                          {"hashes": ["content_hash"]}, "explain_cln")
        joins = {
            "exact dedup": exact_dedup(arriving, seen=[hashes["hashes"]]),
            "near-dup pairs": neardup_pairs(arriving, seen=_neardup_seen(
                spark, f"{work}/index", 1, "minhash", "explain_cln"))}
        for (what, jdf), table in zip(joins.items(), ("hashes", "bands")):
            print(f"=== bucketed stream_clean micro-batch: {what} ===")
            print(jdf._jdf.queryExecution().executedPlan().toString())
            scans = _joins_above_index_scans(jdf, f"explain_cln_{table}")
            if not scans:
                failures.append(f"bucketed micro-batch {what}: no "
                                f"bucketed index scan")
            for scan, between in scans:
                if "Exchange" in between:
                    failures.append(f"bucketed micro-batch {what}: "
                                    f"Exchange between {scan} and its "
                                    f"join: {between}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)

    print("\n=== checks ===")
    if failures:
        for f in failures:
            print("FAIL:", f)
        spark.stop()
        return 1
    print("all plan properties hold")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
