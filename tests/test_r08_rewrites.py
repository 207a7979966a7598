"""Round-8 optimization rewrites pinned against their r7 formulations.

Each r8 change restructured an operator's PLAN (single-evaluation
forms: window counts instead of agg+join-back, derived columns
carried through explodes/joins) while promising bit-identical
results.  The DuckDB oracles already pin the registered queries; the
tests here pin the INTERNAL helpers against a direct re-statement of
the r7 shape, so a future edit that drifts the carried columns or the
window semantics fails locally without a full oracle run.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from engine import analytics as A

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text"))


def test_simhash_carry_through_equals_join_back(spark):
    """_hamming_pairs (sketch carried on the band rows) == the r7
    pairs-then-join-the-sketch-back form, including the bucket cap."""
    chunks = A._simhash_chunks(_docs(spark), 128)
    got = {tuple(r) for r in A._hamming_pairs(chunks, 6).collect()}

    # r7 formulation: capped bands without chunks, distinct pairs,
    # then join the sketch table back per side
    wb = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    bands = (chunks.select(
        "doc_id", F.posexplode(F.array(*[
            F.col(f"c{c}") for c in range(A._SIMHASH_CHUNKS)]))
        .alias("band_id", "band_key"))
        .withColumn("brn", F.row_number().over(wb))
        .filter(F.col("brn") <= A._SIMHASH_BUCKET_CAP).drop("brn"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b")).distinct())
    x = chunks.select(F.col("doc_id").alias("doc_a"),
                      *[F.col(f"c{c}").alias(f"x{c}")
                        for c in range(A._SIMHASH_CHUNKS)])
    y = chunks.select(F.col("doc_id").alias("doc_b"),
                      *[F.col(f"c{c}").alias(f"y{c}")
                        for c in range(A._SIMHASH_CHUNKS)])
    ham = sum(F.bit_count(F.expr(f"x{c} ^ y{c}"))
              for c in range(A._SIMHASH_CHUNKS))
    want = {tuple(r) for r in
            (cand.join(x, "doc_a").join(y, "doc_b")
             .withColumn("hamming", ham.cast("int"))
             .filter(F.col("hamming") <= 6)
             .select("doc_a", "doc_b", "hamming")).collect()}
    assert got == want and got  # non-vacuous: plants guarantee pairs


def test_minhash_est_carried_equals_signature_join(spark):
    """with_est=True carries the signature-agreement estimate through
    the band join + distinct; it must equal the r7 join-back value on
    every confirmed pair."""
    dist = A._hashed_shingles_df(_docs(spark))
    got = {(r.doc_a, r.doc_b): (r.est, r.jaccard)
           for r in A._minhash_pairs(dist, with_est=True).collect()}

    pairs = A._minhash_pairs(dist)
    sig = A._minhash_sigs(dist)
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"s{k}").alias(f"a{k}")
                      for k in range(A._MINHASH_K)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"s{k}").alias(f"b{k}")
                      for k in range(A._MINHASH_K)])
    est = sum(F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
              for k in range(A._MINHASH_K)) / float(A._MINHASH_K)
    want = {(r.doc_a, r.doc_b): (r.est, r.jaccard)
            for r in (pairs.join(sa, "doc_a").join(sb, "doc_b")
                      .select("doc_a", "doc_b", "jaccard",
                              est.alias("est"))).collect()}
    assert got == want and got


def test_minhash_sizes_carried_equals_sizes_join(spark):
    """The na/nb fast path in _verify_jaccard == the legacy sizes
    join-back path on identical candidates."""
    dist = A._hashed_shingles_df(_docs(spark))
    bands = A._minhash_bands(dist, carry=True)
    a, b_ = bands.alias("a"), bands.alias("b")
    cond = ((F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
    carried = (a.join(b_, cond)
               .select(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"),
                       F.col("a.n").alias("na"), F.col("b.n").alias("nb"))
               .distinct())
    legacy = carried.select("doc_a", "doc_b").distinct()
    got = {tuple(r) for r in A._verify_jaccard(carried, dist).collect()}
    want = {tuple(r) for r in A._verify_jaccard(legacy, dist).collect()}
    assert got == want and got


def test_minhash_bands_lean_schema_for_indexes(spark):
    """Persisted band indexes must keep the 3-column schema (carry is
    opt-in) — a fattened durable index is a silent 8× size bug."""
    dist = A._hashed_shingles_df(_docs(spark))
    assert A._minhash_bands(dist).columns == \
        ["doc_id", "band_id", "band_key"]
    assert set(A._minhash_bands(dist, carry=True).columns) >= \
        {"doc_id", "band_id", "band_key", "n", "s0", "s15"}


def test_substring_starts_window_form_columns(spark):
    """The fused starts frame carries the per-wkey keeper struct k
    (consumed by _substring_cut_sets row-locally); spans callers
    prune it.  Its value must equal the group-wise min struct."""
    docs = _docs(spark)
    _toks, starts = A._substring_dup_starts(docs, 5)
    rows = starts.collect()
    assert rows, "fixture has no repeated 5-token windows?"
    import collections
    by_w = collections.defaultdict(list)
    for r in rows:
        by_w[bytes(r.wkey)].append((r.doc_id, r.pos, (r.k.doc_id, r.k.pos)))
    for w, members in by_w.items():
        assert len(members) >= 2  # the window filter kept only dups
        expect_k = min((d, p) for d, p, _ in members)
        assert all(k == expect_k for _, _, k in members)


def test_gopher_single_pass_matches_two_branch_form(spark):
    """q_gopher_repetition's carried trigram stats == the r7 two-
    branch join form."""
    from engine.queries import _REGISTRY
    fn, _ = _REGISTRY["gopher_repetition"]
    got = {tuple(r) for r in fn(spark, SF).collect()}

    toks = (_docs(spark)
            .select("doc_id", F.expr(A._SPARK_TOKS).alias("t"))
            .filter(F.expr("size(t) >= 3")))
    tri_expr = ("transform(sequence(1, size(t) - 2), i -> "
                "concat(element_at(t, i), ' ', element_at(t, i + 1), "
                "' ', element_at(t, i + 2)))")
    tri = toks.select(
        "doc_id",
        F.expr("size(t)").cast("long").alias("n_tokens"),
        F.expr("size(t) - 2").alias("n_tri"),
        F.expr(f"size(array_distinct({tri_expr}))").alias("n_tri_distinct"))
    big_expr = ("transform(sequence(1, size(t) - 1), i -> "
                "concat(element_at(t, i), ' ', element_at(t, i + 1)))")
    bigr = (toks.select("doc_id", F.explode(F.expr(big_expr)).alias("bg"))
            .select("doc_id", F.expr(A._h64("bg")).alias("h"))
            .groupBy("doc_id", "h").agg(F.count("*").alias("c"))
            .groupBy("doc_id").agg(F.max("c").alias("top_big"),
                                   F.sum("c").alias("n_big")))
    want = {tuple(r) for r in
            (tri.join(bigr, "doc_id")
             .select("doc_id", "n_tokens",
                     (F.floor(10000.0 * (F.col("n_tri")
                                         - F.col("n_tri_distinct"))
                              / F.col("n_tri")) / 10000)
                     .alias("frac_dup_3gram"),
                     (F.floor(10000.0 * F.col("top_big") / F.col("n_big"))
                      / 10000).alias("top_bigram_share"))).collect()}
    assert got == want and got


@pytest.mark.parametrize("qname", ["dup_ngram_fraction", "dsir_importance",
                                   "tfidf_top_terms"])
def test_window_and_preagg_rewrites_nonempty(spark, qname):
    """Smoke: the rewritten queries produce rows at sf0.001 (value
    identity vs DuckDB is pinned by scripts/check_oracles.py)."""
    from engine.queries import _REGISTRY
    fn, _ = _REGISTRY[qname]
    assert fn(spark, SF).limit(5).count() > 0
