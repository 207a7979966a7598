"""The r8 packed-long argmax in _ivf_assign must be EXACTLY the
struct-argmax it replaced: max over (round(cos, 6) DESC, cell ASC),
ties to the smallest cell — the oracle's ROW_NUMBER order.  The
encoding packs (c_int + 10^6)·2^42 + (2^42 − 1 − cell) into one long
so the aggregate stays on HashAggregate (a struct buffer forces
SortAggregate, which sorts the n×k candidate rows per map task).
"""
import pytest
from pyspark.sql import functions as F

import engine.analytics as A


def _struct_assign(emb, cent):
    """The pre-r8 reference form, kept here as the equivalence bar."""
    pick = F.max(F.struct(F.round(F.expr(A._COS_E_CE), 6).alias("c"),
                          (-F.col("cell")).alias("nc")))
    return (emb.crossJoin(F.broadcast(cent))
            .groupBy("vec_id").agg(pick.alias("m"))
            .select("vec_id", (-F.col("m.nc")).alias("cell")))


@pytest.fixture(scope="module")
def emb(spark):
    return (A._lsh_embeddings(
        A._t(spark, "/root/testdata/sf0.001", "embeddings"))
        .select("vec_id", "e"))


def test_packed_equals_struct_full_corpus(spark, emb):
    cent, _ = A._ivf_fit(emb)
    new = {r.vec_id: r.cell for r in A._ivf_assign(emb, cent).collect()}
    old = {r.vec_id: r.cell for r in _struct_assign(emb, cent).collect()}
    assert new == old and len(new) > 0


def test_packed_tie_breaks_to_smaller_cell(spark, emb):
    cent, _ = A._ivf_fit(emb)
    # duplicate centroid vector under two cell ids: every vector ties
    # on cosine, so BOTH forms must resolve to the smaller cell — and
    # the larger id exercises the high end of the encoding's cell field
    big = A._IVF_ENC_BASE - 2
    dup = (cent.limit(1).select(F.lit(big).alias("cell"), "ce")
           .unionByName(cent.limit(1).select(F.lit(7).alias("cell"),
                                             "ce")))
    new = {r.vec_id: r.cell for r in A._ivf_assign(emb, dup).collect()}
    old = {r.vec_id: r.cell for r in _struct_assign(emb, dup).collect()}
    assert new == old and set(new.values()) == {7}


def test_packed_plan_is_hash_aggregate(spark, emb):
    cent, _ = A._ivf_fit(emb)
    plan = A._ivf_assign(emb, cent)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_seed_bound_asserted(spark, emb):
    # vec_ids >= 2^42 must refuse the fit loudly (a ValueError, which
    # python -O cannot strip), not mis-assign
    bad = emb.withColumn(
        "vec_id", F.col("vec_id") + F.lit(A._IVF_ENC_BASE))
    with pytest.raises(ValueError, match="2\\^42"):
        A._ivf_fit(bad)


# ---- degenerate embeddings get a defined cell, never an abort ----

_CENT = [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [-1.0, 0.0]),
         (13, [0.0, -1.0])]
_DEGENERATE = {"zero_norm": [0.0, 0.0], "nan_element": [float("nan"), 1.0]}


@pytest.mark.parametrize("case", sorted(_DEGENERATE),
                         ids=lambda case: f"flat-{case}")
def test_degenerate_vector_gets_a_defined_cell(spark, case):
    emb = spark.createDataFrame(
        [(0, [0.1, 1.0]), (1, _DEGENERATE[case])],
        "vec_id long, e array<double>")
    cent = spark.createDataFrame(_CENT, "cell long, ce array<double>")
    # every cosine of the degenerate vector ranks -2, so it ties
    # everywhere: the smallest cell
    assign = A._ivf_assign(emb, cent)
    assert {r.vec_id: r.cell for r in assign.collect()} == {0: 11, 1: 10}


# ---- dedup_span_exact's packed keeper (same r8 SortAggregate fix) ----

def test_span_exact_packed_equals_struct(spark):
    """The packed-long keeper must reproduce the min(struct) keeper's
    per-doc counts exactly on a real corpus slice."""
    from engine.queries import _REGISTRY

    fn, _ = _REGISTRY["dedup_span_exact"]
    got = {r.doc_id: (r.n_spans, r.n_dup_spans)
           for r in fn(spark, "/root/testdata/sf0.001").collect()}

    toks = (A._t(spark, "/root/testdata/sf0.001", "documents")
            .select("doc_id", F.expr(A._SPARK_TOKS).alias("t")))
    span_expr = (f"transform(sequence(0, cast(floor(size(t) / "
                 f"{A._SPAN_W}) as int) - 1), i -> "
                 f"array_join(slice(t, i * {A._SPAN_W} + 1, "
                 f"{A._SPAN_W}), ' '))")
    spans = (toks.filter(F.expr(f"size(t) >= {A._SPAN_W}"))
             .select("doc_id",
                     F.posexplode(F.expr(span_expr)).alias("idx", "sp"))
             .select("doc_id", F.col("idx").cast("long").alias("idx"),
                     F.expr(A._h64("sp")).alias("h")))
    keepers = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("k"))
    ref = {r.doc_id: (r.n_spans, r.n_dup_spans) for r in
           (spans.join(keepers, "h")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_spans"),
                 F.sum(F.when((F.col("k.doc_id") == F.col("doc_id"))
                              & (F.col("k.idx") == F.col("idx")), 0)
                       .otherwise(1)).alias("n_dup_spans"))).collect()}
    assert got == ref and len(got) > 0


def test_span_exact_guard_fires_on_huge_doc_id(spark, tmp_path):
    """A doc_id past the 2^41 packing bound must fail loudly, not
    silently elect a wrong keeper.  Two loud layers exist: ANSI mode
    overflows the packing multiply at exactly doc_id = 2^41, and the
    raise_error inside the packed key covers both bounds, including
    idx < 2^22, which no overflow can catch."""
    from engine.queries import _REGISTRY

    big = 1 << 45
    text = " ".join(f"tok{i}" for i in range(A._SPAN_W))
    spark.createDataFrame(
        [(big, text, "src00"), (big + 1, text, "src00")],
        "doc_id long, text string, source string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    fn, _ = _REGISTRY["dedup_span_exact"]
    with pytest.raises(
            Exception,
            match="ARITHMETIC_OVERFLOW|packing bound exceeded"):
        fn(spark, str(tmp_path)).collect()


def test_span_exact_guard_survives_doc_id_filter(spark, tmp_path,
                                                 monkeypatch):
    """The idx bound is checked where the keeper is elected, not on the
    violating doc's own output row: with 2 index bits, doc 10's span 4
    packs to the same key as doc 11's span 0 (10·4 + 4 == 11·4 + 0), so
    a doc_id filter that pruned doc 10's row would otherwise return
    doc 11 a silent n_dup_spans = 0 (the right answer is 1)."""
    from engine.queries import _REGISTRY

    monkeypatch.setattr(A, "_SPAN_IDX_BITS", 2)
    toks = [f"tok{i}" for i in range(6 * A._SPAN_W)]
    span4 = toks[4 * A._SPAN_W:5 * A._SPAN_W]
    spark.createDataFrame(
        [(10, " ".join(toks), "src00"), (11, " ".join(span4), "src00")],
        "doc_id long, text string, source string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    fn, _ = _REGISTRY["dedup_span_exact"]
    for df in (fn(spark, str(tmp_path)),
               fn(spark, str(tmp_path)).filter("doc_id = 11")):
        with pytest.raises(Exception, match="packing bound exceeded"):
            df.collect()
