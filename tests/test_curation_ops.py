"""r5 tail-2 curation operators: cross-doc duplicate-n-gram fraction
(the Dolma-style dedup signal), DSIR hashed-n-gram importance
weighting, and SemDeDup cluster-bounded semantic dedup — semantics
against driver-side recomputations, plant recovery, and the plan
shapes the 100-TB story depends on (fixed-size DSIR model broadcast,
pairwise work confined within cells)."""

import hashlib
from collections import Counter

import engine.analytics as A
from engine.queries import _REGISTRY

SF = "/root/testdata/sf0.001"


def _md5_60(s: str) -> int:
    # mirror of _SPARK_SH_HASH / _DUCK_SH_HASH: lower 60 bits of md5
    return int(hashlib.md5(s.encode()).hexdigest()[17:32], 16)


def _tokens(text):
    return [t for t in text.lower().split(" ") if t]


def test_dup_ngram_fraction_semantics(spark):
    fn, _ = _REGISTRY["dup_ngram_fraction"]
    rows = {r.doc_id: r for r in fn(spark, SF).collect()}

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    gram_sets = {}
    for d in docs:
        toks = _tokens(d.text)
        if len(toks) < 3:
            continue
        gram_sets[d.doc_id] = {
            _md5_60(" ".join(toks[i:i + 3]))
            for i in range(len(toks) - 2)}
    df = Counter(h for gs in gram_sets.values() for h in gs)

    assert set(rows) == set(gram_sets)
    for doc_id, gs in gram_sets.items():
        r = rows[doc_id]
        n_dup = sum(1 for h in gs if df[h] >= 2)
        assert r.n_grams == len(gs), doc_id
        assert r.n_dup_grams == n_dup, doc_id
        # Spark rounds half-up, python half-even: allow one 4dp ulp
        assert abs(r.dup_frac - n_dup / len(gs)) < 1.01e-4
        assert r.keep == int(r.dup_frac <= A._DUPGRAM_BOUND)
    # the gate splits on this corpus (signal is non-degenerate)
    assert {r.keep for r in rows.values()} == {0, 1}


def test_dsir_importance_semantics_and_plan(spark):
    fn, _ = _REGISTRY["dsir_importance"]
    out = fn(spark, SF)
    rows = {r.doc_id: r for r in out.collect()}

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    B = A._DSIR_B
    raw, tgt = Counter(), Counter()
    per_doc = {}
    for d in docs:
        bs = [_md5_60(t) % B for t in _tokens(d.text)]
        per_doc[d.doc_id] = bs
        raw.update(bs)
        if d.source in A._DSIR_TGT:
            tgt.update(bs)
    t_raw, t_tgt = sum(raw.values()), sum(tgt.values())

    import math
    wm = {b: round((math.log2(tgt[b] + 1) - math.log2(t_tgt + B)
                    - math.log2(raw[b] + 1) + math.log2(t_raw + B))
                   * 1e6)
          for b in raw}
    assert set(rows) == set(per_doc)
    for doc_id, bs in per_doc.items():
        r = rows[doc_id]
        expect = round((sum(wm[b] for b in bs) / 1e6) / len(bs), 4)
        assert r.n_tokens == len(bs)
        assert abs(r.avg_logratio - expect) < 2e-4, doc_id
        assert r.keep == int(r.avg_logratio > 0)
    # target docs score higher on average than non-target docs
    by_src = {d.doc_id: d.source for d in docs}
    tgt_scores = [r.avg_logratio for r in rows.values()
                  if by_src[r.doc_id] in A._DSIR_TGT]
    oth_scores = [r.avg_logratio for r in rows.values()
                  if by_src[r.doc_id] not in A._DSIR_TGT]
    assert (sum(tgt_scores) / len(tgt_scores)
            > sum(oth_scores) / len(oth_scores))

    # scale shape: the fixed-size bucket-weight model reaches the token
    # stream as a BROADCAST join — no shuffle keyed on the token/bucket
    # on the corpus side of that join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semdedup_recovers_plants(spark):
    fn, _ = _REGISTRY["semdedup"]
    out = {r.removed_id: r for r in fn(spark, SF).collect()}

    base = spark.read.parquet(f"{SF}/embeddings.parquet")
    off = base.agg({"vec_id": "max"}).first()[0] + 1
    plants = {r.vec_id + off for r in base.collect() if r.vec_id % 10 == 0}

    # every planted near-identical copy forms exactly one removal row,
    # paired with its original (offset apart); the natural corpus
    # (max cosine ~0.51) contributes nothing at tau=0.95
    assert len(out) == len(plants)
    for rid, r in out.items():
        assert abs(rid - r.keeper_id) == off, (rid, r)
        assert r.n_sem_dups == 1


def test_semdedup_keeps_farther_from_centroid(spark):
    """SemDeDup keeps the member with LOWER cosine to the cell
    centroid (diversity-preserving); verify the removed one of each
    pair is the closer-to-centroid one, recomputed independently."""
    from pyspark.sql import functions as F

    emb, off = A._planted_embeddings(spark, SF)
    cent, assign = A._ivf_fit(emb, train_limit=A._IVF_TRAIN_LIMIT)
    ccos = {r.vec_id: (r.cell, r.cc) for r in
            (assign.join(emb, "vec_id")
             .join(F.broadcast(cent), "cell")
             .select("vec_id", "cell",
                     F.round(F.expr(A._COS_E_CE), 6).alias("cc"))
             .collect())}

    fn, _ = _REGISTRY["semdedup"]
    for r in fn(spark, SF).collect():
        cell_r, cc_r = ccos[r.removed_id]
        cell_k, cc_k = ccos[r.keeper_id]
        assert cell_r == cell_k == r.cell
        # removed is strictly closer, or tied with the higher id
        assert (cc_r > cc_k
                or (cc_r == cc_k and r.removed_id > r.keeper_id))


def test_model_quality_gate_matches_query_keeps(spark):
    """model_quality_gate over a frame == the driver query's keep=1
    set when both train on the same frame."""
    from engine.cleaning import model_quality_gate

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    gated_ids = {r.doc_id for r in
                 model_quality_gate(docs, "lm").select("doc_id").collect()}
    keep_ids = {r.doc_id for r in
                A.lm_scores(docs).filter("keep = 1")
                .select("doc_id").collect()}
    assert gated_ids == keep_ids
    assert 0 < len(gated_ids) < docs.count()

    # dsir gate keeps the at-or-above-corpus-mean half, decided in
    # exact integer micro-units (see model_quality_gate; >= so a
    # degenerate all-equal-score corpus keeps everything, ADVICE r5)
    am = {r.doc_id: round(r.avg_logratio * 10000)
          for r in A.dsir_scores(docs).collect()}
    sa, n = sum(am.values()), len(am)
    expect = {d for d, v in am.items() if v * n >= sa}
    gated_ids = {r.doc_id for r in
                 model_quality_gate(docs, "dsir")
                 .select("doc_id").collect()}
    assert gated_ids == expect
    assert 0 < len(gated_ids) < docs.count()

    # degenerate corpus: every document identical => every score equals
    # the mean => the gate keeps ALL rows instead of dropping 100%
    same = spark.createDataFrame(
        [(i, "the same exact document text repeated", "web") for i in
         range(6)],
        "doc_id long, text string, source string")
    assert model_quality_gate(same, "dsir").count() == 6
    # unknown model fails loudly
    import pytest
    with pytest.raises(ValueError):
        model_quality_gate(docs, "nope")


def test_cleaning_job_with_model_gate(spark, tmp_path):
    """The end-to-end job accepts model_gate and the funnel stays
    monotone; the model gate strictly tightens the quality stage
    versus the plain run (on this corpus both models reject docs that
    pass the C4/language gates)."""
    from engine.cleaning import run_cleaning_job

    base = run_cleaning_job(spark, f"{SF}/documents.parquet",
                            str(tmp_path / "plain"))
    for model in ("lm", "dsir"):
        m = run_cleaning_job(spark, f"{SF}/documents.parquet",
                             str(tmp_path / model), model_gate=model)
        assert (m["rows_in"] >= m["after_quality_language"]
                >= m["after_exact_dedup"] >= m["after_neardup_removal"]
                == m["rows_out"] > 0), model
        assert (m["after_quality_language"]
                < base["after_quality_language"]), model


def test_top_ngrams_two_pass_shape_and_counts(spark):
    fn, _ = _REGISTRY["top_ngrams"]
    out = fn(spark, SF)
    rows = out.collect()
    assert len(rows) == A._TOP_NGRAMS_K

    # ground truth df-counts from python
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    df = Counter()
    grams = {}
    for d in docs:
        toks = _tokens(d.text)
        gs = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)} \
            if len(toks) >= 3 else set()
        for g in gs:
            h = _md5_60(g)
            df[h] += 1
            grams[h] = g
    floor = sorted(df.values(), reverse=True)[A._TOP_NGRAMS_K - 1]
    for r in rows:
        assert r.n_docs == df[r.h]
        assert r.gram == grams[r.h]
        assert r.n_docs >= floor

    # scale shape: ranking is per-partition top-k merged on the driver
    # (TakeOrderedAndProject), never a global sort exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_corpus_stats_values(spark):
    fn, _ = _REGISTRY["corpus_stats"]
    r = fn(spark, SF).collect()[0]
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    ntoks = [len(_tokens(d.text)) for d in docs]
    assert r.n_docs == len(docs)
    assert r.n_tokens == sum(ntoks)
    assert abs(r.avg_tokens - sum(ntoks) / len(docs)) < 1.01e-4
    assert r.n_sources == len({d.source for d in docs})
    en = sum(1 for d in docs if d.lang == "en")
    assert abs(r.en_frac - en / len(docs)) < 1.01e-4


def test_mixture_weights_semantics(spark):
    fn, _ = _REGISTRY["mixture_weights"]
    rows = {r.source: r for r in fn(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    per = Counter()
    ndocs = Counter()
    for d in docs:
        per[d.source] += len(_tokens(d.text))
        ndocs[d.source] += 1
    share = sum(per.values()) / len(per)
    assert set(rows) == set(per)
    for s, r in rows.items():
        assert r.n_docs == ndocs[s] and r.n_tokens == per[s]
        assert abs(r.weight - min(1.0, share / per[s])) < 1.01e-4
    # weights actually cap: at least one source above the uniform
    # share gets weight < 1, and none exceeds 1
    assert any(r.weight < 1.0 for r in rows.values())
    assert all(r.weight <= 1.0 for r in rows.values())


def test_source_overlap_matrix_consistency(spark):
    fn, _ = _REGISTRY["source_overlap_matrix"]
    rows = fn(spark, SF).collect()
    pairs = A._minhash_pairs(A._hashed_shingles(spark, SF)).collect()
    src = {d.doc_id: d.source for d in
           spark.read.parquet(f"{SF}/documents.parquet").collect()}
    expect = Counter()
    maxj = {}
    for p in pairs:
        key = tuple(sorted((src[p.doc_a], src[p.doc_b])))
        expect[key] += 1
        maxj[key] = max(maxj.get(key, 0.0), p.jaccard)
    assert {(r.source_a, r.source_b): r.n_pairs
            for r in rows} == dict(expect)
    for r in rows:
        assert abs(r.max_jaccard - maxj[(r.source_a, r.source_b)]) < 1e-9
        assert r.source_a <= r.source_b


def test_semdedup_clusters_collapse_transitive_chain(spark):
    """A re-crawl chain A ~ A' ~ A'' whose endpoints score UNDER tau
    must still collapse to one cluster: adjacent cosines are
    cos(16°)=0.961 >= 0.95, the endpoint cosine cos(32°)=0.848 is
    not a pair, and the component must bridge it."""
    import math

    from pyspark.sql import functions as F

    dims = 20
    rows = []
    for i, ang in enumerate((0.0, 16.0, 32.0)):
        a = math.radians(ang)
        rows.append((100 + i,
                     [math.cos(a), math.sin(a)] + [0.0] * (dims - 2)))
    # 16 mutually-orthogonal seeds (ids 0..15 -> the k-means seeds),
    # far from the chain plane
    for j in range(16):
        v = [0.0] * dims
        v[4 + (j % 16)] = 1.0
        rows.append((j, v))
    emb = spark.createDataFrame(rows, "vec_id long, e array<double>")

    pairs = A.semdedup_pairs(emb, train_limit=0)
    got = {tuple(sorted((r.removed_id, r.keeper_id)))
           for r in pairs.collect()}
    assert (100, 101) in got and (101, 102) in got
    assert (100, 102) not in got  # endpoints under tau

    labels = {r.doc_id: r.cluster_id for r in
              A._connected_components(
                  pairs.select(F.col("removed_id").alias("doc_a"),
                               F.col("keeper_id").alias("doc_b")))
              .collect()}
    assert labels == {100: 100, 101: 100, 102: 100}


def test_lm2_sees_bigram_structure_unigrams_cannot(spark):
    """Two documents with the IDENTICAL unigram profile: one with
    coherent repeated bigram structure, one with the same tokens in a
    bigram-breaking order.  The unigram LM scores them identically;
    the bigram LM must separate them."""
    words = ["alpha", "beta", "gamma", "delta"]
    coherent = " ".join(words * 12)                  # abcd abcd ...
    # same multiset, adjacent pairs never repeat the abcd pattern
    scrambled = " ".join(
        [w for pair in zip(words * 6, list(reversed(words)) * 6)
         for w in pair])
    docs = spark.createDataFrame(
        [(1, coherent), (2, scrambled)], "doc_id long, text string")

    uni = {r.doc_id: r.bits_per_token
           for r in A.lm_scores(docs).collect()}
    bi = {r.doc_id: r.bits_per_token
          for r in A.lm2_scores(docs).collect()}
    assert abs(uni[1] - uni[2]) < 1e-9          # unigram LM is blind
    assert bi[1] < bi[2] - 0.5                  # bigram LM separates
    # and n_tokens covers every token incl. the unigram-backoff first
    rows = {r.doc_id: r for r in A.lm2_scores(docs).collect()}
    assert rows[1].n_tokens == 48 and rows[2].n_tokens == 48


def test_lm2_bigram_lg_survives_web_scale_counts(spark):
    """VERDICT r5 item 5: the r5 single-fraction form computed
    3·c2·T + c1w·c1p as int64 — at web-scale token totals that product
    overflows int64 (and loses exactness past 2^53 long before).  The
    two-ratio form (_lm2_bigram_lg) has no count product: it must
    return the correct micro-bit value for counts where the old
    numerator cannot even be represented, and must agree with the old
    exact-arithmetic value (Python bignums) wherever that value
    exists."""
    import math

    from pyspark.sql import functions as F

    # web-scale: T = 10^14 tokens, a hot bigram seen 10^9 times
    cases = [
        # (c2, cp, cw, tt)
        (10**9, 10**10, 10**11, 10**14),     # hot head bigram
        (1, 50, 3, 10**14),                  # hapax bigram, huge T
        (123456789, 987654321, 555555555, 10**14),
        (3, 7, 2, 97),                       # tiny corpus sanity
    ]
    # the OLD form's numerator overflows int64 for the web-scale rows
    assert 3 * cases[0][0] * cases[0][3] > 2**63 - 1

    df = spark.createDataFrame(
        cases, "c2 long, cp long, cw long, tt long")
    got = [r.lg for r in df.select(
        A._lm2_bigram_lg(F.col("c2"), F.col("cp"), F.col("cw"),
                         F.col("tt")).alias("lg")).collect()]

    for (c2, cp, cw, tt), lg in zip(cases, got):
        # same IEEE op order as the Column/oracle expression
        p = 0.75 * (c2 / cp) + 0.25 * (cw / tt)
        assert lg == round(math.log2(p) * 1000000.0), (c2, cp, cw, tt)
        # agreement with the OLD exact-integer-ratio value (Python
        # bignums never overflow): identical at micro-bit precision
        old = (math.log2(3 * c2 * tt + cw * cp)
               - math.log2(4 * cp * tt)) * 1000000.0
        assert abs(lg - old) <= 1, (lg, old)

    # keep SET on a real corpus is unchanged vs the old exact form,
    # recomputed doc-by-doc in exact Python arithmetic
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = {r.doc_id: r for r in A.lm2_scores(docs).collect()}

    toks = {r.doc_id: _tokens(r.text) for r in docs.collect()}
    uni = Counter(t for ts in toks.values() for t in ts)
    tt = sum(uni.values())
    big = Counter(" ".join(p) for ts in toks.values()
                  for p in zip(ts, ts[1:]))
    import math as _m
    old_keep = set()
    for d, ts in toks.items():
        if not ts:
            continue
        lgs = [round((_m.log2(uni[ts[0]]) - _m.log2(tt)) * 1e6)]
        for prev, w in zip(ts, ts[1:]):
            c2, cp, cw = big[f"{prev} {w}"], uni[prev], uni[w]
            lgs.append(round((_m.log2(3 * c2 * tt + cw * cp)
                              - _m.log2(4 * cp * tt)) * 1e6))
        bits = round(-(sum(lgs) / 1e6) / len(lgs), 4)
        if bits <= A._LM2_KEEP_BITS:
            old_keep.add(d)
    new_keep = {d for d, r in rows.items() if r.keep == 1}
    assert new_keep == old_keep
    assert 0 < len(new_keep) < len(rows)
