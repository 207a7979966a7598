"""Streaming corpus-cleaning job (engine/streaming.py:stream_clean):
per micro-batch gates → exact dedup vs the survivor index → near-dup
removal vs the survivor index → PII scrub, with per-batch metrics and
exactly-once re-drains."""

from pyspark.sql import functions as F

from engine.streaming import stream_clean
from tests.test_streaming_neardup import _DOCS_1, _write


def _drain(spark, inp, work, cp):
    q = stream_clean(spark, inp, work, cp)
    q.awaitTermination(120)


def test_stream_clean_full_funnel_across_batches(spark, tmp_path):
    inp = str(tmp_path / "in")
    work = str(tmp_path / "work")
    cp = str(tmp_path / "cp")

    _write(spark, _DOCS_1, inp)          # docs 1-3, all gate-passing
    _drain(spark, inp, work, cp)
    first = spark.read.parquet(f"{work}/cleaned")
    assert {r.doc_id for r in first.select("doc_id").collect()} == {1, 2, 3}

    batch2 = [
        (11, _DOCS_1[0][1]),                       # exact copy of doc 1
        (12, _DOCS_1[1][1] + " and the cellar"),   # near-dup of doc 2
        (13, "a fresh report about the annual harvest and the farmers "
             "who gathered it was mailed to editor@example.com for "
             "review by the board"),               # fresh, with PII
        (14, "too short to pass"),                 # fails the C4 gate
    ]
    _write(spark, batch2, inp)
    _drain(spark, inp, work, cp)

    cleaned = spark.read.parquet(f"{work}/cleaned")
    ids = {r.doc_id for r in cleaned.select("doc_id").collect()}
    assert ids == {1, 2, 3, 13}
    kept = cleaned.filter(F.col("doc_id") == 13).first()
    assert "[EMAIL]" in kept.text and "@example.com" not in kept.text

    # per-batch metrics funnel: batch 2 saw 4 in, 3 past gates,
    # 2 past exact dedup, 1 past near-dup removal
    metrics = {r.batch_id: r for r in
               spark.read.parquet(f"{work}/metrics").collect()}
    b2 = metrics[max(metrics)]
    assert (b2.rows_in, b2.after_gates, b2.after_exact_dedup,
            b2.after_neardup_removal) == (4, 3, 2, 1)

    # index holds SURVIVORS only (a dropped near-dup never blocks
    # future docs): the dropped ids are absent
    idx_ids = {r.doc_id for r in
               spark.read.parquet(f"{work}/index/hashes").collect()}
    assert idx_ids == {1, 2, 3, 13}

    # exactly-once: a re-drain with no new data changes nothing
    _drain(spark, inp, work, cp)
    again = spark.read.parquet(f"{work}/cleaned")
    assert {r.doc_id for r in again.select("doc_id").collect()} == ids
    assert again.count() == 4


def _cut_fixture_docs():
    """Gate-passing docs sharing long runs below the near-dup Jaccard
    threshold.  S = a 25-token run (content-word edges, stopwords
    inside — the stopword ratio also helps the C4 gate)."""
    S = ["s0", "the", "s1", "s2", "the", "s3", "s4", "the", "s5",
         "s6", "the", "s7", "s8", "the", "s9", "s10", "the", "s11",
         "s12", "the", "s13", "s14", "the", "s15", "s16"]

    def filler(prefix, n):
        out = []
        for i in range(n):
            out.append(f"{prefix}{i}")
            if i % 5 == 4:
                out.append("the")
        return out

    fb = filler("b", 60)
    # a 22-token slice of doc B's filler with content-word edges
    # (positions 12..33 of fb: b10 ... b27 area), used by doc D later
    brun = fb[12:34]
    assert not brun[0] == "the" and not brun[-1] == "the"
    docs = {
        "A": filler("a", 60) + S,
        "B": fb + S,
        "C": filler("c", 66) + S,
        "D": filler("d", 60) + brun,
    }
    return docs, S, brun


def test_stream_clean_substring_cut_stage(spark, tmp_path):
    """stream_clean(substring_cut=True): duplicated >=20-token runs of
    arriving survivors are cut against the window index of SHIPPED
    text (indexed side is always the keeper); the rebuilt text's
    windows join the index, so later batches dedup against exactly
    what shipped; metrics carry substring_tokens_cut; replays rewrite
    identically."""
    from engine.streaming import _clean_one_batch

    docs, S, brun = _cut_fixture_docs()
    sj, bj = " ".join(S), " ".join(brun)
    work = str(tmp_path / "work")

    b0 = spark.createDataFrame([(1, " ".join(docs["A"]))],
                               "doc_id long, text string")
    _clean_one_batch(spark, b0, 0, work, substring_cut=True)
    out0 = {r.doc_id: r.text for r in
            spark.read.parquet(f"{work}/cleaned/batch=0").collect()}
    assert sj in out0[1]                 # first occurrence ships intact

    b1 = spark.createDataFrame([(2, " ".join(docs["B"]))],
                               "doc_id long, text string")
    _clean_one_batch(spark, b1, 1, work, substring_cut=True)
    out1 = {r.doc_id: r.text for r in
            spark.read.parquet(f"{work}/cleaned/batch=1").collect()}
    assert sj not in out1[2]             # S cut vs the shipped index
    assert bj in out1[2]                 # B's own filler ships
    m1 = spark.read.parquet(f"{work}/metrics/batch=1").first()
    assert m1.substring_tokens_cut >= 25
    assert m1.after_neardup_removal == 1  # cut is a rewrite, not a drop

    # batch 2: C repeats S (still indexed via A), D repeats a run of
    # B's SHIPPED text — both cut; B's cleaned output keeps its copy
    b2 = spark.createDataFrame(
        [(3, " ".join(docs["C"])), (4, " ".join(docs["D"]))],
        "doc_id long, text string")
    _clean_one_batch(spark, b2, 2, work, substring_cut=True)
    out2 = {r.doc_id: r.text for r in
            spark.read.parquet(f"{work}/cleaned/batch=2").collect()}
    assert sj not in out2[3]
    assert bj not in out2[4]
    m2 = spark.read.parquet(f"{work}/metrics/batch=2").first()
    assert m2.substring_tokens_cut >= 25 + 22

    # replay safety: re-running batch 1 (its window-index partition
    # already written) rewrites cleaned/metrics byte-identically
    before = sorted((r.doc_id, r.text) for r in
                    spark.read.parquet(f"{work}/cleaned/batch=1")
                    .collect())
    _clean_one_batch(spark, b1, 1, work, substring_cut=True)
    after = sorted((r.doc_id, r.text) for r in
                   spark.read.parquet(f"{work}/cleaned/batch=1")
                   .collect())
    assert after == before
    assert spark.read.parquet(f"{work}/metrics/batch=1") \
        .first().substring_tokens_cut == m1.substring_tokens_cut

    # end-to-end through the streaming surface as well
    inp = str(tmp_path / "in")
    spark.createDataFrame([(21, " ".join(docs["A"]))],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(inp)
    work2 = str(tmp_path / "work2")
    q = stream_clean(spark, inp, work2, str(tmp_path / "cp2"),
                     substring_cut=True)
    q.awaitTermination(120)
    got = spark.read.parquet(f"{work2}/cleaned").first()
    assert got.doc_id == 21 and sj in got.text
    assert spark.read.parquet(f"{work2}/metrics") \
        .first().substring_tokens_cut == 0


def _sem_fixture(spark, tmp_path):
    """Controlled 4-dim semantic world: a 16-vector base corpus (4
    axis-aligned groups) builds the frozen serving index; the stream
    sends gate-passing, token-distinct docs whose embeddings are
    hand-placed — doc 10001 (batch 0) and doc 10011 (batch 1) are a
    semantic pair (cosine ~0.999, same cell, both < 0.95 vs every
    base member); doc 10012 points down a fresh diagonal (no pair);
    doc 10013 ships NO embedding row; doc 10014 pairs with INDEXED
    base member 1008 and is the FARTHER-from-centroid one, so the
    decision removes the already-shipped index member — the removal
    that can only be applied at compaction."""
    from engine.index import write_ann_index

    def filler(prefix, n):
        out = []
        for i in range(n):
            out.append(f"{prefix}{i}")
            if i % 5 == 4:
                out.append("the")
        return out

    base = [(1000 + 4 * g + i,
             [1.0 if d == g else (0.05 * i if d == (g + 1) % 4 else 0.0)
              for d in range(4)])
            for g in range(4) for i in range(4)]
    emb_rows = base + [
        (10001, [0.80, 0.60, 0.0, 0.0]),
        (10011, [0.82, 0.57, 0.0, 0.0]),   # pair of 10001, nearer c
        (10012, [0.0, 0.0, 0.72, 0.69]),   # fresh diagonal, no pair
        (10014, [0.0, 0.0, 0.97, -0.24]),  # pairs with indexed 1008
    ]
    emb_path = str(tmp_path / "emb")
    spark.createDataFrame(
        [(v, [float(x) for x in e]) for v, e in emb_rows],
        "vec_id long, e array<double>").write.parquet(emb_path)
    # the stream reads (vec_id, embedding float)
    sem_emb_path = str(tmp_path / "sem_emb")
    spark.read.parquet(emb_path).select(
        "vec_id", F.expr("transform(e, x -> cast(x as float))")
        .alias("embedding")).write.parquet(sem_emb_path)

    idx = str(tmp_path / "ann")
    write_ann_index(
        spark.read.parquet(emb_path).filter("vec_id < 10000"), idx)

    b0 = [(10001, " ".join(filler("aa", 60)))]
    b1 = [(10011, " ".join(filler("bb", 60))),
          (10012, " ".join(filler("cc", 60))),
          (10013, " ".join(filler("dd", 60))),
          (10014, " ".join(filler("ee", 60)))]
    return idx, sem_emb_path, b0, b1


def test_stream_clean_semantic_gate(spark, tmp_path):
    """stream_clean with the SemDeDup gate (VERDICT r6 item 4): an
    arriving semantic duplicate of an earlier batch's shipped survivor
    is dropped at the funnel (decision logged per batch), docs without
    embeddings pass, metrics carry after_semantic_dedup, and the
    crash-window replay rewrites identically."""
    from engine.streaming import _clean_one_batch

    idx, sem_emb, b0, b1 = _sem_fixture(spark, tmp_path)
    inp = str(tmp_path / "in")
    work = str(tmp_path / "work")
    cp = str(tmp_path / "cp")

    _write(spark, b0, inp)
    q = stream_clean(spark, inp, work, cp,
                     semantic_index=idx, sem_embeddings_path=sem_emb)
    q.awaitTermination(120)
    assert {r.doc_id for r in
            spark.read.parquet(f"{work}/cleaned").collect()} == {10001}

    _write(spark, b1, inp)
    q = stream_clean(spark, inp, work, cp,
                     semantic_index=idx, sem_embeddings_path=sem_emb)
    q.awaitTermination(120)

    cleaned = spark.read.parquet(f"{work}/cleaned")
    ids = {r.doc_id for r in cleaned.select("doc_id").collect()}
    # 10011 (semantic dup of shipped 10001, nearer the centroid —
    # SemDeDup removes the less diverse member) dropped; the fresh
    # diagonal and the no-embedding doc ship; 10014 ALSO ships — its
    # pair removes the indexed member 1008 (10014 is the more diverse
    # one), and shipped output is never recalled: the removal stays
    # in the decision log for compact_semdedup_stream
    assert ids == {10001, 10012, 10013, 10014}

    # the decision log carries both pairs, batch-partitioned
    pairs = {(r.removed_id, r.keeper_id) for r in
             spark.read.parquet(f"{work}/index/sem/pairs").collect()}
    assert pairs == {(10011, 10001), (1008, 10014)}

    # metrics funnel gains the semantic row
    metrics = {r.batch_id: r for r in
               spark.read.parquet(f"{work}/metrics").collect()}
    b = metrics[max(metrics)]
    assert (b.rows_in, b.after_neardup_removal,
            b.after_semantic_dedup) == (4, 4, 3)

    # survivor state excludes the semantically-removed doc
    idx_ids = {r.doc_id for r in
               spark.read.parquet(f"{work}/index/hashes").collect()}
    assert idx_ids == {10001, 10012, 10013, 10014}

    # the sem MEMBERS state holds shipped survivors only (self-review
    # r7): the funnel-removed arrival 10011 must not linger as a ghost
    # a later arrival could be removed for pairing with
    mem_ids = {r.vec_id for r in
               spark.read.parquet(f"{work}/index/sem/members")
               .select("vec_id").collect()}
    assert 10011 not in mem_ids
    assert {10001, 10012, 10014} <= mem_ids

    # crash-window replay: re-invoke the last batch id with the index
    # partitions already written — outputs byte-identical
    last = max(metrics)
    df1 = spark.createDataFrame(b1, "doc_id long, text string")
    _clean_one_batch(spark, df1, last, work,
                     semantic_index=idx, sem_embeddings_path=sem_emb)
    again = {(r.removed_id, r.keeper_id) for r in
             spark.read.parquet(f"{work}/index/sem/pairs").collect()}
    assert again == pairs
    assert {r.doc_id for r in
            spark.read.parquet(f"{work}/cleaned").collect()} == ids

    # exactly-once: re-drain with nothing new no-ops
    q = stream_clean(spark, inp, work, cp,
                     semantic_index=idx, sem_embeddings_path=sem_emb)
    q.awaitTermination(120)
    assert {r.doc_id for r in
            spark.read.parquet(f"{work}/cleaned").collect()} == ids

    # compaction applies the funnel's DEFERRED removal: the new index
    # version loses the indexed member 1008 (whose removal could only
    # be logged) AND the funnel-dropped arrival 10011, and gains the
    # shipped streamed members
    from engine.index import compact_semdedup_stream
    out_idx = str(tmp_path / "ann_v2")
    stats = compact_semdedup_stream(spark, idx, f"{work}/index/sem",
                                    out_idx)
    new_ids = {r.vec_id for r in
               spark.read.parquet(f"{out_idx}/members")
               .select("vec_id").collect()}
    assert 1008 not in new_ids          # logged removal applied
    assert 10011 not in new_ids         # funnel-removed arrival gone
    assert {10001, 10012, 10014} <= new_ids
    assert stats["n_removed"] == 2


def test_stream_clean_substring_cut_bytes_mode(spark, tmp_path):
    """stream_clean(substring_cut=True, substring_mode='bytes'): the
    streaming cut splices the duplicated run's characters out of the
    ORIGINAL text — mixed case and double spaces of arriving survivors
    ship verbatim outside the cut span; byte_exact rides the output;
    replays rewrite identically."""
    from engine.streaming import _clean_one_batch

    S = ["s0", "the", "s1", "s2", "the", "s3", "s4", "the", "s5",
         "s6", "the", "s7", "s8", "the", "s9", "s10", "the", "s11",
         "s12", "the", "s13", "s14", "the", "s15", "s16"]
    sj = " ".join(S)

    def filler(prefix, n):
        out = []
        for i in range(n):
            out.append(f"{prefix}{i}")
            if i % 5 == 4:
                out.append("the")
        return out

    # mixed-case fillers; the shared run is lowercase in both docs
    text_a = " ".join(filler("Ka", 60)) + "  " + sj + " TailA"
    text_b = " ".join(filler("Mb", 60)) + " " + sj + "  OutB"
    work = str(tmp_path / "work")

    b0 = spark.createDataFrame([(1, text_a)], "doc_id long, text string")
    _clean_one_batch(spark, b0, 0, work, substring_cut=True,
                     substring_mode="bytes")
    out0 = spark.read.parquet(f"{work}/cleaned/batch=0").first()
    assert out0.text == text_a and out0.byte_exact   # ships verbatim

    b1 = spark.createDataFrame([(2, text_b)], "doc_id long, text string")
    _clean_one_batch(spark, b1, 1, work, substring_cut=True,
                     substring_mode="bytes")
    out1 = spark.read.parquet(f"{work}/cleaned/batch=1").first()
    assert out1.byte_exact
    assert sj not in out1.text
    # the maximal repeat is 26 tokens (both fillers END with the
    # stopword "the", which butts against the planted run — the same
    # maximality quirk the batch fixtures pin), so B loses its
    # trailing "the" + the 25-token run; everything outside is
    # ORIGINAL bytes, with the 25 inter-cut gaps left in place
    assert out1.text == " ".join(filler("Mb", 60))[:-3] \
        + " " * 25 + "  OutB"
    m1 = spark.read.parquet(f"{work}/metrics/batch=1").first()
    assert m1.substring_tokens_cut == 26

    # replay: identical rewrite
    _clean_one_batch(spark, b1, 1, work, substring_cut=True,
                     substring_mode="bytes")
    again = spark.read.parquet(f"{work}/cleaned/batch=1").first()
    assert again.text == out1.text and again.byte_exact


def test_stream_clean_decontaminate_modes(spark, tmp_path):
    """Streaming decontamination vs a static eval parquet: mode 'drop'
    gates the contaminated arrival out; mode 'cut' ships it with the
    quoted span excised byte-preservingly (before the content hash, so
    the survivor state indexes decontaminated text); stateless per
    batch — a replay rewrites identically."""
    from engine.streaming import _clean_one_batch

    frag = " ".join(f"benchq{i}" for i in range(20))
    bench_path = str(tmp_path / "bench")
    spark.createDataFrame(
        [(0, f"the evaluation question reads {frag} and the answer "
             "must be given in full sentences by the candidate")],
        "doc_id long, text string").write.parquet(bench_path)

    def filler(prefix, n):
        out = []
        for i in range(n):
            out.append(f"{prefix}{i}")
            if i % 5 == 4:
                out.append("the")
        return out

    clean_text = " ".join(filler("Clean", 40))
    con_text = " ".join(filler("Host", 30)) + "  " + frag + " " \
        + " ".join(filler("Tail", 20))
    b0 = spark.createDataFrame([(1, clean_text)],
                               "doc_id long, text string")
    b1 = spark.createDataFrame([(2, con_text)],
                               "doc_id long, text string")

    # drop mode: the contaminated arrival never ships
    wd = str(tmp_path / "w_drop")
    _clean_one_batch(spark, b0, 0, wd, decontaminate_path=bench_path)
    _clean_one_batch(spark, b1, 1, wd, decontaminate_path=bench_path)
    ids = {r.doc_id for r in
           spark.read.parquet(f"{wd}/cleaned").collect()}
    assert ids == {1}
    m1 = spark.read.parquet(f"{wd}/metrics/batch=1").first()
    assert (m1.rows_in, m1.after_gates) == (1, 0)

    # cut mode: it ships, span excised, bytes preserved outside
    wc = str(tmp_path / "w_cut")
    _clean_one_batch(spark, b0, 0, wc, decontaminate_path=bench_path,
                     decontaminate_mode="cut")
    _clean_one_batch(spark, b1, 1, wc, decontaminate_path=bench_path,
                     decontaminate_mode="cut")
    rows = {r.doc_id: r.text for r in
            spark.read.parquet(f"{wc}/cleaned").collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == clean_text
    assert frag not in rows[2]
    assert rows[2] == " ".join(filler("Host", 30)) + "  " \
        + " " * 19 + " " + " ".join(filler("Tail", 20))
    # the survivor hash state indexes the DECONTAMINATED text
    import hashlib
    hashes = {r.doc_id: r.content_hash for r in
              spark.read.parquet(f"{wc}/index/hashes").collect()}
    assert hashes[2] == hashlib.md5(rows[2].encode()).hexdigest()
    # the funnel row counts the excised tokens, as the batch job's
    # decontaminated_tokens_cut metric does; drop mode has no such column
    assert spark.read.parquet(f"{wc}/metrics/batch=1") \
        .first().decontaminated_tokens_cut == 20
    assert "decontaminated_tokens_cut" not in m1.asDict()

    # replay: identical rewrite
    _clean_one_batch(spark, b1, 1, wc, decontaminate_path=bench_path,
                     decontaminate_mode="cut")
    again = {r.doc_id: r.text for r in
             spark.read.parquet(f"{wc}/cleaned").collect()}
    assert again == rows
