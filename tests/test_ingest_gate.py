"""Streaming ingest gate (decontamination + repetition) — batch/stream
parity and gate semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from odsc_agentic_ai_summit_2025_spark.operators.curation import (
    benchmark_gram_set,
    ingest_gate,
)
from odsc_agentic_ai_summit_2025_spark.sources.io import read_table


@pytest.fixture(scope="module")
def docs_stream_dir2(sf_dir, tmp_path_factory):
    import shutil

    d = tmp_path_factory.mktemp("docs_stream_gate")
    shutil.copy(f"{sf_dir}/documents.parquet", d / "part-0.parquet")
    return str(d)


def test_ingest_gate_semantics(spark):
    bench = spark.createDataFrame(
        [(1, "held out eval question text")], ["doc_id", "text"]
    )
    grams = benchmark_gram_set(bench, "text")
    docs = spark.createDataFrame(
        [
            (10, "prefix held out eval question text suffix"),  # contaminated
            (11, "clean sentence with diverse words inside"),  # admitted
            (12, "loop loop loop loop loop loop loop loop"),  # repetitive
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           ingest_gate(docs, grams, "text", "doc_id").collect()}
    assert out[10].contaminated and not out[10].admit
    assert out[11].admit and not out[11].contaminated
    assert out[12].dup2_frac_e4 > 2000 and not out[12].admit


def test_ingest_gate_stream_parity(spark, sf_dir, docs_stream_dir2):
    """The stream plan is stateless, so draining the corpus through it
    must reproduce the batch gate row-for-row."""
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        ingest_gate_stream,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench_df = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    grams = benchmark_gram_set(bench_df, "text")

    batch = ingest_gate(corpus, grams, "text", "doc_id")
    stream = ingest_gate_stream(spark, docs_stream_dir2, grams).filter(
        F.col("doc_id") % 97 != 0
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("gate_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("gate_stream")

    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, got.collect()))
    assert b == s
    # at least one contaminated doc exists (the eval split overlaps
    # its near-dups in the corpus) and most docs are admitted
    n_contam = sum(1 for r in b if r[3])
    assert n_contam >= 1
    assert sum(1 for r in b if r[4]) > len(b) // 2


def test_curation_prefix_stream_parity(spark, sf_dir, docs_stream_dir2):
    """Gate + quality filter COMPOSED over readStream must reproduce
    the batch pipeline's stateless prefix row-for-row (both stages
    are per-row maps, so composition stays stateless)."""
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        curation_prefix,
    )
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        curation_prefix_stream,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench_df = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    grams = benchmark_gram_set(bench_df, "text")

    batch = curation_prefix(corpus, grams, "text", "doc_id")
    stream = curation_prefix_stream(spark, docs_stream_dir2, grams).filter(
        F.col("doc_id") % 97 != 0
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("curation_prefix_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("curation_prefix_stream")

    assert got.columns == batch.columns
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, got.collect()))
    assert b == s
    assert len(b) > 0  # the prefix admits a real survivor set

    # the prefix also matches the batch PIPELINE's own composition
    # (gate semi-join + corpus_filter) on the surviving id set — the
    # two formulations differ only in how text is carried
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        ingest_gate,
    )
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        corpus_filter,
    )

    gate = ingest_gate(corpus, grams, "text", "doc_id")
    admitted = corpus.join(
        gate.filter(F.col("admit")).select("doc_id"), "doc_id"
    )
    pipe_ids = {
        r["doc_id"]
        for r in corpus_filter(admitted, "text", "doc_id")
        .filter(F.col("kept"))
        .select("doc_id")
        .collect()
    }
    assert {t[0] for t in b} == pipe_ids


def test_bpe_token_stats_stream_parity(spark, sf_dir, docs_stream_dir2):
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        bpe_token_stats,
    )
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        bpe_token_stats_stream,
    )

    docs = read_table(spark, sf_dir, "documents")
    batch = bpe_token_stats(docs, "text", "doc_id")
    stream = bpe_token_stats_stream(spark, docs_stream_dir2)
    q = (
        stream.writeStream.format("memory")
        .queryName("bpe_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("bpe_stream")
    assert got.columns == batch.columns
    assert sorted(map(tuple, batch.collect())) == sorted(
        map(tuple, got.collect())
    )


def test_pack_sequences_stream_per_batch_parity(spark, sf_dir, tmp_path):
    """foreachBatch packing must equal the batch operator applied to
    each ingested file independently (the bounded trainer-feed
    variant: offsets reset per shard, chunk ids scoped by batch)."""
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        pack_sequences,
    )
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        pack_sequences_stream,
    )

    docs = read_table(spark, sf_dir, "documents")
    shards = [
        docs.filter(F.col("doc_id") % 3 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for i in range(3)
    ]
    d = tmp_path / "packed_stream_in"
    d.mkdir()
    for i, s in enumerate(shards):
        s.toPandas().to_parquet(d / f"shard-{i}.parquet", index=False)

    got_batches = []

    def sink(df, batch_id):
        got_batches.append(
            sorted(
                (r["doc_id"], r["n_tokens"], r["tok_offset"],
                 r["first_chunk"], r["last_chunk"], r["n_chunks"])
                for r in df.collect()
            )
        )

    q = pack_sequences_stream(spark, str(d), sink, seq_len=128)
    q.awaitTermination(120)
    assert len(got_batches) == 3  # maxFilesPerTrigger=1 → one per file

    want_batches = []
    for s in shards:
        out = pack_sequences(s, "text", "doc_id", seq_len=128)
        want_batches.append(sorted(map(tuple, out.collect())))
        from odsc_agentic_ai_summit_2025_spark import cache

        cache.release(out)
    # batch order is the file-listing order; compare as multisets of
    # per-shard results (each shard's doc_id set is disjoint)
    assert sorted(got_batches) == sorted(want_batches)


def test_weighted_resample_stream_parity(spark, sf_dir, docs_stream_dir2):
    """The stateless streaming resample (pre-computed weight table,
    salted-hash copy decision) must reproduce the batch operator
    row-for-row on the same corpus."""
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        source_mix_weights,
        weighted_resample,
    )
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        weighted_resample_stream,
    )

    docs = read_table(spark, sf_dir, "documents")
    weights = {
        r["source"]: r["weight_e4"]
        for r in source_mix_weights(docs, "source").collect()
    }
    batch = weighted_resample(docs, "source", "doc_id")
    stream = weighted_resample_stream(spark, docs_stream_dir2, weights)
    q = (
        stream.writeStream.format("memory")
        .queryName("resample_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("resample_stream")
    assert got.columns == batch.columns
    assert sorted(map(tuple, batch.collect())) == sorted(
        map(tuple, got.collect())
    )


def test_ngram_novelty_stream_standing_set_parity(spark, sf_dir, tmp_path):
    """Incremental novelty against the accumulated gram set must
    equal the batch operator over the concatenated corpus when
    deliveries append with increasing doc_ids (the q86 CDC
    invariant applied to grams)."""
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import ngram_novelty
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        ngram_novelty_stream,
    )

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    shards = [
        docs.filter(
            (F.col("doc_id") >= 100 * i) & (F.col("doc_id") < 100 * (i + 1))
        ).select("doc_id", "text", "lang", "source", "n_chars")
        for i in range(3)
    ]
    d = tmp_path / "novelty_stream_in"
    d.mkdir()
    import os as _os
    import time as _time

    now = _time.time()
    for i, s in enumerate(shards):
        p = d / f"shard-{i}.parquet"
        s.toPandas().to_parquet(p, index=False)
        # the id-increases-with-delivery invariant needs shard-order
        # ingestion; pin distinct mtimes so the file source's listing
        # order is deterministic
        _os.utime(p, (now + i, now + i))

    got = []

    def sink(df, batch_id):
        got.extend(
            (r["doc_id"], r["n_grams"], r["n_novel"], r["novelty_e4"])
            for r in df.collect()
        )

    q = ngram_novelty_stream(spark, str(d), sink, l=8)
    q.awaitTermination(120)

    from odsc_agentic_ai_summit_2025_spark import cache

    batch = ngram_novelty(docs, "text", "doc_id", l=8)
    want = sorted(map(tuple, batch.collect()))
    cache.release(batch)
    assert sorted(got) == want and len(want) > 0


def test_ngram_novelty_stream_sketch_bounded(spark, sf_dir, tmp_path):
    """sketch=True (constant-state Bloom fold): n_grams stays exact,
    and Bloom false positives can only UNDERcount novelty — per-doc
    n_novel is bounded above by the exact stream's value, and the
    deterministic hash keeps the loss negligible at gate scale."""
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        ngram_novelty_stream,
    )

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    shards = [
        docs.filter(
            (F.col("doc_id") >= 100 * i) & (F.col("doc_id") < 100 * (i + 1))
        ).select("doc_id", "text", "lang", "source", "n_chars")
        for i in range(3)
    ]
    import os as _os
    import time as _time

    d = tmp_path / "novelty_sketch_in"
    d.mkdir()
    now = _time.time()
    for i, s in enumerate(shards):
        p = d / f"shard-{i}.parquet"
        s.toPandas().to_parquet(p, index=False)
        _os.utime(p, (now + i, now + i))

    def run(sketch):
        got = {}

        def sink(df, batch_id):
            for r in df.collect():
                got[r["doc_id"]] = (r["n_grams"], r["n_novel"])

        q = ngram_novelty_stream(spark, str(d), sink, l=8, sketch=sketch)
        q.awaitTermination(120)
        return got

    exact = run(False)
    approx = run(True)
    assert set(exact) == set(approx)
    for doc_id, (n_grams, n_novel) in exact.items():
        ag, av = approx[doc_id]
        assert ag == n_grams          # occurrence counts are exact
        assert av <= n_novel          # one-sided error only
    tot_exact = sum(v for _, v in exact.values())
    tot_approx = sum(v for _, v in approx.values())
    # FP loss bound: with ~20k standing grams in the 2^16-bit k=3
    # bitmap the classic (1-e^(-kn/m))^k is a few percent; observed
    # ~1.7% on this corpus (deterministic hash → stable run-to-run)
    assert tot_approx >= 0.95 * tot_exact and tot_approx > 0


def test_dsir_model_and_score_match_one_pass(spark, sf_dir):
    """dsir_score_with_model(df, dsir_model(df)) == dsir_scores(df)
    on the fitting corpus (every gram is in the model), and an
    out-of-corpus delivery scores the neutral 1:1 term per gram."""
    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        dsir_model,
        dsir_score_with_model,
        dsir_scores,
    )

    docs = read_table(spark, sf_dir, "documents")
    one_pass = dsir_scores(docs, "text", "doc_id", "source", "src1")
    want = sorted(map(tuple, one_pass.collect()))
    release(one_pass)

    model = dsir_model(docs, "text", "source", "src1")
    got = sorted(
        map(tuple, dsir_score_with_model(docs, model, "text", "doc_id").collect())
    )
    assert got == want

    # unseen grams: 3 bigrams never in the corpus -> each term
    # (0+1)*10000 div (0+1) = 10000 -> importance exactly 10000
    novel = spark.createDataFrame(
        [(10_000_001, "zq zz qz yy")], "doc_id long, text string"
    )
    r = dsir_score_with_model(novel, model, "text", "doc_id").collect()[0]
    assert (r["n_grams"], r["importance_e4"]) == (3, 10000)


def test_dsir_score_stream_parity(spark, sf_dir, tmp_path):
    """Each streamed shard's scores equal the batch scorer on that
    shard under the SAME fixed model (fit once over the full corpus)."""
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        dsir_model,
        dsir_score_with_model,
    )
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        dsir_score_stream,
    )

    docs = read_table(spark, sf_dir, "documents")
    model = dsir_model(docs, "text", "source", "src1").localCheckpoint(eager=True)
    shards = [
        docs.filter(F.col("doc_id") % 2 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for i in range(2)
    ]
    d = tmp_path / "dsir_stream_in"
    d.mkdir()
    for i, s in enumerate(shards):
        s.toPandas().to_parquet(d / f"shard-{i}.parquet", index=False)

    got_batches = []

    def sink(df, batch_id):
        got_batches.append(sorted(map(tuple, df.collect())))

    q = dsir_score_stream(spark, str(d), model, sink)
    q.awaitTermination(120)
    assert len(got_batches) == 2

    want_batches = [
        sorted(map(tuple, dsir_score_with_model(s, model, "text", "doc_id").collect()))
        for s in shards
    ]
    assert sorted(got_batches) == sorted(want_batches)

    # hygiene: the checkpointed model must not outlive the test (the
    # stream exposes its pinned handle for exactly this)
    from odsc_agentic_ai_summit_2025_spark.cache import release_frame

    release_frame(q.dsirModelHandle)
    release_frame(model)


def test_ingest_gate_kernel_path_matches_literal(spark, sf_dir):
    """The large-gram-set Arrow kernel path and the literal
    arrays_overlap path must agree row-for-row (same exact string-set
    membership, different mechanism)."""
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        benchmark_gram_set,
        ingest_gate,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    grams = benchmark_gram_set(bench, "text", n=3)
    assert grams  # non-degenerate fixture

    from odsc_agentic_ai_summit_2025_spark import cache

    lit = sorted(
        map(tuple, ingest_gate(corpus, grams, "text", "doc_id").collect())
    )
    # literal_max=0 forces the broadcast set-membership kernel; its
    # broadcast rides the frame as a release handle, so release it
    # like any pipeline caller would (the handle now counts as LIVE
    # in the cache registry until released — r7 _is_live fix)
    n_reg = len(cache._REGISTRY)
    kern_df = ingest_gate(corpus, grams, "text", "doc_id", literal_max=0)
    kern = sorted(map(tuple, kern_df.collect()))
    assert len(cache._REGISTRY) == n_reg + 1  # broadcast handle is live
    cache.release(kern_df)
    assert len(cache._REGISTRY) == n_reg  # released + pruned
    assert kern == lit
    assert any(r[3] for r in lit)  # some contaminated rows exercised


def test_semantic_decontam_stream_parity(spark, sf_dir, tmp_path):
    """The embedding-tier ingest gate (r8): each streamed delivery's
    hits against the pinned benchmark vectors equal the batch
    composition (embed -> semantic_decontamination) on that shard,
    with genuine contamination present (the benchmark is embedded
    from a member slice, so every bench doc hits itself)."""
    from odsc_agentic_ai_summit_2025_spark.cache import release_frame
    from odsc_agentic_ai_summit_2025_spark.functions.embedder import embed
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        semantic_decontamination,
    )
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import (
        semantic_decontam_stream,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = embed(
        docs.filter(F.col("doc_id") % 29 == 0).select("doc_id", "text"),
        "text", "vector",
    ).localCheckpoint(eager=True)
    shards = [
        docs.filter(F.col("doc_id") % 2 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for i in range(2)
    ]
    d = tmp_path / "sem_decontam_in"
    d.mkdir()
    for i, s in enumerate(shards):
        s.toPandas().to_parquet(d / f"shard-{i}.parquet", index=False)

    got_batches = []

    def sink(df, batch_id):
        got_batches.append(sorted(map(tuple, df.collect())))

    q = semantic_decontam_stream(
        spark, str(d), bench, sink, threshold=0.99
    )
    q.awaitTermination(120)
    assert len(got_batches) == 2

    want_batches = [
        sorted(map(tuple, semantic_decontamination(
            embed(s.select("doc_id", "text"), "text", "vector"),
            bench, "vector", "doc_id", threshold=0.99,
        ).collect()))
        for s in shards
    ]
    assert sorted(got_batches) == sorted(want_batches)
    # genuine signal: every benchmark member doc is flagged in its shard
    flagged = {r[0] for b in got_batches for r in b if r[2]}
    bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
    assert bench_ids <= flagged

    release_frame(q.benchHandle)
    release_frame(bench)


def test_ingest_gate_build_calls_do_not_grow_with_gram_count(
    spark, monkeypatch
):
    """The literal gram set is ONE JSON string literal: building the
    gate makes as many Py4J calls for 1,000 grams as for 10 (a
    ``F.lit(list)`` array makes one call per gram). Py4J's own
    release commands for garbage-collected Java handles are not
    counted: when they run depends on the Python GC."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(1)
        return send(command, *args, **kwargs)

    def build_calls(n: int) -> int:
        grams = [f"w{i} x{i} y{i}" for i in range(n)]
        ingest_gate(docs, grams, "text", "doc_id")  # warm
        calls.clear()
        monkeypatch.setattr(client, "send_command", counting)
        try:
            ingest_gate(docs, grams, "text", "doc_id")
        finally:
            monkeypatch.undo()
        return len(calls)

    assert build_calls(10) == build_calls(1000)
