"""End-to-end curation pipeline composition: stages shrink
monotonically, verdicts are deterministic, and the final corpus
carries the split column."""

from __future__ import annotations

from pyspark.sql import functions as F

from odsc_agentic_ai_summit_2025_spark.pipeline import build_curation_pipeline
from odsc_agentic_ai_summit_2025_spark.sources.io import read_table


def test_curation_pipeline_end_to_end(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    n_corpus = corpus.count()

    p = build_curation_pipeline(corpus, bench)
    counts = p.stage_counts()
    assert n_corpus >= counts["admitted"] >= counts["exact_unique"]
    assert counts["exact_unique"] >= counts["neardup_kept"] >= counts["final"]
    assert counts["final"] > 0

    # deterministic: a rebuild yields identical stage counts
    assert build_curation_pipeline(corpus, bench).stage_counts() == counts

    final = p.final
    splits = {r["split"] for r in final.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # survivors are a subset of the input ids, no duplicates
    ids = [r["doc_id"] for r in final.select("doc_id").collect()]
    assert len(ids) == len(set(ids))


def test_curation_pipeline_drops_planted_dupe_and_contaminated(spark):
    bench = spark.createDataFrame(
        [(1000, "held out benchmark question wording")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog today"),
            (2, "the quick brown fox jumps over a lazy dog today"),  # exact dupe
            (3, "completely different text with many varied unique words here"),
            (4, "prefix held out benchmark question wording suffix"),  # contaminated
        ],
        ["doc_id", "text"],
    )
    p = build_curation_pipeline(docs, bench)
    final_ids = {r["doc_id"] for r in p.final.select("doc_id").collect()}
    assert 2 not in final_ids  # exact dupe dropped, min id kept
    assert 4 not in final_ids  # contaminated doc gated out
    assert 1 in final_ids and 3 in final_ids


def test_semantic_dedup_collapses_planted_clusters(spark):
    """Planted vector clusters (tight cores + isotropic noise): the
    SemDeDup composition must keep exactly one representative (the
    min id) per planted cluster, leave noise rows as singletons, and
    release all its storage."""
    import numpy as np
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark import cache
    from odsc_agentic_ai_summit_2025_spark.pipeline import semantic_dedup
    from tests.test_cache_hygiene import _clean_baseline, _n_blocks

    rng = np.random.default_rng(11)
    rows = []
    # 6 planted clusters of 8 near-identical vectors each...
    for c in range(6):
        core = rng.normal(size=32)
        core /= np.linalg.norm(core)
        for j in range(8):
            v = core + 0.02 * rng.normal(size=32)
            rows.append((c * 8 + j, (v / np.linalg.norm(v)).tolist()))
    # ...plus 40 isotropic noise rows (ids 100+)
    for i in range(40):
        v = rng.normal(size=32)
        rows.append((100 + i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vid long, v array<double>")

    baseline = _clean_baseline(spark)
    out = semantic_dedup(
        df, "v", "vid", threshold=0.95, k_neighbors=10,
        k_clusters=8, nprobe=8,
    )
    got = {r["id"]: r for r in out.collect()}
    cache.release(out)
    assert _n_blocks(spark) == baseline

    keepers = sorted(i for i, r in got.items() if r["keep"])
    # one keeper per planted cluster: its minimum id (0, 8, ..., 40)
    planted_keepers = [k for k in keepers if k < 100]
    assert planted_keepers == [0, 8, 16, 24, 32, 40]
    for c in range(6):
        members = {c * 8 + j for j in range(8)}
        assert {got[m]["cluster_id"] for m in members} == {c * 8}
        assert all(got[m]["cluster_size"] == 8 for m in members)
    # noise rows survive as singletons
    assert all(
        got[100 + i]["keep"] and got[100 + i]["cluster_size"] == 1
        for i in range(40)
    )


def test_warm_curation_cycle_compiles_no_codegen_class(
    spark, sf_dir, tmp_path
):
    """The session's codegen cache holds the curation working set: once
    a cycle (pipeline + final write, then a delivery admitted against a
    standing index and appended to it) has run, repeating it compiles
    no new class. With Spark's default 100-entry cache every repeat
    recompiled most of them. AQE is off here: with it, a join may be
    re-planned differently when its inputs finish in another order,
    and such a variant is a new class, not an eviction."""
    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators import dedup as dd
    from odsc_agentic_ai_summit_2025_spark.operators.index_io import (
        neardup_index_add,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    standing = corpus.filter(F.col("doc_id") % 3 != 0)
    delivery = corpus.filter(F.col("doc_id") % 3 == 0)
    index = dd.build_neardup_index(
        standing, "text", "doc_id",
        sigs=dd.minhash_signatures(standing, "text", "doc_id")
        .localCheckpoint(eager=True),
    )
    index.bands = index.bands.localCheckpoint(eager=True)
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = compiles.METRIC_COMPILATION_TIME()

    def cycle() -> int:
        n0 = compiles.getCount()
        p = build_curation_pipeline(corpus, bench)
        p.final.write.mode("overwrite").parquet(str(tmp_path / "final"))
        p.release()
        verdict = dd.neardup_admit_incremental(
            index.sigs, delivery, "text", "doc_id",
            existing_bands=index.bands,
        )
        admitted = delivery.join(
            verdict.filter(F.col("admitted")).select("doc_id"), "doc_id"
        )
        delta = neardup_index_add(index, admitted, "text").delta_bands
        delta.count()
        release(verdict, delta)
        return compiles.getCount() - n0

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cycle()
        assert cycle() == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
