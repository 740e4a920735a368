"""The r12 near-dup chain API: caller-supplied trim census
(existing_kept), precomputed signatures (new_sigs/admitted_sigs), and
the additive census algebra — each proven row-for-row equal to the
default self-computing paths, so the q112 lifecycle's shortcuts can
never drift from the canonical admission semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from odsc_agentic_ai_summit_2025_spark.operators import dedup as dd
from odsc_agentic_ai_summit_2025_spark.operators.index_io import (
    neardup_index_add,
)
from odsc_agentic_ai_summit_2025_spark.sources.io import read_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _corpus_delivery(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
    )


def test_existing_kept_and_new_sigs_match_default_path(spark, sf_dir):
    """admit(existing_kept=..., new_sigs=...) ≡ the self-computing
    admit, row for row — the q112 chain's shortcuts change the plan,
    never the decision."""
    corpus, delivery = _corpus_delivery(spark, sf_dir)
    base = dd.neardup_admit_incremental(
        dd.minhash_signatures(corpus, "text", "doc_id"),
        delivery, "text", "doc_id",
    )
    idx = dd.build_neardup_index(corpus, "text", "doc_id")
    shortcut = dd.neardup_admit_incremental(
        idx.sigs, delivery, "text", "doc_id",
        existing_kept=dd.neardup_trimmed(
            idx.bands, dd.neardup_bucket_census(idx.bands)
        ),
        new_sigs=dd.minhash_signatures(delivery, "text", "doc_id"),
    )
    assert _rows(base) == _rows(shortcut)


def test_census_merge_is_additive(spark, sf_dir):
    """census(bands_1 ∪ delta) == sum-merge(census(bands_1),
    census(delta)) — the invariant that lets q112 extend the standing
    census with a delivery-sized delta instead of a corpus rescan."""
    corpus, delivery = _corpus_delivery(spark, sf_dir)
    b1 = dd.build_neardup_index(corpus, "text", "doc_id").bands
    delta = dd.build_neardup_index(delivery, "text", "doc_id").bands
    direct = dd.neardup_bucket_census(b1.unionByName(delta))
    merged = (
        dd.neardup_bucket_census(b1)
        .unionByName(dd.neardup_bucket_census(delta))
        .groupBy("band_id", "bucket_key")
        .agg(F.sum("_n").alias("_n"))
    )
    assert _rows(direct) == _rows(merged)


def test_index_add_admitted_sigs_matches_default(spark, sf_dir):
    """neardup_index_add(admitted_sigs=...) ≡ the text-recomputing
    add, for both the signature table and the band delta — and stays
    idempotent on redelivery (the left-anti restrict)."""
    corpus, delivery = _corpus_delivery(spark, sf_dir)
    idx = dd.build_neardup_index(corpus, "text", "doc_id")
    del_sigs = dd.minhash_signatures(delivery, "text", "doc_id")
    via_text = neardup_index_add(idx, delivery, "text")
    via_sigs = neardup_index_add(
        idx, delivery, "text", admitted_sigs=del_sigs
    )
    assert _rows(via_text.sigs) == _rows(via_sigs.sigs)
    assert _rows(via_text.bands) == _rows(via_sigs.bands)
    assert _rows(via_text.delta_bands) == _rows(via_sigs.delta_bands)
    # redelivery is a no-op on the sigs-supplied path too
    again = neardup_index_add(
        via_sigs, delivery, "text", admitted_sigs=del_sigs
    )
    assert again.delta_bands.count() == 0
    assert again.sigs.count() == via_sigs.sigs.count()


def test_delta_bands_none_outside_add(spark, sf_dir):
    """delta_bands is a declared field: None on a fresh build (and
    anything else that isn't an add), a real frame only on add
    results — uniform shape, no AttributeError surprises."""
    corpus, delivery = _corpus_delivery(spark, sf_dir)
    idx = dd.build_neardup_index(corpus, "text", "doc_id")
    assert idx.delta_bands is None
    idx2 = neardup_index_add(idx, delivery, "text")
    assert idx2.delta_bands is not None


def test_sig_frame_schema_guard(spark, sf_dir):
    """ADVICE r12 hardening: a caller-supplied signature frame with
    the wrong columns (or the id under another name) must raise, not
    silently corrupt admission decisions."""
    import pytest

    corpus, delivery = _corpus_delivery(spark, sf_dir)
    bogus = corpus.select("doc_id", "text")  # not a sig frame
    with pytest.raises(ValueError, match="sigs must be"):
        dd.build_neardup_index(corpus, "text", "doc_id", sigs=bogus)
    good = dd.minhash_signatures(corpus, "text", "doc_id")
    with pytest.raises(ValueError, match="new_sigs must be"):
        dd.neardup_admit_incremental(
            good, delivery, "text", "doc_id", new_sigs=bogus
        )
    with pytest.raises(ValueError, match="existing_sigs must be"):
        dd.neardup_admit_incremental(bogus, delivery, "text", "doc_id")
    # an id column under another name is exactly the silent-corruption
    # case the guard exists for
    renamed = good.withColumnRenamed("doc_id", "id")
    with pytest.raises(ValueError, match="sigs must be"):
        dd.build_neardup_index(corpus, "text", "doc_id", sigs=renamed)
    with pytest.raises(ValueError, match="census must be"):
        dd.neardup_trimmed(
            dd._sig_band_rows(good, "doc_id"), good
        )


def test_census_equivalence_debug_check(spark, sf_dir, monkeypatch):
    """The opt-in deep check: under SPARK_GRAFT_DEBUG_CHECKS=1 a
    census that is NOT the census of exactly `bands` raises; the true
    census passes."""
    import pytest

    corpus, delivery = _corpus_delivery(spark, sf_dir)
    bands = dd.build_neardup_index(corpus, "text", "doc_id").bands
    other = dd.build_neardup_index(delivery, "text", "doc_id").bands
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_CHECKS", "1")
    ok = dd.neardup_trimmed(bands, dd.neardup_bucket_census(bands))
    assert ok.count() >= 0
    with pytest.raises(AssertionError, match="census does not equal"):
        dd.neardup_trimmed(bands, dd.neardup_bucket_census(other))


def test_releasing_a_verdict_keeps_the_standing_index(spark, sf_dir):
    """The caller's index stays caller-owned: releasing one admit
    verdict must not free the standing index's checkpoint blocks (a
    second admit then failed with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND),
    and a materialized index is read as it is, not persisted again."""
    from odsc_agentic_ai_summit_2025_spark.cache import (
        handles,
        release,
        release_frame,
    )

    corpus, delivery = _corpus_delivery(spark, sf_dir)
    sigs = dd.minhash_signatures(corpus, "text", "doc_id").localCheckpoint(
        eager=True
    )
    idx = dd.build_neardup_index(corpus, "text", "doc_id", sigs=sigs)
    idx.bands = idx.bands.localCheckpoint(eager=True)

    def admit():
        return dd.neardup_admit_incremental(
            idx.sigs, delivery, "text", "doc_id", existing_bands=idx.bands
        )

    first = admit()
    assert not {id(h) for h in handles(first)} & {id(idx.sigs), id(idx.bands)}
    assert not idx.sigs.storageLevel.useMemory
    rows = _rows(first)
    release(first)
    second = admit()
    assert _rows(second) == rows
    release(second)
    release_frame(idx.sigs)
    release_frame(idx.bands)
