"""Corpus-curation operators for the training-data pipeline surface:
benchmark decontamination, repetition-based quality (Gopher-style
rules), source-mix reweighting, and embedding outlier detection.

Everything is a pure DataFrame program with ONE carve-out: tokenize /
n-gram / ratio math stays in whole-stage codegen, the benchmark side
of decontamination is broadcast, and the per-label centroid
aggregation ships only (label, dim) partial sums through the shuffle,
never the vectors themselves. The carve-out (r6): ``ingest_gate``
over a LARGE benchmark gram set (> ``literal_max``) runs its
membership check as an Arrow-vectorized kernel against a broadcast
frozenset — a literal-array ``arrays_overlap`` there is a per-row
nested loop (see the function docstring); small sets keep the
zero-Python literal path.

Determinism: ratios are integer e4 fixed-point (``x*10000 // y``),
centroids are exact DECIMAL sums divided once at the end, and
cosines are sequential per-row folds rounded to 4 decimals — all
engine-portable, so every operator here carries a DuckDB oracle in
plans/curation.py.

Reference parity: the reference repo curates its corpus implicitly
(clinical notes are pre-cleaned, data/synthea/notes per
src/generate_note_embeddings.py); these operators make that stage
explicit and scalable, per the task's training-pipeline mandate.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.io import ensure_min_partitions


def _word_ngrams(toks: Column, n: int) -> Column:
    """Sliding word n-grams as space-joined strings; empty array when
    the document has fewer than ``n`` tokens.

    Built as ``n-1`` shifted-slice ``zip_with`` passes rather than a
    ``transform`` whose lambda calls ``slice`` per index: interpreted
    Catalyst lambdas cost per element per *step*, so the per-index
    slice form is O(tokens·n) lambda steps (measured 4.7 s on the
    sf0.1 corpus for n=2) while the shifted-zip form is n-1 linear
    array ops (~0.5 s). The ``when`` guard is needed because Spark's
    ``slice`` rejects negative lengths — the guarded branch never
    evaluates for short docs (conditional short-circuit). The join
    step is a SQL lambda, one JVM call to build where a Python lambda
    costs dozens of Py4J round trips.
    """
    m = F.size(toks) - (n - 1)
    out = F.slice(toks, 1, m)
    for j in range(1, n):
        out = F.call_function(
            "zip_with",
            out,
            F.slice(toks, j + 1, m),
            F.expr("(a, b) -> concat(a, ' ', b)"),
        )
    return F.when(F.size(toks) >= n, out).otherwise(
        F.array().cast("array<string>")
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: which corpus docs share ≥
    ``min_shared`` distinct word ``n``-grams with which benchmark doc.

    Columns out: ``corpus_id, bench_id, n_shared``.

    Scale shape: the benchmark (eval-set) side is orders of magnitude
    smaller than the corpus, so its exploded distinct n-grams are
    **broadcast**; the corpus side is then a map-side hash join — the
    100 TB corpus is never shuffled, and the only exchange is the
    final (corpus_id, bench_id) count, whose cardinality is bounded
    by true contamination. This mirrors the standard 13-gram
    decontamination pass used for LLM training corpora (n is a
    parameter; tests use a small n because the synthetic docs are
    short).
    """
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(out_id),
                F.explode(
                    F.array_distinct(_word_ngrams(tokens(F.col(text_col)), n))
                ).alias("gram"),
            )
        )

    corpus_grams = grams(ensure_min_partitions(corpus), "corpus_id")
    bench_grams = grams(benchmark, "bench_id")
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def semantic_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-tier decontamination: flag corpus docs whose vector
    is within cosine ``threshold`` of ANY benchmark vector — the
    semantic complement of :func:`contamination_pairs` (n-gram tier)
    and :func:`~..operators.sketches.bloom` decontam (q75): paraphrased
    or lightly-rewritten eval items share no 13-gram but sit right on
    top of the benchmark in embedding space.

    Columns out: ``[<id_col>, n_bench_hits, contaminated]`` — every
    corpus row appears (clean docs with 0/false), so the result joins
    back as a keep/drop filter without an outer join.

    Scale shape: the benchmark (eval-set) side is tiny, so it is
    collected and BROADCAST as one dense float64 matrix (the
    ``knn_bruteforce`` convention — same legitimacy class as its
    query matrix); each corpus partition computes one local GEMM and
    reduces to a per-doc hit count. MAP-ONLY — no grouping or join
    shuffles anywhere; the only Exchange that can appear is
    ``ensure_min_partitions``'s deliberate round-robin fan-out when
    the input is under-split (a single-row-group parquet file), which
    redistributes rows once without keying them. At 100 TB this is a
    single pass over the corpus with a fixed-size broadcast, the same
    cost as a filter.

    Determinism: the output is integer counts and a boolean from a
    ``>=`` predicate — no float column ships; both engines evaluate
    the same dot products on the same float64 inputs (the q38
    convention, driver-green on these corpora).
    """
    import numpy as np

    b_rows = benchmark.select(F.col(vec_col).alias("bv")).collect()
    if not b_rows:
        return corpus.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_bench_hits"),
            F.lit(False).alias("contaminated"),
        )
    b_mat = np.stack([np.asarray(r["bv"], dtype=np.float64) for r in b_rows])
    b_mat /= np.maximum(np.linalg.norm(b_mat, axis=1, keepdims=True), 1e-300)
    bc = corpus.sparkSession.sparkContext.broadcast(b_mat)
    thr = float(threshold)

    def hits(batches):
        # Arrow-native decode (guide §4.2) — same float64 GEMM
        import numpy as np

        from ..functions import arrowkit as ak

        mat = bc.value
        for b in batches:
            if b.num_rows == 0:
                continue
            sch = b.schema
            nv = ak.fixed_matrix(b.column(sch.get_field_index(vec_col)))
            nv = nv / np.maximum(
                np.linalg.norm(nv, axis=1, keepdims=True), 1e-300
            )
            n = (nv @ mat.T >= thr).sum(axis=1).astype(np.int64)
            yield ak.batch(
                **{
                    id_col: b.column(sch.get_field_index(id_col)),
                    "n_bench_hits": n,
                }
            )

    out = ensure_min_partitions(
        corpus.select(F.col(id_col), F.col(vec_col))
    ).mapInArrow(hits, f"{id_col} long, n_bench_hits long")
    return out.select(
        id_col,
        "n_bench_hits",
        (F.col("n_bench_hits") > 0).alias("contaminated"),
    )


def dsir_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    target_source: str,
    *,
    n: int = 2,
    cap_e4: int = 10**8,
) -> DataFrame:
    """Data Selection via Importance Resampling, integer-exact: score
    every document by how much its word ``n``-gram distribution looks
    like the ``target_source`` slice of the corpus versus the rest
    (DSIR, Xie et al. 2023, arXiv:2302.03169 — hashed-n-gram
    importance weights for selecting pretraining data that matches a
    target domain). The published method takes a log-likelihood
    ratio; IEEE ``log`` differs across engines in the last ulp, so
    this keeps the per-gram evidence as an add-one-smoothed integer
    basis-point ratio instead:

        term(g)        = min(((t(g)+1) * 10000) div (r(g)+1), cap_e4)
        importance_e4  = (Σ_g c_doc(g) · term(g)) div n_grams

    where t/r are the gram's occurrence counts in the target /
    background slices and c_doc its count in this document —
    engine-portable, partition-order-free, and monotone in the same
    direction as the likelihood ratio. ``cap_e4`` bounds a
    target-only gram's term (r=0) so the int64 accumulator cannot
    overflow at any corpus size (term ≤ 1e8, counts ≤ 1e11 stay
    under 2^63 through the final sum).

    Output: ``[id, n_grams, importance_e4]`` for EVERY input row
    (gram-less docs score 0). Feed into :func:`weighted_resample` /
    :func:`token_budget_sample` for the selection step.

    Scale shape: one corpus pass fans out to pre-aggregated
    (gram, doc, count) rows; the target/background count table is ONE
    gram-keyed partial agg (both slices via conditional sums, no
    second pass); the score join is gram-keyed at deduped-gram volume
    (AQE handles hot-gram skew) and the final agg is doc-keyed. At
    100 TB swap the unbounded count table for the FIXED-SIZE paired
    Count-Min model (:func:`dsir_model_cms` +
    :func:`dsir_score_with_cms_model`, oracled as q104) at the cost
    of one-sided count overestimation.
    """
    base = ensure_min_partitions(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col),
            F.col(source_col),
            _word_ngrams(tokens(F.col(text_col)), n).alias("_grams"),
        ),
        # tokenize + bigram build + explode is ~100x hash-scale per
        # input byte — a single-row-group gate input otherwise runs
        # the whole gram stage on one core (measured r14; same class
        # as the embed kernel's 128)
        cost=128.0,
    )
    from ..cache import own

    # persisted: per_doc feeds BOTH the count table and the score
    # join probe — without the pin the explode fan-out (the one
    # corpus-sized computation here) runs twice. Caller releases via
    # cache.release(result) per the repo convention.
    per_doc = (
        base.select(id_col, source_col, F.explode("_grams").alias("gram"))
        .groupBy(id_col, source_col, "gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .persist()
    )
    gram_counts = per_doc.groupBy("gram").agg(
        F.sum(
            F.when(F.col(source_col) == target_source, F.col("_c")).otherwise(
                F.lit(0)
            )
        ).alias("_t"),
        F.sum(
            F.when(F.col(source_col) != target_source, F.col("_c")).otherwise(
                F.lit(0)
            )
        ).alias("_r"),
    )
    # score through the SAME tail the serving path uses (parity by
    # shared construction, not by two hand-kept copies of the
    # formula): every gram is in the counts here, so the tail's
    # left-join coalesce reduces to the inner form
    return own(
        _dsir_score_tail(df, per_doc, gram_counts, id_col, cap_e4),
        per_doc,
    )


def _dsir_score_tail(
    docs: DataFrame,
    per_doc: DataFrame,
    counts: DataFrame,
    id_col: str,
    cap_e4: int,
) -> DataFrame:
    """The one rendering of the importance formula: per-doc gram
    counts ⋈ (gram → _t, _r) counts, add-one-smoothed capped ratio,
    weighted sum, per-doc normalize. Grams absent from ``counts``
    take the NEUTRAL 1:1 term (coalesce to 0). Shared by
    :func:`dsir_scores` (fit+score one pass) and
    :func:`dsir_score_with_model` (serving / streaming twin)."""
    scored = (
        per_doc.select(id_col, "gram", "_c")
        .join(counts, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_grams"),
            F.sum(
                F.expr(
                    "_c * least(((coalesce(_t, 0L) + 1) * 10000)"
                    f" div (coalesce(_r, 0L) + 1), {cap_e4}L)"
                )
            ).alias("_s"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.expr(
                "coalesce(_s, 0) div greatest(coalesce(n_grams, 0), 1)"
            )
            .cast("long")
            .alias("importance_e4"),
        )
    )


def dsir_model(
    df: DataFrame,
    text_col: str,
    source_col: str,
    target_source: str,
    *,
    n: int = 2,
) -> DataFrame:
    """Fit the DSIR count model alone: ``[gram, _t, _r]`` — target /
    background occurrence counts per word n-gram (the ``gram_counts``
    table :func:`dsir_scores` builds internally, exposed for the
    fit-once / score-many serving path and its streaming twin)."""
    return (
        ensure_min_partitions(
            df.filter(F.col(text_col).isNotNull()).select(
                F.col(source_col),
                _word_ngrams(tokens(F.col(text_col)), n).alias("_grams"),
            ),
            cost=128.0,  # gram-stage per-byte cost, see dsir_scores
        )
        .select(source_col, F.explode("_grams").alias("gram"))
        .groupBy("gram")
        .agg(
            F.sum(
                F.when(F.col(source_col) == target_source, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("_t"),
            F.sum(
                F.when(F.col(source_col) != target_source, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("_r"),
        )
    )


def dsir_score_with_model(
    docs: DataFrame,
    model: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 2,
    cap_e4: int = 10**8,
) -> DataFrame:
    """Score documents against a PRE-FIT DSIR count model — the
    serving half of :func:`dsir_scores` (which fits and scores the
    same corpus in one pass). ``model`` is a ``[gram, _t, _r]`` count
    table (the ``gram_counts`` shape dsir_scores builds); grams the
    model has never seen contribute the NEUTRAL term
    ``min((0+1)*10000 div (0+1), cap) = 10000`` (a 1:1 ratio — no
    evidence either way), so scoring an out-of-corpus delivery is
    well-defined. On the fitting corpus itself this equals
    :func:`dsir_scores` row-for-row (every gram is in the model;
    asserted in tests).

    Stateless given the model — per delivery it is one gram fan-out,
    one gram-keyed join against the (static) model, one doc-keyed
    agg, which is why the streaming twin
    (``streaming/pipeline.py:dsir_score_stream``) can run it
    unchanged per micro-batch.

    Output: ``[id, n_grams, importance_e4]`` for every input row.
    """
    per_doc = (
        ensure_min_partitions(
            docs.filter(F.col(text_col).isNotNull()).select(
                F.col(id_col),
                _word_ngrams(tokens(F.col(text_col)), n).alias("_grams"),
            ),
            cost=128.0,  # gram-stage per-byte cost, see dsir_scores
        )
        .select(id_col, F.explode("_grams").alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return _dsir_score_tail(docs, per_doc, model, id_col, cap_e4)


def dsir_model_cms(
    df: DataFrame,
    text_col: str,
    source_col: str,
    target_source: str,
    *,
    n: int = 2,
) -> DataFrame:
    """Count-Min twin of :func:`dsir_model` — the documented 100-TB
    model swap (the exact ``[gram, _t, _r]`` table has unbounded key
    cardinality; this is a FIXED-SIZE paired sketch). Output:
    ``[row_idx, col_idx, _t, _r]``, ≤ 3·65536 rows regardless of
    corpus size — broadcastable to every executor, mergeable across
    corpus shards by element-wise sum (algebraic, like
    ``sketches.cms_build``, whose md5 hash family it shares).

    Each gram OCCURRENCE increments its D counters in the slice's
    column (_t for the target source, _r for the rest) — one corpus
    pass, one bounded groupBy. Estimates read back through
    :func:`dsir_score_with_cms_model` are classic CMS one-sided:
    ``est ≥ true`` per gram and slice, never under (bound asserted
    in tests against the exact model)."""
    from .sketches import _cms_pairs

    grams = ensure_min_partitions(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(source_col),
            _word_ngrams(tokens(F.col(text_col)), n).alias("_grams"),
        ),
        cost=128.0,  # gram-stage per-byte cost, see dsir_scores
    ).select(source_col, F.explode("_grams").alias("gram"))
    is_t = (
        F.when(F.col(source_col) == target_source, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        grams.select(
            is_t.alias("_it"),
            F.explode(_cms_pairs(F.col("gram"))).alias("_p"),
        )
        .select("_it", "_p.row_idx", "_p.col_idx")
        .groupBy("row_idx", "col_idx")
        .agg(
            F.sum("_it").cast("long").alias("_t"),
            F.sum(F.lit(1) - F.col("_it")).cast("long").alias("_r"),
        )
    )


def _dsir_cms_counts(grams: DataFrame, cms: DataFrame) -> DataFrame:
    """Point-query the paired DSIR sketch: per distinct ``gram``, the
    column-wise minimum of its D counters — ``[gram, _t, _r]``, the
    exact shape :func:`_dsir_score_tail` consumes. Cells the sketch
    never touched coalesce to 0, so an out-of-corpus gram estimates
    (0, 0) → the tail's neutral 1:1 term, same as the exact model."""
    from .sketches import _cms_pairs

    return (
        grams.select("gram")
        .distinct()
        .select("gram", F.explode(_cms_pairs(F.col("gram"))).alias("_p"))
        .select("gram", "_p.row_idx", "_p.col_idx")
        .join(F.broadcast(cms), ["row_idx", "col_idx"], "left")
        .groupBy("gram")
        .agg(
            F.min(F.coalesce("_t", F.lit(0))).alias("_t"),
            F.min(F.coalesce("_r", F.lit(0))).alias("_r"),
        )
    )


def dsir_score_with_cms_model(
    docs: DataFrame,
    cms: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 2,
    cap_e4: int = 10**8,
) -> DataFrame:
    """Score documents against the FIXED-SIZE Count-Min DSIR model
    (:func:`dsir_model_cms`) — the 100-TB serving tier: the model
    broadcast is ≤ 3·65536 rows whatever the fitting corpus was, so
    the score join never shuffles the model side and the delivery
    side stays one gram fan-out + one doc-keyed agg, identical in
    shape to :func:`dsir_score_with_model`.

    The formula rendering is the SAME shared tail
    (:func:`_dsir_score_tail`) — only the count source changes, from
    the exact gram table to sketch point-queries. Per-gram counts are
    one-sided overestimates (CMS guarantee); the importance ratio
    itself is NOT one-sided (overestimating the background count
    lowers a term), so the tests assert the count bound plus exact
    agreement wherever the sketch is collision-free.

    The per-doc gram frame is persisted (it feeds both the distinct-
    gram sketch probe and the score join); it rides the result as a
    release handle — ``cache.release(result)`` after materializing,
    per the repo convention.
    """
    from ..cache import own

    per_doc = (
        ensure_min_partitions(
            docs.filter(F.col(text_col).isNotNull()).select(
                F.col(id_col),
                _word_ngrams(tokens(F.col(text_col)), n).alias("_grams"),
            ),
            cost=128.0,  # gram-stage per-byte cost, see dsir_scores
        )
        .select(id_col, F.explode("_grams").alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .persist()
    )
    counts = _dsir_cms_counts(per_doc, cms)
    return own(
        _dsir_score_tail(docs, per_doc, counts, id_col, cap_e4), per_doc
    )


def benchmark_gram_set(
    benchmark: DataFrame, text_col: str, *, n: int = 3
) -> list[str]:
    """Collect the benchmark's distinct word n-grams to the driver for
    broadcast into a *stateless* ingest gate (see ``ingest_gate``).

    Driver-side by design: eval sets are small (thousands of docs), so
    their gram set fits comfortably in a broadcast literal — the same
    legitimacy class as the collected query sets in the kNN operators.
    For benchmark sets too large to collect, use
    :func:`contamination_pairs` (broadcast join) instead.
    """
    rows = (
        benchmark.select(
            F.explode(
                F.array_distinct(_word_ngrams(tokens(F.col(text_col)), n))
            ).alias("gram")
        )
        .distinct()
        .collect()
    )
    return sorted(r.gram for r in rows)


def ingest_gate(
    docs: DataFrame,
    bench_grams: list[str],
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    keep_input: bool = False,
    literal_max: int = 4096,
) -> DataFrame:
    """Stateless per-document ingest gate: benchmark-contamination
    flag plus in-row repetition signals, with an ``admit`` verdict.

    Columns out: ``{id_col}, n_tokens, dup2_frac_e4, contaminated,
    admit``. Every expression is per-row (no join, no aggregation,
    no state), so the exact same plan runs over ``readStream`` — see
    ``streaming/pipeline.py:ingest_gate_stream`` — and over batch,
    and the two are compared by a parity test. This is the shape a
    100 TB/day ingest pipeline needs: per-record decisions at full
    map parallelism, benchmark set shipped once per executor.

    The contamination check picks its mechanism by gram-set size
    (identical semantics, parity-tested): up to ``literal_max`` grams
    it is a literal-array ``arrays_overlap`` (pure codegen, zero
    Python); above that it is an Arrow-vectorized set-membership
    kernel (flatten → one ``is_in`` hash-probe pass → segmented ANY
    by prefix sums, zero per-row Python frames) over a broadcast
    sorted gram tuple — ``arrays_overlap`` against a
    large literal is a per-row NESTED LOOP, O(|doc grams| × |bench|):
    a 128k-gram benchmark cost 108 s over 297k docs at the r6 smoke,
    vs O(|doc grams|) hash probes for the kernel. Both are per-row
    projections, so the streaming-twin property holds on either path.
    """
    toks = tokens(F.col(text_col))
    g = F.array_distinct(_word_ngrams(toks, n))
    g2 = _word_ngrams(toks, 2)
    # exact integer `div` on pre-widened longs (the repo convention,
    # same as repetition_stats): size() is int32 — unwidened, the
    # ×10000 overflows under ANSI on a ~215k-dup-gram document; and
    # floor-of-double would diverge from an exact `//` past 2^53.
    # The helper columns stay within one stateless projection chain
    # (Catalyst collapses it), so the identical plan still runs over
    # readStream — the property the streaming twin depends on.
    base = docs.withColumn(
        "_gn2", F.size(g2).cast("long")
    ).withColumn("_gn2d", F.size(F.array_distinct(g2)).cast("long"))
    dup2 = F.expr(
        "CAST((_gn2 - _gn2d) * 10000 div greatest(_gn2, 1) AS BIGINT)"
    )
    bc = None
    if len(bench_grams) <= literal_max:
        # one JSON string literal, not F.lit(list): that makes one
        # Py4J call per gram (~3k round trips for 700 grams). The
        # optimizer folds from_json of a literal into the same array
        # literal, so the executed plan is unchanged.
        bench = F.from_json(
            F.lit(json.dumps(list(bench_grams))), "array<string>"
        )
        contaminated = F.arrays_overlap(g, bench)
    else:
        bc = docs.sparkSession.sparkContext.broadcast(
            tuple(sorted(set(bench_grams)))
        )
        # per-task memo for the Arrow value-set (workers are
        # single-use here — spark.python.worker.reuse=false — so this
        # rebuilds once per task, not once per Arrow batch)
        _state: dict = {}

        @F.pandas_udf("boolean")
        def _hits(gram_arrays: pd.Series) -> pd.Series:
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            vs = _state.get("vs")
            if vs is None:
                vs = pa.array(bc.value, type=pa.string())
                _state["vs"] = vs
            # fully vectorized membership: flatten every row's gram
            # list into one string column, one C-level hash-probe
            # pass (is_in), then a segmented ANY via prefix sums —
            # zero per-row Python frames (the r6 form paid a
            # Series.map lambda per document)
            arr = pa.array(gram_arrays, type=pa.list_(pa.string()))
            nulls = arr.is_null().to_numpy(zero_copy_only=False)
            lens = (
                pc.fill_null(pc.list_value_length(arr), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            hits = (
                pc.fill_null(
                    pc.is_in(pc.list_flatten(arr), value_set=vs),
                    False,
                )
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            csum = np.concatenate(([0], np.cumsum(hits)))
            ends = np.cumsum(lens)
            any_hit = csum[ends] > csum[ends - lens]
            # null gram array (null text) stays NULL, matching the
            # literal path's arrays_overlap(NULL, bench) semantics
            return pd.Series(pd.arrays.BooleanArray(any_hit, nulls))

        contaminated = _hits(g)
    signals = [
        F.size(toks).alias("n_tokens"),
        dup2.alias("dup2_frac_e4"),
        contaminated.alias("contaminated"),
        (~contaminated & (dup2 <= 2000)).alias("admit"),
    ]
    if keep_input:
        # full input row + verdicts: lets a downstream stateless stage
        # (quality filter) consume the admitted TEXT without the
        # gate→docs join the batch pipeline uses — a join a stream
        # cannot express statelessly
        out = base.select(*[c for c in docs.columns], *signals)
    else:
        out = base.select(F.col(id_col), *signals)
    if bc is not None:
        # the kernel's broadcast frozenset rides the result as a
        # release handle: Broadcast.unpersist() duck-types through
        # cache.release_frame, so cache.release(result) (and the
        # pipeline's cache_sources) frees the executor-side copies —
        # without this it is invisible to the repo's block hygiene
        # (getPersistentRDDs census sees RDD/SQL blocks only)
        from ..cache import own

        out = own(out, bc)  # type: ignore[arg-type]
    return out


def curation_prefix(
    docs: DataFrame,
    bench_grams: list[str],
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """The curation pipeline's STATELESS PREFIX as one per-row plan:
    ingest gate (benchmark decontamination + repetition) composed
    with the C4-style quality filter. No join, no aggregation, no
    state anywhere — the gate keeps its input columns
    (``keep_input=True``) instead of re-joining text the way the
    batch pipeline's semi-join does — so the IDENTICAL plan runs
    over ``readStream`` (``streaming/pipeline.py:
    curation_prefix_stream``) and over batch, parity-tested
    row-for-row. Everything after this prefix (exact/near dedup)
    needs cross-document state and stays batch (or watermarked
    streaming dedup, which has its own twins).
    """
    from .textops import corpus_filter

    gated = ingest_gate(
        docs, bench_grams, text_col, id_col, n=n, keep_input=True
    )
    admitted = gated.filter(F.col("admit")).drop(
        "n_tokens", "dup2_frac_e4", "contaminated", "admit"
    )
    return corpus_filter(admitted, text_col, id_col).filter(F.col("kept"))


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    Columns out: ``{id_col}, n_tokens, top_tok_n, top_frac_e4,
    dup2_frac_e4, repetitive`` where ``top_frac_e4`` is the most
    frequent token's share of all tokens and ``dup2_frac_e4`` the
    fraction of word 2-grams that are repeats — both integer e4
    fixed-point (engine-exact).  ``repetitive`` flags docs past the
    Gopher-ish gates (top token > 20 % or duplicate 2-grams > 20 %).

    Scale shape: MAP-ONLY. Every signal is a per-row array
    expression: the top token's count is the longest equal-run in the
    SORTED token array (one ``aggregate`` fold over ``array_sort``),
    and the 2-gram stats are in-row size/distinct counts. No explode,
    no shuffle, no join — the earlier explode → groupBy(id, tok) →
    groupBy(id) → join form shuffled per-doc distinct-token counts
    twice for something the row itself can answer.
    """
    toks = tokens(F.col(text_col))
    g2 = _word_ngrams(toks, 2)

    # longest equal-run fold: acc = (prev token, current run, best run)
    def _step(acc, t):  # noqa: ANN001 — Columns
        run = F.when(
            acc.getField("prev").eqNullSafe(t), acc.getField("run") + 1
        ).otherwise(F.lit(1).cast("long"))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    top_tok_n = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _step,
        lambda acc: acc.getField("best"),
    )
    # NULL text → NULL token array → every stat NULL; the oracle's
    # explode+join form drops such docs entirely, so drop them here
    # too (row-set parity, and a null-stats row is useless anyway).
    # cost=128: the longest-equal-run aggregate fold + two ngram
    # array ops are interpreted per-element — measured r13 (q72,
    # documents 0.6 MB parquet): cost=1 fanned to ONE split and
    # serialized ~0.85 s of fold battery (quiet min 1.05 vs 0.64 at
    # full fan-out); cost=128 restores the r12-class 0.6 s.
    out = ensure_min_partitions(df, cost=128.0).filter(toks.isNotNull()).select(
        F.col(id_col),
        F.size(g2).alias("_n2"),
        F.size(F.array_distinct(g2)).alias("_n2d"),
        F.size(toks).cast("long").alias("n_tokens"),
        top_tok_n.alias("top_tok_n"),
    )
    # exact integer `div` (the repo convention, like quality_score /
    # bpe_token_stats), with int32 operands widened BEFORE the ×10000:
    # floor-of-double-division can flip against the oracle's `//`
    # once the numerator passes 2^53
    scored = out.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("top_tok_n"),
        F.expr(
            "CAST(top_tok_n * 10000 div n_tokens AS BIGINT)"
        ).alias("top_frac_e4"),
        F.expr(
            "CAST((CAST(_n2 AS BIGINT) - _n2d) * 10000"
            " div greatest(CAST(_n2 AS BIGINT), 1) AS BIGINT)"
        ).alias("dup2_frac_e4"),
    )
    return scored.withColumn(
        "repetitive",
        (F.col("top_frac_e4") > 2000) | (F.col("dup2_frac_e4") > 2000),
    )


def source_mix_weights(df: DataFrame, source_col: str) -> DataFrame:
    """Data-mixing weights: per-source counts and the resampling
    weight that would equalize the mix across sources.

    Columns out: ``source, n_docs, frac_e4, weight_e4`` — the actual
    share of each source (e4 fixed-point) and the multiplicative
    sampling weight ``target_frac / actual_frac`` (e4) for a uniform
    target mix.

    Scale shape: a count-star groupBy (map-side combined to one row
    per source per task) then a broadcast of the single-row totals —
    no single-partition window on the big frame.
    """
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs")
    )
    totals = counts.agg(
        F.sum("n_docs").alias("_total"), F.count("*").alias("_n_sources")
    )
    # exact integer `div`, matching the oracle's `//` at any corpus
    # size (floor-of-double diverges past 2^53 numerators)
    return counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        F.expr("CAST(n_docs * 10000 div _total AS BIGINT)").alias("frac_e4"),
        F.expr(
            "CAST(10000 * _total div (_n_sources * n_docs) AS BIGINT)"
        ).alias("weight_e4"),
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    *,
    threshold: float = 0.0,
) -> DataFrame:
    """Flag vectors far from their label centroid (mislabeled /
    polluted training examples).

    Columns out: ``{id_col}, {label_col}, cos_c (round 4),
    is_outlier``.

    Determinism: the centroid is an exact DECIMAL(28,10) per-dimension
    sum divided once by the count (partition-order independent); the
    per-row cosine is a sequential fold over the row's own 64 dims
    (fixed order), rounded to 4 decimals — the same contract the other
    vector oracles use.

    Scale shape: posexplode + groupBy((label, dim)) partial-aggregates
    map-side, so the shuffle carries ``labels × dims`` partial sums
    per task, not vectors; centroids (labels × dims rows) collapse to
    one array per label and broadcast back onto the corpus — the big
    side never shuffles.
    """
    dims = df.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select(
        label_col,
        "pos",
        F.col("val").cast("decimal(28,10)").alias("val"),
    )
    cent = (
        dims.groupBy(label_col, "pos")
        .agg((F.sum("val") / F.count("*")).cast("double").alias("c"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )
    joined = df.select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).join(F.broadcast(cent), label_col)

    def fold(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    dot = fold(F.zip_with(F.col("_v"), F.col("centroid"), lambda a, b: a * b))
    nv = F.sqrt(fold(F.transform(F.col("_v"), lambda a: a * a)))
    nc = F.sqrt(fold(F.transform(F.col("centroid"), lambda a: a * a)))
    cos = F.round(dot / (nv * nc), 4)
    return joined.select(
        F.col(id_col),
        F.col(label_col),
        cos.alias("cos_c"),
        (cos < F.lit(threshold)).alias("is_outlier"),
    )


def resample_reps(id_col: str, weight_col: str, salt: str):
    """The no-RNG copy-count device shared by the batch resampler and
    its streaming twin (parity is BY SHARED CONSTRUCTION, not by two
    hand-kept copies): ``weight_e4 div 1e4`` guaranteed copies plus
    one salted-hash fractional copy, as a sequence column ready to
    explode (empty for zero copies)."""
    from ..functions.text import char_poly_hash

    bucket = F.pmod(
        char_poly_hash(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
        ),
        F.lit(10000),
    )
    n_rep = (
        F.expr(f"{weight_col} div 10000")
        + F.when(
            bucket < F.col(weight_col) % 10000, F.lit(1)
        ).otherwise(F.lit(0))
    ).cast("int")
    return F.when(
        n_rep >= 1, F.sequence(F.lit(1), n_rep)
    ).otherwise(F.array().cast("array<int>"))


def weighted_resample(
    df: DataFrame, source_col: str, id_col: str, salt: str = "resample"
) -> DataFrame:
    """Materialize the epoch mix that :func:`source_mix_weights`
    prescribes: each document appears ``weight`` times in expectation
    — ``weight_e4 div 10000`` guaranteed copies plus one more when
    the document's salted hash bucket falls under the fractional part.
    No RNG: the extra-copy decision is the same engine-portable
    hash-bucket device as ``train_split``, so the resampled corpus is
    a pure function of (corpus, salt) — reproducible across runs,
    engines and partitionings, and a new ``salt`` draws an
    independent epoch.

    Output: ``[id, source, copy_idx]`` — one row per materialized
    copy (``copy_idx`` 1..n distinguishes repeats downstream, e.g.
    for shuffling copies into different shards).

    Scale shape: the weight table is one row per source — broadcast
    joined; the repeat fan-out is a map-side ``sequence``+``explode``.
    The only shuffle in the whole plan is the count-star groupBy
    inside the weight computation. Upsampled sources fan out locally
    (no skewed shuffle key: copies of a doc stay in its partition).
    """
    w = source_mix_weights(df, source_col).select("source", "weight_e4")
    reps = resample_reps(id_col, "weight_e4", salt)
    return (
        df.select(F.col(id_col), F.col(source_col).alias("source"))
        .join(F.broadcast(w), "source")
        .select(id_col, "source", F.explode(reps).alias("_ci"))
        .select(
            id_col, "source", F.col("_ci").cast("long").alias("copy_idx")
        )
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n_per_group: int,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic exactly-``n_per_group`` sample per group (eval
    subset selection, per-domain audits): rank rows inside each group
    by their salted hash (ties by id — total order), keep the first
    ``n_per_group``. No RNG — same reproducibility contract as
    ``train_split``/``weighted_resample``: the subset is a pure
    function of (corpus, salt), stable under partitioning and corpus
    append (a new row displaces at most one old pick in its group).

    Scale shape: one hash-ranked window per group. Groups are
    domains/sources (thousands at most), but a single group can hold
    most of the corpus, so the window would hot-key; instead rank via
    groupBy-aggregated threshold? — no: the k-th-smallest threshold
    per group is itself a full sort. The window IS the honest cost;
    mitigate by pre-filtering with an approximate per-group hash
    threshold when n_per_group ≪ group size (documented seam, not
    needed at gate scale).
    """
    from pyspark.sql import Window

    from ..functions.text import char_poly_hash

    h = char_poly_hash(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    return (
        df.select(F.col(id_col), F.col(group_col).alias("grp"))
        .withColumn("_h", h)
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= n_per_group)
        .select(id_col, F.col("grp").alias(group_col), "pick_rank")
    )


def curriculum_order(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_buckets: int = 4,
    salt: str = "curriculum:v1",
) -> DataFrame:
    """Deterministic curriculum ordering — the trainer-feed
    materialization of quality scoring: rank the corpus by the q31
    quality heuristic, cut it into ``n_buckets`` equal-size tiers
    (bucket 0 = best), and assign every doc a global ``train_pos``
    that walks the tiers in order with a salted-hash shuffle INSIDE
    each tier (quality-curriculum outside, decorrelated order inside
    — the standard curriculum-learning feed shape). No RNG anywhere:
    positions are a pure function of (corpus, salt), reproducible
    across runs and engines.

    Scale shape: the global quality rank uses the distributed
    row-index machinery (range partition + per-partition offsets —
    no single-partition window); tier membership is integer
    arithmetic on that rank against a 1-row broadcast total; the
    intra-tier shuffle is a window over ``n_buckets`` partitions —
    at 100 TB a trainer feeds per-shard anyway, so the documented
    scale variant scopes the intra-tier window by (bucket, shard)
    exactly as the packing operator scopes its offsets per batch.

    Output: ``[id, quality_e4, bucket, train_pos]`` — ``train_pos``
    0-based, dense, bucket-contiguous.
    """
    from pyspark.sql import Window

    from ..cache import own
    from ..functions.text import char_poly_hash
    from ..sources.io import with_row_index_distributed
    from .textops import quality_score

    # NULL-text docs (NULL quality) are excluded: Spark sorts NULLs
    # first ascending while DuckDB's DESC sorts them last, so leaving
    # them in would shift every gidx/bucket/train_pos between engines
    # — and a curriculum position for an unscoreable doc is meaningless
    q = quality_score(
        df.filter(F.col(text_col).isNotNull()), text_col, id_col
    ).select(F.col(id_col), "quality_e4")
    scored = q.withColumn("_negq", -F.col("quality_e4"))
    idx = with_row_index_distributed(scored, ["_negq", id_col], name="_gidx")
    totals = idx.agg(F.count(F.lit(1)).alias("_n_docs"))
    h = char_poly_hash(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    nb = int(n_buckets)
    return own(
        idx.crossJoin(F.broadcast(totals))
        .withColumn(
            "bucket",
            F.expr(f"(_gidx - 1) * {nb} div _n_docs").cast("long"),
        )
        .withColumn("_h", h)
        .withColumn(
            "train_pos",
            (
                F.expr(f"(bucket * _n_docs + {nb} - 1) div {nb}")
                + F.row_number().over(w)
                - F.lit(1)
            ).cast("long"),
        )
        .select(id_col, "quality_e4", "bucket", "train_pos"),
        idx,
    )


def token_budget_sample(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    budgets: dict[str, int],
    salt: str = "budget",
) -> DataFrame:
    """Per-source token-budget admission — the corpus-assembly step
    that turns a prescribed mixture into an actual epoch: each
    source's documents are visited in a salted-hash order (a
    deterministic epoch shuffle, same no-RNG device as
    ``train_split``) and admitted greedily while the source's running
    token total stays within its budget. This is the "sample exactly
    B tokens of source s" primitive every pretraining mixture spec
    (DoReMi-style weights, manual domain quotas) ultimately compiles
    to — ``weighted_resample`` materializes per-DOCUMENT repetition;
    this operator cuts per-SOURCE token quotas.

    Output: ``[id, source, n_tokens, cum_tokens, admit]`` — the
    running total rides along so the admission boundary is auditable.
    Sources absent from ``budgets`` get budget 0 (nothing admitted).

    Determinism: the visit order is the TOTAL order ``(source, h,
    id, n_tokens, md5(text))`` — the content tiebreaks make the
    prefix sum a pure function of the input even when ids repeat
    (full-duplicate rows get interchangeable running totals, which is
    invisible in the output multiset). The DuckDB oracle is a plain
    window cumsum over the same ORDER BY.

    Scale shape: a grouped DISTRIBUTED prefix sum — the
    ``pack_sequences`` construction generalized per group. Range-
    partition on the visit order (source leading, so each source is
    contiguous across partitions), local cumulative sums per
    partition, collect one scalar row per (partition, source) —
    bounded by ``partitions + sources`` rows total because of the
    contiguity — compute per-source partition offsets on the driver,
    broadcast them back. A per-source window would hot-key on any
    giant source (most real corpora are one giant web source); this
    shape never routes a source through one task. The partition pin
    is checkpoint-backed and attached to the result (``cache.own``).
    """
    from pyspark.sql import Window

    from ..cache import own
    from ..functions.text import char_poly_hash

    h = char_poly_hash(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        h.alias("_h"),
        F.md5(F.col(text_col).cast("string")).alias("_ch"),
    )
    order_cols = [
        F.col("source"), F.col("_h"), F.col(id_col),
        F.col("n_tokens"), F.col("_ch"),
    ]
    # persist before repartitionByRange: the RangePartitioner runs a
    # SAMPLING job over its input first, which would evaluate the
    # tokenize+hash+md5 projection over the full corpus twice
    base = base.persist()
    part = base.repartitionByRange(*order_cols)
    local = (
        part.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lsum",
            F.sum("n_tokens").over(
                Window.partitionBy("_pid", "source")
                .orderBy(*order_cols[1:])
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .localCheckpoint(eager=True)
    )
    base.unpersist()  # the eager checkpoint materialized everything
    totals = local.groupBy("_pid", "source").agg(
        F.max("_lsum").alias("_t")
    ).collect()
    acc: dict[str, int] = {}
    offsets = []
    # range partitions hold ascending key ranges in pid order, so the
    # per-source offset accumulates over ascending pid
    for r in sorted(totals, key=lambda r: (r["source"], r["_pid"])):
        offsets.append((r["_pid"], r["source"], acc.get(r["source"], 0)))
        acc[r["source"]] = acc.get(r["source"], 0) + r["_t"]
    off = df.sparkSession.createDataFrame(
        offsets, "_pid int, source string, _off long"
    )
    bmap = F.create_map(
        *[F.lit(x) for s, b in sorted(budgets.items()) for x in (s, b)]
    )
    return own(
        local.join(F.broadcast(off), ["_pid", "source"])
        .withColumn("cum_tokens", (F.col("_off") + F.col("_lsum")).cast("long"))
        .withColumn(
            "admit",
            F.col("cum_tokens")
            <= F.coalesce(bmap[F.col("source")], F.lit(0)).cast("long"),
        )
        .select(id_col, "source", "n_tokens", "cum_tokens", "admit"),
        local,
    )


def epoch_shards(
    df: DataFrame,
    id_col: str,
    docs_per_shard: int,
    salt: str = "epoch-0",
) -> DataFrame:
    """Deterministic epoch shuffle + shard manifest — the last step of
    a trainer feed: visit the corpus in a salted-hash order (a global
    no-RNG shuffle; a new salt draws an independent epoch) and assign
    each document its dense ``epoch_pos`` plus the ``(shard_id,
    pos_in_shard)`` a fixed-size shard writer would give it.
    ``curriculum_order`` feeds quality-first; this is the plain
    uniform epoch every pretraining run materializes.

    Scale shape: the global position comes from the distributed
    row-index device (range partition on (hash, id), per-partition
    offsets — no single-partition window at any corpus size); the
    shard arithmetic is per-row integer math against it. The
    partition pin is attached to the result (``cache.own``).
    """
    from ..cache import own
    from ..sources.io import with_row_index_distributed

    if docs_per_shard <= 0:
        raise ValueError(f"docs_per_shard must be positive, got {docs_per_shard}")
    # md5 (like token_budget_sample's visit order), NOT the rolling
    # char_poly_hash: the polynomial fold is nearly monotonic in a
    # short numeric id's leading digits, so ORDERING by it barely
    # shuffles small-id corpora — fine for mod-bucket devices
    # (train_split), wrong for a permutation
    h = F.md5(
        F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))
    )
    hashed = df.select(F.col(id_col)).withColumn("_h", h)
    idx = with_row_index_distributed(hashed, ["_h", id_col], name="_pos")
    out = idx.select(
        F.col(id_col),
        (F.col("_pos") - 1).cast("long").alias("epoch_pos"),
        F.expr(f"CAST((_pos - 1) div {docs_per_shard} AS BIGINT)").alias(
            "shard_id"
        ),
        F.expr(f"CAST((_pos - 1) % {docs_per_shard} AS BIGINT)").alias(
            "pos_in_shard"
        ),
    )
    return own(out, idx, df)
