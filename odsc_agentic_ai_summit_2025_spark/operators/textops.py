"""Text-analysis operators over a documents table (SURVEY
"training-data pipeline" surface: language-ID, quality scoring,
token counting, fingerprinting).

All pure column expressions — whole-stage-codegen'd, shuffle only at
the final aggregate. Each has an exact SQL twin in plans/textops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column

from ..functions.text import (
    char_poly_hash,
    stopword_count,
    token_count,
    tokens,
    unique_tokens,
)


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc token counts (total + distinct)."""
    return df.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
        F.size(unique_tokens(F.col(text_col))).alias("n_unique"),
    )


def bpe_token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """LLM-tokenizer-shaped token counting (the SURVEY mandate's
    "whitespace + a BPE-ish regex" pair — whitespace is
    :func:`token_stats`, this is the BPE-ish half): counts of GPT-2
    style pre-tokenizer pieces (``functions/text.py:BPE_SPLIT_RE``),
    their distinct count, and chars-per-piece — the compression /
    token-budget signal a training pipeline sizes batches with.
    Map-only, JVM-side regex (codegen), exact-integer fixed-point
    ratio; DuckDB runs the identical pattern under RE2 (oracle q77).
    """
    from ..functions.text import bpe_pieces

    p = bpe_pieces(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(p).cast("long").alias("n_bpe"),
        F.size(F.array_distinct(p)).cast("long").alias("n_bpe_unique"),
        F.length(F.col(text_col)).cast("long").alias("_nc"),
    )
    return base.select(
        id_col,
        "n_bpe",
        "n_bpe_unique",
        # integer fixed-point (div, not floor-of-/): engine-exact
        F.expr(
            "CAST(_nc * 10000L div greatest(n_bpe, 1L) AS BIGINT)"
        ).alias("chars_per_piece_e4"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality features: stopword ratio, mean token length,
    and a composite score. Mirrors the reference's eval-style ratio
    arithmetic (baml_extract_eval.py:653-663) as column math.

    Ratios are emitted as exact fixed-point (×10⁴, integer division)
    rather than ROUND(double) — IEEE rounding at half-boundaries is
    engine-dependent, integer division is not.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.call_function(
            "aggregate", toks, F.lit(0).cast("long"),
            F.expr("(acc, t) -> acc + length(t)"),
        ).alias("sum_len"),
        stopword_count(F.col(text_col)).cast("long").alias("n_stop"),
    )
    # quality = (1 - stop_ratio) * min(avg_len/10, 1), as exact fixed-point:
    # (n_tok - n_stop) * min(sum_len, 10*n_tok) * 1e4 div (10 * n_tok^2)
    # integer `div` (like bpe_token_stats), not floor-of-`/`: the
    # double route's safety bound collapses for quality_e4's
    # den = 10·n_tokens² once the numerator passes 2^53 (a ~1M-token
    # document) — int64→double conversion error then exceeds the
    # remainder granularity and the floor can flip against the
    # oracle's exact `//`. All operands are long, so `div` is exact
    # at any document length int64 itself can express.
    return base.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.expr("CAST(n_stop * 10000 div n_tokens AS BIGINT)").alias(
            "stop_ratio_e4"
        ),
        F.expr("CAST(sum_len * 10000 div n_tokens AS BIGINT)").alias(
            "avg_token_len_e4"
        ),
        F.expr(
            "CAST((n_tokens - n_stop) * least(sum_len, n_tokens * 10) * 10000"
            " div (n_tokens * n_tokens * 10) AS BIGINT)"
        ).alias("quality_e4"),
    )


def lang_id(df: DataFrame, text_col: str, lang_col: str) -> DataFrame:
    """Marker-token language heuristic → confusion counts.

    The synthetic corpus shares one vocabulary across lang labels, so
    the classifier is deliberately simple (English function-word
    markers); the point is the deterministic classify-and-evaluate
    mechanism, which is what a real n-gram profile would slot into.
    """
    toks = tokens(F.col(text_col))
    guess = (
        F.when(F.array_contains(toks, "the"), F.lit("en"))
        .when(F.array_contains(toks, "a"), F.lit("en"))
        .otherwise(F.lit("unknown"))
    )
    return (
        df.withColumn("lang_guess", guess)
        .groupBy(F.col(lang_col).alias("lang"), "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Rolling-hash document fingerprint (engine-portable int64)."""
    return df.select(
        F.col(id_col), char_poly_hash(F.col(text_col)).alias("fingerprint")
    )


def train_split(
    df: DataFrame,
    id_col: str,
    weights: tuple[int, int, int] = (80, 10, 10),
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id.

    The standard training-data split at scale: bucket =
    ``char_poly_hash(id || ':' || salt) mod 100`` — a pure function
    of the row's identity, so the split is stable across runs,
    engines, partitionings, and corpus growth (new rows land in
    splits without reshuffling old ones), and a different ``salt``
    yields an independent re-split. No RNG: seeded engine RNGs are
    partition-dependent and not reproducible cross-engine, which is
    why ``df.randomSplit`` can't be oracle-checked but this can.
    """
    w_train, w_val, w_test = weights
    if w_train + w_val + w_test != 100:
        raise ValueError("weights must sum to 100")
    bucket = F.pmod(
        char_poly_hash(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
        ),
        F.lit(100),
    )
    return df.withColumn(
        "split",
        F.when(bucket < w_train, "train")
        .when(bucket < w_train + w_val, "val")
        .otherwise("test"),
    )


#: corpus-filter thresholds (C4-style heuristics over the quality
#: columns; fixed-point ×10⁴ like quality_score)
FILTER_MIN_TOKENS = 5
FILTER_MAX_STOP_RATIO_E4 = 5000   # ≤50% stopwords
FILTER_MIN_AVG_LEN_E4 = 20000     # mean token length ≥2 chars
FILTER_MAX_AVG_LEN_E4 = 150000    # mean token length ≤15 chars


def corpus_filter(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Quality filtering with per-rule reasons (the C4/Gopher-style
    cleaning stage): each rule is a boolean column, ``kept`` is their
    conjunction — so the filter is auditable (per-rule drop counts
    are one groupBy away) rather than a silent WHERE."""
    scored = quality_score(df, text_col, id_col)
    rules = {
        "len_ok": F.col("n_tokens") >= FILTER_MIN_TOKENS,
        "stop_ok": F.col("stop_ratio_e4") <= FILTER_MAX_STOP_RATIO_E4,
        "avg_len_ok": F.col("avg_token_len_e4").between(
            FILTER_MIN_AVG_LEN_E4, FILTER_MAX_AVG_LEN_E4
        ),
    }
    out = scored
    for name, expr in rules.items():
        out = out.withColumn(name, expr)
    kept = F.lit(True)
    for name in rules:
        kept = kept & F.col(name)  # plain codegen AND, no lambda fold
    return out.withColumn("kept", kept)


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seq_len: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the step that turns a
    curated corpus into fixed-length training sequences (GPT-style:
    conceptually concatenate every document's tokens in ``id_col``
    order, then cut into ``seq_len`` blocks; documents straddle block
    boundaries). Output per doc: ``n_tokens``, its global
    ``tok_offset``, and the ``first_chunk``/``last_chunk``/``n_chunks``
    it lands in — enough to materialize any chunk by reading only the
    docs that overlap it.

    Scale shape: the global token offset is a DISTRIBUTED prefix sum,
    not a single-partition window — range-partition on the id, local
    cumulative sums per partition, one scalar-sized collect of
    per-partition totals, broadcast the partition offsets back (the
    same construction as ``sources/io.py:with_row_index_distributed``).
    Deterministic: the concat order is the TOTAL order ``(id,
    n_tokens, sha256(text))`` — the content-hash tiebreak makes the
    prefix sum a pure function of the input even when ids repeat
    (full-duplicate rows get interchangeable offsets, which is
    invisible in the output multiset). The same tiebreak columns are
    in the range partitioning, so ties never straddle a partition
    boundary with a different relative order than the window's. The
    DuckDB oracle (a plain window cumsum over the same ORDER BY)
    reproduces the offsets bit-for-bit. The partition pin is
    checkpoint-backed and attached to the result (``cache.own``).
    """
    from pyspark.sql import Window

    from ..cache import own

    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        F.sha2(F.col(text_col).cast("string"), 256).alias("_h"),
    )
    order_cols = [F.col(id_col), F.col("n_tokens"), F.col("_h")]
    part = base.repartitionByRange(*order_cols)
    local = (
        part.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lsum",
            F.sum("n_tokens").over(
                Window.partitionBy("_pid")
                .orderBy(*order_cols)
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["_pid"], r["_t"])
        for r in local.groupBy("_pid").agg(F.max("_lsum").alias("_t")).collect()
    )
    offsets, acc = [], 0
    for pid, t in counts:
        offsets.append((pid, acc))
        acc += t
    off = df.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    offset = F.col("_off") + F.col("_lsum") - F.col("n_tokens")
    # whitespace split yields ≥1 token for any non-null text, so
    # (offset + n - 1) is always ≥ offset and the chunk span is
    # well-defined
    first = F.expr(f"tok_offset div {seq_len}")
    last = F.expr(f"(tok_offset + n_tokens - 1) div {seq_len}")
    return own(
        local.join(F.broadcast(off), "_pid")
        .withColumn("tok_offset", offset.cast("long"))
        .withColumn("first_chunk", first.cast("long"))
        .withColumn("last_chunk", last.cast("long"))
        .withColumn(
            "n_chunks", (F.col("last_chunk") - F.col("first_chunk") + 1).cast("long")
        )
        .select(
            id_col, "n_tokens", "tok_offset", "first_chunk",
            "last_chunk", "n_chunks",
        ),
        local,
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Top-``k`` characteristic terms per document by fixed-point
    tf-idf — the keyword-extraction step of a corpus feature pipeline
    (the reference extracts entity keywords with an LLM,
    /root/reference/src/baml_src/graph_rag.baml; this is the
    statistical tier that runs on the other 100 TB).

    Scoring is integer-exact so the DuckDB oracle matches bit-for-bit:
    ``score_e4 = tf * ((n_docs * 10000) div df_t)`` — a LINEAR idf
    (proportional to 1/df) rather than the textbook log; log would put
    a libm call on both sides of the hash compare, and monotonicity in
    1/df is what the ranking needs. Ties at equal score break by term
    text, so the top-k is a total function of the corpus.

    Scale shape: explode → (doc, term) partial-combined count (shuffle
    1, keyed by doc+term) → document-frequency agg over the tf table
    (shuffle 2, keyed by term; vocab-sized output) → tf⋈df on term
    (vocab side is NOT broadcast — at corpus scale the vocabulary is
    executor-memory-sized only after stopword-class terms are counted,
    so it stays a shuffle join with AQE handling hot terms) → per-doc
    top-k window (shuffle 3, keyed by doc). n_docs rides as a 1-row
    scalar-totals broadcast (the q73/q85 pattern) — no eager driver
    action, no second pass over the corpus, one linear job.
    """
    base = df.filter(F.col(text_col).isNotNull())
    totals = base.agg(F.count(F.lit(1)).alias("_n_docs"))
    tf = (
        base.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_e4"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "score_e4",
            F.expr("tf * ((_n_docs * 10000L) div df_t)").cast("long"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df_t").cast("long").alias("df_t"),
            "score_e4",
            "rank",
        )
    )


def distinct_ngram_diversity(
    df: DataFrame,
    text_col: str,
    group_col: str,
    ns: tuple = (1, 2, 3),
) -> DataFrame:
    """Distinct-n diversity per corpus slice (Li et al. 2016,
    arXiv:1510.03055 "distinct-1/distinct-2"): for each group and
    each n, the count of n-gram occurrences, the count of DISTINCT
    n-grams, and their basis-point ratio — the standard
    repetitiveness/diversity dashboard a curation pipeline watches
    per source (a source whose distinct-2 collapses is template spam;
    :func:`~..operators.dedup.ngram_novelty` is the cross-document
    per-DOC complement).

    Integer-exact (count, count-distinct, e4 integer div). ONE corpus
    scan: every n's grams are tagged ``struct(n, gram)`` in a single
    projection, concatenated, and exploded once (a per-n union would
    re-scan and re-tokenize the corpus per n); the (group, n)-keyed
    distinct shuffles (group, n, gram) tuples — the same volume class
    as the gram dedup tiers, partial-combined map-side.

    Output: ``[<group_col>, n, n_grams, n_distinct, distinct_e4]``.
    """
    from ..sources.io import ensure_min_partitions
    from .curation import _word_ngrams

    # fan the gram fan-out stage to the data (r14, guide §2): the
    # tokenize + 3-n gram build + explode is ~100x hash-scale work
    # per input byte, and a single-row-group gate parquet otherwise
    # runs it on ONE core (measured 1.7-2.2 s serial vs 0.45-0.6 s at
    # 8 splits, sf0.1). cost=128 matches the embed kernel's measured
    # class; at scale the input arrives pre-split and this is a no-op.
    df = ensure_min_partitions(df.select(group_col, text_col), cost=128.0)
    toks = tokens(F.col(text_col))
    def _tag(n: int):
        # single-param lambda on purpose: pyspark reads a 2-param
        # transform lambda as (element, index) — a `lambda g, n=n`
        # closure trick would silently bind the array INDEX to n
        nlit = F.lit(n).cast("int")
        return F.transform(
            _word_ngrams(toks, n),
            lambda g: F.struct(nlit.alias("n"), g.alias("gram")),
        )

    tagged = F.concat(*[_tag(n) for n in ns])
    return (
        df.select(F.col(group_col), F.explode(tagged).alias("_s"))
        .select(group_col, F.col("_s.n").alias("n"), F.col("_s.gram").alias("gram"))
        .groupBy(group_col, "n")
        .agg(
            F.count(F.lit(1)).alias("_ng"),
            F.countDistinct("gram").alias("_nd"),
        )
        .select(
            group_col,
            "n",
            F.col("_ng").cast("long").alias("n_grams"),
            F.col("_nd").cast("long").alias("n_distinct"),
            F.expr("_nd * 10000 div greatest(_ng, 1)")
            .cast("long")
            .alias("distinct_e4"),
        )
    )


def normalize_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Canonicalize text ahead of exact dedup (the standard trick that
    turns trivially-reformatted copies into exact duplicates):
    lowercase, strip everything outside [a-z0-9 whitespace], collapse
    whitespace runs, trim. Emits the normalized text, its sha256, and
    the removed-character count — so ``exact_dedup_groups`` over
    ``norm_sha`` is normalization-robust dedup for free.

    Map-only codegen expressions; the regexes use only constructs
    with identical semantics in Java regex (Spark) and RE2 (DuckDB),
    and DuckDB's replace runs with the 'g' flag to match Spark's
    replace-all default. Whitespace class is the explicit
    ``[ \\t\\n\\r]`` (Java's ``\\s`` and RE2's ``\\s`` agree on these
    four; wider Unicode space classes do not agree across engines).
    """
    lowered = F.lower(F.col(text_col))
    stripped = F.regexp_replace(lowered, "[^a-z0-9 \\t\\n\\r]", " ")
    collapsed = F.trim(F.regexp_replace(stripped, "[ \\t\\n\\r]+", " "))
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        collapsed.alias("norm_text"),
        F.sha2(collapsed, 256).alias("norm_sha"),
        (F.length(F.col(text_col)) - F.length(collapsed))
        .cast("long")
        .alias("n_removed"),
    )


def vocab_coverage(
    df: DataFrame, text_col: str, *, top_v: int = 200
) -> DataFrame:
    """Vocabulary frequency table with cumulative corpus coverage —
    the artifact a tokenizer fit runs on: terms ranked by occurrence
    count, each carrying the running share of all token occurrences
    the vocabulary up to that rank explains (the "how many types
    cover 95% of tokens" curve; the BPE vocab-size decision reads it
    directly).

    Output: ``[term, n_occ, vocab_rank, cum_occ, coverage_e4]`` for
    the top ``top_v`` terms — rank ties broken by term text, coverage
    in integer basis points, so the table is a total function of the
    corpus and oracle-exact.

    Scale shape: one corpus pass to (term, count) — map-side
    combined, term-keyed shuffle — then rank AND running sum over the
    VOCAB table via the distributed prefix-sum device
    (:func:`pack_sequences`' shape): range partition on the rank
    order, per-partition rank/cumsum windows, per-partition
    count/sum offsets broadcast back. No single-partition window
    even when the vocabulary is billions of types.
    """
    from pyspark.sql import Window

    from ..cache import own

    occ = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .withColumn("_nneg", -F.col("n_occ"))
    )
    order_cols = [F.col("_nneg"), F.col("term")]
    part = occ.repartitionByRange(*order_cols)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = (
        part.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrn", F.count(F.lit(1)).over(w))
        .withColumn("_lsum", F.sum("n_occ").over(w))
        .localCheckpoint(eager=True)
    )
    per_part = sorted(
        (r["_pid"], r["_n"], r["_s"])
        for r in local.groupBy("_pid")
        .agg(F.max("_lrn").alias("_n"), F.max("_lsum").alias("_s"))
        .collect()
    )
    offsets, acc_n, acc_s = [], 0, 0
    for pid, n, s in per_part:
        offsets.append((pid, acc_n, acc_s))
        acc_n += n
        acc_s += s
    total_occ = max(acc_s, 1)
    off = df.sparkSession.createDataFrame(
        offsets, "_pid int, _rank_off long, _sum_off long"
    )
    return own(
        local.join(F.broadcast(off), "_pid")
        .withColumn("vocab_rank", (F.col("_rank_off") + F.col("_lrn")).cast("long"))
        .withColumn("cum_occ", (F.col("_sum_off") + F.col("_lsum")).cast("long"))
        .filter(F.col("vocab_rank") <= top_v)
        .select(
            "term",
            F.col("n_occ").cast("long").alias("n_occ"),
            "vocab_rank",
            "cum_occ",
            F.expr(f"cum_occ * 10000 div {total_occ}L")
            .cast("long")
            .alias("coverage_e4"),
        ),
        local,
    )


def _clean_bpe_pieces(text_col: str) -> Column:
    """``bpe_pieces`` + whitespace-piece drop + trim as ONE JVM-side
    expression — shared by fit (:func:`bpe_learn_merges`) and apply
    (:func:`bpe_segment_stats`) so both see the identical piece
    stream (two regex engines' ``\\s`` classes disagree on characters
    like U+00A0; one pipeline means no fit/apply divergence)."""
    from ..functions.text import bpe_pieces

    trimmed = F.transform(bpe_pieces(F.col(text_col)), lambda p: F.trim(p))
    return F.filter(
        trimmed, lambda p: (F.length(p) > 0) & ~p.rlike(r"^\s*$")
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    end_token: str = "</w>",
    max_vocab: int = 200_000,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from the corpus — the
    tokenizer-FITTING step beside :func:`vocab_coverage` (which sizes
    the vocabulary) and :func:`bpe_token_stats` (which counts with a
    fixed pre-tokenizer). Classic word-level BPE (Sennrich 2016):
    words split into characters (+ ``end_token``), then repeatedly
    merge the most frequent adjacent symbol pair. Returns
    ``[(left, right, pair_count), ...]`` in merge order.

    Deterministic: ties on count break lexicographically on
    (left, right) — a total order, so the learned merges are a pure
    function of the corpus word-count multiset (and of ``max_vocab``).

    Scale shape: the corpus is read EXACTLY ONCE — it collapses into
    a (word, count) table by one shuffle of partial counts (the
    classic BPE trick: pair statistics depend only on word
    frequencies, a vocabulary-sized object orders of magnitude
    smaller than the corpus). The top ``max_vocab`` words by (count,
    word) — a distributed TakeOrdered, not a full sort — come to the
    driver, where the merge rounds run in plain Python over that
    bounded table: the same bounded-driver-training legitimacy class
    as IVF's Lloyd sample (operators/ivf.py). Truncation is stated,
    not silent: words outside the cap (the extreme long tail) do not
    vote on merges; their segmentation still follows the learned
    rules in :func:`bpe_segment_stats`.
    """
    from ..sources.io import ensure_min_partitions

    if n_merges <= 0:
        return []
    words = (
        ensure_min_partitions(df)
        .select(F.explode(_clean_bpe_pieces(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = (
        words.orderBy(F.desc("n"), F.asc("w")).limit(max_vocab).collect()
    )  # vocabulary-sized (capped), not corpus-sized
    vocab = {r["w"]: int(r["n"]) for r in rows}
    segs = {w: tuple(w) + (end_token,) for w in vocab}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, seg in segs.items():
            n = vocab[w]
            for a, b in zip(seg, seg[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        ab = a + b
        for w, seg in segs.items():
            out = []
            i = 0
            while i < len(seg):
                if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            segs[w] = tuple(out)
    return merges


def bpe_segment_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str, int]],
    end_token: str = "</w>",
) -> DataFrame:
    """Apply a learned merge list corpus-wide: per document, the
    token count under the trained BPE segmentation (the number a
    trainer's data loader would see) beside the raw piece count.
    Broadcast rule list, Arrow-kernel map — no shuffle.

    Pre-tokenization runs JVM-side through the SAME expression
    pipeline the learner used (``bpe_pieces`` + the whitespace
    filter/trim) — re-tokenizing in the kernel with Python ``re``
    would silently diverge on characters the two engines' ``\\s``
    classes disagree about (e.g. U+00A0), making the counts not
    reflect the learned segmentation.
    """
    from pyspark.sql import types as T

    from ..sources.io import ensure_min_partitions

    rules = [(a, b) for a, b, _ in merges]
    bc = df.sparkSession.sparkContext.broadcast(rules)
    end = end_token

    base = ensure_min_partitions(
        df.select(F.col(id_col), _clean_bpe_pieces(text_col).alias("_pieces"))
    )
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_pieces", T.LongType()),
            T.StructField("n_bpe_tokens", T.LongType()),
        ]
    )

    def run(batches):
        import pandas as pd

        rl = bc.value
        cache: dict[str, int] = {}

        def seg_len(word: str) -> int:
            got = cache.get(word)
            if got is not None:
                return got
            seg = list(word) + [end]
            for a, b in rl:
                out, i = [], 0
                while i < len(seg):
                    if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(seg[i])
                        i += 1
                seg = out
            cache[word] = len(seg)
            return len(seg)

        for pdf in batches:
            ids, np_, nb = [], [], []
            for i, pieces in zip(pdf[id_col], pdf["_pieces"]):
                if pieces is None:
                    continue
                ids.append(i)
                np_.append(len(pieces))
                nb.append(sum(seg_len(p) for p in pieces))
            yield pd.DataFrame(
                {id_col: ids, "n_pieces": np_, "n_bpe_tokens": nb}
            )

    return base.mapInPandas(run, out_schema)
