"""Property-based tests (Hypothesis): custom operators vs plain-Python
reference implementations on randomized small inputs.

The reference has no property testing (SURVEY §5); we add it for the
operators whose semantics we defined ourselves (as-of join,
sessionization, RRF) — the DuckDB oracle already covers them on the
fixed testdata, this covers the input space around it.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),        # user/key
        st.integers(0, 10_000),   # ts seconds
        st.integers(0, 100),      # value
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1]),  # no (key, ts) ties (asof contract)
)


@settings(**SETTINGS)
@given(left=events_strategy, right=events_strategy)
def test_asof_join_matches_reference(spark, left, right):
    from odsc_agentic_ai_summit_2025_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t * 1_000_000, i) for i, (k, t, _) in enumerate(left)],
        "k long, lts long, row_id long",
    ).selectExpr("k", "timestamp_micros(lts) AS lts", "row_id")
    rdf = spark.createDataFrame(
        [(k, t * 1_000_000, v) for (k, t, v) in right],
        "k long, rts long, v long",
    ).selectExpr("k", "timestamp_micros(rts) AS rts", "v")

    got = {
        r["row_id"]: r["v"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts", value_cols=["v"]
        ).collect()
    }

    for i, (k, t, _) in enumerate(left):
        prior = [(rt, v) for (rk, rt, v) in right if rk == k and rt <= t]
        expect = max(prior)[1] if prior else None
        assert got[i] == expect, (i, k, t, got[i], expect)


@settings(**SETTINGS)
@given(events=events_strategy, gap_s=st.integers(1, 5000))
def test_sessionize_matches_reference(spark, events, gap_s):
    from odsc_agentic_ai_summit_2025_spark.streaming.pipeline import sessionize

    df = spark.createDataFrame(
        [(i, t * 1_000_000, k) for i, (k, t, _) in enumerate(events)],
        "event_id long, ts long, user_id long",
    ).selectExpr("event_id", "timestamp_micros(ts) AS ts", "user_id")

    got = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in sessionize(df, f"{gap_s} seconds").collect()
    }

    # python reference: per user, sorted times, split on gap >= gap_s
    expect: dict[tuple[int, int], int] = {}
    for k in {e[0] for e in events}:
        times = sorted(t for (u, t, _) in events if u == k)
        seq, count, prev = 1, 0, None
        for t in times:
            if prev is not None and t - prev >= gap_s:
                expect[(k, seq)] = count
                seq, count = seq + 1, 0
            count += 1
            prev = t
        expect[(k, seq)] = count
    assert got == expect


rank_list = st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True)


@settings(**SETTINGS)
@given(a=rank_list, b=rank_list)
def test_rrf_matches_formula(spark, a, b):
    from odsc_agentic_ai_summit_2025_spark.operators.rrf import rrf_fuse

    adf = spark.createDataFrame(
        [(x, i + 1) for i, x in enumerate(a)], "doc_id long, rank long"
    )
    bdf = spark.createDataFrame(
        [(x, i + 1) for i, x in enumerate(b)], "doc_id long, rank long"
    )
    got = {
        r["doc_id"]: r["rrf_score"]
        for r in rrf_fuse([adf, bdf], id_col="doc_id").collect()
    }
    for doc in set(a) | set(b):
        s = 0.0
        if doc in a:
            s += 1.0 / (60 + a.index(doc) + 1)
        if doc in b:
            s += 1.0 / (60 + b.index(doc) + 1)
        assert abs(got[doc] - s) < 1e-12


token_strategy = st.lists(
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789",
        min_size=1,
        max_size=24,
    ),
    min_size=0,
    max_size=30,
)


@settings(**SETTINGS)
@given(toks=token_strategy)
def test_char_poly_hash_np_matches_expression(spark, toks):
    """The vectorized Arrow-kernel hash (UCS4-view fold) must equal
    the Catalyst expression fold value-for-value — this is what lets
    the embedder hash tokens kernel-side without changing any
    oracle."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.functions.text import (
        char_poly_hash,
        char_poly_hash_np,
    )

    got = list(char_poly_hash_np(toks)) if toks else []
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    want = [
        r["h"] for r in
        df.select("tok", char_poly_hash(F.col("tok")).alias("h"))
        .orderBy("tok").collect()
    ]
    got_sorted = [h for _, h in sorted(zip(toks, got))]
    assert got_sorted == want


@settings(**SETTINGS)
@given(grams=st.lists(st.text(max_size=12), max_size=20))
@example(grams=[])
@example(grams=["\U0001f600 \u00e9\u0301", "\x00", "'\"\\", "\u2028"])
def test_gram_set_json_literal_equals_lit_list(spark, grams):
    """ingest_gate's gram-set literal: ``from_json`` of one JSON string
    equals the ``F.lit(list)`` array for any Unicode gram list, and the
    optimizer folds it to a plain literal."""
    import json

    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.lit(list(grams)).cast("array<string>").alias("lit"),
        F.from_json(F.lit(json.dumps(grams)), "array<string>").alias("json"),
    )
    row = df.first()
    assert row["json"] == row["lit"] == grams
    assert "from_json" not in str(df._jdf.queryExecution().optimizedPlan())


@settings(**SETTINGS)
@given(toks=token_strategy)
def test_char_poly_hash_arrow_matches_np(toks):
    """The Arrow-buffer fold (byte gather over the string column's
    contiguous data buffer) must equal the UCS4-view fold
    value-for-value — this is what lets the embedder hash tokens
    straight off the flattened token-list column (r13)."""
    import pyarrow as pa

    from odsc_agentic_ai_summit_2025_spark.functions.text import (
        char_poly_hash_arrow,
        char_poly_hash_np,
    )

    arr = pa.array(toks, type=pa.string())
    assert list(char_poly_hash_arrow(arr)) == list(char_poly_hash_np(toks))
    # sliced arrays carry a non-zero offset — the buffer math must
    # honor it
    if len(toks) > 1:
        assert list(char_poly_hash_arrow(arr.slice(1))) == list(
            char_poly_hash_np(toks[1:])
        )


@settings(**SETTINGS)
@given(toks=token_strategy)
def test_embed_kernel_matches_oracle_math(spark, toks):
    """End-to-end embed() on a synthetic doc must equal the plain
    Python reconstruction of the documented math (hash → bucket/sign
    → scatter-add → L2) — guards the kernel rewrite of the
    tokenize→hash→densify pipeline."""
    import math

    from odsc_agentic_ai_summit_2025_spark.functions.embedder import embed
    from odsc_agentic_ai_summit_2025_spark.functions.text import (
        HASH_MOD,
        HASH_MULT,
    )

    dim = 8
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    [row] = embed(df, "text", "vector", dim=dim).collect()
    got = list(row["vector"])

    v = [0.0] * dim
    for t in toks:
        h = 0
        for c in t:
            h = (h * HASH_MULT + ord(c)) % HASH_MOD
        v[h % dim] += ((h // dim) % 2) * 2.0 - 1.0
    nrm = math.sqrt(sum(x * x for x in v))
    want = [x / nrm if nrm > 0 else 0.0 for x in v]
    assert got == want


@settings(**SETTINGS)
@given(text=st.one_of(
    st.text(max_size=80),  # arbitrary Unicode
    st.text(alphabet=" .,;:!?-'\"()[]/\\\t\n", max_size=20),
    st.text(alphabet="aZ09", min_size=200, max_size=400),  # long tokens
))
@example(text="")
@example(text="?!... -- ;;")
# case mappings Python and Java might disagree on: Kelvin sign, dotted
# capital I, Angstrom sign, sharp s, final sigma
@example(text="\u212aelvin \u0130stanbul \u00dcn\u00efc\u00f6d\u00e9 "
              "\u212b \u00df \u03a3\u03c3")
@example(text="x" * 1000)
def test_embed_text_matches_embed_bit_for_bit(spark, text):
    """The driver-side query embedding must equal ``embed`` over a
    one-row frame of the same string, bit for bit: document and query
    vectors meet in one cosine, so any drift in lowercasing,
    tokenization or the kernel would silently reorder retrieval."""
    import numpy as np

    from odsc_agentic_ai_summit_2025_spark.functions.embedder import (
        embed,
        embed_text,
    )

    df = spark.createDataFrame([(0, text)], "qid long, q string")
    [row] = embed(df, "q", "vector").collect()
    got = np.array(embed_text(text), dtype=np.float64)
    assert got.tobytes() == np.array(row["vector"], dtype=np.float64).tobytes()


graph_strategy = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),
    min_size=0,
    max_size=40,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=graph_strategy)
def test_components_algorithms_agree(spark, edges):
    """min-label propagation and large-star/small-star must compute
    identical labelings on arbitrary graphs (self-loops, multi-edges,
    disconnected nodes included) — the fallback cannot change
    answers, only cost."""
    from odsc_agentic_ai_summit_2025_spark.operators.components import (
        connected_components,
    )

    clean = [(a, b) for a, b in edges if a != b]
    if not clean:
        return
    pairs = spark.createDataFrame(clean, "a_id long, b_id long")
    verts = spark.createDataFrame([(i,) for i in range(26)], "id long")
    a = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, vertices=verts, algorithm="minlabel"
        ).collect()
    }
    b = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, vertices=verts, algorithm="star"
        ).collect()
    }
    assert a == b


# pack_sequences determinism under duplicate ids (the r4 driver red
# cell): the concat order must be a TOTAL function of the input —
# (doc_id, n_tokens, sha256(text)) — so Spark's distributed prefix
# sum and a single-window SQL cumsum agree even when doc_ids repeat.
_WORDS = ["aa", "bb", "cc", "dd"]
docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),                       # doc_id — deliberately duplicated
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=5),
    ),
    min_size=1,
    max_size=25,
)


@settings(**SETTINGS)
@given(docs=docs_strategy, seq_len=st.integers(2, 16))
def test_pack_sequences_total_order_vs_oracle(spark, docs, seq_len):
    import duckdb
    import pandas as pd

    from odsc_agentic_ai_summit_2025_spark import cache
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        pack_sequences,
    )

    rows = [(i, " ".join(ws)) for i, ws in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # scramble input partitioning so ties start out split across partitions
    out = pack_sequences(
        df.repartition(5, "text"), "text", "doc_id", seq_len=seq_len
    )
    got = sorted(map(tuple, out.collect()))
    cache.release(out)

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        map(
            tuple,
            con.execute(f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
         sha256(text) AS _h
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id, n_tokens, _h
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS tok_offset
  FROM t
)
SELECT doc_id, n_tokens, tok_offset,
       tok_offset // {seq_len} AS first_chunk,
       (tok_offset + n_tokens - 1) // {seq_len} AS last_chunk,
       (tok_offset + n_tokens - 1) // {seq_len}
         - tok_offset // {seq_len} + 1 AS n_chunks
FROM c
""").fetchall(),
        )
    )
    con.close()
    assert got == want


docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),  # doc_id (duplicates allowed? no: unique below)
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14
        ),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda t: t[0],
)


@given(docs=docs_strategy)
@settings(**SETTINGS)
def test_ngram_novelty_matches_reference(spark, docs):
    """ngram_novelty ≡ a plain-Python first-owner scan, over random
    tiny corpora (l=3 so short docs still produce grams)."""
    from odsc_agentic_ai_summit_2025_spark.operators.dedup import ngram_novelty

    L = 3
    rows = [(i, " ".join(toks)) for i, toks in docs]
    # reference: first owner = min doc_id containing the gram
    owner: dict[tuple, int] = {}
    grams_per_doc = {}
    for i, toks in sorted(docs):
        gs = [tuple(toks[j : j + L]) for j in range(len(toks) - L + 1)]
        grams_per_doc[i] = gs
        for g in gs:
            owner.setdefault(g, i)
    expect = {}
    for i, gs in grams_per_doc.items():
        n = len(gs)
        nov = sum(1 for g in gs if owner[g] == i)
        expect[i] = (n, nov, nov * 10000 // max(n, 1))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_e4"])
        for r in ngram_novelty(df, "text", "doc_id", l=L).collect()
    }
    assert got == expect


def test_asof_null_right_timestamps_never_match(spark):
    """A NULL-timestamp right row can never be a predecessor (DuckDB
    ASOF l.ts >= r.ts is never true for NULL) — before the r5 fix it
    sorted nulls-first and became the match when no real one existed."""
    from odsc_agentic_ai_summit_2025_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 5)], "k long, lts long"
    )
    right = spark.createDataFrame(
        [(1, None, 99), (1, 50, 7)], "k long, rts long, v long"
    )
    got = {
        (r["k"], r["lts"]): r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            value_cols=["v"],
        ).collect()
    }
    assert got[(1, 100)] == 7   # real predecessor at 50
    assert got[(1, 5)] is None  # no predecessor; NULL-ts row must not win


def test_interval_join_fractional_second_window(spark):
    """Fractional windows must round, not truncate: a right row at
    exactly lower/upper-bound distance belongs per the documented
    half-open [lo, hi) semantics."""
    import datetime as dt

    from odsc_agentic_ai_summit_2025_spark.operators.rangejoin import (
        interval_join,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    us = dt.timedelta(microseconds=1)
    left = spark.createDataFrame([(1, t0)], "k long, lts timestamp")
    right = spark.createDataFrame(
        [
            (1, t0 + 699_999 * us, "in"),        # 0.699999s: inside [0, 0.7)
            (1, t0 + 700_000 * us, "out"),       # exactly 0.7s: excluded
        ],
        "k long, rts timestamp, tag string",
    )
    got = sorted(
        r["tag"]
        for r in interval_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            lower_s=0.0, upper_s=0.7,
        ).collect()
    )
    assert got == ["in"]


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 40),  # doc ids MAY repeat across rows
            st.integers(1, 9),   # n_tokens
            st.sampled_from(["s0", "s1", "s2"]),
        ),
        min_size=1,
        max_size=16,
    ),
    budgets=st.fixed_dictionaries(
        {"s0": st.integers(0, 40), "s1": st.integers(0, 40)}
    ),
)
@settings(**SETTINGS)
def test_token_budget_sample_matches_reference(spark, docs, budgets):
    """token_budget_sample ≡ a plain-Python greedy scan in the same
    salted order, over random tiny corpora including DUPLICATE doc
    ids (the total-order tiebreaks must keep the cumsum a pure
    function of the input multiset); source s2 is deliberately
    missing from budgets (defaults to 0)."""
    import hashlib

    from odsc_agentic_ai_summit_2025_spark.cache import release
    from odsc_agentic_ai_summit_2025_spark.operators.curation import (
        token_budget_sample,
    )

    MOD, MULT = 1_000_000_007, 31

    def poly(s: str) -> int:
        acc = 0
        for c in s:
            acc = (acc * MULT + ord(c)) % MOD
        return acc

    rows = [(i, " ".join(["w"] * n), src) for i, n, src in docs]
    # reference greedy scan in the operator's total order:
    # (source, h, id, n_tokens, md5(text))
    ordered = sorted(
        ((src, poly(f"{i}:t"), i, n,
          hashlib.md5((" ".join(["w"] * n)).encode()).hexdigest())
         for i, n, src in docs),
    )
    expect = []
    run: dict[str, int] = {}
    for src, _h, i, n, _ch in ordered:
        run[src] = run.get(src, 0) + n
        expect.append((i, src, n, run[src], run[src] <= budgets.get(src, 0)))

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = token_budget_sample(df, "text", "doc_id", "source", budgets, salt="t")
    got = sorted(
        (r["doc_id"], r["source"], r["n_tokens"], r["cum_tokens"], r["admit"])
        for r in out.collect()
    )
    release(out)
    assert got == sorted(expect)


def _ref_bpe(word_counts: dict[str, int], n_merges: int, end: str = "</w>"):
    """Plain-Python reference BPE (Sennrich) with (count desc, pair
    lexicographic) tie-break."""
    segs = {w: tuple(w) + (end,) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple, int] = {}
        for w, seg in segs.items():
            for pair in zip(seg, seg[1:]):
                counts[pair] = counts.get(pair, 0) + word_counts[w]
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        for w, seg in segs.items():
            out, i = [], 0
            while i < len(seg):
                if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            segs[w] = tuple(out)
    return merges, segs


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_bpe_learn_merges_matches_reference(spark, texts, n_merges):
    """Distributed word-count + driver merge rounds ≡ a plain-Python
    BPE over the same word multiset, including the per-document
    segment lengths from bpe_segment_stats."""
    import re

    from odsc_agentic_ai_summit_2025_spark.functions.text import BPE_SPLIT_RE
    from odsc_agentic_ai_summit_2025_spark.operators.textops import (
        bpe_learn_merges,
        bpe_segment_stats,
    )

    rx = re.compile(BPE_SPLIT_RE)
    wc: dict[str, int] = {}
    per_doc_pieces = []
    for t in texts:
        pieces = [p.strip() for p in rx.findall(t.lower()) if p.strip()]
        per_doc_pieces.append(pieces)
        for p in pieces:
            wc[p] = wc.get(p, 0) + 1

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe_learn_merges(df, "text", n_merges)
    expect_merges, segs = _ref_bpe(wc, n_merges) if wc else ([], {})
    assert got == expect_merges

    stats = {
        r["doc_id"]: (r["n_pieces"], r["n_bpe_tokens"])
        for r in bpe_segment_stats(df, "text", "doc_id", got).collect()
    }
    for i, pieces in enumerate(per_doc_pieces):
        assert stats[i] == (
            len(pieces),
            sum(len(segs[p]) for p in pieces),
        )


@given(
    words=st.lists(
        st.text(alphabet="abcx'<>/", min_size=1, max_size=10),
        min_size=1, max_size=6,
    ),
    merges=st.lists(
        st.tuples(
            st.text(alphabet="abcx'", min_size=1, max_size=2),
            st.text(alphabet="abcx'", min_size=1, max_size=2),
        ),
        min_size=0, max_size=6,
    ),
)
@settings(**SETTINGS)
def test_bpe_fold_sql_matches_greedy_scan(words, merges):
    """The q97 oracle's nested list_reduce fold ≡ the Arrow kernel's
    single greedy left-to-right scan per rule, for arbitrary words
    and merge tables (including rules like (x, x) and symbols with
    SQL-quote characters)."""
    import duckdb

    from odsc_agentic_ai_summit_2025_spark.plans.textops import (
        bpe_seg_len_sql,
    )

    def scan_len(word: str) -> int:
        seg = list(word) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(seg):
                if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            seg = out
        return len(seg)

    con = duckdb.connect()
    vals = ", ".join("('" + w.replace("'", "''") + "')" for w in words)
    got = con.execute(
        f"SELECT w, {bpe_seg_len_sql(merges)} AS n FROM (VALUES {vals}) t(w)"
    ).fetchall()
    assert dict(got) == {w: scan_len(w) for w in words}


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.integers(0, 2**40), min_size=1, max_size=60
    ),
    q_e4=st.sampled_from([1, 2500, 5000, 9000, 9900, 10000]),
)
def test_hdr_quantiles_bracket_property(spark, vals, q_e4):
    """q109's sketch invariant over the input space: for ANY
    non-negative int64 multiset and ANY quantile, the reported bucket
    contains the exact rank-ceil(q·n) order statistic and respects
    the 2^-mantissa relative-width bound."""
    import math

    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.operators.sketches import (
        HDR_MANTISSA_BITS,
        hdr_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v long").withColumn(
        "g", F.lit("g")
    )
    (row,) = hdr_quantiles(df, "v", ["g"], [q_e4]).collect()
    exact = sorted(vals)[math.ceil(q_e4 * len(vals) / 10000) - 1]
    assert row["bucket_lo"] <= exact <= row["bucket_hi"]
    assert (
        row["bucket_hi"] - row["bucket_lo"]
        <= max(0, row["bucket_lo"] >> HDR_MANTISSA_BITS)
    )
    assert row["n_rows"] == len(vals)


# ---------------------------------------------------------------------------
# HybridRag's driver-side retrieval vs the Spark operators it replaces
# on the serving path: bm25_topk_indexed + knn_bruteforce + rrf_fuse
# are the reference, compared exactly (ids and order)
# ---------------------------------------------------------------------------

_RETRIEVAL_WORDS = [
    "alpha", "Beta,", "gamma", "delta.", "Epsilon", "zeta", "7", "x9",
]
_UNKNOWN_WORDS = ["unknownterm", "Qqq", "404"]


@st.composite
def _corpora(draw):
    """Small notes corpora with exact duplicates: every note is one of
    a few texts (possibly empty), under unique ids in random order."""
    texts = draw(st.lists(
        st.lists(st.sampled_from(_RETRIEVAL_WORDS), max_size=9).map(" ".join),
        min_size=1, max_size=5,
    ))
    picks = draw(st.lists(
        st.integers(0, len(texts) - 1), min_size=1, max_size=12
    ))
    ids = draw(st.lists(
        st.integers(0, 10_000), min_size=len(picks), max_size=len(picks),
        unique=True,
    ))
    return [(i, texts[p]) for i, p in zip(ids, picks)]


def _spark_retrieval(spark, notes_df, queries, top_k):
    """(bm25 top-20 ids, cosine top-20 ids, RRF top_k ids) per query,
    from the Spark operators."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark import cache
    from odsc_agentic_ai_summit_2025_spark.functions.embedder import (
        embed,
        embed_text,
    )
    from odsc_agentic_ai_summit_2025_spark.operators import fts, rrf
    from odsc_agentic_ai_summit_2025_spark.operators import similarity as sim

    vectors = embed(notes_df, "note", "vector")
    index = fts.build_fts_index(
        notes_df, "note", "record_id", tokenizer=fts.normalized_tokens
    )
    out = []
    for query in queries:
        bm = fts.bm25_topk_indexed(
            index, fts.normalize_query_terms(query), k=20
        ).withColumnRenamed("doc_id", "record_id")
        knn = sim.knn_bruteforce(
            vectors,
            spark.createDataFrame(
                [(0, embed_text(query))], "qid long, vector array<double>"
            ),
            "vector", "record_id", "qid", k=20, exclude_self=False,
        )
        vec = knn.select(F.col("n_id").alias("record_id"), "rank")
        fused = rrf.rrf_fuse([bm, vec], id_col="record_id", top_k=top_k)
        out.append(tuple(
            [r["record_id"] for r in frame.orderBy(rank).collect()]
            for frame, rank in ((bm, "rank"), (vec, "rank"),
                                (fused, "rrf_rank"))
        ))
        cache.release(knn)
    return out


def _driver_retrieval(index, queries, top_k):
    from odsc_agentic_ai_summit_2025_spark.operators import fts

    ids = index.ids.tolist()
    return [
        (
            [ids[p] for p in index.bm25_topk(fts.normalize_query_terms(q), 20)],
            [ids[p] for p in index.cosine_topk(q, 20)],
            [ids[p] for p in index.search(q, top_k)],
        )
        for q in queries
    ]


@settings(**SETTINGS)
@given(
    notes=_corpora(),
    query=st.one_of(
        st.just(""),
        st.lists(
            st.sampled_from(_RETRIEVAL_WORDS + _UNKNOWN_WORDS), max_size=6
        ).map(" ".join),
    ),
    top_k=st.integers(1, 6),
)
@example(notes=[(3, "alpha gamma"), (1, "alpha gamma"), (2, "zeta")],
         query="", top_k=2)
@example(notes=[(3, "alpha gamma"), (1, "alpha gamma"), (2, "zeta")],
         query="unknownterm Qqq", top_k=3)
@example(notes=[(5, "alpha Beta, gamma 7"), (2, "alpha Beta, gamma 7"),
                (9, "gamma 7 Beta, alpha"), (4, "")],
         query="alpha beta gamma 7 x9", top_k=4)
def test_driver_retrieval_matches_spark_operators(spark, notes, query, top_k):
    """The driver index's BM25 top-20, cosine top-20 and RRF top-k
    equal the Spark operators' over the same notes, ids and order:
    exact duplicates tie on both scores and break on id."""
    from odsc_agentic_ai_summit_2025_spark.llm.rag import NotesIndex
    from odsc_agentic_ai_summit_2025_spark.schemas import NOTES

    notes_df = spark.createDataFrame(notes, NOTES)
    assert _driver_retrieval(
        NotesIndex.build(notes_df), [query], top_k
    ) == _spark_retrieval(spark, notes_df, [query], top_k)


def test_driver_retrieval_matches_spark_operators_on_rag_notes(
    spark, rag_notes_df
):
    from odsc_agentic_ai_summit_2025_spark.llm.rag import NotesIndex
    from tests.conftest import RAG_NOTES

    queries = ["", "zzqx unknownterm", "Arla Fritsch", "Batz",
               "Massachusetts allergy penicillin", "influenza vaccine 2022"]
    queries += [" ".join(note.split()[:4]) for _, note in RAG_NOTES]
    # every note is in one branch's top-20, so top_k=5 is the whole
    # fused order and any smaller top_k is its prefix
    assert _driver_retrieval(
        NotesIndex.build(rag_notes_df), queries, 5
    ) == _spark_retrieval(spark, rag_notes_df, queries, 5)


@settings(**SETTINGS)
@given(xs=st.lists(
    st.floats(min_value=0.0, exclude_min=True, allow_infinity=False),
    min_size=1, max_size=50,
))
@example(xs=[1.0, 2.0, 5e-324, 2.2250738585072014e-308, 1.0000000000000002,
             0.9999999999999999, 1.7976931348623157e308])
def test_strict_log_matches_spark_log(spark, xs):
    """The driver's BM25 idf log is Spark's ``log`` bit for bit."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.operators.fts import strict_log

    got = spark.createDataFrame([(x,) for x in xs], "x double").select(
        F.log("x").alias("l")
    ).collect()
    assert [strict_log(x) for x in xs] == [r["l"] for r in got]
