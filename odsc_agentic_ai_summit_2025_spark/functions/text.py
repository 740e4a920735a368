"""Text-analysis column functions (training-data pipeline surface).

Everything here is a pure ``pyspark.sql.functions`` composition —
JVM-side, codegen-friendly, no Python UDFs — so the hot path stays in
whole-stage codegen at 100 TB. Each helper has an exact ANSI-SQL
twin used by the DuckDB oracles (see plans/textops.py).

The rolling character hash replaces the reference's reliance on
engine-internal hashing (LanceDB FTS tokenizer hashing is opaque);
an explicit polynomial hash is engine-portable and deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"\s+"

# Modulus chosen so acc*MULT + 255 never overflows int64 between mods.
HASH_MOD = 1_000_000_007
HASH_MULT = 31

# Stopword list used by quality scoring (the synthetic corpus is
# lowercase English-ish word soup; 'the'/'a' are its function words).
STOPWORDS = ("the", "a")


def tokens(col: Column) -> Column:
    """Whitespace tokenization (matches DuckDB string_split_regex)."""
    return F.split(col, TOKEN_RE)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def unique_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def stopword_count(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(sw, t)))


def char_poly_hash(col: Column, mod: int = HASH_MOD, mult: int = HASH_MULT) -> Column:
    """Rolling polynomial hash over characters, fold in int64.

    ``h = fold(chars, 0, (acc, c) -> (acc*mult + ascii(c)) % mod)``

    Deterministic and identical in any engine with a left fold —
    DuckDB twin: ``list_reduce(list_prepend(0, list_transform(
    string_split(x, ''), c -> ascii(c))), (a, b) -> (a*31 + b) %
    1000000007)``. Used as the token hash for MinHash/SimHash and as
    the document fingerprint (SURVEY "document fingerprinting").

    The step is a SQL lambda: the driver builds it with one JVM call,
    where a Python lambda costs about a hundred Py4J round trips.
    """
    return F.call_function(
        "aggregate",
        F.split(col, ""),
        F.lit(0).cast("long"),
        F.expr(char_poly_step_sql(mod, mult)),
    )


def char_poly_step_sql(mod: int = HASH_MOD, mult: int = HASH_MULT) -> str:
    """The fold step of :func:`char_poly_hash` as a Spark SQL lambda."""
    return f"(acc, c) -> (acc * {mult} + ascii(c)) % {mod}"


# BPE-ish pre-tokenizer (GPT-2 family shape, simplified to the
# lookahead-free core so the SAME pattern runs under Java regex
# (Spark) and RE2 (DuckDB), both of which use leftmost-first
# alternation): contraction suffixes, space-prefixed letter runs,
# space-prefixed digit runs, space-prefixed punctuation runs, and
# residual whitespace. Counting THESE pieces — not whitespace words —
# is what approximates an LLM tokenizer's token count, the budgeting
# signal a training-data pipeline actually needs.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+"


def bpe_pieces(col: Column) -> Column:
    """BPE-ish pre-token pieces of lowercased text (array<string>)."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_SPLIT_RE), 0)


def char_poly_hash_np(tokens, mod: int = HASH_MOD, mult: int = HASH_MULT):
    """Vectorized numpy twin of :func:`char_poly_hash` for Arrow
    kernels: 1-D array/sequence of ASCII token strings → int64 hash
    array, identical value-for-value to the column expression
    (property-tested).

    The trick: a numpy unicode array is fixed-width UCS4, so viewing
    it as uint32 IS the zero-padded (n_tokens, max_len) codepoint
    matrix — the rolling fold then runs as max_len vectorized passes
    over all tokens at once instead of one interpreted Catalyst
    lambda step per character (the dominant cost of the expression
    form on long documents, profiled r4: the q63 embed phase was
    4.7 s of 5.6 s total). Tokens here are ``[a-z0-9]+`` (ASCII), so
    codepoint == ``F.ascii`` for every character; padding codepoint 0
    cannot occur in a token and cleanly marks end-of-string.
    """
    import numpy as np

    u = np.asarray(tokens, dtype=str)
    if u.size == 0:
        return np.zeros(0, dtype=np.int64)
    width = u.dtype.itemsize // 4
    codes = u.view(np.uint32).reshape(u.size, width).astype(np.int64)
    h = np.zeros(u.size, dtype=np.int64)
    for j in range(width):
        c = codes[:, j]
        live = c != 0
        if not live.any():
            break
        h[live] = (h[live] * mult + c[live]) % mod
    return h


def char_poly_hash_arrow(arr, mod: int = HASH_MOD, mult: int = HASH_MULT):
    """:func:`char_poly_hash_np` evaluated straight over a pyarrow
    string array's byte buffers — tokens are ASCII (``[a-z0-9]+``), so
    byte == codepoint and the rolling fold can gather from the single
    contiguous data buffer per character position instead of first
    materializing one Python/numpy unicode object per token
    (guide §4.2: operations that only re-slice bytes should run on
    the buffers). Value-identical to ``char_poly_hash_np``
    (property-tested)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    bufs = arr.buffers()  # [validity, offsets(int32), data(uint8)]
    offs = np.frombuffer(
        bufs[1], dtype=np.int32, count=n + 1 + arr.offset
    )[arr.offset:].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8).astype(np.int64)
    starts, lengths = offs[:-1], offs[1:] - offs[:-1]
    h = np.zeros(n, dtype=np.int64)
    for j in range(int(lengths.max())):
        live = lengths > j
        if not live.any():
            break
        h[live] = (h[live] * mult + data[starts[live] + j]) % mod
    return h


def char_poly_hash_sql(expr: str, mod: int = HASH_MOD, mult: int = HASH_MULT) -> str:
    """The DuckDB-SQL twin of :func:`char_poly_hash`."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {mult} + b) % {mod})"
    )


# F8: number-word variants used by golden-answer matching (reference
# src/tests/test_graphrag.py:6-35 — an expected "1" also matches "one")
NUMBER_WORDS = {
    "1": "one", "2": "two", "3": "three", "4": "four", "5": "five",
    "6": "six", "7": "seven", "8": "eight", "9": "nine", "10": "ten",
}


def number_variants(s: str) -> list[str]:
    """All accepted renderings of an expected value (driver-side
    helper for assertion matching, not a data-plane op)."""
    out = [s]
    if s in NUMBER_WORDS:
        out.append(NUMBER_WORDS[s])
    inv = {v: k for k, v in NUMBER_WORDS.items()}
    if s.lower() in inv:
        out.append(inv[s.lower()])
    return out
