"""Reciprocal-rank fusion (SURVEY V5, J5).

The reference fuses LanceDB's vector and FTS rankings with
``RRFReranker()`` (src/rag.py:85-90): score = Σ 1/(k + rank_i) over
the rankings that contain the doc. Spark-first this is a full-outer
join of rank DataFrames + a sum — exactly the J5 "rank-fusion outer
join" the survey identifies.

Determinism: ranks are ints, so every RRF score is the same sum of
the same rationals in every engine; ties (symmetric rank pairs)
break on doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

RRF_K = 60


def rrf_term(rank, k: int = RRF_K):
    """One ranking's contribution to a doc's score, 1/(k + rank):
    a Spark Column in :func:`rrf_fuse`, an int in :func:`fuse_ranked`."""
    return 1.0 / (k + rank)


def fuse_ranked(rankings: list[list[int]], top_k: int) -> list[int]:
    """Driver twin of :func:`rrf_fuse` over ranked id lists (rank =
    position + 1): the same terms added in the same ranking order
    (an absent ranking's 0.0 is an exact no-op), the same (score desc,
    id asc) order. Returns the top_k fused ids, best first."""
    score: dict[int, float] = {}
    for ranking in rankings:
        for rank, doc in enumerate(ranking, 1):
            score[doc] = score.get(doc, 0.0) + rrf_term(rank)
    return sorted(score, key=lambda d: (-score[d], d))[:top_k]


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = RRF_K,
    top_k: int | None = None,
) -> DataFrame:
    """Fuse rank lists: full-outer join on id, Σ 1/(k+rank).

    Each input must have (id_col, rank_col). Missing membership
    contributes 0 — matching LanceDB's RRF semantics.
    """
    fused: DataFrame | None = None
    for i, r in enumerate(rankings):
        cur = r.select(
            F.col(id_col), F.col(rank_col).alias(f"rank_{i}")
        )
        fused = cur if fused is None else fused.join(cur, id_col, "full_outer")
    assert fused is not None, "need at least one ranking"

    score = None
    for i in range(len(rankings)):
        term = F.when(
            F.col(f"rank_{i}").isNotNull(), rrf_term(F.col(f"rank_{i}"), k)
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    out = fused.withColumn("rrf_score", score)
    if top_k is not None:
        # limit-then-rank: the candidate set is already small (union
        # of the input top-k lists) but keep the scale-safe shape —
        # TakeOrdered first, window over top_k rows only
        w = W.orderBy(F.desc("rrf_score"), F.asc(id_col))
        out = (
            out.orderBy(F.desc("rrf_score"), F.asc(id_col))
            .limit(top_k)
            .withColumn("rrf_rank", F.row_number().over(w))
        )
    return out
