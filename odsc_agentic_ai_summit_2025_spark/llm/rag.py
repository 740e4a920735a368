"""Hybrid Graph-RAG query path, end-to-end (SURVEY §3.1; reference
run_hybrid_rag, src/rag.py:120-158).

Driver-side orchestration around Spark-built artifacts:

1. input guardrail (mask emails in the question)        rag_obs_eval.py:268-288
2. schema introspection → XML                           utils.py:37-105
3. LLM schema pruning                                   rag.py:29-39
4. LLM entity-keyword extraction                        rag.py:114-127
5a. graph branch: text2sql → spark.sql over the views   rag.py:48-75
5b. vector branch: hybrid FTS+vector search, RRF top-k  rag.py:83-96
6. synthesis (graph wins on counts)                     rag.py:147-150
7. output guardrail                                     rag_obs_eval.py:357-379

Steps 2-4/6 are one LLM round-trip each (driver-side, injectable
client). 5a is a Spark job over the graph views. 5b is served on the
driver, as PAPER §0 splits the work: the batch half (embedding, FTS
postings) runs on Spark once per :class:`HybridRag`, in one job whose
collect becomes a :class:`NotesIndex`, and every question's BM25
top-20, cosine top-20 and RRF run over that snapshot in numpy, with no
Spark job and no broadcast. The snapshot evaluates the Spark
operators' own kernels (``fts.bm25_weight``, ``sim.cosine_topk``,
``rrf.rrf_term``) in the same order, so it ranks exactly like
``bm25_topk_indexed`` + ``knn_bruteforce`` + ``rrf_fuse``, which stay
the batch and at-scale path (plans/retrieval.py) and the test
reference. As in the reference (concurrent asyncio tasks), 5a and 5b
overlap: the vector branch runs on a ``pyspark.InheritableThread``
while the graph branch runs on the calling thread, because with a real
client its ``answer`` call takes seconds. They share only read-only
artifacts and the client (whose usage collector is locked), so the
overlap changes latency, not answers. The worker inherits the
caller's Spark local properties, so every job of an ask carries the
caller's job group, and its spans nest under ``ask``.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..functions import arrowkit as ak
from ..functions import guardrails
from ..functions.embedder import DEFAULT_DIM, embed, embed_text
from ..functions.schema_xml import fhir_graph_schema_xml
from ..operators import fts, rrf
from ..operators import similarity as sim
from ..operators.graph import FrontierExplosionError, variable_length_paths
from .client import LLMClient, MockLLMClient


@dataclass
class HybridRagAnswer:
    question: str
    masked_question: str
    guardrail_action: str
    pruned_schema: str
    entities: list[dict[str, str]]
    sql: str
    graph_answer: str
    vector_answer: str
    final_answer: str
    graph_rows: list[tuple] = field(default_factory=list)
    context_ids: list[int] = field(default_factory=list)


@dataclass(frozen=True)
class NotesIndex:
    """Driver-held snapshot of the Spark-built retrieval index over
    the notes: the embedding matrix and the FTS postings, in record id
    order, from one Spark job (:meth:`build`). Serves hybrid top-k
    queries (:meth:`search`) in numpy with no Spark job."""

    ids: np.ndarray  # record ids, ascending; a doc's position is its row
    notes: list[str]  # note text by position
    matrix: np.ndarray  # (docs, dim) unit rows (sim.unit_rows)
    vocab: dict[str, int]  # term -> postings slot
    offsets: np.ndarray  # slot j's postings are [offsets[j], offsets[j+1])
    post_doc: np.ndarray  # doc positions, ascending within a slot
    post_tf: np.ndarray  # term frequency of each posting
    dl: np.ndarray  # doc lengths in tokens, by position
    avgdl: float
    dim: int

    @classmethod
    def build(cls, notes: DataFrame, dim: int = DEFAULT_DIM) -> NotesIndex:
        """One Spark job: ``embed`` and ``fts.normalized_tokens`` over
        notes[record_id, note], collected. N and avgdl follow
        ``fts.build_fts_index`` (integer total / count)."""
        t = (
            embed(notes.select("record_id", "note"), "note", "vector", dim)
            .select(
                "record_id", "note", "vector",
                fts.normalized_tokens(F.col("note")).alias("terms"),
            )
            .toArrow()
            .sort_by("record_id")
        )
        n = t.num_rows
        if n == 0:
            raise ValueError("cannot build an FTS index over an empty corpus")
        flat, dl = ak.flat_with_lengths(t.column("terms"))
        enc = flat.dictionary_encode()
        # one posting per distinct (term, doc): sorted by term slot,
        # then doc position
        key, tf = np.unique(
            enc.indices.to_numpy().astype(np.int64) * n
            + np.repeat(np.arange(n, dtype=np.int64), dl),
            return_counts=True,
        )
        terms = enc.dictionary.to_pylist()
        return cls(
            ids=ak.i64(t.column("record_id")),
            notes=t.column("note").to_pylist(),
            matrix=sim.unit_rows(ak.fixed_matrix(t.column("vector"))),
            vocab={term: j for j, term in enumerate(terms)},
            offsets=np.searchsorted(key // n, np.arange(len(terms) + 1)),
            post_doc=key % n,
            post_tf=tf,
            dl=dl,
            avgdl=int(dl.sum()) / n,
            dim=dim,
        )

    def bm25_topk(self, terms: list[str], k: int) -> np.ndarray:
        """Positions of the top-k docs by BM25, as
        ``fts.bm25_topk_indexed`` ranks them: a doc's term weights
        summed in term order, then (score desc, id asc)."""
        n = len(self.ids)
        score = np.zeros(n)
        hit = np.zeros(n, dtype=bool)
        for term, qtf in sorted(Counter(terms).items()):
            j = self.vocab.get(term)
            if j is None:
                continue
            lo, hi = self.offsets[j], self.offsets[j + 1]
            pos = self.post_doc[lo:hi]
            score[pos] += fts.bm25_weight(
                self.post_tf[lo:hi], int(hi - lo), self.dl[pos], qtf,
                float(n), self.avgdl, fts.strict_log,
            )
            hit[pos] = True
        cand = np.flatnonzero(hit)
        return cand[np.lexsort((cand, -score[cand]))[:k]]

    def cosine_topk(self, text: str, k: int) -> np.ndarray:
        """Positions of the top-k docs by cosine to ``text``'s
        embedding, as ``knn_bruteforce`` ranks them."""
        query = sim.unit_rows(np.asarray([embed_text(text, self.dim)]))
        _, top, _ = sim.cosine_topk(
            np.arange(len(self.ids)), self.matrix, np.zeros(1, np.int64),
            query, k, exclude_self=False,
        )
        return top

    def search(self, text: str, top_k: int) -> list[int]:
        """Positions of the RRF top_k over BM25 top-20 and cosine
        top-20 (the reference's hybrid search, rag.py:83-96).
        Positions ascend with record ids, so every position tie-break
        is the id tie-break of the Spark operators."""
        return rrf.fuse_ranked(
            [
                self.bm25_topk(fts.normalize_query_terms(text), 20).tolist(),
                self.cosine_topk(text, 20).tolist(),
            ],
            top_k,
        )


class HybridRag:
    """Holds the precomputed artifacts (graph views + the
    :class:`NotesIndex` snapshot) and answers questions through the
    7-step path. Retrieval is served on the driver over the
    Spark-built snapshot (PAPER §0), so an instance holds no executor
    blocks."""

    def __init__(
        self,
        spark: SparkSession,
        graph,
        notes: DataFrame,
        client: LLMClient | None = None,
        top_k: int = 2,  # reference default, rag.py:80
        dim: int = DEFAULT_DIM,
        collector=None,  # metering.UsageCollector → per-call metrics
        tracer=None,  # metering.SpanTracer → per-step spans
        trail_guard_factor: int = 100,  # max_frontier_rows = factor × |E|
    ) -> None:
        self.spark = spark
        self.graph = graph
        self.client = client or MockLLMClient()
        self.guardrail_traces: list = []
        #: FrontierExplosionError messages from refused star patterns
        self.graph_refusals: list[str] = []
        self.trail_guard_factor = trail_guard_factor
        # name -> (trails frame, max_hops it was expanded to): the
        # memo is valid only for the SAME hop depth — a caller asking
        # for a different max_hops must not be served the stale view
        self._trail_views: dict[str, tuple[DataFrame, int]] = {}
        if collector is not None:
            from .metering import MeteredClient

            self.client = MeteredClient(self.client, collector)
        self.collector = collector
        if tracer is None:
            from .metering import SpanTracer

            tracer = SpanTracer()
        self.tracer = tracer
        self.top_k = top_k
        self.dim = dim
        self.schema_xml = fhir_graph_schema_xml(graph)
        graph.register(spark)
        # S8: embed-on-insert as an explicit column op. The embedding
        # and the FTS index are built once (generate_note_embeddings.py:49)
        # in one Spark job and held on the driver. Index and query share
        # ONE normalization (lowercase alnum runs) — a raw whitespace
        # index is case/punctuation-sensitive, so lowercased query terms
        # would miss capitalized entity terms ('Rosenbaum') and hybrid
        # retrieval silently degrades to vector-only.
        self.index = NotesIndex.build(notes, dim)

    def release(self) -> None:
        """Drop the memoized trails views. The retrieval snapshot is
        driver memory and holds no executor blocks."""
        cache.release(*(trails for trails, _ in self._trail_views.values()))
        self._trail_views.clear()

    # -- graph star patterns (Cypher `-[*1..4]-`, rag.py graph branch) -----
    def _materialize_trail_views(self, sql: str, max_hops: int = 4) -> None:
        """The text2sql surface for Cypher variable-length patterns:
        generated SQL may reference ``<edge_table>_trails`` views
        (columns start, end, hops — the reference executes ``*1..N``
        natively in Kuzu, src/rag.py:56). Each referenced view is
        materialized on demand via ``variable_length_paths`` with the
        hub guard ON — ``max_frontier_rows`` defaults to 100× the
        edge count — so a generated star pattern aimed at a
        power-law/hub-heavy graph refuses in seconds with
        :class:`FrontierExplosionError` (recorded in
        ``graph_refusals`` by ``ask``) instead of launching an
        effectively unbounded trail-expansion job.

        Views are memoized per edge table: the graph is immutable per
        :class:`HybridRag` instance, so the first question that
        mentions a trails view pays the guarded expansion (plus the
        eager edge count) and every later one reuses it. Nothing is
        released or re-registered until a NEW frame exists, so a
        guard refusal mid-build leaves no stale view behind."""
        tables = self.graph.tables()
        for name in sorted({
            m.group(1)
            for m in re.finditer(r"\b(\w+)_trails\b", sql)
        }):
            memo = self._trail_views.get(name)
            if memo is not None and memo[1] == max_hops:
                continue
            edges = tables.get(name)
            if edges is None or not {"src", "dst"} <= set(edges.columns):
                continue
            n_edges = edges.count()
            trails = variable_length_paths(
                edges, "src", "dst", 1, max_hops,
                undirected=True,
                max_frontier_rows=max(
                    1_000, self.trail_guard_factor * n_edges
                ),
            )
            # replace-only-after-success: the new frame exists before
            # the old one is released or the view re-registered, so a
            # guard refusal above leaves the prior state intact
            trails.createOrReplaceTempView(f"{name}_trails")
            if memo is not None:
                cache.release(memo[0])
            self._trail_views[name] = (trails, max_hops)

    def _graph_branch(
        self, q: str, pruned: str, entities: list[dict[str, str]]
    ) -> tuple[str, list[tuple], str]:
        """5a: generated SQL over the registered views → (sql, rows,
        graph answer)."""
        with self.tracer.span("graph_branch"):
            sql = self.client.text2sql(q, pruned, entities)
            graph_rows: list[tuple] = []
            try:
                self._materialize_trail_views(sql)
                graph_rows = [
                    tuple(r) for r in self.spark.sql(sql).collect()
                ]
            except FrontierExplosionError as e:
                # hub-guard refusal: the generated star pattern would
                # explode on this graph — fail fast with the clear
                # message, keep serving the vector branch (graph side
                # degrades like bad SQL)
                self.graph_refusals.append(str(e))
                return sql, graph_rows, ""
            except Exception:
                # bad generated SQL ≡ reference's Q10 failure mode.
                # ONLY the SQL execution is guarded: a client failure
                # in answer() below is a transport error that must
                # surface, not be misclassified as bad SQL and silently
                # discard correct graph rows.
                return sql, graph_rows, ""
            graph_answer = self.client.answer(
                q,
                "; ".join(
                    ", ".join(str(v) for v in row) for row in graph_rows
                ),
            )
        return sql, graph_rows, graph_answer

    def _vector_branch(
        self, q: str, entities: list[dict[str, str]]
    ) -> tuple[list[int], str]:
        """5b (rag.py:83-96): hybrid top-k context → (context ids,
        vector answer)."""
        with self.tracer.span("vector_branch"):
            hits = self.index.search(
                " ".join(e["value"] for e in entities), self.top_k
            )
            vec_context = "\n\n".join(self.index.notes[p] for p in hits)
            return (
                [int(self.index.ids[p]) for p in hits],
                self.client.answer(q, vec_context),
            )

    def ask(self, question: str) -> HybridRagAnswer:
        with self.tracer.span("ask"):
            # 1. input guardrail (traced per rule —
            # enhanced_guardrail_integration.py:53-147)
            with self.tracer.span("input_guardrail"):
                gr, traces = guardrails.validate_text_traced(
                    question, validation_type="input"
                )
                self.guardrail_traces.extend(traces)
            q = gr.masked_text

            # 2-4. prune schema, extract entities (one LLM call each)
            with self.tracer.span("prune_schema"):
                pruned = self.client.prune_schema(self.schema_xml, q)
            with self.tracer.span("extract_entities"):
                entities = self.client.extract_entity_keywords(q, pruned)

            # 5a ‖ 5b: the vector branch on a worker thread, the graph
            # branch here. The worker is always joined; its exception
            # (if any) is re-raised here as is.
            vector: dict = {}

            def vector_branch() -> None:
                try:
                    vector["out"] = self._vector_branch(q, entities)
                except BaseException as e:  # re-raised by the caller
                    vector["err"] = e

            worker = InheritableThread(target=self.tracer.bind(vector_branch))
            worker.start()
            try:
                sql, graph_rows, graph_answer = self._graph_branch(
                    q, pruned, entities
                )
            finally:
                worker.join()
            if "err" in vector:
                raise vector["err"]
            context_ids, vector_answer = vector["out"]

            # 6. synthesis + 7. output guardrail (traced)
            with self.tracer.span("synthesize"):
                final = self.client.synthesize(
                    q, vector_answer, graph_answer
                )
            with self.tracer.span("output_guardrail"):
                _, out_traces = guardrails.validate_text_traced(
                    final, validation_type="output"
                )
                self.guardrail_traces.extend(out_traces)
                final = guardrails.mask_emails_text(final)

        return HybridRagAnswer(
            question=question,
            masked_question=q,
            guardrail_action=gr.action,
            pruned_schema=pruned,
            entities=entities,
            sql=sql,
            graph_answer=graph_answer,
            vector_answer=vector_answer,
            final_answer=final,
            graph_rows=graph_rows,
            context_ids=context_ids,
        )
