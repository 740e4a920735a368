"""The 4-core benchmark: three workloads measured from outside the
library, end to end and per layer.

    python3 perfbench/run.py --workload rag_qa --seed 1 --seconds 16 --trace 0

Workloads (see perfbench/README.md for every metric and its reason):

- ``rag_qa``: a seeded FHIR corpus through ``build_rag_pipeline`` with
  the mock LLM client, then a closed loop of ``HybridRag.ask`` calls:
  golden questions verbatim plus skewed entity lookups.
- ``inventory``: a fixed set of ``plans.registry`` queries covering all
  nine plan modules, hash-collected in seeded order, over tables
  generated from a fixed seed.
- ``curation``: ``build_curation_pipeline`` over a seeded word-soup
  corpus with ``final`` written out, then deliveries admitted with
  ``neardup_admit_incremental`` and appended with
  ``neardup_index_add`` against a standing MinHash index.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A traced run also writes
``.perfbench/trace_<workload>_<seed>.json``: spans, self times,
status-store counters per job group and the workload's own layers.

Times are net of hypervisor steal (:func:`net_s`) and taken as the
fastest sample of each slot of a fixed cycle (:meth:`Run.best`).
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# pinned launch environment (also printed into every trace file);
# two task slots leave the rest of a 4-vCPU host to the JVM's own
# threads, the driver and the Python workers
SPARK_CORES = 2
DRIVER_MEM = "3g"
SETUP_REPEATS = 3

RAG_NOTES = 100
# golden questions asked in every cycle: distinct categories (Q4)
# and a year-range count (Q5), a one-table and a filter plan (the
# 3-hop Q8 costs as much as a whole cycle and does not fit)
RAG_GOLDEN = (3, 4)
RAG_CYCLE_S = 8.0  # nominal warm cycle lengths on the 4-vCPU host
RAG_WARMUP = 0  # untimed cycles after the set-up (its rounds warm up)

INVENTORY_DATA_SEED = 20261017
# two queries from each of the nine plan modules
INVENTORY_QUERIES = (
    "q86_dedup_admit", "q94_vocab_coverage",  # corpus
    "q73_source_mix", "q71_decontamination",  # curation
    "q37_simhash", "q36_minhash_lsh",  # dedup
    "q50_email_stats", "q48_sessionize",  # extended
    "q57_approx_distinct", "q59_salted_agg",  # extended2
    "q64_guardrail_trace", "q67_pii_trace",  # observability
    "q01_pricing_summary", "q09_multihop_revenue",  # relational
    "q41_fts_postings", "q39_knn_bruteforce",  # retrieval
    "q31_quality_score", "q97_bpe_segment",  # textops
)
INVENTORY_PASS_S = 12.0
INVENTORY_WARMUP_PASSES = 1
INVENTORY_WARMUP = (
    "q01_pricing_summary", "q08_join_agg", "q03_row_number", "q30_token_stats",
)

CURATION_DOCS = 500
CURATION_DELIVERY = 100
CURATION_DELIVERIES = 1  # admitted every cycle
CURATION_CYCLE_S = 8.0
CURATION_WARMUP = 1

# status-store counters reported per layer (per operation, mean over
# the timed operations; an operation's counts sum over its jobs)
SPARK_LAYERS = (
    ("spark.jobs", "jobs", "count"),
    ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.driver_only_s", "driver_only_s", "s"),
    ("spark.executor_run_s", "executor_run_s", "s"),
    ("spark.executor_cpu_s", "executor_cpu_s", "s"),
    ("spark.gc_s", "gc_s", "s"),
    ("spark.shuffle_read_mb", "shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("spark.spill_mb", "spill_mb", "MB"),
)
UNITS = {
    "setup_s": "s", "batch_s": "s", "op_s": "s", "cpu_s": "s",
    "op_tail_s": "s", "peak_rss_mb": "MB", "session_start_s": "s",
    "batch_wall_s": "s", "op_wall_s": "s", "host.steal_share": "ratio",
    "cache.persistent_rdds_after": "count",
    "llm.extract.calls_per_ask": "count", "llm.extract.calls_build": "count",
    **{name: unit for name, _key, unit in SPARK_LAYERS},
}


def launch_env() -> dict[str, str]:
    cores = min(len(os.sched_getaffinity(0)), SPARK_CORES)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # Python workers import the package (and this benchmark's
        # counting client) from the repo root
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # temp files of the JVM and of Python stay inside the checkout.
        # C1 only: with C2 the CPU per cycle kept falling for six
        # cycles while it compiled in the background, at a pace set
        # by the host's load; with C1 it is flat from the second
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")
        + " -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    }


def p_rank(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def net_s(wall: float, cpu: float, steal: float) -> float:
    """Wall seconds with hypervisor steal taken out: ``wall`` times the
    share of the CPU time the process tree wanted that it got
    (``cpu / (cpu + steal)``). On a host of its own steal is 0 and
    this is the wall time; on a shared host a neighbour's burst can
    withhold a vCPU for seconds and double the wall time of an
    operation whose own work did not change."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


def add(*samples: tuple[float, float, float]) -> tuple[float, float, float]:
    """(wall, cpu, steal) of operations run one after the other."""
    return tuple(sum(x) for x in zip(*samples))


class Run:
    """State shared by the workloads: session, probes, loop clock."""

    def __init__(self, args, spark, tree, session_start_s: float) -> None:
        from perfbench import probes

        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.tree = tree
        self.trace = bool(args.trace)
        self.rec = probes.Recorder(self.trace, probes.StatusStore(self.sc))
        self.host_steal_s = probes.host_steal_s
        self.session_start_s = session_start_s
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_counters: list[dict] = []
        # (wall, process-tree CPU, host steal) seconds of the last
        # operation, and every timed sample by slot
        self.last = (0.0, 0.0, 0.0)
        self.slots: dict[str, list[tuple[float, float, float]]] = {}
        self.phases: dict[str, float] = {}  # phase end, s since start
        self.settle_s = 0.0
        self.mark("session")
        self._gid = 0

    def settle(self) -> None:
        """Collect garbage in the JVM and in this process, untimed, so a
        timed operation does not pay for garbage the ones before it
        left (without it a delivery's CPU doubled in some cycles)."""
        t0 = time.perf_counter()
        self.sc._jvm.System.gc()
        gc.collect()
        self.settle_s += time.perf_counter() - t0

    def record(self, slot: str, sample: tuple[float, float, float]) -> None:
        self.slots.setdefault(slot, []).append(sample)

    def best(self, slots, what: str = "net") -> float:
        """Mean over ``slots`` of each slot's fastest sample, in
        ``net`` (:func:`net_s`), ``wall`` or ``cpu`` seconds. A slot is
        one position of a workload's fixed cycle (one golden question,
        one delivery, ...), sampled once per timed cycle. Other tenants
        of a shared host only ever add time, so the fastest sample is
        the steadiest estimate of a slot's own cost (``bench.py`` takes
        the minimum over interleaved passes for the same reason)."""
        pick = {"net": net_s, "wall": lambda w, c, s: w,
                "cpu": lambda w, c, s: c}[what]
        return statistics.fmean(
            min(pick(*x) for x in self.slots[k]) for k in slots)

    def mark(self, phase: str) -> None:
        self.phases[phase] = time.perf_counter() - T_START

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def op(self, name: str, fn, timed: bool = True):
        """Run ``fn`` as one operation in its own job group. Returns
        (seconds, result or None on exception); the operation's
        (wall, CPU, steal) seconds are left in ``last``. A ``timed``
        operation starts from a settled heap and feeds the per-layer
        counters."""
        if timed:
            self.settle()
        self._gid += 1
        gid = f"{self._gid:05d}-{name}"
        self.sc.setJobGroup(gid, name)
        cpu0, steal0 = self.tree.cpu_s(), self.host_steal_s()
        t0 = time.perf_counter()
        try:
            with self.rec.span(name, request=gid):
                out = fn()
        except Exception as e:  # a failed op stays in the workload
            out = e
        dt = time.perf_counter() - t0
        self.last = (dt, self.tree.cpu_s() - cpu0,
                     self.host_steal_s() - steal0)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.attempted += 1
        if timed:
            c = self.rec.request(gid, dt)
            if c is not None:
                self.op_counters.append(c)
        if isinstance(out, Exception):
            self.fail(f"{name}: {type(out).__name__}: {str(out)[:200]}")
            return dt, None
        return dt, out

    def cycles(self, one_cycle, nominal_s: float, warmup: int) -> int:
        """Run ``warmup`` untimed cycles, then ``--seconds / nominal_s``
        timed ones (at least one); ``one_cycle(i, timed)``.
        ``nominal_s`` is the workload's warm cycle length at the commit
        that defined this benchmark, so every commit does the same work
        and a run measures about ``--seconds`` there. A first cycle is
        cold (class loading, compiles, Python worker imports), so
        untimed cycles come first where the set-up has not run the
        same calls."""
        n = max(1, round(self.args.seconds / nominal_s))
        self.mark("setup")
        for i in range(warmup + n):
            if i == warmup:
                self.mark("warmup")
            one_cycle(i, i >= warmup)
        self.mark("timed")
        return n

    def per_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        n = max(len(self.op_counters), 1)
        for name, key, _unit in SPARK_LAYERS:
            out[name] = sum(c[key] for c in self.op_counters) / n
        out["cache.persistent_rdds_after"] = max(
            (c["persistent_rdds_after"] for c in self.op_counters), default=0)
        out["session_start_s"] = self.session_start_s
        # counted by rag_qa's counting client; no other workload asks
        out["llm.extract.calls_per_ask"] = 0.0
        out["llm.extract.calls_build"] = 0.0
        return out


# -- rag_qa ----------------------------------------------------------------


def _norm_row(row) -> tuple:
    return tuple("None" if v is None else str(v) for v in row)


def _duck_rows(con, sql: str):
    import re

    m = re.search(r"\s+LIMIT\s+(\d+)\s*$", sql, re.I)
    if m and not re.search(r"ORDER\s+BY", sql, re.I):
        # LIMIT without ORDER BY picks any rows: compare as a subset
        return "subset", int(m.group(1)), con.execute(sql[:m.start()]).fetchall()
    return "exact", None, con.execute(sql).fetchall()


def rag_qa(run: Run) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import fhir_gen, probes
    from odsc_agentic_ai_summit_2025_spark.cache import sweep_blocks
    from odsc_agentic_ai_summit_2025_spark.pipeline import build_rag_pipeline
    from odsc_agentic_ai_summit_2025_spark.plans.golden import GOLDEN_CASES

    spark, seed = run.spark, run.args.seed
    notes, gold = fhir_gen.generate(seed, RAG_NOTES)
    path = os.path.join(WORK, "rag_qa", "notes.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "record_id": pa.array([r for r, _ in notes], pa.int64()),
        "note": [n for _, n in notes],
    }), path)
    notes_df = spark.read.parquet(path)
    factory = probes.CountingClientFactory(run.sc)

    rng = random.Random(seed)
    names = fhir_gen.lookup_names(gold)
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(names))]
    rng.shuffle(names)  # which names are popular depends on the seed

    def lookup(name: str) -> str:
        return f"Which patient is named {name}?"

    asks: list[dict] = []
    builds: list[float] = []
    calls_build: list[int] = []
    state: dict = {}

    def build() -> None:
        # a fresh pipeline; the last one's cached blocks go first
        state.pop("pipe", None)
        sweep_blocks(spark)
        calls0 = factory.calls
        _, pipe = run.op("build_rag_pipeline", lambda: build_rag_pipeline(
            spark, notes_df, client_factory=factory), timed=False)
        if pipe is None:
            raise RuntimeError(run.failures[-1])
        calls_build.append(factory.calls - calls0)
        state["pipe"] = pipe

    def ask(question: str, kind: str, timed: bool) -> None:
        pipe = state["pipe"]
        calls0 = factory.calls
        n_spans = len(pipe.tracer.spans)
        dt, ans = run.op("ask", lambda: pipe.rag.ask(question), timed=timed)
        spans = pipe.tracer.spans[n_spans:]
        asks.append({
            "question": question, "kind": kind, "s": dt, "ans": ans,
            "calls": factory.calls - calls0, "timed": timed,
            "spans": {s.name: s.duration_ms / 1e3 for s in spans},
        })

    # set-up: SETUP_REPEATS rounds of a fresh build and its first
    # answer, a lookup of the most popular name; the first round is
    # cold and the min drops it. The last pipeline serves the loop.
    first_q = lookup(names[0])
    for _ in range(SETUP_REPEATS):
        run.settle()
        build()
        built = run.last
        builds.append(net_s(*built))
        ask(first_q, "lookup", timed=False)
        run.record("first_answer", add(built, run.last))

    def cycle(_n: int, timed: bool) -> None:
        # the golden questions and a skewed lookup asked twice, in
        # seeded order: every cycle repeats an entity, as an analyst
        # following up would, and popular names recur across cycles
        a = lookup(rng.choices(names, weights)[0])
        qs = [(f"Q{i + 1}", "golden", GOLDEN_CASES[i].question)
              for i in RAG_GOLDEN] + [(None, "lookup", a)] * 2
        rng.shuffle(qs)
        lookups = iter(("a", "a-again"))
        for slot, kind, q in qs:
            slot = slot or next(lookups)
            ask(q, kind, timed)
            if timed:
                run.record(slot, run.last)

    n_cycles = run.cycles(cycle, RAG_CYCLE_S, RAG_WARMUP)
    timed = [a for a in asks if a["timed"]]

    # -- checks (untimed) ---------------------------------------------
    import duckdb

    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        mask_emails_text,
    )

    from odsc_agentic_ai_summit_2025_spark.operators.graph import build_graph

    # the graph tables, rebuilt once from one materialized extraction
    # and exported to DuckDB
    ext = state["pipe"].extracted.localCheckpoint(eager=True)
    con = duckdb.connect()
    for name, df in build_graph(ext).tables().items():
        con.register(f"{name}_df", df.toPandas())
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_df")
    by_year = sum(1 for g in gold
                  if g["birthDate"] and 1990 <= int(g["birthDate"][:4]) <= 2000)
    planted = {
        3: lambda a: set(a.split("; ")) <= {"medication", "environment",
                                            "food", "other"},
        4: lambda a: a == str(by_year),
    }
    golden_q = {GOLDEN_CASES[i].question: i for i in RAG_GOLDEN}
    first_seen: dict[str, tuple] = {}
    for a in asks:
        ans = a["ans"]
        if ans is None:
            continue  # already counted as failed
        problems = []
        try:
            mode, limit, drows = _duck_rows(con, ans.sql)
            got = sorted(map(_norm_row, ans.graph_rows))
            want = sorted(map(_norm_row, drows))
            if mode == "exact" and got != want:
                problems.append("graph rows differ from DuckDB")
            if mode == "subset" and (
                len(got) != min(limit, len(want))
                or not set(got) <= set(want)
            ):
                problems.append("graph rows not a LIMIT subset of DuckDB")
        except Exception as e:
            problems.append(f"DuckDB: {e}")
        ctx = "; ".join(", ".join(str(v) for v in r) for r in ans.graph_rows)
        want_final = mask_emails_text(ctx) if ctx else ans.vector_answer
        if ans.final_answer != want_final:
            problems.append("final answer is not the synthesized graph answer")
        if len(ans.context_ids) != 2:
            problems.append("vector branch did not return top-2 context")
        gi = golden_q.get(a["question"])
        if gi is not None and not (ans.graph_rows
                                   and planted[gi](ans.final_answer)):
            problems.append(f"golden Q{gi + 1} answer {ans.final_answer!r}")
        key = (ans.final_answer, tuple(ans.context_ids))
        if first_seen.setdefault(a["question"], key) != key:
            problems.append("repeated question got a different answer")
        if problems:
            run.fail(f"ask {a['question']!r}: {'; '.join(problems)}")

    loop = [k for k in run.slots if k != "first_answer"]
    m = {
        "setup_s": statistics.median(builds),
        "batch_s": run.best(["first_answer"]),
        "op_s": run.best(loop),
        "batch_wall_s": run.best(["first_answer"], "wall"),
        "op_wall_s": run.best(loop, "wall"),
        "op_tail_s": max(a["s"] for a in timed),
        # CPU of a first answer and one cycle of the loop
        "cpu_s": run.best(run.slots, "cpu") * len(run.slots),
    }
    layers = run.per_layer()
    layers["llm.extract.calls_per_ask"] = (
        sum(a["calls"] for a in timed) / len(timed))
    layers["llm.extract.calls_build"] = statistics.median(calls_build)
    extra = {
        "asks": len(timed), "cycles": n_cycles,
        "golden_asks": sum(a["kind"] == "golden" for a in timed),
        "distinct_questions": len({a["question"] for a in timed}),
        "ask_s": [(a["kind"], round(a["s"], 3)) for a in asks],
    }
    if run.trace:
        spans = [a["spans"] for a in timed]
        branch = lambda k: sum(s.get(k, 0.0) for s in spans) / len(spans)
        build = {s.name: s.duration_ms / 1e3
                 for s in state["pipe"].tracer.spans
                 if s.parent is None and s.name != "ask"}
        extra.update({
            "llm.rag.graph_branch_s": branch("graph_branch"),
            "llm.rag.vector_branch_s": branch("vector_branch"),
            "llm.rag.driver_s": branch("ask") - branch("graph_branch")
            - branch("vector_branch"),
            "pipeline.extract_s": build.get("extract"),
            "pipeline.build_graph_s": build.get("build_graph"),
            "pipeline.build_rag_s": build.get("build_rag"),
        })
        from odsc_agentic_ai_summit_2025_spark.llm.eval import (
            field_accuracy,
            overall_accuracy,
        )
        from odsc_agentic_ai_summit_2025_spark.schemas import EXTRACTED_FHIR

        gold_df = spark.createDataFrame(gold, EXTRACTED_FHIR)
        extra["llm.extract.field_accuracy"] = overall_accuracy(
            field_accuracy(ext, gold_df))
        extra["per_ask"] = [
            {"question": a["question"], "kind": a["kind"], "s": a["s"],
             "llm_extract_calls": a["calls"]} for a in asks]
        # the library's own spans (HybridRag's SpanTracer), on the
        # recorder's clock
        extra["library_spans"] = [
            {"name": s.name, "parent": s.parent,
             "start_s": s.start_s - run.rec.t0,
             "end_s": s.start_s - run.rec.t0 + s.duration_ms / 1e3}
            for s in state["pipe"].tracer.spans]
    return {"metrics": m, "layers": layers, "extra": extra}


# -- inventory -------------------------------------------------------------


def _hash_collect(df) -> int:
    """bench.py's harness: hash every output column into one
    aggregated value, so no projection is pruned and one row returns."""
    from pyspark.sql import functions as F

    row = df.select(
        F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h")
    ).agg(F.expr("bit_xor(_h)").alias("h")).collect()[0]
    return row["h"]


def inventory_tables() -> str:
    from perfbench import tables_gen

    return tables_gen.write(
        INVENTORY_DATA_SEED, os.path.join(WORK, "inventory", "tables"))


def inventory(run: Run) -> dict:
    from odsc_agentic_ai_summit_2025_spark.cache import sweep_blocks
    from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries

    spark = run.spark
    with open(os.path.join(ROOT, "perfbench", "inventory_expected.json")) as f:
        expected = json.load(f)["digests"]
    data = inventory_tables()
    queries = all_queries()
    module = {n: q.spark.__module__.rsplit(".", 1)[-1]
              for n, q in queries.items()}

    def query(name: str, timed: bool = True) -> None:
        _, digest = run.op(
            name, lambda: _hash_collect(queries[name].spark(spark, data)),
            timed=timed)
        sample = run.last
        sweep_blocks(spark)
        if digest is not None and digest != expected[name]:
            run.fail(f"{name}: digest {digest} != expected {expected[name]}")
        if timed:
            run.record(name, sample)
        return sample

    # set-up: bench.py's untimed warm-up mix, repeated
    setups = [net_s(*add(*(query(n, timed=False) for n in INVENTORY_WARMUP)))
              for _ in range(SETUP_REPEATS)]

    rng = random.Random(run.args.seed)

    def one_pass(_n: int, timed: bool) -> None:
        order = list(INVENTORY_QUERIES)
        rng.shuffle(order)
        for name in order:
            query(name, timed)

    n_passes = run.cycles(one_pass, INVENTORY_PASS_S, INVENTORY_WARMUP_PASSES)
    fastest = {n: run.best([n]) for n in INVENTORY_QUERIES}
    per_q = list(fastest.values())
    m = {
        "setup_s": statistics.median(setups),
        "batch_s": sum(per_q),
        "op_s": statistics.median(per_q),
        "batch_wall_s": run.best(INVENTORY_QUERIES, "wall")
        * len(INVENTORY_QUERIES),
        "op_wall_s": statistics.median(
            run.best([n], "wall") for n in INVENTORY_QUERIES),
        "op_tail_s": p_rank(per_q, 0.9),
        # CPU of one pass
        "cpu_s": run.best(INVENTORY_QUERIES, "cpu") * len(INVENTORY_QUERIES),
    }
    layers = run.per_layer()
    extra = {"passes": n_passes, "query_s": fastest}
    for n, v in fastest.items():
        key = f"plans.{module[n]}_s"
        extra[key] = extra.get(key, 0.0) + v
    return {"metrics": m, "layers": layers, "extra": extra}


# -- curation --------------------------------------------------------------


def _write_docs(path: str, ids, texts) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts,
        "source": [str(i % 5) for i in ids],
    }), path, row_group_size=max(len(ids) // 4, 1))


def curation(run: Run) -> dict:
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from perfbench import corpus_gen
    from odsc_agentic_ai_summit_2025_spark.operators import dedup as dd
    from odsc_agentic_ai_summit_2025_spark.operators.index_io import (
        neardup_index_add,
    )
    from odsc_agentic_ai_summit_2025_spark.pipeline import (
        build_curation_pipeline,
    )

    spark, seed = run.spark, run.args.seed
    base = os.path.join(WORK, "curation")
    ids, texts, planted = corpus_gen.corpus(seed, CURATION_DOCS)
    _write_docs(os.path.join(base, "docs.parquet"), ids, texts)
    deliveries = []
    for k in range(CURATION_DELIVERIES):
        d_ids, d_texts, d_planted = corpus_gen.delivery(
            seed * 31 + k, CURATION_DOCS + k * CURATION_DELIVERY,
            CURATION_DELIVERY, texts)
        p = os.path.join(base, f"delivery{k}.parquet")
        _write_docs(p, d_ids, d_texts)
        deliveries.append((p, d_ids, d_planted))
    bench_path = os.path.join(base, "benchmark.parquet")
    pq.write_table(pa.table({"text": corpus_gen.benchmark(seed)}), bench_path)
    docs = spark.read.parquet(os.path.join(base, "docs.parquet"))
    bench = spark.read.parquet(bench_path)

    # set-up: the standing MinHash index over the corpus, materialized
    # the way a production gate holds it (eager checkpoints)
    def build_index():
        sigs = dd.minhash_signatures(docs, "text", "doc_id").localCheckpoint(
            eager=True)
        idx = dd.build_neardup_index(docs, "text", "doc_id", sigs=sigs)
        idx.bands = idx.bands.localCheckpoint(eager=True)
        return idx

    setups, index = [], None
    for _ in range(SETUP_REPEATS):
        index = None
        run.settle()
        _, index = run.op("neardup_index_build", build_index, timed=False)
        if index is None:
            raise RuntimeError(run.failures[-1])
        setups.append(net_s(*run.last))

    from odsc_agentic_ai_summit_2025_spark.cache import sweep_blocks

    # the standing index survives every inter-operation sweep
    keep = set(run.sc._jsc.getPersistentRDDs().keySet())
    final_dir = os.path.join(base, "final")
    con = duckdb.connect()
    build_t, final_t, admit_t, extend_t = [], [], [], []
    results: dict = {"digests": [], "admits": []}
    counts: dict[str, int] = {}
    admitted_ids: list[int] = []

    def batch():
        t0 = time.perf_counter()
        with run.rec.span("build_curation_pipeline"):
            cp = build_curation_pipeline(docs, bench)
        t1 = time.perf_counter()
        with run.rec.span("write_final"):
            cp.final.write.mode("overwrite").parquet(final_dir)
        build_t.append(t1 - t0)
        final_t.append(time.perf_counter() - t1)
        return cp

    def admit(k: int):
        new = spark.read.parquet(deliveries[k][0])
        t0 = time.perf_counter()
        with run.rec.span("neardup_admit_incremental"):
            verdict = dd.neardup_admit_incremental(
                index.sigs, new, "text", "doc_id",
                existing_bands=index.bands,
            ).select("doc_id", "admitted", "reason").localCheckpoint(
                eager=True)
        t1 = time.perf_counter()
        admitted = new.join(verdict.filter(F.col("admitted")).select(
            "doc_id"), "doc_id")
        with run.rec.span("neardup_index_add"):
            n_delta = neardup_index_add(
                index, admitted, "text").delta_bands.count()
        admit_t.append(t1 - t0)
        extend_t.append(time.perf_counter() - t1)
        return verdict, n_delta

    def cycle(n: int, timed: bool) -> None:
        _, cp = run.op("curation_batch", batch, timed=timed)
        if timed:
            run.record("batch", run.last)
        if cp is not None and n == 0:
            # per-stage survivor counts, once, outside the timing
            counts.update(
                admitted=cp.admitted.count(),
                exact_unique=cp.exact_unique.count(),
                neardup_kept=cp.neardup_kept.count(),
            )
            admitted_ids.extend(
                r["doc_id"] for r in cp.admitted.select("doc_id").collect())
        cp = None
        sweep_blocks(spark, keep)
        try:
            results["digests"].append(con.execute(
                "SELECT count(*), bit_xor(hash(doc_id, text, split)) FROM "
                f"read_parquet('{final_dir}/*.parquet')").fetchone())
        except Exception as e:
            run.fail(f"final digest: {e}")
        for k in range(len(deliveries)):
            _, out = run.op(f"delivery{k}", lambda: admit(k), timed=timed)
            if timed:
                run.record(f"delivery{k}", run.last)
            if out is not None:
                out = (out[0].collect(), out[1])
            results["admits"].append((k, out))
            sweep_blocks(spark, keep)

    n_cycles = run.cycles(cycle, CURATION_CYCLE_S, CURATION_WARMUP)
    n_ops = n_cycles * CURATION_DELIVERIES
    delivery = [f"delivery{k}" for k in range(CURATION_DELIVERIES)]

    # -- checks (untimed) ---------------------------------------------
    if len(set(results["digests"])) > 1:
        run.fail(f"final digest differs between cycles: {results['digests']}")
    con.register("docs_df", docs.toPandas())
    con.register("adm", pd.DataFrame({"doc_id": admitted_ids}))
    distinct_admitted = con.execute(
        "SELECT count(DISTINCT text) FROM docs_df JOIN adm USING (doc_id)"
    ).fetchone()[0]
    if results["digests"]:
        counts["final"] = results["digests"][0][0]
    checks = {
        "stage counts recorded": len(counts) == 4,
        "planted contamination rejected":
            not set(planted["contaminated"]) & set(admitted_ids),
        "exact_unique = distinct admitted texts":
            counts.get("exact_unique") == distinct_admitted,
        "near-dup stage drops planted near duplicates":
            counts.get("neardup_kept", 0) < counts.get("exact_unique", 0),
        "stage counts are monotone":
            len(counts) == 4 and CURATION_DOCS >= counts["admitted"]
            >= counts["exact_unique"] >= counts["neardup_kept"]
            >= counts["final"] > 0,
    }
    for k, out in results["admits"]:
        if out is None:
            continue
        rows, n_delta = out
        _p, d_ids, d_pl = deliveries[k]
        rejected = {r["doc_id"] for r in rows if not r["admitted"]}
        near, dups = set(d_pl["near_corpus"]), set(d_pl["dup_in_batch"])
        # exact repeats share every signature and must all go; a
        # one-token near duplicate is only a probable LSH candidate
        # (4 bands of 4 hashes), so its recall is checked, not pinned
        if (len(rows) != len(d_ids) or not dups <= rejected
                or not rejected <= near | dups
                or len(rejected & near) < 0.9 * len(near)):
            run.fail(f"delivery{k}: rejected {len(rejected)} ids, planted "
                     f"{len(near)} near-corpus and {len(dups)} in-batch "
                     f"duplicates ({len(rejected & near)} near caught)")
        if n_delta != (len(rows) - len(rejected)) * dd.N_BANDS:
            run.fail(f"delivery{k}: index extended by {n_delta} band rows")
    for what, ok in checks.items():
        if not ok:
            run.fail(f"curation check failed: {what} ({counts})")

    m = {
        "setup_s": statistics.median(setups),
        "batch_s": run.best(["batch"]),
        "op_s": run.best(delivery),
        "batch_wall_s": run.best(["batch"], "wall"),
        "op_wall_s": run.best(delivery, "wall"),
        "op_tail_s": max(x[0] for k in delivery for x in run.slots[k]),
        # CPU of one cycle: the batch and every delivery
        "cpu_s": run.best(run.slots, "cpu") * len(run.slots),
    }
    layers = run.per_layer()
    extra = {
        "cycles": n_cycles,
        "stage_counts": counts,
        "curation_docs_per_s": CURATION_DOCS / m["batch_s"],
        "admit_docs_per_s": CURATION_DELIVERY / m["op_s"],
        # medians over the timed cycles (the lists hold warm-up too)
        "pipeline.curation_build_s": statistics.median(build_t[-n_cycles:]),
        "pipeline.curation_final_s": statistics.median(final_t[-n_cycles:]),
        "operators.dedup.admit_s": statistics.median(admit_t[-n_ops:]),
        "operators.index_io.extend_s": statistics.median(extend_t[-n_ops:]),
    }
    return {"metrics": m, "layers": layers, "extra": extra}


WORKLOADS = {"rag_qa": rag_qa, "inventory": inventory, "curation": curation}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env = launch_env()
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    sys.path.insert(0, ROOT)

    from perfbench import probes
    from odsc_agentic_ai_summit_2025_spark.session import get_spark

    tree = probes.ProcTree().start()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    try:
        run = Run(args, spark, tree, session_start_s)
        out = WORKLOADS[args.workload](run)
        run.mark("checks")
    finally:
        _stop_spark(spark)
        tree.stop()
    metrics = dict(out["metrics"])
    layers = out["layers"]
    layers["peak_rss_mb"] = tree.peak_rss / 2**20
    # a tail over the few operations a run affords is one sample; raw
    # wall times carry the host's steal, and single runs on a busy host
    # read up to twice the quiet CPU time: per layer, without a bound
    for k in ("op_tail_s", "batch_wall_s", "op_wall_s", "cpu_s"):
        layers[k] = metrics.pop(k)
    # the share of the CPU time the timed operations wanted that the
    # hypervisor withheld: how much net_s took out
    samples = [x for v in run.slots.values() for x in v]
    layers["host.steal_share"] = sum(x[2] for x in samples) / max(
        sum(x[1] + x[2] for x in samples), 1e-9)
    shown = metrics if not args.trace else layers
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "launch_env": env,
        "wall_s": time.perf_counter() - T_START,
        "phases_s": run.phases,
        "settle_s": run.settle_s,
        # every timed sample: (wall, process-tree CPU, host steal) s
        "samples": run.slots,
        "failures": run.failures,
        "end_to_end": metrics,
        "peak_rss_mb": layers["peak_rss_mb"],
        **{k: layers[k] for k in ("op_tail_s", "batch_wall_s", "op_wall_s",
                                  "cpu_s", "host.steal_share")},
        "layers": {**(layers if args.trace else {}), **{
            k: v for k, v in out["extra"].items()
            if k not in ("per_ask", "library_spans")}},
    }
    if args.trace:
        path = os.path.join(WORK, f"trace_{args.workload}_{args.seed}.json")
        run.rec.write(path, {**summary, **{
            k: out["extra"][k] for k in ("per_ask", "library_spans")
            if k in out["extra"]}})
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
