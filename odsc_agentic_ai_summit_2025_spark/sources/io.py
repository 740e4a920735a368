"""Sources & sinks (SURVEY §2.1, S1-S9).

Reference behaviors re-expressed Spark-first:

- S1 parquet scan   (create_dataset.py:7)        → spark.read.parquet
- S2 JSON scan      (src/build_graph.py:383)     → multiLine JSON + explicit
                    schema (no inference pass — matters at 100 TB)
- S3 JSON sink      (src/baml_extract.py:81)     → df.write.json
- S4 multi-file concat + sort (src/concatenate_json.py:28-72)
                                                 → glob read + orderBy
- S5 deterministic row index (create_dataset.py:8-9)
                                                 → row_number over explicit
                    ordering; NOT monotonically_increasing_id (which is
                    partition-dependent and non-reproducible)
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA


def _events_ts_is_nanos(path: str) -> bool:
    """True iff the events file's ``ts`` column is TIMESTAMP(NANOS).

    Footer-only pyarrow read (no row groups touched); glob-safe for a
    directory of parts (checks the first file — one writer, one unit).
    Defaults False on any inspection failure so the normal Spark
    timestamp path handles it (and fails loudly if truly exotic).
    """
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                return False
            target = parts[0]
        t = pq.read_schema(target).field("ts").type
        return getattr(t, "unit", None) == "ns"
    except Exception:
        return False


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table with its declared schema.

    Explicit schema means the parquet footer is still consulted for
    column pruning, but logical types are pinned — a 100 TB scan never
    pays inference and drift fails loudly.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across driver data generations, so the unit is
    DETECTED from the parquet footer (a driver-side metadata read —
    no data scan) rather than assumed. NANOS is the one unit Spark
    cannot read as a timestamp: it comes in as a raw long
    (``spark.sql.legacy.parquet.nanosAsLong``) and is converted
    ns → µs with integer arithmetic (no double round-trip, which
    would lose precision at 1e18 ns magnitudes).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _events_ts_is_nanos(path):
        # Session-scoped by necessity: the conf is consulted when the
        # LAZY scan executes, so save/restore around this call would
        # break the returned frame's later actions. The blast radius
        # is bounded by the engine convention that every read goes
        # through an explicit schema (a nanos column elsewhere still
        # fails its declared type); an out-of-convention schemaless
        # read of another NANOS table after this call would see longs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.LongType()),  # ns since epoch
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        return (
            spark.read.schema(raw)
            .parquet(path)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    schema = TESTDATA.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the frame's optimized plan, read
    on the driver. No job runs, but the planning is extra: the frames
    a caller derives from ``df`` analyse and optimize their own plans
    again. None when the estimate is unavailable or absurd (joins
    without stats default to child-size products).

    A ``localCheckpoint`` carries the statistics of the plan it
    replaced, not of its blocks: the curation pipeline's 490-row
    ``exact_unique`` checkpoint of a join reads as 1.4 GB, so its
    MinHash kernel fans out to ``defaultParallelism``. Sizing it from
    the stored blocks instead (127 KB, one split) measured no gain on
    the curation benchmark: 8 fewer tasks and 0.07 MB less shuffle per
    batch, but no fewer jobs and no faster batch, since the kernel
    then ran on one core."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    # 1 PB guard: an unknown-stats product estimate, not a real size
    if size <= 0 or size > (1 << 50):
        return None
    return size


def _partition_count(plan) -> int | None:
    """Partition count a physical plan runs with, read from the plan
    without running a job; None when the plan cannot tell.

    ``df.rdd.getNumPartitions()`` is not that: on an adaptive plan it
    runs every query stage below the root to settle the final plan,
    and the real action runs them again. Here an adaptive plan is read
    as its current plan (before execution, the initial one): a node
    that knows its output partitioning (an exchange, a checkpoint, a
    range) gives its count, any other node the count of its one
    non-broadcast input (a union the sum of its inputs), down to a
    leaf scan, whose splits are planned without a job. AQE may still
    coalesce a shuffle below the count read from an initial plan.
    """
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _partition_count(plan.executedPlan())
    if name == "InMemoryTableScanExec":
        # executing the scan would build (and run) the cached plan
        return _partition_count(plan.relation().cachedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    ch = plan.children()
    kids = [
        c
        for c in (ch.apply(i) for i in range(ch.size()))
        if c.outputPartitioning().getClass().getSimpleName()
        != "BroadcastPartitioning"
    ]
    if not kids:
        return plan.execute().getNumPartitions()
    counts = [_partition_count(c) for c in kids]
    if None in counts or (len(counts) > 1 and name != "UnionExec"):
        return None
    return sum(counts)


def ensure_min_partitions(
    df: DataFrame,
    min_parts: int | None = None,
    split_mb: int | None = None,
    cost: float = 1.0,
) -> DataFrame:
    """Fan a kernel stage's input out to a scale-appropriate split count.

    Arrow kernels (``mapInPandas`` / pandas UDF stages) inherit the
    upstream split count; a small or single-row-group parquet file
    pins the whole CPU-bound Python stage to ONE core regardless of
    cluster size. At real scale inputs arrive in many splits and this
    is a NO-OP; only an under-split input pays one round-robin
    shuffle, which is narrow data next to the kernel compute it
    unlocks. Kernels here are row-local, so round-robin placement
    cannot change any result. The decision runs no Spark job: the
    size is Catalyst's estimate (:func:`_plan_size_bytes`), the
    partition count is read from the physical plan
    (:func:`_partition_count`; a plan that cannot tell is fanned out),
    and a target of one split returns the frame untouched.

    The fan-out target is SIZE-ADAPTIVE (optimization guide §2: derive
    partitioning from input size, not a constant tuned for one mode):
    ``ceil(estimated_bytes / split_mb)`` splits, clamped to
    ``[1, defaultParallelism]``. A gate-scale corpus (hundreds of KB)
    therefore runs its kernel in the scan stage itself — no fan-out
    exchange, no per-task Python worker forks beyond the splits the
    data actually warrants (measured r13: a 32-task mapInPandas stage
    costs ~0.35 s more than a right-sized one on this host) — while
    anything approaching ``defaultParallelism × split_mb`` bytes fans
    out exactly as before. ``split_mb`` defaults from
    ``$SPARK_GRAFT_KERNEL_SPLIT_MB`` (8 MB): per-byte kernel cost
    here is tokenize/hash/GEMM-scale, so 8 MB splits keep tasks in
    the 0.1-1 s range on one core. Callers with unusually heavy
    kernels pass ``cost`` — the kernel's per-byte cost relative to
    that hash-scale assumption (e.g. the regex-battery extraction
    kernel measured ~350x hash speed per byte, r13 A/B: 26.9 s serial
    vs 2.85 s fanned at sf0.1) — which divides the split size so the
    fan-out matches the actual CPU-seconds in the stage, at any scale.
    An explicit ``min_parts`` bypasses the estimate entirely (exact
    legacy semantics); ``$SPARK_GRAFT_KERNEL_SPLIT_MB=0`` forces
    legacy full fan-out everywhere (A/B debug knob).
    """
    if min_parts is None:
        cap = df.sparkSession.sparkContext.defaultParallelism
        if split_mb is None:
            split_mb = int(os.environ.get("SPARK_GRAFT_KERNEL_SPLIT_MB", "8"))
        if split_mb <= 0:
            min_parts = cap  # <=0: explicit legacy full fan-out (debug/A-B)
        else:
            est = _plan_size_bytes(df)
            if est is None:
                min_parts = cap  # unknown size: legacy full fan-out
            else:
                split_bytes = max(1, int(split_mb * (1 << 20) / cost))
                min_parts = max(1, min(cap, -(-est // split_bytes)))
    if min_parts <= 1:
        return df
    try:
        n = _partition_count(df._jdf.queryExecution().executedPlan())
    except Py4JError:  # a plan node this Spark build names differently
        n = None
    if n is not None and n >= min_parts:
        return df
    return df.repartition(min_parts)


def register_testdata(spark: SparkSession, sf_dir: str, tables=None) -> None:
    """Register testdata tables as temp views for the SQL entry points."""
    for name in tables or TESTDATA:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_json_records(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S2: read a JSON file that is one top-level array of objects.

    The reference reads these with ``pl.read_json``
    (src/build_graph.py:383). Spark's JSON source is line-delimited by
    default; the reference files are single-array, so ``multiLine``.
    """
    return spark.read.option("multiLine", True).schema(schema).json(path)


def with_row_index(
    df: DataFrame, order_cols: list[str], name: str = "record_id"
) -> DataFrame:
    """S5: deterministic 1-based dense row index.

    The reference does ``with_row_index(offset=1)`` on the raw corpus
    (create_dataset.py:8-9). A global window is fine for driver-side
    corpus prep; for 100 TB assignments prefer zipWithIndex-style
    per-partition offsets — this helper is the correctness-first path.
    """
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(name, F.row_number().over(w))


def with_row_index_distributed(
    df: DataFrame, order_cols: list[str], name: str = "record_id"
) -> DataFrame:
    """The 100 TB form of :func:`with_row_index`: range-partition on
    the order columns, rank locally within each partition, then add
    per-partition offsets — no single-partition window anywhere.

    ``repartitionByRange`` guarantees partition i's keys sort before
    partition i+1's, so local rank + the cumulative count of earlier
    partitions IS the global rank. The offset table is one count per
    partition (a scalar-sized collect) joined back by broadcast.
    ``order_cols`` must be a total order (e.g. include a unique key):
    with duplicate keys a row's index is ambiguous in ANY
    implementation, including the window form.

    Lifetime: the eager ``localCheckpoint`` blocks BACK the returned
    lazy plan, so they cannot be released here. Like the operators
    that ``persist()``, the caches are attached to the result via
    :mod:`..cache` — long-lived sessions should call
    ``cache.release(result)`` (or ``spark.catalog.clearCache()`` +
    RDD unpersist) after materializing; otherwise every call
    accumulates block-manager memory for the session's life.
    """
    part = df.repartitionByRange(*[F.col(c) for c in order_cols])
    # localCheckpoint: the plan is read twice (offsets collect + the
    # final join); pinning it guarantees both reads see the SAME
    # range partitioning even if the input is nondeterministic, and
    # computes the window once instead of twice
    local = (
        part.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrn",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(
                    *[F.col(c) for c in order_cols]
                )
            ),
        )
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["_pid"], r["_n"])
        for r in local.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    # explicit schema: createDataFrame([]) cannot infer one, so the
    # empty-input case would crash
    off = df.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    from ..cache import own

    return own(
        local.join(F.broadcast(off), "_pid")
        .withColumn(name, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off"),
        local,
    )


def write_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S3: JSON sink (one object per line; coalesce(1) for file parity)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def write_compacted(
    df: DataFrame,
    path: str,
    *,
    target_mb: int = 256,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Compacting parquet writer — the small-files half of a 100 TB
    pipeline the read path alone can't fix: a shuffle-heavy plan ends
    in ``spark.sql.shuffle.partitions`` output files regardless of
    data volume, so a 10 MB result lands as 200 shards and a 10 TB
    one as 200 lopsided monsters. Sizes the file count from a sampled
    row width (Spark has no write-side ``maxFileBytes`` for plain
    parquet), repartitions to it, and optionally range-sorts WITHIN
    the layout on ``sort_cols`` so parquet row-group min/max stats
    make later range predicates prune files (the poor man's z-order;
    one clustering column family is the common case).

    Returns the file count it chose. Sizing is driver-side estimation
    (count + sample-row encoded width with a 2.5x parquet-compression
    haircut) — deliberately cheap and approximate; the invariant
    tests assert data fidelity, file count scaling, and that a range
    read over the sort column prunes row groups, not byte-exact file
    sizes.

    The input is persisted around the three consumers (count, width
    sample, write) and released afterwards — for the shuffle-heavy
    plans this writer targets, re-running the upstream plan per
    consumer would triple the job. The width sample strips parquet's
    fixed footer/metadata overhead (an empty-frame baseline) so
    narrow schemas don't overshoot ``bytes_per_row`` and shatter the
    output into more, smaller files than ``target_mb`` asks for.
    """
    import math

    from ..cache import release_frame

    df = df.persist()
    try:
        n = df.count()
        if n == 0:
            df.limit(0).write.mode(mode).parquet(path)
            return 1
        sample = df.limit(200).toPandas()
        import io as _io

        buf = _io.BytesIO()
        sample.to_parquet(buf, index=False)
        base = _io.BytesIO()
        sample.iloc[:0].to_parquet(base, index=False)  # footer-only size
        payload = max(
            buf.getbuffer().nbytes - base.getbuffer().nbytes, 0
        )
        bytes_per_row = max(payload / max(len(sample), 1), 1.0)
        est_bytes = n * bytes_per_row / 2.5  # column-compression haircut
        n_files = max(1, math.ceil(est_bytes / (target_mb * 1024 * 1024)))
        if sort_cols:
            out = df.repartitionByRange(
                n_files, *[F.col(c) for c in sort_cols]
            )
            out = out.sortWithinPartitions(*sort_cols)
        else:
            out = df.repartition(n_files)
        out.write.mode(mode).parquet(path)
        return n_files
    finally:
        release_frame(df)
