"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized to cores (not the 200 default), Arrow
enabled for every pandas-UDF boundary, UTC session timezone so results are
oracle-comparable (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _driver_mem_bytes() -> int:
    """The driver heap get_spark will request (SPARK_GRAFT_DRIVER_MEM,
    default 24g) in bytes — sizes the broadcast threshold. Parsing matches
    Spark's own JavaUtils.byteStringAsMb semantics for spark.driver.memory
    (r14 review): a suffix-less number is MiB (not bytes), and both the
    one-letter (k/m/g/t) and two-letter (kb/mb/gb/tb) binary suffixes are
    legal. A caller who sets spark.driver.memory through extra_conf
    instead should set the env var too (or pass their own threshold) to
    keep the scaling keyed to the real heap."""
    import re

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g").strip().lower()
    m = re.fullmatch(r"([0-9]*\.?[0-9]+)\s*([kmgtp]b?|b)?", mem)
    if not m:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={mem!r} is not a Spark memory string "
            "(e.g. 24g, 4096m, 4096 [MiB], 2gb, 1048576b)"
        )
    num, suffix = float(m.group(1)), (m.group(2) or "")[:1]
    mult = {"": 1024**2, "b": 1, "k": 1024, "m": 1024**2, "g": 1024**3,
            "t": 1024**4, "p": 1024**5}[suffix]
    return int(num * mult)


def _broadcast_threshold_bytes() -> int:
    """Broadcast threshold sized to the DRIVER heap (broadcast tables are
    built driver-side before the torrent ship): 64 MB at the default 24g —
    and at any heap >= 4g, so every existing plan and plan audit is
    unchanged — scaling down (heap/64, floor 8 MB) below that so a
    memory-constrained driver degrades to shuffle joins instead of dying
    in the broadcast build (measured in the r14 memory-pressure sweep: a
    2g driver + the flat 64 MB threshold failed q43's sf1.0 broadcast;
    heap/64 = 32 MB completes, spilling instead)."""
    return min(64 * 1024 * 1024, max(8 * 1024 * 1024, _driver_mem_bytes() // 64))


def get_spark(
    app_name: str = "nexgap_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster the
    same configs apply; only ``master`` changes (supplied externally via
    spark-submit), so we respect a pre-set master if the builder env has one.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Coalesce post-shuffle partitions to the advisory byte size rather
        # than stopping at defaultParallelism (the parallelismFirst=true
        # default). With parallelismFirst=true AQE never coalesces below
        # cores, so a 5 MB shuffle still schedules 32 micro-tasks per stage;
        # sizing to bytes is what the Spark tuning guide recommends and it
        # holds at 100 TB, where the advisory size (64 MB) — not core count —
        # is the right reduce-side granularity. Measured locally: ~0.2-0.3 s
        # saved per small query, neutral on shuffle-heavy ones.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # File-split planning: maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/minPartitionNum)). The 4 MB
        # openCost default models HDFS-era seek cost and BIN-PACKS a
        # small-file corpus into a handful of scan tasks — the ×10 scaled
        # documents table (8 files, ~6 MB total) scanned as 2 tasks, and a
        # 6 s regex projection ran on 2 of 32 cores. On NVMe/object-store
        # reads a file open is ~ms, not 4 MB worth of scan; 512 KB keeps
        # one task per small file (splits still can't cross row-group
        # boundaries, so this never fragments big files — those are capped
        # by maxPartitionBytes exactly as before).
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # the driver's events table carries TIMESTAMP(NANOS) — Spark reads it
        # as a long; load_table converts to a µs timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Broadcast threshold sized to the DRIVER heap — see
        # _broadcast_threshold_bytes for the rule and its measurement.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str(_broadcast_threshold_bytes()),
        )
        # A scan bucketed on a SUBSET of a join's keys still co-partitions
        # the join (rows with equal full keys share the bucket key, hence
        # the partition); Spark >=3.3 disables using that by default. The
        # trace-co-located span layout depends on it: spans bucketed by
        # trace_id join on (trace_id, parent=span) with ZERO exchange.
        # Purely a planner relaxation — results are unaffected.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # reliable checkpoints (session.materialize under a checkpoint dir)
        # must not accumulate forever: reap a checkpoint's files when its
        # RDD is garbage-collected, mirroring localCheckpoint's lifecycle
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Python-worker lifecycle: keep the idle pool big enough that every
        # core's worker survives between pandas-UDF stages. The default pool
        # churns workers, and each respawn re-imports numpy/pandas/pyarrow —
        # a 32-way import storm that was costing 10-40 s per python stage
        # mid-session (measured: q34 22 s → 1.2 s with these settings).
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.python.factory.idleWorkerMaxPoolSize", str(4 * cpus))
    )
    # Fork workers from a daemon that has already imported the numeric stack
    # (copy-on-write warm start). Workers do not inherit the driver's
    # sys.path, so a source checkout's root goes on their PYTHONPATH: the
    # daemon module and the package's UDF code then import from any working
    # directory. An installed package is already on the workers' path.
    import importlib.util

    spec = importlib.util.find_spec("nexgap_spark.daemon_preload")
    if spec is not None:
        builder = builder.config(
            "spark.python.daemon.module", "nexgap_spark.daemon_preload"
        )
        root = os.path.dirname(os.path.dirname(os.path.abspath(spec.origin)))
        if os.path.basename(root) not in ("site-packages", "dist-packages"):
            builder = builder.config("spark.executorEnv.PYTHONPATH", root)
    # extra_conf goes on the builder: static (non-SQL) configs are immutable
    # once the session exists, and getOrCreate applies builder options to an
    # already-running session where possible.
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    if "SPARK_MASTER" not in os.environ and not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class MaterializeGen:
    """Generation handle for ITERATIVE materialize loops (connected
    components' per-round labels): reliable-mode `materialize` writes one
    parquet directory per call and nothing reaps them until the checkpoint
    dir is deleted — an unbounded ~rounds × |frame| of dead storage in a
    loop (ADVICE r16 / VERDICT r16 item 4). A loop that passes the same
    handle to every round's materialize bounds the live directories to
    ``keep`` (default 2: the current round plus the previous one, which
    the SAME round reads while it is written — deleting only N-2 on round
    N's successful write keeps every in-flight reader safe while the
    loop's storage stays O(1) in rounds instead of O(rounds)).

    ONLY safe for linear lineages: the caller must guarantee nothing
    retains a plan over a generation older than ``keep`` (dup_groups'
    labels qualify — the returned frame reads only the final path; the
    taxonomy sampling loop does NOT, its returned union references every
    round's counts, and keeps the default unreaped behavior).

    Deletion goes through the Hadoop FileSystem of the path's scheme, so
    HDFS/S3-class checkpoint dirs reap exactly like local ones. In
    localCheckpoint mode (no checkpoint dir) there are no files; the
    handle is inert and the ContextCleaner keeps doing the reaping."""

    def __init__(self, keep: int = 2):
        if keep < 1:
            raise ValueError(f"keep must be >= 1, got {keep}")
        self.keep = keep
        self._paths: list[str] = []

    def record(self, spark: SparkSession, path: str) -> None:
        self._paths.append(path)
        while len(self._paths) > self.keep:
            dead = self._paths.pop(0)
            try:
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(dead)
                fs = jpath.getFileSystem(
                    spark.sparkContext._jsc.hadoopConfiguration()
                )
                fs.delete(jpath, True)
            except Exception:  # noqa: BLE001 — reaping is best-effort;
                # a failed delete must never fail the loop that is
                # producing correct results (the dir is reaped with the
                # checkpoint dir either way)
                import logging

                logging.getLogger(__name__).warning(
                    "[materialize] failed to reap dead generation %s", dead
                )

    @property
    def live_paths(self) -> tuple[str, ...]:
        """The generations not yet reaped (newest last) — for tests."""
        return tuple(self._paths)


def _parquet_unsafe_schema(df: DataFrame) -> bool:
    """True when ``df``'s schema cannot round-trip through the parquet
    writer: a VOID (NullType) ANYWHERE in the tree — top level, nested
    struct field, array element, map value (the r16 guard checked only
    top-level fields; ADVICE r16) — or duplicate field names within one
    struct level, which parquet rejects but checkpoint() tolerates. The
    simpleString probe is conservative (a column literally named 'void'
    also matches) — the fallback is the slower-but-correct eager
    checkpoint, never an error."""
    from pyspark.sql import types as T

    if "void" in df.schema.simpleString():
        return True

    def walk(dt) -> bool:
        if isinstance(dt, T.StructType):
            names = [f.name.lower() for f in dt.fields]
            if len(set(names)) != len(names):
                return True
            return any(walk(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return walk(dt.elementType)
        if isinstance(dt, T.MapType):
            return walk(dt.keyType) or walk(dt.valueType)
        return False

    return walk(df.schema)


_LOCAL_MAT_ROOT: list[str] = []


def _local_mat_root() -> str:
    """Session-scoped temp root for ``materialize(prefer_file=True)`` in
    localCheckpoint mode (no reliable checkpoint dir configured). Created
    lazily, reaped at interpreter exit — the frames written here are
    bounded small sides (the parent-walk build is ≤ PARENT_BROADCAST_CAP
    narrow rows by contract), so process-lifetime retention is the same
    deal localCheckpoint blocks get, minus the executor memory."""
    if not _LOCAL_MAT_ROOT:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="nexgap_local_mat_")
        atexit.register(shutil.rmtree, root, True)
        _LOCAL_MAT_ROOT.append(root)
    return _LOCAL_MAT_ROOT[0]


def materialize(
    df: DataFrame, *, gen: MaterializeGen | None = None, prefer_file: bool = False
) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage.

    Default (no checkpoint dir configured): ``localCheckpoint`` — blocks
    live only in the block storage of the executors that computed them.
    Fast, but lineage truncation makes the frame UNRECOVERABLE after an
    executor loss: Spark cannot recompute the lost blocks, so every
    consumer fails with a missing-checkpoint-block error. On local[N]
    (one JVM, no executor to lose) that trade is free, which is why it is
    the default.

    When the SparkContext has a RELIABLE checkpoint directory configured
    (``setCheckpointDir`` — HDFS/S3-class storage on a real cluster, any
    shared filesystem on one box), materialize as a PARQUET ROUND-TRIP
    into that directory: one compute, one columnar write, consumers
    re-scan the files. Same truncation semantics (the re-read is a fresh
    scan with no upstream lineage), same durable-storage recovery contract
    — iterative loops (connected components, taxonomy rounds, LSH
    membership caps) survive ``kill -9`` of an executor mid-computation
    because retried/replacement tasks recompute from the files.
    tools_cluster.py measures both modes on a real standalone cluster.

    Every eager-materialization site in the package routes through here so
    the fault-tolerance policy is a one-line deployment decision (set the
    checkpoint dir), not a code change.

    Why files and not ``checkpoint(eager=True)`` (r16): the r15 recipe —
    ``persist(MEMORY_AND_DISK)`` so the checkpoint-write job reads cache
    instead of recomputing the lineage, then eager checkpoint — entangles
    the materialization with the block and cache managers, and under real
    heap pressure that machinery is exactly what fails: the x100
    memory-wall sweep (PIPELINE_r16.json) died at every constrained
    ceiling inside the checkpoint action's cache rebuild
    (``SparkPlan.session() is null`` NPE in ``CachedRDDBuilder`` via
    ``CacheManager.recacheByPlan``, a Spark 4.1 bug the pressure exposes;
    localCheckpoint at the same ceilings loses blocks — TaskResultLost /
    OOM). The parquet round-trip depends on neither manager, and the same
    sweep completes green at 2g where both checkpoint flavors die. Spilled
    compute stays spilled: storage is files from the first byte.

    File lifecycle: one ``nexgap_mat_*`` directory per call under the
    checkpoint dir, reaped when the checkpoint dir is (job-scoped storage
    in a real deployment — the lifecycle Spark's own checkpoint files have
    in practice; ContextCleaner GC reaping is best-effort either way).
    Iterative loops additionally pass ``gen`` (a :class:`MaterializeGen`)
    so dead generations are deleted as the loop advances — see the class
    docstring for the retention rule and the linear-lineage requirement.

    ``prefer_file=True`` (r17): materialize as a parquet round-trip even
    WITHOUT a checkpoint dir (into a session temp root, reaped at exit).
    The point is AQE exchange reuse, not durability: a ``localCheckpoint``
    scan (LogicalRDD) is invisible to the broadcast-stage cache — N joins
    against the same checkpointed frame build N identical hash relations
    (measured on Spark 4.1: 3 identical ``Scan ExistingRDD`` build
    subtrees, 0 ReusedExchange) — while a FileScan over the same rows
    canonicalizes by location, so the same shape builds ONCE and every
    other join reuses it (same probe: 1 build + 2 ReusedExchange).
    Callers that join one bounded frame many times (the span resolvers'
    per-hop parent build) pass this flag; parquet-unsafe schemas fall
    back to localCheckpoint.
    """
    spark = df.sparkSession
    ckdir = spark.sparkContext.getCheckpointDir()
    if ckdir is None and prefer_file and not _parquet_unsafe_schema(df):
        import uuid

        path = f"{_local_mat_root()}/nexgap_mat_{uuid.uuid4().hex}"
        df.write.mode("error").parquet(path)
        out = spark.read.parquet(path)
        if gen is not None:
            gen.record(spark, path)
        return out
    if ckdir is not None:
        import uuid

        if _parquet_unsafe_schema(df):
            # parquet cannot store VOID columns (anywhere in the tree) or
            # duplicate field names; keep the eager-checkpoint recipe for
            # these rare shapes (WITHOUT the persist — the cache manager
            # is the pressure-fragile part)
            return df.checkpoint(eager=True)
        path = f"{ckdir.rstrip('/')}/nexgap_mat_{uuid.uuid4().hex}"
        df.write.mode("error").parquet(path)
        out = spark.read.parquet(path)
        if gen is not None:
            gen.record(spark, path)
        return out
    return df.localCheckpoint()


# Analyzed-scan cache: `spark.read.parquet` pays a file listing + footer
# schema-inference pass PER CALL — measured ~0.1 s/table, which multiplied
# into ~0.6 s of driver-side plan-construction for a 5-table join and was
# a visible share of every sub-second query (the real-deployment analog is
# registering tables in a catalog ONCE). DataFrames are immutable, so
# reuse is free; the cached frame pins its file listing, hence
# invalidate_scan_cache() wherever a directory is rewritten in-place.
_SCAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _drop_derived_caches() -> None:
    """Caches keyed on plan semantics (not file listings) also go stale on
    an in-place rewrite — currently span_tree's passed-validation cache.
    Lazy lookup via sys.modules avoids an import cycle and a hard
    dependency from the session layer on an operator module."""
    import sys as _sys

    st = _sys.modules.get("nexgap_spark.operators.span_tree")
    if st is not None:
        st._COLOCATABLE_OK.clear()


def invalidate_scan_cache(sf_dir: str | None = None) -> None:
    """Drop cached scans (all, or one directory's): a rewritten path's
    cached DataFrame holds the OLD file listing and would fail mid-query
    with deleted-file errors."""
    _drop_derived_caches()
    if sf_dir is None:
        _SCAN_CACHE.clear()
        return
    key_dir = os.path.abspath(sf_dir)
    for k in [k for k in _SCAN_CACHE if k[1] == key_dir]:
        del _SCAN_CACHE[k]


def invalidate_scan_path(path: str) -> None:
    """Drop any cached scan whose table directory overlaps ``path`` — called
    from every parquet WRITE entry point in this package (parquet_sink
    writers, the bucketed-layout writer, the ledger append), so an in-place
    rewrite or append can never serve a stale cached file listing. A cache
    entry for ``dir/name.parquet`` is invalidated when the written path is
    inside it OR contains it (a write to the table dir itself, to one of
    its partition subdirectories, or to a parent tree)."""
    _drop_derived_caches()
    written = os.path.abspath(path)
    for k in list(_SCAN_CACHE):
        table_path = os.path.join(k[1], f"{k[2]}.parquet")
        if (
            written == table_path
            or written.startswith(table_path + os.sep)
            or table_path.startswith(written + os.sep)
        ):
            del _SCAN_CACHE[k]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (column pruning / predicate pushdown apply
    downstream because this stays a plain parquet scan — no persist()
    anywhere; only the ANALYZED scan plan is reused across queries).

    events.ts is TIMESTAMP(NANOS) in the parquet footer, which Spark reads as
    nanosecond longs (nanosAsLong) — normalize to Spark's native µs timestamp
    here so every downstream operator sees a timestamp column.
    """
    # Shared guard (operators/timeutil.py): works on ANY driver-supplied
    # session — sets the runtime nanosAsLong conf and pins the session TZ
    # to UTC (with a warning if it was something else: the NTZ→timestamp
    # normalization is value-identical ONLY under UTC, and runtime SQL
    # confs are session-wide). The encoding normalization handles both
    # encodings the driver has shipped (nanos-as-bigint, timestamp_ntz) on
    # every column — don't special-case one column and break on the next
    # encoding change. Runs per call (cheap conf sets) so a cached frame
    # never skips the TZ pin on a fresh consumer session.
    from nexgap_spark.operators.timeutil import normalize_ts_encoding, pin_utc_session

    pin_utc_session(spark)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    df = _SCAN_CACHE.get(key)
    if df is None:
        df = normalize_ts_encoding(
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        )
        if len(_SCAN_CACHE) >= 256:
            _SCAN_CACHE.clear()
        _SCAN_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def _plan_stats_bytes(df: DataFrame) -> int:
    """Optimizer size estimate of ``df``'s plan (driver-side metadata, no
    job): on-disk bytes for a parquet scan; RDD-backed lineages
    (localCheckpoint) and anything the probe cannot read report the
    conservative huge default, which callers must treat as "assume wide"."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — the probe is best-effort
        return 1 << 62


# Bytes of input one CPU-bound stage task should own. Derivation (r18, the
# r17 verdict's 8-vs-32-core finding: local[8] beat local[32] by 24% at
# sf0.1 because every explicit repartition-to-defaultParallelism schedules
# core-count tasks the data cannot amortize): the two measured regimes are
# sf0.1 (0.6 MB documents — 8-wide wins) and sf1.0 (6.6 MB — 32-wide wins);
# 64 KB/task maps them to widths 10 and ≥104 (capped at cores).  At
# production scale any real corpus is ≫ cores × 64 KB, so the width is
# always the core count and at-scale plans are unchanged — the constant only
# right-sizes toy inputs.  NOT cluster-tuned: the value encodes per-byte CPU
# cost of the text/embedding kernels, not the deployment.
FANOUT_TARGET_BYTES = 64 * 1024
# Mid-weight per-row stages (codec synthesis over id-only frames:
# milliseconds per row, a few bytes per row) want a finer target than the
# text/embedding kernels but NOT full core width. Measured on the q119
# codec stage at 32 cores (width sweep, best-of-3 noop): width 32 → 1.69 s,
# 16 → 1.10 s, 8 → 1.18 s, 2 → 2.12 s — 8 KB/task lands its 113 KB input
# at width 15, the measured sweet spot; any at-scale id frame still clamps
# to the core count. Call sites with this profile pass
# ``target_bytes=FANOUT_CODEC_TARGET_BYTES``.
FANOUT_CODEC_TARGET_BYTES = 8 * 1024


def adaptive_width(
    df: DataFrame, *, floor: int = 2, target_bytes: int | None = None
) -> int:
    """Fan-out width for a CPU-bound per-row stage over ``df``: the input's
    optimizer size estimate divided by the bytes/task target
    (``target_bytes`` when given, else FANOUT_TARGET_BYTES = 64 KB/task),
    clamped to [floor, defaultParallelism].  Unknown sizes
    (checkpoint-backed lineages) clamp to defaultParallelism — identical to
    the pre-r18 behavior, so the adaptive path can only ever NARROW a
    provably-small input, never under-parallelize an unknown one."""
    par = df.sparkSession.sparkContext.defaultParallelism
    target = target_bytes if target_bytes is not None else FANOUT_TARGET_BYTES
    width = -(-_plan_stats_bytes(df) // target)
    return int(max(min(par, width), min(par, floor)))


def fan_out_python_stage(
    df: DataFrame, *, heavy: bool = False, target_bytes: int | None = None
) -> DataFrame:
    """Fan a DataFrame out to cluster parallelism before a CPU-bound
    per-row stage — a Python (mapInPandas / applyInPandas) stage, or a
    JVM-side projection whose per-row cost dwarfs the scan (multi-pass
    regex, shingle explode, stack() unpivot: the r13 sf1.0 sweep measured
    q69's six regex passes at 6.3 s on 2 of 32 cores).

    Such stage cost is per ROW, so the right partition count is core
    count — but two mechanisms silently hand such stages fewer partitions:
    small inputs scan as few file splits (a ×100 scaled corpus written as 8
    files ran a 500 k-record Arrow stage 8-wide on 32 cores), and AQE's
    byte-based coalescing (parallelismFirst=false above) shrinks any
    upstream exchange whose compressed bytes look small. An explicit
    numbered repartition carries the REPARTITION_BY_NUM shuffle origin,
    which AQE never coalesces.

    The partition probe is only run on exchange-free plans (scans +
    narrow projections): the `df.rdd` probe is free there, but under AQE
    it EXECUTES every upstream stage on a plan with exchanges. Inputs
    whose lineage carries exchange-inducing nodes (post-shuffle frames,
    e.g. operators/converter.py's) get the unconditional repartition —
    since r17 the guard lives HERE (an analysis-only optimized-plan
    probe), so any operator can call this instead of hand-writing
    `repartition(par)`. The point of the conditional branch is the
    at-scale exit: a corpus whose scan already yields ≥ core-count
    splits must NOT pay a round-robin shuffle of its full payload just
    to "parallelize" — that repartition is a local-mode aid (single-file
    toy scans), not a plan constant (guide §2.3/§2.5: repartition(N)
    also pays sortBeforeRepartition on every input row).

    Streaming DataFrames pass through untouched: `df.rdd` is illegal on a
    stream, and micro-batch width is governed by the source's own options
    (maxFilesPerTrigger × file splits), not the batch fan-out heuristic.

    Width (r18): :func:`adaptive_width` — input bytes / 64 KB-per-task,
    capped at defaultParallelism — instead of the raw core count. At scale
    (unknown or ≫ cores × 64 KB inputs) the two are identical; on toy
    inputs the adaptive width stops a 0.6 MB corpus from scheduling 32
    micro-tasks per stage (the r17 verdict's 8-vs-32-core finding: the
    whole sf0.1 suite was scheduling-overhead-bound and local[8] beat
    local[32] by 24%).  ``heavy=True`` keeps the full core-count width for
    stages whose PER-ROW cost is orders above their byte size (subprocess
    forks, mock network transports over id-only frames) — bytes are the
    wrong proxy exactly there, and narrowing them measurably loses (q96's
    pipeline transport: 0.72 → 0.89 s at width 14). Mid-weight per-row
    stages (codec synthesis) pass ``target_bytes`` instead — see
    FANOUT_CODEC_TARGET_BYTES.
    """
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    width = par if heavy else adaptive_width(df, target_bytes=target_bytes)
    root = df._jdf.queryExecution().optimizedPlan()
    if any(tok in root.toString() for tok in _EXCHANGE_LINEAGE_NODES):
        # exception inside the guard: a frame whose ROOT is an explicit
        # round-robin repartition to >= width is already wide by
        # construction — repartitioning again would double-shuffle the
        # payload, and the width is on the logical node (no job needed)
        try:
            if root.nodeName() == "Repartition" and root.numPartitions() >= width:
                return df
        except Exception:  # noqa: BLE001 — width probe is best-effort
            pass
        return df.repartition(width)
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width)
    return df


# Logical nodes whose physical plan contains exchanges / broadcast stages
# (so an eager `df.rdd` probe under AQE would run real jobs) — the
# fan_out_python_stage guard. Deliberately conservative: a false positive
# only costs the pre-r17 unconditional repartition.
_EXCHANGE_LINEAGE_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Distinct",
    "Deduplicate",
    "Intersect",
    "Except",
    "RepartitionByExpression",
    "Repartition",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapPartitions",
    "PythonUDF",
)


def wide_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """:func:`load_table` + :func:`fan_out_python_stage`, for plans whose
    per-row cost (multi-pass regex, shingling, unpivot) dominates the scan.

    The single-file, single-row-group local testdata scans as ONE task no
    matter the split config (splits cannot cross row-group boundaries), so
    without this a 6 s regex projection runs on 1-2 of 32 cores. The fan-out
    shuffle moves only the pruned columns (text tables here are ≤ tens of
    MB compressed) and the partition-count guard makes it a no-op on any
    real cluster layout, where a large table's scan is already wider than
    the cluster — the repartition exists to widen NARROW inputs, never to
    add a shuffle at scale."""
    return fan_out_python_stage(load_table(spark, sf_dir, name))
