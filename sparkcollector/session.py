"""SparkSession construction with scale-appropriate defaults.

The reference collector sizes itself with a memory limiter and
per-exporter queue/batch knobs (reference:
cmd/otelcol/config/collector/splunk_logs_config_linux.yaml:1041-1049,
internal/settings/settings.go:68-70).  On Spark those concerns map to
executor memory, AQE, and Arrow batch sizing — set once here so every
entrypoint (tests, bench, spark-submit job) gets the same plan-shaping
configuration.

Warm sessions run many registry queries one after another (the test
suite, the oracle sweep, the plan audit, a benchmark pass), and every
query's whole-stage and projection code is a class Janino compiles.
Spark keeps compiled classes in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries, 100 by default, split
into four segments.  Six registry queries alone need about 95 classes,
so at the default each pass evicts classes the next pass needs and
recompiles about 30 of them.  ``CODEGEN_CACHE_ENTRIES`` is ten times
that working set; at about 90 KB of metaspace per generated class it
caps the cache near 90 MB.  It is a static conf: it takes effect only
when ``get_spark`` creates the session, not when it returns one that
already exists.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size bounds pandas-UDF peak memory per task: at 10k rows
# of ~1 KiB transcript text a batch is ~10 MiB — safe at 100s of
# concurrent tasks per executor, large enough to amortize Arrow IPC.
ARROW_MAX_RECORDS_PER_BATCH = 10_000

# Generated classes kept per JVM (see the module docstring).
CODEGEN_CACHE_ENTRIES = 1000


def _mem_total_gib() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except OSError:
        pass
    return 8.0


def _default_driver_memory() -> str:
    """Local-mode heap sized from host RAM: ~1/4 of MemTotal, clamped
    to [2g, 24g].  (24g is right for the 128 GiB bench box; a 16 GiB
    laptop gets 4g and still starts.)"""
    gib = max(2, min(24, int(_mem_total_gib() // 4)))
    return f"{gib}g"


def _default_local_dir() -> str:
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 16 * 1024**3:
                return "/dev/shm/spark-local"
        except OSError:
            pass
    return "/tmp/spark-local"


def get_spark(
    master: str | None = None,
    app_name: str = "sparkcollector",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; under
    ``spark-submit`` the cluster manager's master wins (we only set it
    when explicitly asked or when no active session exists).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and os.environ.get("SPARK_GRAFT_MASTER"):
        # Full master URL override — used by the scaling harness to run
        # the N-vs-4N-executor campaigns under local-cluster[n,c,m]
        # (real separate executor JVMs, the closest single-host proxy
        # for two cluster sizes).
        master = os.environ["SPARK_GRAFT_MASTER"]
    if master is None and os.environ.get("SPARK_GRAFT_CPUS"):
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local-cluster["):
        # Executor heap must match the per-executor memory in the
        # master string (MiB), or the worker refuses the executor.
        mem_mib = master[len("local-cluster[") : -1].split(",")[2].strip()
        builder = builder.config("spark.executor.memory", f"{mem_mib}m")

    if shuffle_partitions is None and os.environ.get("SPARK_SHUFFLE_PARTITIONS"):
        shuffle_partitions = int(os.environ["SPARK_SHUFFLE_PARTITIONS"])
    if shuffle_partitions is None:
        # Default: match parallelism at local scale; a real cluster run
        # overrides via --conf (AQE coalesces the excess anyway).
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # Bounded-concurrency tuning for local mode: beyond ~16 concurrent
    # tasks this class of string/shuffle/parquet workload saturates a
    # single box's memory bandwidth and THRASHES (measured: local[32]
    # at task.cpus=1 is 4x slower than local[8]; at task.cpus=2 it is
    # the fastest config).  Cap concurrent tasks at 16 while keeping
    # all threads available to the JVM's shuffle/IO machinery.  On a
    # real cluster executors are sized per node and this default does
    # not engage (override with SPARK_TASK_CPUS or --conf).
    task_cpus = os.environ.get("SPARK_TASK_CPUS")
    if task_cpus is None and master and master.startswith("local["):
        try:
            n_threads = int(master[6:-1].rstrip("]"))
            task_cpus = str(max(1, n_threads // 16)) if n_threads > 16 else "1"
        except ValueError:
            task_cpus = "1"

    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.task.cpus", task_cpus or "1")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get(
                "SPARK_ARROW_BATCH", str(ARROW_MAX_RECORDS_PER_BATCH)
            ),
        )
        # Transcript text is wide; keep split sizes moderate so a scan
        # task's working set fits executor memory at 100 TB inputs.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Broadcast lookups (role/tool dims) are tiny; raise threshold a
        # little so Catalyst always broadcasts the enrich side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local mode runs every task in the driver JVM: size the heap
        # for <threads> concurrent parquet writers (~128 MB row-group
        # buffer each) + sort + shuffle buffers.  Sized from the host's
        # actual RAM (not a hardcoded big-box value) so the JVM starts
        # on small machines too; env override wins.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        # Shuffle/spill files on the fastest local storage available —
        # on a real cluster this is the executor's local NVMe.  tmpfs
        # (/dev/shm) beats a slow root disk but competes with the heap
        # for physical memory, so only pick it when it is big enough to
        # hold spills comfortably (>= 16 GiB free); env override wins.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", _default_local_dir()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
