"""Session factory and engine configuration.

Replaces the reference's per-request session churn
(``Preprocess_Json_Data/config/spark_config.py:10-52`` creates and
stops TWO SparkSessions per uploaded file) with one long-lived,
AQE-enabled session. Tuning philosophy:

* **AQE on** — runtime partition coalescing + skew-join splitting
  replace the reference's hand-set ``spark.sql.shuffle.partitions=100``
  (``spark_config.py:42``). At 100 TB on a 1000-executor cluster the
  same code runs with a higher initial partition count; AQE coalesces
  down after each exchange, so the setting is a ceiling, not a tuning
  knob.
* **Arrow on** — any pandas-UDF edge (multimodal decode, ANN rerank)
  moves batches, not rows (reference already enabled this:
  ``spark_config.py:36-37``).
* **UTC session timezone** — timestamps compare bit-exactly against
  external oracles and across clusters.

Object-store settings are deployment config, not engine code:
:func:`object_store_conf` builds the S3A/MinIO conf (magic committer,
multipart upload, env-sourced credentials) to pass via ``extra_conf`` —
nothing is baked into the engine defaults.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Local test parallelism; on a real cluster the master/size come from
# spark-submit and these are ignored.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _local_driver_mem() -> str:
    """Default heap of a local-mode driver JVM: 16g, capped at half of
    physical memory. The JVM, the Python workers and the OS share the
    host; a 16g heap on a 15 GB host grows past physical memory and the
    OOM killer takes the JVM."""
    try:
        physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):  # no sysconf names here
        return "16g"
    return f"{min(16 << 10, physical // 2 >> 20)}m"

#: Defaults applied to every session. Values chosen to be valid both on
#: local[N] (single JVM) and on a large cluster (AQE re-plans at runtime).
ENGINE_CONF: dict[str, str] = {
    # AQE: coalesce post-shuffle partitions, split skewed joins, demote
    # sort-merge to broadcast when a side turns out small at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Ceiling for shuffle parallelism; AQE coalesces below it.
    "spark.sql.shuffle.partitions": _DEFAULT_CPUS,
    # DELIBERATELY LEFT AT DEFAULT (false), with measurements —
    # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning:
    # flipping it true lets AQE coalesce the plans feeding a persist,
    # which removed the static-task-count overhead on every cached
    # frame of the iterative operators (graph loops, kernel, CC: q147
    # 9.3->4.5s, r206 8.2->4.0s, r230 5.2->3.3s min-of-reps at sf0.1)
    # — but AQE sizes partitions by BYTES, so CPU-dense-but-byte-small
    # cached frames (minhash shingles, tokenization, PQ codes)
    # collapsed to 1-2 partitions and serialized their downstream
    # compute: r116 3.2->24.0s, r112 2.0->12.7s, r115 1.3->7.6s in the
    # full bench, confirmed directionally by isolated min-of-reps. A
    # compressed corpus expands ~100x in compute per byte at ANY
    # scale, so that regression is not a local artifact; the default
    # also keeps cached hashpartitioning visible to the partition-
    # reuse operators (sessionize/asof/packing plan-shape contracts).
    # Net: default wins; the cached-frame task-count overhead is
    # local-scale scheduling noise.
    # Arrow batch transfer for the few pandas-UDF operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics vs. oracles and across nodes.
    "spark.sql.session.timeZone": "UTC",
    # ~128 MB split targets keep scan tasks right-sized at any SF.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Kryo for shuffle/broadcast serialization (the reference also used
    # it — spark_config.py:49); matters for collect_list-of-struct
    # shuffles in the re-nesting and rollup paths.
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Align Spark's whole-stage-codegen fallback with the JVM JIT's
    # HugeMethodLimit (8000 bytecodes). The default (65535) lets Spark
    # emit methods HotSpot refuses to compile, so wide-projection stages
    # (many-field nested structs) silently run as INTERPRETED bytecode —
    # measured 6x slower than the expression-codegen fallback this
    # threshold switches to.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # TakeOrderedAndProject materializes a k-sized buffer PER PARTITION;
    # past ~10M rows that buffer (not the sort) is the memory hazard —
    # k=1e9 allocates gigabytes per task and stalls the whole JVM in
    # allocation/GC (observed: a 13-minute safepoint stall wedging the
    # executor heartbeat in local mode). Above this threshold the
    # planner falls back to Sort + GlobalLimit, which spills gracefully
    # at any k. Results are identical either way.
    "spark.sql.execution.topKSortFallbackThreshold": "10000000",
    # Quieter, faster local runs; harmless on a cluster.
    "spark.ui.showConsoleProgress": "false",
    # Release path for checkpoints made OUTSIDE every scope
    # (core.materialize): a scope releases its own checkpoints when it
    # exits, but an unscoped one (the driver contract's bare calls)
    # may still be read by a live frame, so nothing evicts it — the
    # ContextCleaner drops it once a JVM GC collects the last
    # reference to its RDD. On a long-lived session with a large,
    # lazily-collected heap that GC may not happen for a long time.
    # Spark's own backstop is this periodic driver System.gc();
    # tightening it from the 30min default to 10min bounds the
    # accumulation window of unscoped checkpoints to ~10min of output.
    "spark.cleaner.periodicGC.interval": "10min",
}


def object_store_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
    ssl: bool = False,
) -> dict[str, str]:
    """S3A settings for an S3-compatible object store (MinIO/S3) — the
    deployment twin of the reference's hardcoded MinIO wiring
    (``Preprocess_Json_Data/config/spark_config.py:15-31``,
    ``connectors/minio_connector.py:36-43``), as config instead of code.

    Credentials/endpoint come from arguments or the standard
    ``AWS_ACCESS_KEY_ID`` / ``AWS_SECRET_ACCESS_KEY`` /
    ``AWS_ENDPOINT_URL`` environment variables; nothing is baked in.

    Committer notes for 100 TB writes: the **magic committer** makes
    task commits O(1) metadata operations instead of the rename-based
    FileOutputCommitter (renames are copies on object stores — a
    terabyte-scale job can spend longer committing than computing).
    ``fast.upload`` streams multipart uploads as blocks fill instead of
    buffering whole files on local disk. Pass the result as
    ``get_spark(extra_conf=object_store_conf(...))``.
    """
    endpoint = endpoint or os.environ.get("AWS_ENDPOINT_URL", "")
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID", "")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY", "")
    conf = {
        # magic committer: no rename-based commit on object stores
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        # streaming multipart upload, no local whole-file buffering
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.fast.upload.buffer": "disk",
        "spark.hadoop.fs.s3a.multipart.size": "67108864",  # 64 MB parts
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.threads.max": "64",
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(ssl).lower(),
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        # vectored / readahead defaults suit parquet footer+column reads
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf


def get_spark(
    app_name: str = "datalake_backend_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's long-lived SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured — tests and the bench harness run single-JVM,
    while production submits with ``--master`` and leaves this None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{_DEFAULT_CPUS}]"
    if master:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    if master and master.startswith("local"):
        # in local mode the driver JVM IS every executor; Spark's 1g
        # default heap OOMs on broadcast/window state far below the
        # data sizes the same code handles on a cluster (hit by a
        # 10x scale run). Only effective for the process's FIRST
        # session (the JVM is launched with it); later get_spark calls
        # reuse the running JVM. SPARK_GRAFT_DRIVER_MEM overrides.
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _local_driver_mem(),
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the session's Python workers, once per
    SparkContext: a zip of its sources through ``addPyFile``. Without
    it the operators that run Python on executors (``mapInPandas``,
    ``applyInPandasWithState``, Python UDFs) import the package only
    when a worker's working directory happens to hold it."""
    sc = spark.sparkContext
    if getattr(sc, "_datalake_backend_spark_zip", None):
        return
    pkg = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="datalake_backend_spark-")
    atexit.register(shutil.rmtree, tmp, True)
    path = os.path.join(tmp, "datalake_backend_spark.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    sc.addPyFile(path)
    sc._datalake_backend_spark_zip = path

