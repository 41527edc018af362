"""Engine facade — the reference's per-upload lifecycle, Spark-first.

A user of the reference drives it via ``POST /upload_2_<domain>``
(``Send_Data_To_DataLake/main.py:38-151``): land raw JSON → basic
preprocessing → write ``processed`` → advanced preprocessing → write
``refine`` → split feature files → index into the search tier. This
facade is that lifecycle with the same zone names and status protocol
(``1`` ok, ``-1`` empty/skip — ``Preprocess_Json_Data/main.py:70,147-149``)
— minus the anti-patterns: one long-lived session, no driver-side
enrichment, JSON document shapes rendered on the cluster, columnar gold
zone alongside the compatibility JSON.
"""

from __future__ import annotations

import contextvars
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datalake_backend_spark.config import get_spark
from datalake_backend_spark.core.cleaning import non_empty
from datalake_backend_spark.core.materialize import pin, scope
from datalake_backend_spark.operators.renest import renest_frames
from datalake_backend_spark.pipelines import get_pipeline
from datalake_backend_spark.pipelines.splitter import SPLIT_SPECS, run_splitter
from datalake_backend_spark.serving.export import write_bulk_export
from datalake_backend_spark.serving.views import (
    register_gold,
    register_serving_views,
    register_versioned_gold,
    serve_gold_where,
)
from datalake_backend_spark.sources.readers import read_raw_json, split_corrupt
from datalake_backend_spark.sources.writers import (
    json_array_document,
    write_json_document,
    write_table,
)

#: frame-level columns per domain for processed-zone re-nesting
FRAME_COLS: dict[str, list[str]] = {
    "vehicle": ["frame_number", "congestion_level", "traffic_light"],
    "people": ["frame_number", "timestamp"],
    "safety": ["frame_number"],
    "pose": ["frame_number"],
    "animal": ["frame_number_frame", "timestamp_frame"],
    "parking": ["video_source", "frame_number", "timestamp_sec"],
    "geolocation": ["frame_number"],
    "common": ["frame_number"],
    "school": ["frame_number", "frame_timestamp"],
    "retail": ["frame_number", "frame_timestamp"],
    "tracking": ["video_metadata", "processing_time", "summary"],
}

STATUS_OK = 1
STATUS_EMPTY = -1


def _row_count():
    """The ``observe()`` metric every zone count uses: ``n`` rows."""
    return F.count(F.lit(1)).alias("n")


def _concurrently(spark: SparkSession, *tasks: Callable[[], object]) -> list:
    """Run independent zone writes at once and return their results.

    The pool is per call and as wide as the task list, capped at the
    session's default parallelism: a session with fewer task slots than
    sinks (``local[2]``) could not run the extra jobs at once anyway,
    and the cap keeps the jobs in flight, each holding its plan on the
    driver, within what the session can schedule. Every task inherits
    the caller's local properties (job group, description, scheduler
    pool) and session tags, so each Spark job stays attributed to the
    upload that issued it, and runs in a copy of the caller's context,
    so whatever it pins belongs to the caller's scope. All tasks are
    joined before this returns; the first failure, in task order, is
    re-raised only after every sibling has finished.
    """
    width = min(len(tasks), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(width, thread_name_prefix="zone-writer") as pool:
        # one wrapper per task: each wrapper holds its own copy of the
        # properties, which the task's thread then owns and may change
        futures = [
            pool.submit(
                contextvars.copy_context().run, inheritable_thread_target(spark)(t)
            )
            for t in tasks
        ]
    return [f.result() for f in futures]


@dataclass
class ProcessResult:
    status: int
    domain: str
    silver_rows: int = 0
    gold_rows: int = 0
    corrupt_docs: int = 0
    constraint_violations: int = 0
    outputs: dict[str, str] = field(default_factory=dict)


class Engine:
    """Long-lived engine instance over one SparkSession."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()

    @scope("engine.upload")
    def process_document(
        self,
        path: str,
        domain: str,
        out_dir: str,
        export_index: bool = False,
        versioned_gold: bool = False,
        constraints: list | None = None,
    ) -> ProcessResult:
        """Full lifecycle for one raw detection document (or a glob of
        them), in three steps:

        1. **bronze → silver.** The parsed bronze frame is pinned. One
           probe (``non_empty``, through the ``noop`` sink) parses the
           JSON into that cache and reports the corrupt-document count,
           an ``observe()`` metric on the bronze frame. An upload with
           no silver rows (empty or malformed) returns ``STATUS_EMPTY``
           with its ``corrupt_docs`` and writes to no zone. Otherwise the silver parquet is written from the
           cache, with its row count observed.
        2. **silver → processed + gold**, written concurrently, each
           reading the silver zone back with its known schema (plus the
           constraint report, when asked for).
        3. **gold → refine + every feature split + index export**,
           written concurrently, each reading the gold zone back with
           its known schema.

        ``gold_<domain>`` is registered after step 3, or right after the
        commit with ``versioned_gold``, so a failing step-3 sink leaves
        the committed snapshot served. The upload runs in its own scope
        (``core.materialize``): nothing it pins outlives it, on every
        path. Concurrent writes run on a per-call pool
        (:func:`_concurrently`).

        ``versioned_gold=True`` routes the gold zone through
        :class:`~datalake_backend_spark.sources.versioned.VersionedTable`:
        every upload commits a SNAPSHOT, so the upload history is a
        queryable commit log — re-uploads never tear concurrent readers
        (the reference gets coarse atomicity by overwriting whole MinIO
        objects and readers can observe the gap), old uploads stay
        time-travelable, and ``changes()`` diffs any two uploads.

        ``constraints`` (rule dicts from
        :mod:`~datalake_backend_spark.operators.constraints`) runs a
        declarative validation pass over the SILVER zone — one extra
        aggregate job for any number of row rules — and attaches the
        per-rule report to ``result.outputs["constraint_report"]`` /
        ``result.constraint_violations``. Validation REPORTS rather
        than aborts: the zones still land (quarantining is the
        corrupt-split's job); a gate that wants to block can check the
        count before serving.
        """
        pipe = get_pipeline(domain)
        zones = {
            "silver": os.path.join(out_dir, "silver", domain),
            "processed": os.path.join(out_dir, "processed", domain),
            "gold": os.path.join(out_dir, "gold", domain),
            "refine": os.path.join(out_dir, "refine", domain),
        }
        # the probe fills the bronze cache and the silver write reads it,
        # so the JSON is parsed once
        raw = pin(read_raw_json(self.spark, path, domain=domain), "engine.bronze")
        clean, corrupt = split_corrupt(raw)
        silver = pipe.silver(clean)
        if not non_empty(silver):
            return ProcessResult(
                STATUS_EMPTY, domain, corrupt_docs=int(corrupt.get["n"])
            )
        # zone layout at scale: partition by ingest date so
        # time-bounded reprocessing and retention prune at the
        # directory level; the row count rides the write job
        silver_rows = Observation()
        write_table(
            silver.withColumn("ingest_date", F.current_date()).observe(
                silver_rows, _row_count()
            ),
            zones["silver"],
            partition_by=["ingest_date"],
        )
        result = ProcessResult(
            STATUS_OK,
            domain,
            silver_rows=int(silver_rows.get["n"]),
            corrupt_docs=int(corrupt.get["n"]),
        )
        silver_zone = self.spark.read.schema(silver.schema).parquet(
            zones["silver"]
        )

        def processed() -> None:
            # the re-nested frame JSON (the reference's shape)
            frame_cols = [c for c in FRAME_COLS[domain] if c in silver.columns]
            detail_cols = [c for c in silver.columns if c not in frame_cols]
            nested = renest_frames(
                silver_zone, frame_cols, detail_cols, sort_cols=detail_cols[:1]
            )
            write_json_document(
                json_array_document(nested, sort_cols=frame_cols[:1]),
                zones["processed"],
            )

        def gold_zone() -> tuple[int, DataFrame]:
            gold = pipe.gold(silver_zone)
            if versioned_gold:
                from datalake_backend_spark.sources.versioned import (
                    VersionedTable,
                )

                tbl = VersionedTable(zones["gold"])
                v = tbl.commit(gold, op="upload")
                # selective serving reads route through footer-stats
                # data skipping (serve_gold_where / query_gold)
                register_versioned_gold(self.spark, domain, tbl, v)
                return int(tbl.manifest(v)["num_rows"]), tbl.read(self.spark, v)
            # the row count rides the write job; downstream sinks read
            # the MATERIALIZED zone instead of recomputing the gold plan
            obs = Observation()
            write_table(gold.observe(obs, _row_count()), zones["gold"])
            return (
                int(obs.get["n"]),
                self.spark.read.schema(gold.schema).parquet(zones["gold"]),
            )

        def constraint_report() -> None:
            from datalake_backend_spark.operators.constraints import (
                check_constraints,
            )

            report_path = os.path.join(out_dir, "constraints", domain)
            report = check_constraints(
                self.spark.read.parquet(zones["silver"]), constraints
            )
            write_table(report, report_path)
            report_df = self.spark.read.parquet(report_path)
            result.constraint_violations = int(
                report_df.agg(F.sum("violations")).first()[0] or 0
            )
            result.outputs["constraint_report"] = report_path

        step2 = [processed, gold_zone, *([constraint_report] if constraints else [])]
        result.gold_rows, gold_df = _concurrently(self.spark, *step2)[1]

        sinks = [
            partial(
                write_json_document, json_array_document(gold_df), zones["refine"]
            )
        ]
        if domain in SPLIT_SPECS:
            for name, df in run_splitter(gold_df, domain).items():
                split_path = os.path.join(out_dir, "split", domain, name)
                sinks.append(partial(write_table, df, split_path))
                result.outputs[f"split/{name}"] = split_path
        if export_index:
            idx_path = os.path.join(out_dir, "index", domain)
            index = f"datalake-{domain}-data"
            id_col = gold_df.columns[0]
            sinks.append(partial(write_bulk_export, gold_df, idx_path, index, id_col))
            result.outputs["index"] = idx_path
        _concurrently(self.spark, *sinks)

        if not versioned_gold:
            register_gold(self.spark, domain, gold_df)
        result.outputs.update(zones)
        return result

    def refresh_serving_views(self) -> list[str]:
        """(Re)create dashboard views over every registered gold table."""
        return register_serving_views(self.spark)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def query_gold(
        self,
        domain: str,
        predicates: list[tuple],
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Selective gold lookup: `[(col, op, val), ...]` routed
        through VersionedTable data skipping when the domain's gold is
        versioned (see serving.views.serve_gold_where)."""
        return serve_gold_where(self.spark, domain, predicates, columns)

    @scope("engine.media")
    def process_media_dir(
        self,
        path: str,
        out_dir: str,
        perceptual: bool = True,
        versioned: bool = True,
    ) -> dict:
        """Media-ingest lifecycle, composing the multimodal tier end to
        end: a crawler-style DIRECTORY of media files → the
        ``mediafile`` DataSource (size-balanced partitions, header
        probing) → exact dedup (sha256 of payload bytes — byte-identical
        copies) → perceptual dedup (dHash for images, energy-gradient
        fingerprint for audio, frame-signature for video — re-encoded /
        container-swapped copies byte hashing misses; the keeper is the
        lowest surviving id per perceptual key) → a ``media`` zone,
        committed as a :class:`VersionedTable` snapshot so every ingest
        is time-travelable and concurrent readers never tear.

        Returns ``{"n_files", "n_exact_dups", "n_perceptual_dups",
        "n_kept", "version", "zone"}`` (``version`` None when
        ``versioned=False``). Dedup keys ride as columns
        (``content_sha``, ``phash_hi``/``phash_lo``/``vsig``) so
        downstream incremental ingests can probe them."""
        import os as _os

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from datalake_backend_spark.datapipe.multimodal import media_fingerprint
        from datalake_backend_spark.datapipe.phash import (
            audio_fingerprints,
            perceptual_hashes,
            video_phash_signature,
        )
        from datalake_backend_spark.sources.media_source import (
            register_media_source,
        )

        register_media_source(self.spark)
        media = (
            self.spark.read.format("mediafile").option("path", path).load()
        )

        # exact pass: byte-identical copies collapse on sha256. The
        # ranked frame is PINNED so the directory scan (the most
        # expensive stage at a 100 TB media dir: every payload read +
        # hashed) materializes exactly once; every later stage — the
        # perceptual hashers, the stat aggregates, the commit — replays
        # from cache, never from the source.
        hashed = media_fingerprint(media)
        w = Window.partitionBy("content_sha").orderBy("media_id")
        exact = pin(
            hashed.withColumn("_rk", F.row_number().over(w)), "engine.media_exact"
        )
        row = exact.agg(
            F.count("*").alias("n"),
            F.sum((F.col("_rk") > 1).cast("long")).alias("d"),
        ).first()
        n_files, n_exact_dups = int(row["n"]), int(row["d"] or 0)
        kept = exact.where(F.col("_rk") == 1).drop("_rk")

        n_perceptual_dups = 0
        n_kept = n_files - n_exact_dups
        if perceptual:
            # one perceptual key column per modality; NULL = no key
            # (undecodable / below-grid), which never collapses rows
            img_h = perceptual_hashes(kept).withColumnsRenamed(
                {"dhash_hi": "phash_hi", "dhash_lo": "phash_lo"}
            )
            aud_h = audio_fingerprints(kept).select(
                "media_id",
                F.col("dhash_hi").alias("afp_hi"),
                F.col("dhash_lo").alias("afp_lo"),
            )
            vid_h = video_phash_signature(kept).withColumnRenamed(
                "signature", "vsig"
            )
            keyed = (
                kept.join(img_h, "media_id", "left")
                .join(aud_h, "media_id", "left")
                .join(vid_h, "media_id", "left")
            )
            # concat_ws never returns NULL (NULL args -> ""), so each
            # branch must be gated on its key actually existing or
            # every keyless row would collapse into one "" group; the
            # modality prefix keeps an image hash from ever colliding
            # with a numerically-equal audio fingerprint
            pkey = F.coalesce(
                F.when(
                    F.col("phash_hi").isNotNull(),
                    F.concat_ws(":", F.lit("img"), "phash_hi", "phash_lo"),
                ),
                F.when(
                    F.col("afp_hi").isNotNull(),
                    F.concat_ws(":", F.lit("aud"), "afp_hi", "afp_lo"),
                ),
                F.when(
                    F.col("vsig").isNotNull(),
                    F.concat_ws(":", F.lit("vid"), "vsig"),
                ),
                F.concat(F.lit("id-"), F.col("media_id").cast("string")),
            )
            pw = Window.partitionBy(pkey).orderBy("media_id")
            # pinned: the count aggregate and the zone commit both
            # consume this frame — without the cache the second action
            # would re-decode every image/audio/video payload
            keyed = pin(
                keyed.withColumn("_prk", F.row_number().over(pw)), "engine.media_keyed"
            )
            prow = keyed.agg(
                F.sum((F.col("_prk") > 1).cast("long")).alias("d"),
                F.sum((F.col("_prk") == 1).cast("long")).alias("k"),
            ).first()
            n_perceptual_dups = int(prow["d"] or 0)
            n_kept = int(prow["k"] or 0)
            kept = keyed.where(F.col("_prk") == 1).drop("_prk")

        zone = _os.path.join(out_dir, "media")
        version = None
        if versioned:
            from datalake_backend_spark.sources.versioned import VersionedTable

            version = VersionedTable(zone).commit(kept, op="media-ingest")
        else:
            kept.write.mode("overwrite").parquet(zone)
        return {
            "n_files": n_files,
            "n_exact_dups": n_exact_dups,
            "n_perceptual_dups": n_perceptual_dups,
            "n_kept": n_kept,
            "version": version,
            "zone": zone,
        }


# ---------------------------------------------------------------------------
# Silver graph tables: derive once, read many
# ---------------------------------------------------------------------------


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer↔supplier co-purchase edge table, served
    from a silver :class:`VersionedTable` that is derived ONCE per
    (process, sf_dir) and read by every graph query.

    At 100 TB nobody re-derives a graph per query: the distinct
    (custkey, suppkey) projection of orders⋈lineitem is a real
    shuffle+dedup over the two largest fact tables, and PageRank, BFS,
    and personalized PageRank all consume the SAME edges. The
    lakehouse answer is derive-once-into-a-versioned-silver-table,
    read-per-query — which also dogfoods the engine's own table layer
    (`VersionedTable`) in the hot analytic path. The stored table is
    the DIRECTED half (c → s, distinct); symmetrization is two cheap
    projections of the parquet scan, so storage stays halved and the
    read-side union preserves the exact row multiset the inline
    derivation produced (value hashes unchanged).

    Built through ``sources.derived.derive_once``: thread-safe under
    the bench runner's concurrent query threads, pid-scoped so
    concurrent *processes* (driver correctness sweep vs local bench)
    stay isolated, and dirs from dead pids are swept on every call.
    """
    from pyspark.sql import functions as F

    from datalake_backend_spark.sources.derived import derive_once
    from datalake_backend_spark.sources.readers import table
    from datalake_backend_spark.sources.versioned import VersionedTable

    def build(base: str) -> None:
        orders = table(spark, sf_dir, "orders")
        lineitem = table(spark, sf_dir, "lineitem")
        e0 = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .select(
                F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
            )
            .distinct()
        )
        # coalesce, not repartition: the distinct already shuffled,
        # so merging its output partitions is a narrow dependency —
        # no second full shuffle just to control file count
        VersionedTable(base).commit(e0.coalesce(8), op="graph-edges-silver")

    tbl = VersionedTable(derive_once(sf_dir, "graph_edges", build))
    e0 = tbl.read(spark)
    return e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
