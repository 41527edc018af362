"""Versioned parquet tables: snapshot isolation, time travel, change
feed, and compaction WITHOUT a table-format jar.

The reference's stated production shape is "DataFrame API over
Delta/Iceberg tables" (BASELINE.json), but neither package ships in
this environment (COVERAGE.md) and its actual deployed code gets
atomicity by overwriting whole MinIO objects per upload
(``Preprocess_Json_Data/connectors/minio_connector.py:45-80``) — no
versions, no isolation, readers can observe half-written prefixes.
This module supplies the lakehouse substrate both of those imply, as
a log of immutable manifests over immutable parquet data directories —
the same core design as Delta's ``_delta_log`` / Iceberg's metadata
tree, reduced to what plain parquet + an atomic file create can carry:

* **Snapshot isolation** — a commit writes a NEW data directory, then
  publishes an immutable manifest ``_log/{version}.json`` listing every
  directory in that snapshot. Readers resolve a manifest once and read
  only directories it names; a concurrent commit can never make them
  see a torn table.
* **Optimistic concurrency** — :meth:`VersionedTable._publish` is the
  only commit point: it writes the full manifest to a temp file and
  hard-links it to the version name (``os.link`` is create-exclusive
  on POSIX and the name appears with its content complete; on an
  object store this maps to a conditional PUT / If-None-Match, which
  is exactly how Delta commits to S3). A loser re-reads the head and
  retries against the next version; its already-written data directory
  is reused, so conflict cost is one small JSON retry, not a data
  rewrite. Read-modify-write commits (MERGE, DELETE, streaming state
  merges) go through one loop, :meth:`VersionedTable.rederive`, that
  re-derives from the new head instead.
* **Time travel** — ``read(spark, version=N)`` resolves the historical
  manifest. Old data directories are never mutated, only vacuumed.
* **MERGE / DELETE** — ``merge`` routes through
  :func:`datalake_backend_spark.operators.merge.upsert` and commits the
  result; ``delete_where`` commits the complement. Both are
  copy-on-write (like Delta's default): the new snapshot rewrites data,
  the old snapshot stays readable.
* **Change feed** — ``changes`` diffs two snapshots with
  :func:`~datalake_backend_spark.operators.merge.snapshot_diff`,
  yielding the minimal insert/update/delete changelog between versions.
* **Data skipping** — a commit reads the min/max/null-count statistics
  already present in every parquet FOOTER it just wrote (pyarrow,
  driver-side, no extra Spark job) and records them per file in the
  manifest — Delta's ``stats`` column on ``add`` actions.
  ``read_where`` evaluates simple predicates against those stats and
  hands Spark only the files whose [min, max] can match: a selective
  query on a 100 TB table opens the footers of none of the files it
  skips, which is the difference between a scan and a lookup.
* **OPTIMIZE / VACUUM** — ``compact`` bin-packs the current snapshot
  into ~target-size files as a new metadata-only-visible version (same
  rows, fewer files — small-file pressure is the #1 operational issue
  for streaming ingest at 100 TB); ``vacuum`` deletes data directories
  referenced only by expired versions, with a retention floor so
  in-flight readers of retained versions are never broken.

Scale notes: manifests carry directory names, not per-row state, so a
commit is O(files touched) regardless of table size; at 1000-executor
scale the only serial point is the single manifest create, identical to
Delta's LogStore. The single-writer-per-table-per-instant model (losers
retry) is the standard object-store lakehouse contract.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer published this version first (after retries)."""


#: attempts per publish (lost version races) and per re-derive (lost
#: head races) before :class:`CommitConflict` surfaces
RETRIES = 5


class ConstraintViolation(RuntimeError):
    """A CHECK-constrained commit carried violating rows; nothing was
    published (the data dir is removed, the head is unchanged)."""


#: predicate op -> column builder, the (col, op, val) language shared by
#: read_where / prune_files and the serving layer's serve_gold_where
PRED_COL_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


#: cap on per-file stats columns recorded in the manifest (Delta's
#: dataSkippingNumIndexedCols default); manifests stay O(files), not
#: O(files × width), on very wide tables
MAX_STATS_COLS = 32


def _stat_value(v):
    """Parquet-footer statistic → JSON-storable value whose natural
    ordering matches the column's. Numbers/strings pass through; bytes
    decode as UTF-8 (parquet strings); date/datetime serialize to ISO
    strings (lexicographic == chronological for a fixed format).
    Unsupported types return None → the column is not indexed."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


def _file_stats(abs_file: str) -> dict:
    """Per-column {min, max, nulls} for one parquet file, straight from
    its footer (row-group statistics folded together). Columns with
    absent or non-orderable stats are omitted — absence means "cannot
    prune on this column", never "prune"."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_file).metadata
    agg: dict[str, dict] = {}
    dropped: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name or name in dropped:
                continue  # nested leaves aren't prunable columns
            st = col.statistics
            if st is None:
                dropped.add(name)
                agg.pop(name, None)
                continue
            if not st.has_min_max:
                # an all-null row group HAS no min/max but is still
                # prunable (nulls never satisfy a comparison); anything
                # else without min/max is unusable for skipping
                if st.has_null_count and st.num_values == 0:
                    lo = hi = None
                else:
                    dropped.add(name)
                    agg.pop(name, None)
                    continue
            else:
                lo, hi = _stat_value(st.min), _stat_value(st.max)
                if lo is None or hi is None:
                    dropped.add(name)
                    agg.pop(name, None)
                    continue
            nulls = st.null_count if st.has_null_count else None
            cur = agg.get(name)
            if cur is None:
                agg[name] = {"min": lo, "max": hi, "nulls": nulls}
            else:
                for k, v, pick in (("min", lo, min), ("max", hi, max)):
                    if cur[k] is None:
                        cur[k] = v
                    elif v is not None:
                        cur[k] = pick(cur[k], v)
                if cur["nulls"] is not None and nulls is not None:
                    cur["nulls"] += nulls
                else:
                    cur["nulls"] = None
    if len(agg) > MAX_STATS_COLS:
        agg = dict(sorted(agg.items())[:MAX_STATS_COLS])
    return {"rows": md.num_rows, "stats": agg}


def _collect_dir_stats(base: str, rel_dir: str) -> list[dict]:
    """Footer stats for every parquet file under one data dir.
    Driver-side metadata reads only — the same footers Spark itself
    wrote a moment earlier (page-cache hot); no Spark job."""
    out = []
    root_abs = os.path.join(base, rel_dir)
    for root, _dirs, files in os.walk(root_abs):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            abs_f = os.path.join(root, f)
            rel_f = os.path.join(rel_dir, os.path.relpath(abs_f, root_abs))
            entry = {"path": rel_f}
            entry.update(_file_stats(abs_f))
            out.append(entry)
    return out


_PRED_OPS = {
    "=": lambda lo, hi, v: lo <= v <= hi,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
}


def _dir_specs(man: dict) -> dict:
    """Per-dir partition scheme of a manifest. Evolved manifests carry
    ``partition_specs`` explicitly; pre-evolution manifests recorded
    one table-wide ``partition_by`` — expand it so every caller sees
    the same shape (back-compat read path)."""
    return man.get("partition_specs") or {
        d: man.get("partition_by", []) for d in man["dirs"]
    }


def _partition_can_match(rel_path: str, predicates: list[tuple]) -> bool:
    """Hive partition pruning from the file PATH: a segment
    ``col=value`` pins that column to one value for every row in the
    file, so any predicate on it evaluates exactly. Values are compared
    after coercing the path string to the literal's type; coercion
    failure keeps the file."""
    from urllib.parse import unquote

    parts = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            c, _, v = seg.partition("=")
            parts[c] = unquote(v)
    if not parts:
        return True
    for col, op, val in predicates:
        raw = parts.get(col)
        if raw is None:
            continue
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return False  # null partition never matches a comparison
        try:
            if isinstance(val, bool):
                # bool('false') is True — map the hive path literal
                # explicitly, or a False predicate over-prunes every
                # false-partition file
                low = raw.lower()
                if low not in ("true", "false"):
                    continue
                x = low == "true"
            elif not isinstance(val, str):
                x = type(val)(raw)
            else:
                x = raw
        except (TypeError, ValueError):
            continue
        if not PRED_COL_OPS[op](x, val):
            return False
    return True


def _file_can_match(entry: dict, predicates: list[tuple]) -> bool:
    """Conservative stats check: False ONLY when the footer proves no
    row in the file can satisfy every predicate. Missing stats for a
    predicate's column keep the file."""
    for col, op, val in predicates:
        st = (entry.get("stats") or {}).get(col)
        if st is None:
            continue
        if st["min"] is None or (
            st["nulls"] is not None and st["nulls"] == entry.get("rows")
        ):
            return False  # all-null column never matches a comparison
        v = _stat_value(val)
        if v is None or isinstance(v, str) != isinstance(st["min"], str):
            continue  # incomparable literal: don't prune
        if not _PRED_OPS[op](st["min"], st["max"], v):
            return False
    return True


class VersionedTable:
    """A versioned parquet table rooted at ``path``.

    Layout::

        path/
          _log/00000001.json   # manifest per version (immutable)
          data/00000001-<uuid>/part-*.parquet   # immutable data dirs
    """

    MANIFEST_WIDTH = 8

    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, "_log")
        self.data_dir = os.path.join(path, "data")

    # ---------------------------------------------------------- log
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:0{self.MANIFEST_WIDTH}d}.json")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for f in os.listdir(self.log_dir):
            if f.endswith(".json"):
                try:
                    out.append(int(f[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no commits at {self.path}")
        p = self._manifest_path(version)
        if not os.path.exists(p):
            raise FileNotFoundError(f"version {version} not found at {self.path}")
        with open(p) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """All manifests, oldest first (version, op, num_rows, ts, dirs)."""
        return [self.manifest(v) for v in self._versions()]

    #: rewrite the epoch checkpoint every N commits
    EPOCH_CKPT_INTERVAL = 32

    def _epoch_ckpt_path(self) -> str:
        # NOT *.json — _versions() must never mistake it for a manifest
        return os.path.join(self.log_dir, "epochs.ckpt")

    def committed_epochs(self) -> set:
        """The set of ``metadata['epoch']`` tags across all commits —
        the exactly-once guard every streaming sink consults per
        micro-batch. A full ``history()`` walk is O(versions) JSON
        reads per batch, which turns a long-running stream quadratic
        in its own commit count; this is Delta's checkpoint idea
        applied to that one full-log scan: a sidecar file stores
        ``{version, epochs}`` up to some version, a read folds ONLY the
        newer manifests, and every :attr:`EPOCH_CKPT_INTERVAL` commits
        the checkpoint is rewritten (atomic ``os.replace``;
        best-effort — the content is always self-consistent "epochs of
        all manifests ≤ version", so losing a race to a writer with an
        older head only means a slightly longer rescan, never a wrong
        set)."""
        head = self.latest_version()
        if head is None:
            return set()
        ckpt_v, epochs = 0, set()
        p = self._epoch_ckpt_path()
        try:
            with open(p) as fh:
                d = json.load(fh)
            ckpt_v, epochs = int(d["version"]), set(d["epochs"])
            if ckpt_v > head:  # log was rewritten under us: distrust
                ckpt_v, epochs = 0, set()
        except (FileNotFoundError, ValueError, KeyError, TypeError):
            # any malformed checkpoint (missing, bad JSON, valid JSON of
            # the wrong shape) degrades to the full log walk — pure cache
            ckpt_v, epochs = 0, set()
        for v in self._versions():
            if v <= ckpt_v:
                continue
            e = (self.manifest(v).get("metadata") or {}).get("epoch")
            if e is not None:
                epochs.add(e)
        if head - ckpt_v >= self.EPOCH_CKPT_INTERVAL:
            tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
            try:
                with open(tmp, "w") as fh:
                    json.dump({"version": head, "epochs": sorted(epochs)}, fh)
                os.replace(tmp, p)
            except OSError:  # pragma: no cover - contention is benign
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
        return epochs

    # ------------------------------------------------------- commit
    def commit(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        op: str | None = None,
        max_retries: int = RETRIES,
        metadata: dict | None = None,
        partition_by: list[str] | None = None,
        expected_head: int | None = None,
        constraints: list[dict] | None = None,
    ) -> int:
        """Write ``df`` as a new snapshot and publish it atomically.

        ``mode='overwrite'`` → the new snapshot is exactly ``df``;
        ``mode='append'`` → the new snapshot is the previous snapshot's
        directories plus ``df``'s. Returns the committed version.

        ``partition_by`` writes the data directory hive-partitioned;
        the manifest records the scheme PER DIRECTORY and reads recover
        the partition columns (and their directory-level pruning) via
        ``basePath``. An append may use a DIFFERENT scheme than the
        snapshot it extends — Iceberg-style partition-spec evolution:
        old dirs keep their spec, nothing is rewritten, and the next
        full rewrite (compact/merge/copy-delete) materializes the
        current spec across the whole table.

        The data directory is written ONCE; only the tiny manifest
        create is retried on conflict. ``expected_head`` is the
        read-modify-write guard described at :meth:`_publish`.
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        obs = None
        if constraints:
            # Delta-style CHECK constraints: row-level rules ride the
            # write itself as observe() metrics — ZERO extra jobs, and
            # because the manifest publishes only after the check, a
            # violating commit leaves no visible snapshot (atomic
            # reject). Aggregate-shaped rules (unique / foreign_key)
            # need their own jobs — run check_constraints separately.
            from pyspark.sql import Observation

            bad = [r["rule"] for r in constraints if r.get("kind") != "row"]
            if bad:
                raise ValueError(
                    "commit constraints must be row-level CHECK rules "
                    f"(got {bad}); run check_constraints for the rest"
                )
            obs = Observation()
            # same violation expression as check_constraints: a NULL
            # predicate passes value rules (pair with not_null), so the
            # commit gate and the report path can never disagree
            df = df.observe(
                obs,
                *[
                    F.sum((~r["pred"]).cast("long")).alias(r["rule"])
                    for r in constraints
                ],
            )
        dir_name = f"{uuid.uuid4().hex[:12]}"
        rel_dir = f"data/{dir_name}"
        abs_dir = os.path.join(self.path, rel_dir)
        writer = df.write.mode("error")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(abs_dir)
        if obs is not None:
            violated = {k: v for k, v in obs.get.items() if v}
            if violated:
                import shutil

                shutil.rmtree(abs_dir, ignore_errors=True)
                raise ConstraintViolation(
                    f"commit rejected at {self.path}: {violated}"
                )
            metadata = dict(
                metadata or {}, constraints_checked=[r["rule"] for r in constraints]
            )
        # per-file footer stats for data skipping; row count folds out
        # of the same footers (no Spark job, no re-scan)
        file_entries = _collect_dir_stats(self.path, rel_dir)
        num_rows = sum(e["rows"] for e in file_entries)

        schema_json = json.loads(df.schema.json())
        spec = partition_by or []

        def build(prev: dict, _version: int) -> dict:
            man = {
                "dirs": [rel_dir],
                "num_rows": num_rows,
                # per-dir partition scheme (Iceberg spec evolution);
                # partition_by stays the CURRENT spec
                "partition_by": spec,
                "partition_specs": {rel_dir: spec},
                # per-file footer stats (Delta add-action "stats"):
                # the data-skipping index, O(files) manifest cost
                "files": file_entries,
                "schema": schema_json,
                # snapshot spans data dirs with differing schemas →
                # reads must merge footers (schema evolution)
                "mixed_schema": False,
                # merge-on-read deletion vectors (Delta's inline DV
                # encoding): [{path, ranges: [[lo, hi]...], rows}]
                "dvs": [],
                # caller-supplied commit tags (e.g. a streaming epoch id
                # for replay-idempotent sinks)
                "metadata": metadata or {},
            }
            if mode == "append" and prev:
                # partition-spec EVOLUTION (Iceberg-style): each data
                # dir records its own spec and reads recover every dir
                # under its own basePath; old data is never rewritten.
                # Deletion vectors ride along (the new dir has none),
                # and appending a changed schema flags the snapshot so
                # reads merge parquet footers.
                man.update(
                    dirs=prev["dirs"] + [rel_dir],
                    num_rows=prev["num_rows"] + num_rows,
                    partition_specs={**_dir_specs(prev), rel_dir: spec},
                    files=prev.get("files", []) + file_entries,
                    dvs=prev.get("dvs", []),
                    mixed_schema=prev.get("mixed_schema", False)
                    or prev.get("schema") != schema_json,
                )
            return man

        return self._publish(build, op or mode, expected_head, max_retries)

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION AS OF — publish a NEW commit whose
        snapshot is exactly ``version``'s (Delta's RESTORE semantics):
        O(1) metadata, zero bytes copied — the new manifest re-points
        at the target's immutable data dirs. History is preserved (a
        restore is a commit, not a rewind), so concurrent readers
        pinned to any version stay consistent, the restore itself can
        be time-traveled past, and VACUUM's retain-last window now
        protects the restored dirs because the head references them.
        Raises ``FileNotFoundError`` if the target's data was already
        VACUUMed away (a restore must never publish a torn snapshot)."""
        man = self.manifest(version)
        missing = [
            d
            for d in man["dirs"]
            if not os.path.isdir(os.path.join(self.path, d))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to v{version}: data dirs vacuumed away: "
                f"{missing}"
            )
        return self._publish(
            lambda _prev, _v: dict(man, metadata={"restored_from": version}),
            "restore",
        )

    def fsck(self, version: int | None = None) -> dict:
        """Manifest↔storage integrity check for one snapshot (latest by
        default): every referenced data dir and stats-indexed file must
        exist, and each file's on-disk footer row count must match the
        manifest's skipping stats (a drifted stats entry silently
        mis-prunes). Deletion vectors are validated structurally:
        ranges must be sorted, disjoint, within the file's footer row
        count, and sum to the recorded ``rows``. Returns ``{'ok':
        bool, 'missing_dirs': [...], 'missing_files': [...],
        'stat_mismatches': [...], 'dv_errors': [...]}`` — the
        operational pre-flight before serving a snapshot or trusting a
        VACUUM/restore sequence. Metadata-only: reads parquet FOOTERS
        (pyarrow), never data pages; cost is O(files), no Spark job."""
        import pyarrow.parquet as pq

        man = self.manifest(version)
        missing_dirs = [
            d
            for d in man["dirs"]
            if not os.path.isdir(os.path.join(self.path, d))
        ]
        missing_files, stat_mismatches = [], []
        for e in man.get("files", []):
            p = os.path.join(self.path, e["path"])
            if not os.path.exists(p):
                missing_files.append(e["path"])
                continue
            try:
                n = pq.ParquetFile(p).metadata.num_rows
            except Exception:
                stat_mismatches.append({"path": e["path"], "error": "unreadable"})
                continue
            if n != e["rows"]:
                stat_mismatches.append(
                    {"path": e["path"], "manifest_rows": e["rows"], "disk_rows": n}
                )
        file_rows = {e["path"]: e["rows"] for e in man.get("files", [])}
        dv_errors = []
        for dv in man.get("dvs", []):
            path, ranges = dv["path"], dv["ranges"]
            bad = None
            if any(lo > hi for lo, hi in ranges):
                bad = "inverted range"
            elif any(
                ranges[i][1] >= ranges[i + 1][0] for i in range(len(ranges) - 1)
            ):
                bad = "unsorted/overlapping ranges"
            elif sum(hi - lo + 1 for lo, hi in ranges) != dv["rows"]:
                bad = "rows != covered positions"
            elif path in file_rows and ranges and ranges[-1][1] >= file_rows[path]:
                bad = "range beyond file rows"
            elif man.get("files") and path not in file_rows:
                bad = "dv for unknown file"
            if bad:
                dv_errors.append({"path": path, "error": bad})
        return {
            "ok": not (
                missing_dirs or missing_files or stat_mismatches or dv_errors
            ),
            "missing_dirs": missing_dirs,
            "missing_files": missing_files,
            "stat_mismatches": stat_mismatches,
            "dv_errors": dv_errors,
        }

    def version_as_of(self, ts: float) -> int:
        """TIMESTAMP AS OF resolution: the latest version whose commit
        time is ≤ ``ts`` (epoch seconds). Raises if the table has no
        commit that old."""
        best = None
        for v in self._versions():
            if self.manifest(v)["ts"] <= ts:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no version at or before ts={ts} at {self.path}"
            )
        return best

    def _apply_dvs(self, spark: SparkSession, df: DataFrame, man: dict) -> DataFrame:
        """Merge-on-read: drop rows covered by the snapshot's deletion
        vectors. The DV table (one row per deleted range, keyed by the
        file's table-relative path — basenames are NOT unique across
        hive partition dirs, a dynamic-partition task reuses its
        filename in every partition it writes) broadcasts; the anti
        join is a BroadcastHashJoin on that path with the range
        containment as an extra condition — per-row cost is a hash
        probe, no shuffle, no nested loop. Files without DVs stream
        through untouched."""
        dvs = man.get("dvs") or []
        if not dvs:
            return df
        ranges = [
            (e["path"], int(lo), int(hi))
            for e in dvs
            for lo, hi in e["ranges"]
        ]
        rdf = spark.createDataFrame(
            ranges, "dv_file string, dv_lo long, dv_hi long"
        )
        out = (
            df.withColumn(
                "_dv_file",
                # table-relative path: substring after the literal base
                # (substring_index is literal, split would regex-parse)
                F.substring_index(
                    F.col("_metadata.file_path"), self.path + "/", -1
                ),
            )
            .withColumn("_dv_ri", F.col("_metadata.row_index"))
            .join(
                F.broadcast(rdf),
                (F.col("_dv_file") == F.col("dv_file"))
                & F.col("_dv_ri").between(F.col("dv_lo"), F.col("dv_hi")),
                "left_anti",
            )
        )
        return out.drop("_dv_file", "_dv_ri")

    def _publish(
        self,
        build_manifest,
        op: str,
        expected_head: int | None = None,
        max_retries: int = RETRIES,
    ) -> int:
        """The table's only commit point. ``build_manifest(prev, version)``
        returns the new manifest from the head's (``{}`` on an empty
        table); it is rebuilt against each new head after a lost race.

        The FULL manifest goes to a temp file that is then hard-linked
        to the version name: ``link()`` is create-exclusive AND the
        content is complete the instant the name appears (a bare
        ``open('x')`` would expose an empty file mid-write; a concurrent
        reader caught exactly that in an 8-writer stress test). On an
        object store this is a conditional PUT of the whole object.

        ``expected_head`` is the optimistic-concurrency guard for
        read-modify-write commits: the version the caller DERIVED its
        snapshot from (0 = an empty table). If another writer has
        published past it, retrying at a later version would silently
        throw away that writer's commit, so this raises
        :class:`CommitConflict` at once and the caller re-derives from
        the new head (Delta's ConcurrentModificationException contract;
        see :meth:`rederive`). Plain appends commute and need no guard."""
        os.makedirs(self.log_dir, exist_ok=True)
        for _ in range(max_retries):
            head = self.latest_version()
            if expected_head is not None and (head or 0) != expected_head:
                raise CommitConflict(
                    f"head moved {expected_head} -> {head} at {self.path}; "
                    "re-derive from the new snapshot"
                )
            version = (head or 0) + 1
            man = dict(
                build_manifest(self.manifest(head) if head else {}, version),
                version=version,
                op=op,
                ts=time.time(),
            )
            path = self._manifest_path(version)
            tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(man, fh)
            try:
                os.link(tmp, path)
                return version
            except FileExistsError:
                continue  # lost the race; retry against the new head
            finally:
                os.unlink(tmp)
        raise CommitConflict(
            f"lost {max_retries} commit races at {self.path}; giving up"
        )

    # --------------------------------------------------------- read
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_ts: float | None = None,
    ) -> DataFrame:
        """Snapshot read. ``version=None`` → latest; ``version=N`` →
        VERSION AS OF; ``as_of_ts`` (epoch seconds) → TIMESTAMP AS
        OF."""
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_ts, not both")
            version = self.version_as_of(as_of_ts)
        man = self.manifest(version)
        paths = [os.path.join(self.path, d) for d in man["dirs"]]
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise FileNotFoundError(
                f"version {man['version']} was vacuumed: missing {missing}"
            )
        def reader():
            r = spark.read
            if man.get("mixed_schema"):
                # only evolved snapshots pay the footer-merge cost; a
                # homogeneous table stays on the single-footer fast path
                r = r.option("mergeSchema", "true")
            return r

        specs = _dir_specs(man)
        if any(specs.values()):
            # hive-partitioned dirs: each data dir is its own partition
            # root (basePath) under its OWN spec (partition-spec
            # evolution: specs may differ per dir), so partition
            # columns are recovered and directory pruning applies per
            # branch; the union of a few branches keeps pushdown and
            # pruning on every one. An unpartitioned dir in an evolved
            # table reads plain — its rows carry the column in-file or
            # surface NULL via allowMissingColumns.
            dfs = [
                reader().option("basePath", p).parquet(p)
                if specs.get(d)
                else reader().parquet(p)
                for d, p in zip(man["dirs"], paths)
            ]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return self._apply_dvs(spark, out, man)
        return self._apply_dvs(spark, reader().parquet(*paths), man)

    def prune_files(
        self, predicates: list[tuple], version: int | None = None
    ) -> tuple[list[str], int, int]:
        """Data-skipping file selection: evaluate ``[(col, op, value),
        ...]`` (op ∈ =, <, <=, >, >=; conjunctive) against the
        manifest's per-file footer stats and the hive partition values
        in each file's path. Returns ``(kept relative paths, n_total,
        n_kept)``. Conservative by construction — a file is dropped
        only when its stats or partition values PROVE no row matches;
        dirs without recorded stats are kept whole."""
        man = self.manifest(version)
        by_dir: dict[str, list[dict]] = {d: [] for d in man["dirs"]}
        for e in man.get("files", []):
            for d in by_dir:
                if e["path"].startswith(d + "/"):
                    by_dir[d].append(e)
                    break
        kept, total = [], 0
        for d, entries in by_dir.items():
            if not entries:  # no stats recorded for this dir: keep all
                kept.append(d)
                total += 1
                continue
            for e in entries:
                total += 1
                if _partition_can_match(
                    e["path"], predicates
                ) and _file_can_match(e, predicates):
                    kept.append(e["path"])
        return kept, total, len(kept)

    def read_where(
        self,
        spark: SparkSession,
        predicates: list[tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read that SKIPS files whose footer stats prove they
        cannot satisfy ``predicates`` — then still applies the exact
        filter to the survivors (skipping is an optimization, never the
        semantics). At scale this is the lookup path: a point query on
        a sorted/Z-ordered table touches one file, not the table."""
        from pyspark.sql import types as ST

        man = self.manifest(version)
        kept, _total, _n = self.prune_files(predicates, version)

        def residual(df: DataFrame) -> DataFrame:
            for col, op, val in predicates:
                df = df.where(PRED_COL_OPS[op](F.col(col), F.lit(val)))
            return df

        specs = _dir_specs(man)
        if not kept:
            schema = ST.StructType.fromJson(man["schema"])
            for spec in specs.values():
                for pcol in spec:
                    if pcol not in schema.fieldNames():
                        schema = schema.add(pcol, ST.StringType())
            return spark.createDataFrame([], schema)
        r = spark.read
        if man.get("mixed_schema"):
            r = r.option("mergeSchema", "true")
        if any(specs.values()):
            # group kept paths by their data dir so each keeps its own
            # basePath under its OWN spec (partition-column recovery
            # per dir; specs may differ — spec evolution)
            out = None
            for d in man["dirs"]:
                paths = [
                    os.path.join(self.path, p)
                    for p in kept
                    if p == d or p.startswith(d + "/")
                ]
                if not paths:
                    continue
                if specs.get(d):
                    part = r.option(
                        "basePath", os.path.join(self.path, d)
                    ).parquet(*paths)
                else:
                    part = r.parquet(*paths)
                out = part if out is None else out.unionByName(
                    part, allowMissingColumns=True
                )
            return residual(self._apply_dvs(spark, out, man))
        return residual(
            self._apply_dvs(
                spark,
                r.parquet(*[os.path.join(self.path, p) for p in kept]),
                man,
            )
        )

    # ----------------------------------------------- table mutations
    def rederive(self, attempt, epoch=None) -> int | None:
        """The one read-modify-write loop: ``attempt(head)`` derives the
        new snapshot FROM version ``head`` (None on an empty table) and
        publishes pinned to it; on :class:`CommitConflict` it re-runs
        against the new head — never publish a result computed against
        a stale base (which would silently erase the winner's commit).

        With ``epoch``, a streaming micro-batch whose epoch is already
        tagged on a committed manifest is a replay: the loop returns
        None without committing. The check runs after the head is read,
        so a replay that lands in between trips the head guard and is
        caught on the retry."""
        last: CommitConflict | None = None
        for _ in range(RETRIES):
            head = self.latest_version()
            if epoch is not None and epoch in self.committed_epochs():
                return None
            try:
                return attempt(head)
            except CommitConflict as e:
                last = e
        # never fall through silently: a streaming caller would report
        # success and advance its checkpoint past dropped rows
        raise last

    def rewrite(
        self, spark: SparkSession, derive, op: str, epoch=None
    ) -> int | None:
        """Copy-on-write read-modify-write through :meth:`rederive`:
        ``derive(base)`` maps the head snapshot (None on an empty table)
        to the new one, committed with the snapshot's partition scheme
        and, when given, the streaming ``epoch`` tag. Returns the new
        version, or None for a replayed epoch."""

        def attempt(head):
            man = self.manifest(head) if head else {}
            return self.commit(
                derive(self.read(spark, head) if head else None),
                op=op,
                partition_by=man.get("partition_by") or None,
                metadata=None if epoch is None else {"epoch": epoch},
                expected_head=head or 0,
            )

        return self.rederive(attempt, epoch)

    def merge(
        self, spark: SparkSession, updates: DataFrame, key_cols: list[str]
    ) -> int:
        """MERGE INTO (upsert) as copy-on-write: last-writer-wins by
        key against the latest snapshot, committed as a new version.
        Concurrent writers re-derive on conflict instead of clobbering
        each other (see :meth:`rederive`)."""
        from datalake_backend_spark.operators.merge import upsert

        self._require_snapshot()
        return self.rewrite(
            spark, lambda base: upsert(base, updates, key_cols), "merge"
        )

    def _require_snapshot(self) -> None:
        if self.latest_version() is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")

    def delete_where(
        self,
        spark: SparkSession,
        predicate,
        mode: str = "copy",
        max_range_entries: int = 100_000,
    ) -> int:
        """DELETE FROM ... WHERE.

        ``mode='copy'`` — copy-on-write: rewrite the complement
        snapshot (every surviving row is copied). Right when the
        delete is large or the table is small.

        ``mode='dv'`` — merge-on-read deletion vectors: find the
        matching rows' positions (``_metadata.row_index``), range-
        compress them per file, and publish a MANIFEST-ONLY commit
        carrying the vectors — zero data bytes written, the Delta DV
        shape. This is the 100 TB shape for selective deletes (a
        GDPR-style delete of a few thousand rows must not rewrite
        terabytes): cost is one filtered scan + an O(ranges) metadata
        write. Readers anti-join the broadcast vectors (see
        :meth:`_apply_dvs`); the next full rewrite (compact / merge /
        copy delete) reads through the vectors and materializes them
        away. New vectors merge with existing ones; disjointness is
        guaranteed because positions are derived from the DV-filtered
        read. Falls back to copy-on-write when the compressed vectors
        exceed ``max_range_entries`` ranges (a delete THAT fragmented
        is cheaper rewritten — and an unbounded inline manifest is a
        scale hazard, so the cap is loud, not silent).

        Both modes return the committed version; a 'dv' delete
        matching zero rows is a no-op returning the current head."""
        self._require_snapshot()
        if mode == "copy":
            return self.rewrite(spark, lambda base: base.where(~predicate), "delete")
        if mode != "dv":
            raise ValueError(f"mode must be copy|dv, got {mode!r}")
        from pyspark.sql import Window

        def attempt(head: int) -> int:
            prev_man = self.manifest(head)
            n_prev_ranges = sum(
                len(e["ranges"]) for e in prev_man.get("dvs", [])
            )
            # range-compress EXECUTOR-side (gaps-and-islands: consecutive
            # row indexes share `_ri - row_number()`), so the driver only
            # ever sees [lo, hi] runs — a delete matching millions of
            # contiguous rows collects a handful of ranges, never the
            # per-row index list. The cap is enforced BEFORE the collect:
            # take(budget + 1) bounds driver materialization to
            # max_range_entries + 1 rows even when the delete is so
            # fragmented that ranges ≈ rows (the copy-on-write fallback
            # then rewrites instead). Conservative vs the old post-merge
            # check: new + existing ranges over the cap falls back even
            # if merging adjacent runs would have compressed below it.
            w = Window.partitionBy("_fp").orderBy("_ri")
            runs = (
                self.read(spark, head)
                .where(predicate)
                .select(
                    F.col("_metadata.file_path").alias("_fp"),
                    F.col("_metadata.row_index").alias("_ri"),
                )
                .withColumn("_grp", F.col("_ri") - F.row_number().over(w))
                .groupBy("_fp", "_grp")
                .agg(F.min("_ri").alias("_lo"), F.max("_ri").alias("_hi"))
            )
            budget = max(0, max_range_entries - n_prev_ranges)
            matched = runs.select("_fp", "_lo", "_hi").take(budget + 1)
            if not matched:
                return head
            if len(matched) > budget:
                return self.rewrite(
                    spark, lambda base: base.where(~predicate), "delete"
                )
            new_dvs: dict[str, list[list[int]]] = {}
            n_deleted = 0
            for row in matched:
                uri = row["_fp"]
                idx = uri.rfind(self.path)
                rel = uri[idx + len(self.path) + 1 :] if idx >= 0 else uri
                new_dvs.setdefault(rel, []).append(
                    [int(row["_lo"]), int(row["_hi"])]
                )
                n_deleted += int(row["_hi"]) - int(row["_lo"]) + 1
            for ranges in new_dvs.values():
                ranges.sort()
            merged: dict[str, list[list[int]]] = {
                e["path"]: [list(r) for r in e["ranges"]]
                for e in prev_man.get("dvs", [])
            }
            for rel, ranges in new_dvs.items():
                if rel in merged:
                    allr = sorted(merged[rel] + ranges)
                    packed = [allr[0]]
                    for lo, hi in allr[1:]:
                        if lo <= packed[-1][1] + 1:
                            packed[-1][1] = max(packed[-1][1], hi)
                        else:
                            packed.append([lo, hi])
                    merged[rel] = packed
                else:
                    merged[rel] = ranges
            dvs = [
                {
                    "path": rel,
                    "ranges": ranges,
                    "rows": sum(hi - lo + 1 for lo, hi in ranges),
                }
                for rel, ranges in sorted(merged.items())
            ]
            return self._publish(
                lambda prev, _v: dict(
                    prev,
                    dvs=dvs,
                    num_rows=prev["num_rows"] - n_deleted,
                    metadata={"rows_deleted": n_deleted},
                ),
                "delete-dv",
                expected_head=head,
            )

        return self.rederive(attempt)

    def changes(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        key_cols: list[str],
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two committed versions: the minimal
        insert/update/delete changelog (one full-outer key join)."""
        from datalake_backend_spark.operators.merge import snapshot_diff

        return snapshot_diff(
            self.read(spark, v_from), self.read(spark, v_to), key_cols, compare_cols
        )

    def create_view(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> None:
        """Register a snapshot as a temp view so ``spark.sql`` can
        query it — ``create_view(spark, "orders_v3", version=3)`` is
        the plain-parquet spelling of ``SELECT ... FROM t VERSION AS
        OF 3``. The view binds the manifest resolved NOW: later
        commits don't leak in (re-register to follow the head)."""
        self.read(spark, version).createOrReplaceTempView(name)

    # ------------------------------------------------- maintenance
    def compact(
        self,
        spark: SparkSession,
        target_bytes: int = 128 << 20,
        zorder_by: tuple | None = None,
        zorder_bits: int = 16,
    ) -> int:
        """OPTIMIZE: rewrite the current snapshot into ~target-size
        files (metadata-identical rows). Partition count derives from
        on-disk bytes of the current snapshot's files, so a table built
        from thousands of streaming micro-batch files collapses to a
        scan-efficient layout.

        ``zorder_by=(col, col, ...)`` (n ≥ 2) additionally
        range-partitions and sorts the rewrite by the Morton interleave
        of the (integer, pre-quantized) columns — ``OPTIMIZE ... ZORDER
        BY``: every output file covers a compact n-dimensional box, so
        parquet min/max statistics prune files for predicates on ANY of
        the dimensions. Verified by the clustering tests, which check
        that per-file min/max ranges of every dim shrink vs the
        unsorted layout (2-d and 3-d). ``zorder_bits`` is clamped so
        ``bits * n`` fits a signed long.

        Commits pinned to the head it read (``expected_head``): OPTIMIZE
        must never clobber a merge that landed while it rewrote —
        losing the race raises :class:`CommitConflict`; re-run against
        the new head (rows changed, so a blind re-derive is wrong)."""
        head = self.latest_version()
        man = self.manifest(head)
        total_bytes = 0
        for d in man["dirs"]:
            for root, _dirs, files in os.walk(os.path.join(self.path, d)):
                total_bytes += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if f.endswith(".parquet")
                )
        n_parts = max(1, -(-total_bytes // target_bytes))  # ceil div
        df = self.read(spark, head)
        if zorder_by is not None:
            from datalake_backend_spark.core.geometry import zorder_key

            n_z = len(zorder_by)
            bits = min(zorder_bits, 63 // n_z, 16 if n_z == 2 else 63)
            df = (
                df.withColumn(
                    "_zkey",
                    zorder_key(
                        *[F.col(c) for c in zorder_by], bits=bits
                    ),
                )
                .repartitionByRange(int(n_parts), "_zkey")
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        else:
            df = df.coalesce(int(n_parts))
        return self.commit(
            df,
            op="compact",
            partition_by=man.get("partition_by") or None,
            expected_head=head,
        )

    def file_count(self, version: int | None = None) -> int:
        """Number of data files in a snapshot (from the stats index —
        no listing; dirs without an index fall back to a walk)."""
        man = self.manifest(version)
        entries = man.get("files")
        if entries:
            return len(entries)
        n = 0
        for d in man["dirs"]:
            for _root, _dirs, files in os.walk(os.path.join(self.path, d)):
                n += sum(f.endswith(".parquet") for f in files)
        return n

    def maybe_compact(
        self,
        spark: SparkSession,
        max_files: int = 64,
        target_bytes: int = 128 << 20,
    ) -> int | None:
        """Auto-OPTIMIZE policy for streaming ingest: compact when the
        current snapshot holds more than ``max_files`` data files
        (micro-batch appends accumulate one small dir per epoch —
        small-file pressure is the #1 operational issue at scale).
        Returns the new version, or None when under the threshold. A
        compaction that loses a race to a concurrent commit surfaces
        as :class:`CommitConflict` (see :meth:`compact`)."""
        if self.file_count() <= max_files:
            return None
        return self.compact(spark, target_bytes=target_bytes)

    def clone_to(self, dest_path: str) -> "VersionedTable":
        """SHALLOW CLONE: a new table whose first version references
        this table's CURRENT data directories without copying a byte —
        metadata-only, O(1) regardless of table size (Delta's shallow
        clone). The clone evolves independently (its own commits write
        its own dirs). Caveat, same as Delta's: VACUUM on the source
        can delete dirs the clone still references — retain the source
        or deep-copy before vacuuming under a clone."""
        man = self.manifest()
        dst = VersionedTable(dest_path)
        os.makedirs(dst.log_dir, exist_ok=True)
        if dst.latest_version() is not None:
            raise ValueError(f"clone target {dest_path} is not empty")
        # absolute dir references back into the source table
        src_dirs = [
            os.path.relpath(os.path.join(self.path, d), dst.path)
            for d in man["dirs"]
        ]
        src_specs = _dir_specs(man)
        new_man = dict(
            man,
            dirs=src_dirs,
            # per-dir partition specs are keyed by dir NAME — remap the
            # keys alongside the relpath'd dirs or a partitioned (or
            # spec-evolved) source would lose its partition columns on
            # every clone read (specs.get(new_dir) misses). Tolerate a
            # spec dict missing a dir entry (externally produced or
            # older manifests) the same way every read path does.
            partition_specs={
                new_d: src_specs.get(old_d, [])
                for old_d, new_d in zip(man["dirs"], src_dirs)
            },
            metadata={"cloned_from": self.path, "source_version": man["version"]},
            files=[
                dict(e, path=os.path.relpath(
                    os.path.join(self.path, e["path"]), dst.path
                ))
                for e in man.get("files", [])
            ],
        )
        dst._publish(lambda _prev, _v: new_man, "clone", expected_head=0)
        return dst

    def deep_clone_to(self, dest_path: str) -> "VersionedTable":
        """DEEP CLONE: physically copy the CURRENT snapshot's data
        directories into a fresh single-version table — the
        export/migration shape (Delta's ``CLONE ... DEEP``). Unlike
        :meth:`clone_to`, the result has NO liveness coupling to the
        source: VACUUM (or deletion) of the source cannot break it.
        The table-relative layout is preserved byte-for-byte, so the
        file-keyed deletion vectors and footer skipping stats in the
        manifest carry over verbatim — a DV-deleted row stays deleted
        in the clone without rewriting any parquet.

        Restart-safe: data lands entirely before the v1 manifest
        publishes (tmp + hard-link, the same torn-read-safe publish as
        ``commit``), so a killed clone leaves only a manifest-less
        dest that a retry overwrites (``dirs_exist_ok``)."""
        import shutil as _sh

        man = self.manifest()
        dst = VersionedTable(dest_path)
        if dst.latest_version() is not None:
            raise ValueError(f"clone target {dest_path} is not empty")
        os.makedirs(dst.log_dir, exist_ok=True)
        for d in man["dirs"]:
            _sh.copytree(
                os.path.join(self.path, d),
                os.path.join(dst.path, d),
                dirs_exist_ok=True,
            )
        new_man = dict(
            man,
            metadata={
                "cloned_from": self.path,
                "source_version": man["version"],
            },
        )
        dst._publish(lambda _prev, _v: new_man, "deep_clone", expected_head=0)
        return dst

    def vacuum(
        self, retain_last: int = 2, orphan_grace_seconds: float | None = None
    ) -> list[str]:
        """Delete data directories referenced ONLY by versions older
        than the ``retain_last`` most recent. Retained versions (and
        any reader holding one) stay fully readable; older manifests
        remain as history but their exclusive data is gone.

        Only directories that some EXPIRED manifest references are
        candidates by default. A directory referenced by NO manifest is
        normally never touched: it is most likely an in-flight commit
        that wrote data but hasn't published yet, and deleting it would
        corrupt that commit the instant its manifest lands. Such
        orphans DO accumulate, though — crashed writers and RMW commits
        that lost their head race both leave one — so
        ``orphan_grace_seconds`` opts into reclaiming orphans whose
        newest file is older than the grace window (an in-flight commit
        publishes within seconds of its last write; hours of grace is
        the same retention bet Delta's VACUUM makes)."""
        vs = self._versions()
        if not vs:
            return []
        keep_versions = set(vs[-retain_last:]) if retain_last > 0 else set()
        live: set[str] = set()
        expired_refs: set[str] = set()
        for v in vs:
            dirs = self.manifest(v)["dirs"]
            if v in keep_versions:
                live.update(dirs)
            else:
                expired_refs.update(dirs)
        doomed = set(expired_refs - live)
        if orphan_grace_seconds is not None and os.path.isdir(self.data_dir):
            referenced = live | expired_refs
            now = time.time()
            for name in os.listdir(self.data_dir):
                rel = f"data/{name}"
                if rel in referenced:
                    continue
                newest = 0.0
                for root, _dirs, files in os.walk(
                    os.path.join(self.path, rel)
                ):
                    for f in files:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(root, f))
                        )
                if now - newest > orphan_grace_seconds:
                    doomed.add(rel)
        removed = []
        for rel in sorted(doomed):
            if rel.startswith(".."):
                continue  # shallow-clone reference into another table:
                # never reach outside this table's root (the source
                # table owns that data and its own retention)
            target = os.path.join(self.path, rel)
            if os.path.isdir(target):
                shutil.rmtree(target, ignore_errors=True)
                removed.append(rel)
        return removed


class ChangeConsumer:
    """Checkpointed incremental consumer of a :class:`VersionedTable`
    change feed — the polling twin of a streaming read on Delta CDF,
    for downstream systems (search-index sync, cache invalidation,
    derived-table maintenance) that want ONLY what changed since they
    last looked, never a full snapshot re-scan.

    Protocol: ``poll()`` returns ``(changes_df, span)`` covering
    ``(cursor, head]`` (or ``None`` when caught up); the caller applies
    the changes idempotently, then ``ack(span)`` advances the durable
    cursor (atomic ``os.replace``). A crash between apply and ack
    replays the SAME span on the next poll — at-least-once delivery
    that an idempotent apply (keyed upsert/delete, the natural CDC
    consumer) turns into exactly-once. The changelog itself is the
    minimal insert/update/delete diff (``VersionedTable.changes``), so
    a span covering many versions costs ONE key join of its two
    endpoint snapshots, not a walk of every intermediate version —
    consumers that fall behind catch up in one step."""

    def __init__(self, tbl: VersionedTable, cursor_path: str):
        self.tbl = tbl
        self.cursor_path = cursor_path

    def position(self) -> int:
        """Last acknowledged version (0 = never consumed)."""
        try:
            with open(self.cursor_path) as fh:
                return int(json.load(fh)["version"])
        except (FileNotFoundError, ValueError, KeyError):
            return 0

    def poll(
        self,
        spark: SparkSession,
        key_cols: list[str],
        compare_cols: list[str] | None = None,
    ):
        """``(changes_df, (v_from, v_to))`` for the unconsumed span, or
        ``None`` when caught up. For a first-time consumer (cursor 0)
        the whole current snapshot arrives as inserts."""
        head = self.tbl.latest_version()
        cur = self.position()
        if head is None or head <= cur:
            return None
        if cur == 0:
            base = self.tbl.read(spark, head).limit(0)
            from datalake_backend_spark.operators.merge import snapshot_diff

            df = snapshot_diff(
                base, self.tbl.read(spark, head), key_cols, compare_cols
            )
        else:
            df = self.tbl.changes(spark, cur, head, key_cols, compare_cols)
        return df, (cur, head)

    def ack(self, span: tuple[int, int]) -> None:
        """Advance the durable cursor past ``span`` (atomic replace)."""
        tmp = f"{self.cursor_path}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(os.path.dirname(self.cursor_path) or ".", exist_ok=True)
        with open(tmp, "w") as fh:
            json.dump({"version": span[1]}, fh)
        os.replace(tmp, self.cursor_path)
