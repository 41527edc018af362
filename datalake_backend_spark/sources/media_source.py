"""Custom Python DataSource: read a directory of media files as a table.

The reference ingests JSON; real multimodal corpora arrive as
DIRECTORIES OF MEDIA FILES (images/audio/video dumped by crawlers and
CV producers). Spark 4's Python DataSource API lets the engine expose
that layout as a first-class ``spark.read.format("mediafile")`` source
producing the same MEDIA_SCHEMA every multimodal operator consumes —
with real partition planning and filter pushdown, not a driver-side
listing loop:

- **Partition planning**: files are bin-packed by size into
  ``numPartitions`` input splits (greedy largest-first), so one huge
  video doesn't serialize a whole scan behind it — the task-balance
  story the built-in file sources get from ``maxPartitionBytes``.
- **Filter pushdown** (``pushFilters``): equality filters on
  ``media_id`` (derived from the file STEM) and ``codec`` (derived
  from the EXTENSION) are evaluated against metadata during planning —
  matching is decided per file without opening it, so a point lookup
  reads one file's bytes, not the directory. All other filters are
  reported back as unsupported and Spark re-applies them.
- **Header probing**: ``probe_media`` sniffs dims/duration from the
  real container headers (PPM/BMP/PNG/GIF/JPEG/WAV/RAWV — the ffprobe
  role) without a full decode; payload bytes ride along as the
  ``binary`` column exactly like ``media_table``.

Scale note: ``partitions()`` runs on the driver and is O(files) in
listing cost (same as any file source); payload bytes are read ONLY
inside ``read`` on executors, and only for files that survive
pushdown.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from datalake_backend_spark.datapipe.multimodal import CODECS

#: ``codec`` is surfaced top-level (as well as inside ``meta``) so an
#: equality filter on it is pushable — the same reason file sources
#: surface partition columns
MEDIA_SOURCE_SCHEMA = (
    "media_id bigint, path string, codec string, payload binary, "
    "meta struct<mime:string, width:int, height:int, "
    "duration_ms:bigint, codec:string>"
)


def probe_media(payload: bytes, codec: str) -> tuple[int | None, int | None, int | None]:
    """Header-only probe → ``(width, height, duration_ms)``: parses the
    container's real header bytes (the ffprobe role), never a full
    decode. Unknown/corrupt headers yield NULL dims rather than
    failing the scan — a quarantine-style degradation; the decode
    operators downstream will raise on the same payload if asked to
    decode it. The probe itself is ``codec``'s entry of
    ``multimodal.CODECS``."""
    entry = CODECS.get(codec)
    if entry is None or entry.probe is None or not entry.matches(payload):
        return None, None, None
    try:
        w, h, dur = entry.probe(payload)
    except (ValueError, IndexError):
        return None, None, None
    # int.from_bytes on a short/garbage slice yields 0, not an error —
    # implausible dims degrade to NULLs like a parse failure
    if not (w and h and w > 0 and h > 0):
        w = h = None
    return w, h, dur


@dataclass
class _FilePartition(InputPartition):
    files: list  # [(media_id, abs_path, codec)]


def _bin_pack(files: list, n: int) -> list[_FilePartition]:
    """Greedy largest-first bin packing of ``files`` on file size into
    at most ``n`` partitions: balanced bytes per task even when one
    video dwarfs the thumbnails."""
    if not files:
        return [_FilePartition([])]
    n = min(n, len(files))
    bins = [[] for _ in range(n)]
    sizes = [0] * n
    for rec in sorted(files, key=lambda r: -os.path.getsize(r[1])):
        i = sizes.index(min(sizes))
        bins[i].append(rec)
        sizes[i] += os.path.getsize(rec[1])
    return [_FilePartition(b) for b in bins if b]


class MediaFileReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mediafile source requires a path")
        self.num_partitions = int(options.get("numPartitions", "8"))
        self._id_filter: set[int] | None = None
        self._codec_filter: set[str] | None = None

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Accept EqualTo on media_id / codec (decidable from the file
        NAME during planning); everything else is returned for Spark
        to evaluate."""
        from pyspark.sql.datasource import EqualTo

        unsupported = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("media_id",):
                self._id_filter = (self._id_filter or set()) | {int(f.value)}
            elif isinstance(f, EqualTo) and f.attribute == ("codec",):
                self._codec_filter = (self._codec_filter or set()) | {
                    str(f.value)
                }
            else:
                unsupported.append(f)
        return unsupported

    def _list_files(self):
        out = []
        for name in sorted(os.listdir(self.path)):
            stem, ext = os.path.splitext(name)
            codec = next(
                (n for n, c in CODECS.items() if ext.lower() in c.exts), None
            )
            if codec is None or not stem.lstrip("-").isdigit():
                continue
            media_id = int(stem)
            if self._id_filter is not None and media_id not in self._id_filter:
                continue
            if self._codec_filter is not None and codec not in self._codec_filter:
                continue
            out.append((media_id, os.path.join(self.path, name), codec))
        return out

    def partitions(self):
        return _bin_pack(self._list_files(), self.num_partitions)

    def read(self, partition: _FilePartition):
        for media_id, path, codec in partition.files:
            with open(path, "rb") as fh:
                payload = fh.read()
            w, h, dur = probe_media(payload, codec)
            yield (
                media_id,
                path,
                codec,
                payload,
                {
                    "mime": CODECS[codec].mime,
                    "width": w,
                    "height": h,
                    "duration_ms": dur,
                    "codec": codec,
                },
            )


class MediaStreamReader(DataSourceStreamReader):
    """Streaming flavor: watch the directory and emit each media file
    exactly once across micro-batches/restarts.

    The offset is the **maximum media id processed** (``{"max_id":
    N}``) — a single monotone watermark, checkpointed by the engine
    like a Kafka offset. The contract this buys its simplicity with is
    the same one log-style sources impose: producers must land files
    with MONOTONICALLY INCREASING numeric stems (epoch-prefixed names
    satisfy it); a file arriving with an id at or below the watermark
    is ignored as already-processed. Unlike the built-in file source's
    seen-file map, the checkpoint state is O(1), not O(files ever
    seen). Each micro-batch bin-packs its new files by size into
    ``numPartitions`` splits, exactly like the batch reader."""

    def __init__(self, options: dict):
        self._reader = MediaFileReader(options)

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"max_id": -1}

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        files = self._reader._list_files()
        return {"max_id": max((m for m, _, _ in files), default=-1)}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["max_id"], end["max_id"]
        files = [
            rec for rec in self._reader._list_files() if lo < rec[0] <= hi
        ]
        return _bin_pack(files, self._reader.num_partitions)

    def read(self, partition: _FilePartition):
        yield from self._reader.read(partition)

    def commit(self, end: dict) -> None:
        pass  # the watermark offset is the whole state


class MediaFileDataSource(DataSource):
    """``spark.read.format("mediafile").option("path", dir)`` (batch)
    or ``spark.readStream.format("mediafile")`` (incremental directory
    watching) — see the module docstring. Register once per session:
    ``spark.dataSource.register(MediaFileDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "mediafile"

    def schema(self) -> str:
        return MEDIA_SOURCE_SCHEMA

    def reader(self, schema) -> MediaFileReader:
        return MediaFileReader(self.options)

    def streamReader(self, schema) -> MediaStreamReader:  # noqa: N802
        return MediaStreamReader(self.options)


def register_media_source(spark) -> None:
    """Idempotently register the source on a session, enabling Python
    data-source filter pushdown (off by default in Spark 4.1) so the
    media_id/codec planning-time pruning actually fires."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(MediaFileDataSource)
    except Exception:
        pass  # already registered
