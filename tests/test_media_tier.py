"""The media tier's shared machinery: one codec table
(``multimodal.CODECS``), one synthetic-media generator and one Arrow
payload map. These tests pin what the registry oracles cannot see:
that every generator's ``meta`` agrees with what the ``mediafile``
source probes from the same bytes, that resize keeps every image
container, and that no second copy of the machinery comes back.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from datalake_backend_spark.datapipe import avi, mp4, phash
from datalake_backend_spark.datapipe import multimodal as mm
from datalake_backend_spark.sources.media_source import probe_media

PACKAGE = Path(__file__).resolve().parents[1] / "datalake_backend_spark"
DATAPIPE = PACKAGE / "datapipe"

GENERATORS = {
    "image": mm.synthetic_image_table,
    "gif": mm.synthetic_gif_table,
    "jpeg": mm.synthetic_jpeg_table,
    "wav": mm.synthetic_wav_table,
    "video": mm.synthetic_video_table,
    "variant_audio": phash.synthetic_variant_audio_table,
    "variant_image": phash.synthetic_variant_image_table,
    "variant_video": phash.synthetic_variant_video_table,
    "mjpeg_avi": avi.synthetic_mjpeg_avi_table,
    "mp4": mp4.synthetic_mp4_table,
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_meta_matches_codec_table_and_probe(spark, name):
    """Every row's mime is its codec's table entry; where the source can
    probe the codec, the probe of the payload equals ``meta``."""
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    df = GENERATORS[name](docs)
    assert df.schema == mm.MEDIA_SCHEMA
    for r in df.collect():
        codec = mm.CODECS[r.meta.codec]
        assert r.meta.mime == codec.mime
        assert codec.matches(bytes(r.payload))
        if codec.exts and codec.probe is not None:
            assert probe_media(bytes(r.payload), r.meta.codec) == (
                r.meta.width,
                r.meta.height,
                r.meta.duration_ms,
            )


@pytest.mark.parametrize(
    "table, magic",
    [(mm.synthetic_gif_table, b"GIF8"), (mm.synthetic_jpeg_table, b"\xff\xd8")],
)
def test_resize_keeps_gif_and_jpeg_containers(spark, table, magic):
    """resize_images re-encodes through the sniffed codec's encoder, so
    GIF stays GIF and JPEG stays JPEG (and their meta stays true)."""
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    src = {r.media_id: r.meta for r in table(docs).collect()}
    for r in mm.resize_images(table(docs), 6, 5).collect():
        payload = bytes(r.payload)
        assert payload[: len(magic)] == magic
        assert mm.decode_image(payload).shape == (5, 6, 3)
        assert (r.meta.width, r.meta.height) == (6, 5)
        assert (r.meta.mime, r.meta.codec) == (
            src[r.media_id].mime,
            src[r.media_id].codec,
        )


def test_codec_table_dispatch():
    """decode_image and the probe reject payloads whose magic bytes do
    not match; every image codec round-trips through its own entry."""
    import numpy as np

    img = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    for name, codec in mm.CODECS.items():
        if codec.decode is None:
            continue
        payload = codec.encode(img)
        assert mm.sniff_codec(payload) == name
        assert mm.decode_image(payload).shape == (4, 5, 3)
        assert probe_media(payload, name) == (5, 4, None)
        assert probe_media(b"\x00" * 64, name) == (None, None, None)
    with pytest.raises(ValueError):
        mm.decode_image(mm.encode_wav(np.zeros(8, np.int16), 8000))


def _strings(path: Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node


def test_media_tier_has_one_copy_of_each_job():
    """Guard: the four datapipe media modules run Python over payloads
    through at most 3 ``mapInPandas`` calls, no mime literal lives
    outside the codec table (media_table's opaque-bytes default
    aside), the perceptual tier has no hot-key cap of its own, and
    the media source has one bin-packer."""
    modules = [DATAPIPE / f"{m}.py" for m in ("multimodal", "phash", "avi", "mp4")]
    assert sum(p.read_text().count("mapInPandas(") for p in modules) <= 3

    tree = ast.parse((DATAPIPE / "multimodal.py").read_text())
    table = next(
        n
        for n in tree.body
        if isinstance(n, ast.AnnAssign) and getattr(n.target, "id", "") == "CODECS"
    )
    media_table = next(
        n for n in tree.body if getattr(n, "name", "") == "media_table"
    )
    allowed = set(range(table.lineno, table.end_lineno + 1)) | {
        d.lineno for d in media_table.args.defaults  # opaque-bytes default
    }
    mime = re.compile(r"^(image|audio|video)/[\w.+-]+$")
    stray = []
    for path in [*DATAPIPE.glob("*.py"), PACKAGE / "sources" / "media_source.py"]:
        for node in _strings(path):
            if not mime.match(node.value):
                continue
            if path.name == "multimodal.py" and node.lineno in allowed:
                continue
            stray.append(f"{path.name}:{node.lineno} {node.value}")
    assert stray == []
    assert "Window.partitionBy" not in (DATAPIPE / "phash.py").read_text()
    source = (PACKAGE / "sources" / "media_source.py").read_text()
    assert source.count("sizes.index(min(sizes))") == 1
