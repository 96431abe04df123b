"""The codec round trip shared by the 19 imread/audio/video queries
(``queries/pipeline.py::_codec_roundtrip``), graded at ``SF_SMALL``.

There the fixture holds 1,000 events against cutoffs of 2,048 and 8,192,
so every file group is partial: the zero-pad path (``_raster``) and the
contiguity checks run here and nowhere in the sf0.01 parity suite.
``imread_jpeg`` must refuse instead of answering: its block-constant
fixture is cut mid-band, and the lossy codec is exact only on constant
blocks.

Before each run a decoy file with the query's extension is planted in
the query's landing directory. The template resets the directory, so the
decoy is never read back: a stale file from an earlier run over other
data would otherwise join the scan and break the oracle match."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import PythonException

from dask_image_spark import queries as q
from dask_image_spark.scratch import fresh_dir
from tests.conftest import SF_SMALL
from tests.parity import compare

q.load_all()

CODEC_QUERIES = {
    "imread_pgm": "pgm",
    "imread_png": "png",
    "imread_tiff": "tif",
    "imread_tiff_deflate": "tif",
    "imread_tiff_lzw": "tif",
    "imread_tiff_packbits": "tif",
    "imread_png_rgb": "png",
    "imread_jpeg": "jpg",
    "imread_tiff_16bit": "tif",
    "imread_glob_nframes": "pgm",
    "imread_tiff_multipage": "tiff",
    "imread_bmp": "bmp",
    "imread_gif": "gif",
    "imread_ppm_rgb": "ppm",
    "imread_pgm_ascii": "pgm",
    "audio_wav_stats": "wav",
    "audio_zcr_rms": "wav",
    "video_y4m_frames": "y4m",
    "video_scene_cuts": "y4m",
}


def _plant_decoy(name: str, ext: str) -> str:
    # Key 7 is past every real file at SF_SMALL; the bytes decode as no
    # format, so an ingested decoy fails the run with a codec error.
    path = os.path.join(fresh_dir(name, SF_SMALL), f"7.{ext}")
    with open(path, "wb") as f:
        f.write(b"stale file from an earlier run")
    return path


@pytest.mark.parametrize("name", sorted(CODEC_QUERIES))
def test_codec_roundtrip_partial_groups(spark, name):
    decoy = _plant_decoy(name, CODEC_QUERIES[name])
    df = q.all_queries()[name](spark, SF_SMALL)
    assert not os.path.exists(decoy), f"{name}: landing directory was not reset"
    if name == "imread_jpeg":
        with pytest.raises(PythonException, match=r"8x8 block \(row \d+, col \d+\)"):
            df.collect()
        return
    problems = compare(df, q.all_oracles()[name], SF_SMALL)
    assert not problems, f"{name}: " + "; ".join(problems)

