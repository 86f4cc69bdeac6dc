"""The two multimodal codec harnesses (``_decode_stats`` / ``_synthesize``).

Every uniform decoder and every payload synthesizer hands one batch
function to ``mapInPandas``; these tests pin the harness contract:

- a NULL or unparseable payload comes back as its ``doc_id`` with an
  all-NULL stats row, and a valid one as exactly its stats tuple;
- every batch function pickles by value: unpickled in an isolated
  interpreter that cannot import this package, it still runs and
  returns what it returns in-process. The ingest operators' batch
  functions, built over their default stubs, are held to the same rule.
"""

from __future__ import annotations

import inspect
import pickle
import subprocess
import sys

import pandas as pd
import pytest
from pyspark import cloudpickle

import downscaledclimatedata_spark.operators.ingest as ingest
import downscaledclimatedata_spark.operators.multimodal as mm

# decoder -> (synthesizer of its payloads, the stats function it applies;
# None: a derived feature whose stats function is nested in the operator)
CODECS = {
    "decode_wav_features": ("synthesize_wav_payloads", "parse_wav_features"),
    "decode_png_pixels": ("synthesize_png_pixel_payloads",
                          "decode_png_pixel_stats"),
    "decode_png_rgb": ("synthesize_png_rgb_payloads", "decode_png_rgb_stats"),
    "decode_gif_pixels": ("synthesize_gif_pixel_payloads",
                          "decode_gif_pixel_stats"),
    "decode_mulaw": ("synthesize_mulaw_payloads", "decode_mulaw_stats"),
    "decode_bmp": ("synthesize_bmp_payloads", "decode_bmp_stats"),
    "decode_jpeg_pixels": ("synthesize_jpeg_payloads",
                           "decode_jpeg_pixel_stats"),
    "decode_jpeg_color": ("synthesize_jpeg_color_payloads",
                          "decode_jpeg_420_stats"),
    "decode_alaw": ("synthesize_alaw_payloads", "decode_alaw_stats"),
    "decode_png_palette": ("synthesize_png_palette_payloads",
                           "decode_png_palette_stats"),
    "decode_qoi": ("synthesize_qoi_payloads", "decode_qoi_stats"),
    "decode_adpcm": ("synthesize_adpcm_payloads", "decode_adpcm_stats"),
    "decode_tga": ("synthesize_tga_payloads", "decode_tga_stats"),
    "decode_wav_zcr": ("synthesize_wav_payloads", "parse_wav_zcr"),
    "decode_ppm": ("synthesize_ppm_payloads", "decode_ppm_stats"),
    "decode_aiff": ("synthesize_aiff_payloads", "decode_aiff_stats"),
    "decode_ico": ("synthesize_ico_payloads", "decode_ico_stats"),
    "decode_tiff": ("synthesize_tiff_payloads", "decode_tiff_stats"),
    "decode_tiff_lzw": ("synthesize_tiff_lzw_payloads",
                        "decode_tiff_lzw_stats"),
    "decode_bmprle": ("synthesize_bmprle_payloads", "decode_bmprle_stats"),
    "decode_avi": ("synthesize_avi_payloads", "decode_avi_stats"),
    "decode_zip": ("synthesize_zip_payloads", "decode_zip_stats"),
    "decode_tar": ("synthesize_tar_payloads", "decode_tar_stats"),
    "decode_midi": ("synthesize_midi_payloads", "decode_midi_stats"),
    "decode_png_adam7": ("synthesize_png_adam7_payloads",
                         "decode_png_adam7_stats"),
    "decode_wav_fir": ("synthesize_wav_payloads", "parse_wav_fir"),
    "decode_jpeg_dri": ("synthesize_jpeg_dri_payloads",
                        "decode_jpeg_dri_stats"),
    "decode_jpeg_prog": ("synthesize_jpeg_prog_payloads",
                         "decode_jpeg_prog_stats"),
    "decode_jpeg_ac": ("synthesize_jpeg_ac_payloads", "decode_jpeg_ac_stats"),
    "thumbnail_png": ("synthesize_png_pixel_payloads", None),
    "histogram_features": ("synthesize_png_pixel_payloads", None),
    "dhash_images": ("synthesize_scene_png_payloads", None),
    "detect_shots": ("synthesize_shot_gifs", None),
}
# the header walk has its own loop (it returns 'unknown', not NULL)
HEADERS = {"decode_image_headers": ("synthesize_image_payloads",
                                    "parse_image_header")}
SYNTHESIZERS = sorted(n for n in vars(mm) if n.startswith("synthesize_"))
# ingest operator -> one manifest batch for its default stubs
INGEST = {
    "ingest_and_convert": pd.DataFrame({
        "url": ["https://host/a/tasmax.nc", "https://host/b/pr.nc"],
        "s3_key": ["a/tasmax.nc", "b/pr.nc"]}),
    "decode_netcdf_tidy": pd.DataFrame({
        "url": ["https://host/a/tasmax.nc"], "model": ["ACCESS-CM2"],
        "scenario": ["ssp245"], "memberid": ["r1i1p1f1"],
        "variable": ["tasmax"]}),
}


class _Capture:
    """Stands in for a DataFrame: returns the batch function an operator
    hands to ``mapInPandas`` instead of planning it."""

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        return fn


def _batch_fn(name: str):
    return getattr(mm, name)(_Capture())


def _run(fn, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.concat(list(fn(iter([pdf]))), ignore_index=True)


def _df_operators(prefix: str) -> list[str]:
    return sorted(n for n, f in vars(mm).items()
                  if n.startswith(prefix) and inspect.isfunction(f)
                  and list(inspect.signature(f).parameters)[:1] == ["df"])


def test_every_uniform_codec_goes_through_a_harness():
    harnessed = {n for n in set(_df_operators("decode_")) | set(CODECS)
                 if _batch_fn(n).__qualname__.startswith("_decode_stats.")}
    assert harnessed == set(CODECS)
    for n in SYNTHESIZERS:
        assert _batch_fn(n).__qualname__.startswith("_synthesize."), n


def _stats_fn(decoder: str):
    _, stats = {**CODECS, **HEADERS}[decoder]
    if stats is not None:
        return getattr(mm, stats)
    return inspect.getclosurevars(_batch_fn(decoder)).nonlocals["stats_fn"]


def _valid_payload(synth: str, stats_fn) -> tuple[int, bytes, tuple]:
    """The first doc id >= 3 whose synthesized payload decodes."""
    ids = pd.DataFrame({"doc_id": pd.array(range(3, 60), dtype="int64")})
    for d, blob in _run(_batch_fn(synth), ids).itertuples(index=False):
        got = stats_fn(blob)
        if got is not None:
            return d, blob, tuple(got)
    raise AssertionError(f"{synth}: no decodable payload in ids 3..59")


@pytest.mark.parametrize("decoder", sorted(CODECS) + sorted(HEADERS))
def test_decoder_tolerates_null_and_junk_payloads(spark, decoder):
    synth, _ = {**CODECS, **HEADERS}[decoder]
    d, blob, want = _valid_payload(synth, _stats_fn(decoder))
    df = spark.createDataFrame(
        [(1, None), (2, bytearray(b"junk")), (d, bytearray(blob))],
        "doc_id long, payload binary")
    got = {r[0]: tuple(r[1:]) for r in getattr(mm, decoder)(df).collect()}
    null = (("unknown", None, None) if decoder in HEADERS
            else (None,) * len(want))
    assert got == {1: null, 2: null, d: want}


def test_gif_frame_sampler_tolerates_null_payload(spark):
    df = spark.createDataFrame([(1, None), (2, bytearray(b"junk"))],
                               "doc_id long, payload binary")
    rows = sorted(tuple(r) for r in mm.sample_gif_frames(df).collect())
    assert rows == [(1,) + (None,) * 6, (2,) + (None,) * 6]


_ISOLATED = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("downscaledclimatedata_spark") is None
jobs = pickle.load(open(sys.argv[1], "rb"))
out = {}
for name, (blob, pdf) in jobs.items():
    try:
        out[name] = ("ok", list(pickle.loads(blob)(iter([pdf]))))
    except Exception as exc:
        out[name] = ("error", repr(exc))
pickle.dump(out, open(sys.argv[2], "wb"))
"""


@pytest.fixture(scope="module")
def isolated(tmp_path_factory):
    """Every harness batch function, and each ingest operator's over its
    default stubs, pickled as Spark ships it and run once in-process and
    once in a ``python -I`` child started from an empty directory (so the
    package is not importable there)."""
    tmp = tmp_path_factory.mktemp("isolated")
    ids = pd.DataFrame({"doc_id": pd.array(range(-2, 30), dtype="int64")})
    jobs = {n: (cloudpickle.dumps(_batch_fn(n)), ids) for n in SYNTHESIZERS}
    for dec, (synth, _) in CODECS.items():
        jobs[dec] = (cloudpickle.dumps(_batch_fn(dec)),
                     _run(_batch_fn(synth), ids))
    for name, manifest in INGEST.items():
        jobs[name] = (cloudpickle.dumps(getattr(ingest, name)(_Capture())),
                      manifest)
    expected = {n: _run(pickle.loads(blob), pdf)
                for n, (blob, pdf) in jobs.items()}
    with open(tmp / "jobs.pkl", "wb") as fh:
        pickle.dump(jobs, fh)
    subprocess.run([sys.executable, "-I", "-c", _ISOLATED, "jobs.pkl",
                    "out.pkl"], cwd=tmp, check=True, timeout=300)
    with open(tmp / "out.pkl", "rb") as fh:
        return expected, pickle.load(fh)


@pytest.mark.parametrize("name", SYNTHESIZERS + sorted(CODECS)
                         + sorted(INGEST))
def test_harness_batch_fn_pickles_by_value(isolated, name):
    expected, out = isolated
    status, frames = out[name]
    assert status == "ok", frames
    pd.testing.assert_frame_equal(
        pd.concat(frames, ignore_index=True), expected[name])
