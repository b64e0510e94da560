"""Pixel-level image quality rules: kernel exactness on constructed
images, Spark-vs-numpy-oracle parity (shared kernel => exact float
equality, not tolerance), and plan shapes (geometry rules never touch
Python; the stats path is ONE fused ArrowEvalPython; `bytes` never
crosses an Exchange)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_quality_check_spark import constants as C
from data_quality_check_spark.kernels.imgstats import gray_luma, quality_stats


def _rgb(gray2d: np.ndarray) -> np.ndarray:
    """Gray plane -> HxWx3 uint8 (luma of (g,g,g) is g exactly:
    (299+587+114)g // 1000 == g for g in 0..255)."""
    g = gray2d.astype(np.uint8)
    return np.stack([g, g, g], axis=-1)


# ---------------------------------------------------------------------------
# kernel exactness on constructed images
# ---------------------------------------------------------------------------

def test_constant_image_is_flat_zero_entropy():
    st = quality_stats(_rgb(np.full((16, 16), 128)))
    assert st["n_px"] == 256
    assert st["entropy_bits"] == 0.0
    assert st["contrast_rms"] == 0.0
    assert st["blur_var"] == 0.0
    assert st["flat_frac"] == 1.0
    assert st["dark_frac"] == 0.0
    assert st["bright_frac"] == 0.0
    assert st["colorfulness"] == 0.0  # grayscale
    assert st["sat_mean"] == 0.0


def test_pure_red_colorfulness_exact():
    # constant (255,0,0): zero variance on both opponent axes;
    # mean_rg = 255, mean_yb = 127.5 -> cf = 0.3*sqrt(255^2+127.5^2)
    pix = np.zeros((8, 8, 3), dtype=np.uint8)
    pix[..., 0] = 255
    st = quality_stats(pix)
    assert st["colorfulness"] == pytest.approx(
        0.3 * np.sqrt(255.0 ** 2 + 127.5 ** 2), abs=0.0)
    assert st["sat_mean"] == 255.0


def test_two_tone_split_exact_values():
    # left half 0, right half 255: entropy exactly 1 bit, population
    # std exactly 127.5, half dark + half bright
    g = np.zeros((16, 16), dtype=np.uint8)
    g[:, 8:] = 255
    st = quality_stats(_rgb(g))
    assert st["entropy_bits"] == pytest.approx(1.0, abs=0.0)
    assert st["contrast_rms"] == pytest.approx(127.5, abs=0.0)
    assert st["flat_frac"] == 0.5
    assert st["dark_frac"] == 0.5
    assert st["bright_frac"] == 0.5
    # Laplacian responds only along the single vertical edge
    assert st["blur_var"] > 0.0


def test_checkerboard_blur_variance_exact():
    # 0/255 checkerboard: every interior 4-neighbour Laplacian is
    # +-4*255 = +-1020, mean 0 on an even grid -> variance 1020^2
    g = np.indices((16, 16)).sum(axis=0) % 2 * 255
    st = quality_stats(_rgb(g))
    assert st["blur_var"] == pytest.approx(1020.0 ** 2, abs=0.0)
    assert st["entropy_bits"] == pytest.approx(1.0, abs=0.0)


def test_gradient_low_blur_high_entropy():
    # smooth horizontal ramp: near-zero Laplacian, wide histogram
    g = np.tile(np.arange(64, dtype=np.uint8) * 4, (16, 1))
    st = quality_stats(_rgb(g))
    assert st["blur_var"] < C.IMG_BLUR_VAR_MIN  # blurry by design
    assert st["entropy_bits"] == pytest.approx(6.0, abs=0.0)  # 64 equiprobable bins


def test_tiny_image_has_no_laplacian():
    st = quality_stats(_rgb(np.full((2, 5), 7)))
    assert st["blur_var"] is None
    assert st["n_px"] == 10


def test_decoded_image_without_laplacian_fails_blur_rule(spark):
    """A decodable 5x2 image has no Laplacian interior: its NaN
    blur_var crosses Arrow as NULL, and blur_ok must still read False
    (not NULL), so the report counts it and every rule stays boolean."""
    from data_quality_check_spark.kernels import codecs
    from data_quality_check_spark.operators.imgquality import (
        quality_report, with_image_quality)

    pix = _rgb(np.tile(np.arange(5) * 50, (2, 1)))
    df = spark.createDataFrame(
        [("tiny", codecs.encode(pix, "ppm"), "ppm", 5, 2)],
        "image_id string, bytes binary, fmt string, w int, h int")
    q = with_image_quality(df)
    row = q.collect()[0]
    assert row["decoded"] and row["blur_var"] is None
    assert row["blur_ok"] is False and row["visual_keep"] is False
    assert quality_report(q).collect()[0]["bad_blur"] == 1


def test_gray_luma_is_exact_integer_bt601():
    pix = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255],
                     [255, 255, 255]]], dtype=np.uint8)
    assert gray_luma(pix).tolist() == [[76, 149, 29, 255]]


# ---------------------------------------------------------------------------
# Spark vs numpy oracle: exact parity via the shared kernel
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def quality_pdf(spark):
    from data_quality_check_spark.operators.imgquality import (
        with_image_quality)
    from data_quality_check_spark.sources import images as IM

    out = with_image_quality(IM.read_images(spark, 0.001))
    return out.toPandas().sort_values("image_id").reset_index(drop=True)


def test_spark_stats_match_numpy_oracle_exactly(quality_pdf, images_pdf):
    from data_quality_check_spark.operators.imgquality import _stats_batch

    exp = _stats_batch(images_pdf["bytes"], images_pdf["fmt"],
                       images_pdf["w"], images_pdf["h"])
    exp.insert(0, "image_id", images_pdf["image_id"])
    exp = exp.sort_values("image_id").reset_index(drop=True)
    assert (quality_pdf["decoded"] == exp["decoded"]).all()
    assert (quality_pdf["n_px"] == exp["n_px"]).all()
    for c in ("entropy_bits", "contrast_rms", "blur_var", "flat_frac",
              "dark_frac", "bright_frac", "colorfulness", "sat_mean"):
        a = quality_pdf[c].to_numpy()
        b = exp[c].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), c  # bit-exact, not approx


def test_rule_booleans_and_verdict(quality_pdf):
    p = quality_pdf
    dec = p["decoded"].to_numpy()
    # every undecoded row fails every pixel rule and the verdict
    for c in ("entropy_ok", "contrast_ok", "blur_ok", "flat_ok",
              "dark_ok", "bright_ok", "color_ok", "visual_keep"):
        assert not p.loc[~dec, c].any()
    # thresholds applied to the full-precision stats
    finite = dec & ~np.isnan(p["entropy_bits"].to_numpy())
    exp_ok = np.zeros(len(p), dtype=bool)
    exp_ok[finite] = (p.loc[finite, "entropy_bits"]
                      >= C.IMG_ENTROPY_MIN).to_numpy()
    assert (p["entropy_ok"].to_numpy() == exp_ok).all()
    # verdict == conjunction of all rules
    conj = dec.copy()
    for c in ("res_ok", "aspect_ok", "entropy_ok", "contrast_ok",
              "blur_ok", "flat_ok", "dark_ok", "bright_ok", "color_ok"):
        conj &= p[c].to_numpy()
    assert (p["visual_keep"].to_numpy() == conj).all()
    # calibration sanity: each rule fires on a nonempty minority tail
    for c in ("res_ok", "aspect_ok", "entropy_ok", "contrast_ok",
              "blur_ok", "flat_ok", "color_ok"):
        bad = (~p[c]).mean()
        assert 0.0 < bad < 0.35, (c, bad)
    assert 0.3 < p["visual_keep"].mean() < 0.95


def test_geometry_rules_match_metadata(quality_pdf, images_pdf):
    w = images_pdf.sort_values("image_id")["w"].to_numpy().astype(np.int64)
    h = images_pdf.sort_values("image_id")["h"].to_numpy().astype(np.int64)
    assert (quality_pdf["res_ok"].to_numpy()
            == (w * h >= C.IMG_MIN_PIXELS)).all()
    assert (quality_pdf["aspect_ok"].to_numpy()
            == (np.maximum(w, h) <= C.IMG_MAX_ASPECT
                * np.minimum(w, h))).all()


# ---------------------------------------------------------------------------
# plan shapes
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_geometry_query_is_pure_jvm(spark):
    from data_quality_check_spark.queries import REGISTRY

    plan = _plan(REGISTRY["rule_image_geometry"][0](
        spark, "/root/testdata/sf0.001"))
    assert "ArrowEvalPython" not in plan
    assert "bytes" not in plan  # pruned at the scan


def test_stats_query_single_python_stage_no_bytes_shuffle(spark):
    from data_quality_check_spark.queries import REGISTRY

    plan = _plan(REGISTRY["image_quality_stats"][0](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("ArrowEvalPython (") == 1  # ONE fused decode+stats stage (tree node; details repeat the name)
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("bytes" not in ln for ln in ex_lines)


def test_agg_query_partial_aggregate_no_bytes_shuffle(spark):
    from data_quality_check_spark.queries import REGISTRY

    plan = _plan(REGISTRY["agg_image_quality"][0](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("ArrowEvalPython (") == 1  # tree node (details repeat the name)
    assert "partial" in plan.lower()  # map-side combine before the Exchange
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("bytes" not in ln for ln in ex_lines)


def test_fixture_oracle_roundtrip(tmp_path):
    """expected_imgquality writes a fixture whose booleans equal the
    kernel recomputation (guards the pin against silent drift)."""
    import pyarrow.parquet as pq

    from data_quality_check_spark.operators.imgquality import (
        expected_imgquality)

    path = expected_imgquality(0.001, root=str(tmp_path))
    t = pq.read_table(path).to_pandas()
    assert len(t) == 1000
    assert t["decoded"].sum() > 900
    assert (t.loc[~t["decoded"], "visual_keep"] == False).all()  # noqa: E712
    # rounded stat columns are null exactly where undecoded/undefined
    assert t.loc[~t["decoded"], "entropy_bits"].isna().all()
