"""Affine u8 scalar quantization — the B5/B6 analog
(/root/reference/include/pdx/quantizers/scalar.hpp:60-106): global
min/max -> base/scale, clamp to [0,255]; used to compress block-max
impact metadata (a u8 upper bound must round UP to stay admissible) and
as a general column op.

Three matched dialects again: Column expr, numpy, SQL.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _affine(lo, hi) -> tuple[float, float]:
    """-> (base, scale): base = min, scale = 255/(max-min) (0 if flat)."""
    lo, hi = float(lo), float(hi)
    return lo, 255.0 / (hi - lo) if hi > lo else 0.0


def compute_params(df: DataFrame, col: str) -> tuple[float, float]:
    """-> (base, scale) of one column (_affine of its min and max). One
    agg — the OpenMP min/max reduction analog (scalar.hpp:60-74)."""
    row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    return _affine(row["lo"], row["hi"])


# directory params of an empty segment set (and of a dir the manifest
# records none for): every bound dequantizes to 0
ZERO_PARAMS = {"tf_base": 0.0, "tf_scale": 0.0,
               "dl_base": 0.0, "dl_scale": 0.0}


def dir_quant_params(tf_lo, tf_hi, dl_lo, dl_hi) -> dict:
    """The directory's affine params, recorded under
    manifest["dir_quant"][<dir>], from the extrema of its max_tf and
    min_dl columns (None extrema = empty set)."""
    if tf_hi is None:
        return dict(ZERO_PARAMS)
    tf_base, tf_scale = _affine(tf_lo, tf_hi)
    dl_base, dl_scale = _affine(dl_lo, dl_hi)
    return {"tf_base": tf_base, "tf_scale": tf_scale,
            "dl_base": dl_base, "dl_scale": dl_scale}


def quantize_col(col, base: float, scale: float):
    """round-half-up to mirror numpy/SQL; clamp [0, 255]."""
    q = F.floor((col - F.lit(base)) * F.lit(scale) + F.lit(0.5))
    return F.least(F.greatest(q, F.lit(0)), F.lit(255)).cast("int")


def quantize_up_col(col, base: float, scale: float):
    """Ceil variant for UPPER bounds (Column twin of quantize_up_np):
    dequantize(quantize_up(x)) >= x, so a bound quantized this way stays
    admissible — the SQ8 metadata trick (scalar.hpp:60-106)."""
    q = F.ceil((col - F.lit(base)) * F.lit(scale))
    return F.least(F.greatest(q, F.lit(0)), F.lit(255)).cast("int")


def quantize_down_col(col, base: float, scale: float):
    """Floor variant for LOWER bounds: dequantize(quantize_down(x)) <= x."""
    q = F.floor((col - F.lit(base)) * F.lit(scale))
    return F.least(F.greatest(q, F.lit(0)), F.lit(255)).cast("int")


def dequantize_col(col, base: float, scale: float):
    return F.when(F.lit(scale) == 0, F.lit(base)) \
            .otherwise(col.cast("double") / F.lit(scale) + F.lit(base))


def quantize_np(x: np.ndarray, base: float, scale: float) -> np.ndarray:
    q = np.floor((np.asarray(x, dtype=np.float64) - base) * scale + 0.5)
    return np.clip(q, 0, 255).astype(np.uint8)


def quantize_up_np(x: np.ndarray, base: float, scale: float) -> np.ndarray:
    """Ceil variant for upper bounds: dequantize(quantize_up(x)) >= x."""
    q = np.ceil((np.asarray(x, dtype=np.float64) - base) * scale)
    return np.clip(q, 0, 255).astype(np.uint8)


def quantize_down_np(x: np.ndarray, base: float, scale: float) -> np.ndarray:
    """Floor variant for lower bounds: dequantize(quantize_down(x)) <= x
    (numpy twin of quantize_down_col)."""
    q = np.floor((np.asarray(x, dtype=np.float64) - base) * scale)
    return np.clip(q, 0, 255).astype(np.uint8)


def dequantize_np(q: np.ndarray, base: float, scale: float) -> np.ndarray:
    if scale == 0:
        return np.full(len(q), base)
    return np.asarray(q, dtype=np.float64) / scale + base


def quantize_sql(expr: str, base: float, scale: float) -> str:
    return (f"least(greatest(floor(({expr} - {base}) * {scale} + 0.5), 0), "
            f"255)::BIGINT")
