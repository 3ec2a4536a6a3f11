"""Raster map algebra — per-pixel band expressions over the tile lake.

The classic raster-calculator step (GDAL ``gdal_calc``, Earth-Engine
``expression``): evaluate an arithmetic expression over a tile's bands
per pixel, then reduce. With RGB tiles the standard vegetation/feature
indexes are expressions like VARI ``(g - r) / (g + r - b)`` or ExG
``2*g - r - b``; the operator takes any such expression, compiled from a
WHITELISTED ast (names ``r g b``, numeric literals, ``+ - * / **`` and
unary minus — nothing else parses, so no eval-injection surface) into a
vectorized numpy evaluation.

Scale shape: decode + evaluate + reduce happens inside one Arrow batch
kernel per tile — pixels never leave the executor, each tile contributes
a single stats row (n_px, n_finite, mean, min, max, frac_above). The
division-by-zero pixels a real index hits (VARI on gray pixels) become
non-finite and are EXCLUDED from the reductions but COUNTED
(``n_finite`` vs ``n_px``) — surfaced, not silently dropped, matching
the engine's decode_summary policy. Group rollups (per mosaic group /
zone / epoch) are plain algebraic groupBy over the per-tile rows.

The reference has no analogue (it fetches tiles; it never computes);
this completes the raster-analytics trio mosaic / zonal / algebra.
"""

from __future__ import annotations

import ast
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload

__all__ = ["compile_band_expr", "band_math", "NAMED_INDEXES"]

# common RGB-band indexes, usable as band_math(df, expr="vari")
NAMED_INDEXES = {
    "vari": "(g - r) / (g + r - b)",   # visible atmospherically resistant
    "exg": "2*g - r - b",              # excess green
    "gli": "(2*g - r - b) / (2*g + r + b)",  # green leaf index
    "brightness": "(r + g + b) / 3",
}

_BINOPS = {
    ast.Add: np.add,
    ast.Sub: np.subtract,
    ast.Mult: np.multiply,
    ast.Div: np.divide,
    ast.Pow: np.power,
}
_NAMES = ("r", "g", "b")


def compile_band_expr(expr: str) -> Callable[[np.ndarray], np.ndarray]:
    """Compile a band expression into ``pixels (H,W,3) float64 -> index
    (H,W) float64``. Grammar: names ``r g b``, int/float literals,
    binary ``+ - * / **``, unary ``-``, parentheses. Anything else
    raises ValueError at compile time (attributes, calls, subscripts,
    comparisons are all rejected — the string can come from config
    safely)."""
    expr = NAMED_INDEXES.get(expr, expr)
    try:
        tree = ast.parse(expr, mode="eval")
    except SyntaxError as e:
        raise ValueError(f"bad band expression {expr!r}: {e}") from None

    def build(node) -> Callable:
        if isinstance(node, ast.Expression):
            return build(node.body)
        if isinstance(node, ast.BinOp) and type(node.op) in _BINOPS:
            op, lf, rf = _BINOPS[type(node.op)], build(node.left), build(node.right)
            return lambda env: op(lf(env), rf(env))
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            f = build(node.operand)
            return lambda env: -f(env)
        if isinstance(node, ast.Name) and node.id in _NAMES:
            i = _NAMES.index(node.id)
            return lambda env: env[i]
        if isinstance(node, ast.Constant) and isinstance(node.value, (int, float)):
            v = float(node.value)
            return lambda env: v
        raise ValueError(
            f"band expression {expr!r}: disallowed element "
            f"{ast.dump(node) if not isinstance(node, ast.AST) else type(node).__name__}"
        )

    f = build(tree)

    def run(pixels: np.ndarray) -> np.ndarray:
        p = pixels.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = f((p[..., 0], p[..., 1], p[..., 2]))
        return np.asarray(out, dtype=np.float64)

    return run


BAND_STATS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("n_finite", T.LongType(), True),
        T.StructField("sum", T.DoubleType(), True),
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("min", T.DoubleType(), True),
        T.StructField("max", T.DoubleType(), True),
        T.StructField("frac_above", T.DoubleType(), True),
    ]
)


def band_math(
    df: DataFrame,
    expr: str,
    *,
    key_col: str = "cell_id",
    threshold: float | None = None,
) -> DataFrame:
    """Per-tile reduction of a band expression (see module docstring).
    Input rows need (key_col, bytes, w, h, fmt). ``frac_above`` is the
    fraction of FINITE pixels exceeding ``threshold`` (null when no
    threshold given or no finite pixel). ``sum`` is carried so group
    rollups can recombine exact means (algebraic, not averaged
    averages)."""
    run = compile_band_expr(expr)  # compile-time validation on the driver
    cols = [F.col(key_col).cast("long").alias("key"), "bytes", "w", "h", "fmt"]
    thr = threshold

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                rec = dict.fromkeys(
                    ("n_px", "n_finite", "sum", "mean", "min", "max", "frac_above")
                )
                rec.update(key=int(row.key), decode_ok=False)
                try:
                    px = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (NotImplementedError, ValueError):
                    out.append(rec)
                    continue
                idx = run(px)
                finite = idx[np.isfinite(idx)]
                rec.update(
                    decode_ok=True, n_px=int(idx.size), n_finite=int(finite.size)
                )
                if finite.size:
                    s = float(finite.sum())
                    rec.update(
                        sum=s,
                        mean=s / finite.size,
                        min=float(finite.min()),
                        max=float(finite.max()),
                    )
                    if thr is not None:
                        rec["frac_above"] = float((finite > thr).mean())
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in BAND_STATS_SCHEMA.fields])

    return df.select(*cols).mapInPandas(kernel, schema=BAND_STATS_SCHEMA)
