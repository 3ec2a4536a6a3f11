"""Sieve filter — remove sub-threshold raster regions (gdal_sieve).

The standard polygonize companion: classified rasters carry salt-and-
pepper noise (isolated pixels, slivers); sieving merges every
4-connected region smaller than ``min_px`` into its LARGEST neighbor
(by pixel count, GDAL's rule; ties break to the smaller region id for
determinism) and rewrites the pixels. Run it before
``operators/polygonize.py`` to vectorize clean regions.

Distributed shape (pixels shuffle zero times; the iteration runs on
the REGION GRAPH, which is region-count-sized, never pixel-sized):

1. **map stage** (``mapInPandas``, one decode per tile — the same
   per-tile labeling as polygonize, helpers imported from there):
   per-local-region (label, pixel count) stats, tile-interior
   region-adjacency pair counts (vectorized ``np.unique`` over packed
   pairs), and the four polygonize perimeter strips.
2. **border stage** (JVM-side collect_list + batched ``mapInPandas``,
   the PLAN 41 shape): equal labels across a border → merge pairs
   (same region), differing labels → cross-tile adjacency counts.
3. **global regions**: connected components over the merge pairs
   (driver union-find shortcut, components.py), then stats and
   adjacency re-keyed to global ids and aggregated.
4. **coarsening rounds** (Spark ops per round, localCheckpoint to
   truncate lineage — the components.py iteration pattern): every
   region below ``min_px`` picks its max-(px, -id) neighbor; a merge
   is applied only when the target is strictly greater under that
   order, which makes each round's mapping acyclic (a parallel round
   can't emit A→B and B→A). Chains (small→small→large) coarsen across
   rounds; a pocket of smalls with no larger neighbor anywhere stalls
   and is left as-is (surfaced in the mapping's ``resolved`` flag —
   GDAL's sequential sweep has the analogous corner).
5. **apply** (``sieve_apply``): ONLY tiles owning a relabeled region
   decode again — the relabel map semi-joins the image table, so at a
   realistic noise density almost every tile passes through untouched
   with its original bytes. Touched tiles re-derive the identical
   local labeling (deterministic), substitute the new labels and
   re-encode PNG.

Exactness contract pinned by tests/test_sieve.py: after one
``sieve_labels`` + ``sieve_apply`` pass, re-polygonizing yields no
region below the threshold (except the documented stall case), large
regions keep their exact pixel sets, and only pixels inside removed
regions changed.

Convergence note: the chain-free rule trades per-round progress for
acyclicity — on SPARSE sub-threshold noise (the sieve's actual use
case) one or two rounds clear everything, but on adversarial
noise-dominated fields where nearly every region is tiny and both
merges and is merged into, most candidate merges defer each round and
``max_rounds`` governs how far coarsening gets (remainders surface as
``resolved = false``). Quantize or majority-filter such fields before
sieving rather than raising rounds.

The reference has no analogue; engine surface next to polygonize.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.kernels.png import encode_png
from tilegrab_spark.operators.components import connected_components
from tilegrab_spark.operators.dedup import _persist_signatures
from tilegrab_spark.operators.polygonize import (
    _RID_BITS,
    _border_rows,
    _label_regions,
    _labels_of,
    _pack_rkey,
)

__all__ = ["sieve_labels", "sieve_apply", "sieve"]

# stage-1 union frame: kind 1 = stat, 2 = strip, 3 = adjacency count
_PART_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("rkey", T.LongType(), True),
        T.StructField("rkey_b", T.LongType(), True),
        T.StructField("label", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("n_shared", T.LongType(), True),
        T.StructField("bkey", T.LongType(), True),
        T.StructField("side", T.ByteType(), True),
        T.StructField("tx", T.LongType(), True),
        T.StructField("ty", T.LongType(), True),
        T.StructField("pw", T.IntegerType(), True),
        T.StructField("ph", T.IntegerType(), True),
        T.StructField("labels", T.BinaryType(), True),
        T.StructField("rids", T.BinaryType(), True),
    ]
)

# border stage: kind 0 = merge pair, 3 = adjacency count
_BORDER_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("rkey", T.LongType(), False),
        T.StructField("rkey_b", T.LongType(), False),
        T.StructField("n_shared", T.LongType(), True),
    ]
)

MAPPING_SCHEMA = T.StructType(
    [
        T.StructField("rkey", T.LongType(), False),
        T.StructField("new_label", T.IntegerType(), False),
        T.StructField("resolved", T.BooleanType(), False),
    ]
)


def _pair_counts(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Unique (a, b) pairs with counts via 1-D packed unique (rids fit
    in _RID_BITS; same trick as _label_regions' row-pair union)."""
    packed = (a.astype(np.int64) << _RID_BITS) | b.astype(np.int64)
    uniq, counts = np.unique(packed, return_counts=True)
    return uniq >> _RID_BITS, uniq & ((1 << _RID_BITS) - 1), counts


def _resolve_one(bkey_sides) -> tuple[list, list]:
    """One border's strips → (merge-pair arrays, adjacency arrays)."""
    sides: dict[int, tuple] = {}
    for r in bkey_sides:
        sides[int(r["side"])] = (
            int(r["tx"]),
            int(r["ty"]),
            np.frombuffer(r["labels"], dtype=np.uint8),
            np.frombuffer(r["rids"], dtype=np.int32),
        )
    a, b = sides.get(0), sides.get(1)
    if a is None or b is None or a[2].size != b[2].size:
        return [], []  # coverage edge / mixed sizes: no relation
    eq = a[2] == b[2]
    merges, adjs = [], []
    if eq.any():
        pa = _pack_rkey(a[0], a[1], a[3][eq])
        pb = _pack_rkey(b[0], b[1], b[3][eq])
        merges.append(np.unique(np.stack([pa, pb], axis=1), axis=0))
    ne = ~eq
    if ne.any():
        # cross-tile adjacency between GLOBAL keys, per-pixel counted
        pa = _pack_rkey(a[0], a[1], a[3][ne])
        pb = _pack_rkey(b[0], b[1], b[3][ne])
        key = np.stack([pa, pb], axis=1)
        uniq, counts = np.unique(key, axis=0, return_counts=True)
        adjs.append((uniq[:, 0], uniq[:, 1], counts))
    return merges, adjs


def sieve_labels(
    images: DataFrame,
    *,
    zoom: int,
    min_px: int,
    band="max",
    max_rounds: int = 10,
    cc_driver_cutoff: int = 500_000,
) -> DataFrame:
    """Relabel map for every pixel region below ``min_px``: one row per
    AFFECTED tile-local region — ``[rkey, new_label, resolved]`` with
    ``rkey`` the polygonize-packed (tile x, tile y, local region id)
    key. Regions at or above the threshold never appear. ``resolved``
    False marks the stall case (a sub-threshold region with no larger
    neighbor reachable, left unchanged by ``sieve_apply``).

    Caches through the tracked persist registry — call
    ``release_signature_caches()`` after collecting (contour policy)."""
    if not 0 <= zoom <= 22:
        raise ValueError(f"zoom must be in [0, 22], got {zoom}")
    if min_px < 2:
        raise ValueError(f"min_px must be >= 2, got {min_px}")
    z = int(zoom)
    src = images.filter(F.col("z") == z).select("x", "y", "bytes", "w", "h", "fmt")
    cols = [f.name for f in _PART_SCHEMA.fields]

    def pad(df: pd.DataFrame) -> pd.DataFrame:
        for c in cols:
            if c not in df.columns:
                df[c] = pd.Series([None] * len(df), dtype=object)
        return df[cols]

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stat_parts, adj_parts, strip_rows = [], [], []
            for row in pdf.itertuples(index=False):
                tx, ty = int(row.x), int(row.y)
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    continue
                lab = _labels_of(arr, band)
                h, w = lab.shape
                if w * h > (1 << _RID_BITS) * 2:
                    raise ValueError(
                        f"tile {w}x{h} exceeds the {1 << _RID_BITS}-region budget"
                    )
                loc, n_loc = _label_regions(lab)
                counts = np.bincount(loc.ravel(), minlength=n_loc)
                labmap = np.zeros(n_loc, dtype=np.int64)
                labmap[loc.ravel()] = lab.ravel()
                stat_parts.append(
                    {
                        "kind": np.ones(n_loc, dtype=np.int8),
                        "rkey": _pack_rkey(tx, ty, np.arange(n_loc)),
                        "label": labmap.astype(np.int32),
                        "n_px": counts.astype(np.int64),
                    }
                )
                pairs = []
                if h > 1:
                    m = lab[:-1, :] != lab[1:, :]
                    if m.any():
                        pairs.append((loc[:-1, :][m], loc[1:, :][m]))
                if w > 1:
                    m = lab[:, :-1] != lab[:, 1:]
                    if m.any():
                        pairs.append((loc[:, :-1][m], loc[:, 1:][m]))
                if pairs:
                    ra, rb, cnt = _pair_counts(
                        np.concatenate([p[0] for p in pairs]),
                        np.concatenate([p[1] for p in pairs]),
                    )
                    adj_parts.append(
                        {
                            "kind": np.full(ra.size, 3, dtype=np.int8),
                            "rkey": _pack_rkey(tx, ty, ra),
                            "rkey_b": _pack_rkey(tx, ty, rb),
                            "n_shared": cnt.astype(np.int64),
                        }
                    )
                strip_rows += _border_rows(z, tx, ty, w, h, lab, loc)
            for group in (stat_parts, adj_parts):
                if group:
                    merged = {
                        k: np.concatenate([p[k] for p in group]) for k in group[0]
                    }
                    yield pad(pd.DataFrame(merged))
            if strip_rows:
                yield pad(pd.DataFrame(strip_rows))

    parts = _persist_signatures(src.mapInPandas(emit, schema=_PART_SCHEMA))
    strips = parts.filter(F.col("kind") == 2).select(
        "bkey", "side", "tx", "ty", "pw", "ph", "labels", "rids"
    )
    border_groups = strips.groupBy("bkey").agg(
        F.collect_list(
            F.struct("side", "tx", "ty", "pw", "ph", "labels", "rids")
        ).alias("sides")
    )

    def resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bcols = [f.name for f in _BORDER_SCHEMA.fields]
        for pdf in batches:
            merges, adjs = [], []
            for r in pdf.itertuples(index=False):
                m, a = _resolve_one(r.sides)
                merges += m
                adjs += a
            out = []
            if merges:
                mg = np.concatenate(merges, axis=0)
                out.append(
                    pd.DataFrame(
                        {
                            "kind": np.zeros(mg.shape[0], dtype=np.int8),
                            "rkey": mg[:, 0],
                            "rkey_b": mg[:, 1],
                            "n_shared": np.int64(0),
                        }
                    )
                )
            if adjs:
                out.append(
                    pd.DataFrame(
                        {
                            "kind": np.full(
                                sum(a[0].size for a in adjs), 3, dtype=np.int8
                            ),
                            "rkey": np.concatenate([a[0] for a in adjs]),
                            "rkey_b": np.concatenate([a[1] for a in adjs]),
                            "n_shared": np.concatenate([a[2] for a in adjs]),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)[bcols]

    resolved = _persist_signatures(
        border_groups.mapInPandas(resolve, _BORDER_SCHEMA)
    )
    comp = connected_components(
        resolved.filter(F.col("kind") == 0).select("rkey", "rkey_b"),
        a_col="rkey",
        b_col="rkey_b",
        driver_cutoff=cc_driver_cutoff,
    ).select(F.col("node").alias("rkey"), F.col("component").alias("_rid"))

    def globalized(df, key):
        return df.join(comp.withColumnRenamed("rkey", key), key, "left").withColumn(
            key, F.coalesce("_rid", F.col(key))
        ).drop("_rid")

    regions = (
        globalized(parts.filter(F.col("kind") == 1).select("rkey", "label", "n_px"), "rkey")
        .groupBy("rkey")
        .agg(F.first("label").alias("label"), F.sum("n_px").alias("px"))
    )
    adj_raw = parts.filter(F.col("kind") == 3).select("rkey", "rkey_b", "n_shared")
    adj_raw = adj_raw.unionByName(
        resolved.filter(F.col("kind") == 3).select("rkey", "rkey_b", "n_shared")
    )
    adj_raw = globalized(adj_raw, "rkey")
    adj_raw = globalized(adj_raw.withColumnRenamed("rkey_b", "rkey_tmp")
                         .withColumnRenamed("rkey", "rkey_b")
                         .withColumnRenamed("rkey_tmp", "rkey"), "rkey")
    # normalize to undirected a<b and aggregate shared-border length
    adj = (
        adj_raw.select(
            F.least("rkey", "rkey_b").alias("a"),
            F.greatest("rkey", "rkey_b").alias("b"),
            "n_shared",
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("n_shared").alias("shared"))
    )

    regions = regions.select(
        F.col("rkey").alias("rid"), "label", "px"
    ).localCheckpoint()
    adj = adj.localCheckpoint()
    # orig -> current region id, carried across rounds
    mapping = regions.select(F.col("rid").alias("orig"), F.col("rid").alias("cur"))

    for _ in range(int(max_rounds)):
        small = regions.filter(F.col("px") < min_px)
        if small.rdd.isEmpty():
            break
        # each small region's best neighbor by (px, -id); strict-greater
        # order keeps the round's mapping acyclic
        sm = small.select(F.col("rid").alias("s"), F.col("px").alias("spx"))
        both = adj.select("a", "b", "shared").unionByName(
            adj.select(F.col("b").alias("a"), F.col("a").alias("b"), "shared")
        )
        nbrs = (
            sm.join(both, sm.s == both.a)
            .join(
                regions.select(
                    F.col("rid").alias("b_rid"),
                    F.col("px").alias("bpx"),
                ),
                F.col("b") == F.col("b_rid"),
            )
            .select("s", "spx", "b", "bpx")
        )
        choice = (
            nbrs.groupBy("s", "spx")
            .agg(F.max_by(F.struct("bpx", (-F.col("b")).alias("nid"), "b"),
                          F.struct("bpx", (-F.col("b")).alias("nid"))).alias("t"))
            .select(
                "s",
                "spx",
                F.col("t.b").alias("tgt"),
                F.col("t.bpx").alias("tpx"),
            )
            .filter(
                (F.col("tpx") > F.col("spx"))
                | ((F.col("tpx") == F.col("spx")) & (F.col("tgt") < F.col("s")))
            )
            .select(F.col("s").alias("old"), F.col("tgt").alias("new"))
        )
        # chain-free within a round: drop merges whose TARGET is itself
        # merging — A→B→C would otherwise strand A's pixels under B's id
        # with A's label; the chain coarsens over subsequent rounds
        choice = choice.join(
            choice.select(F.col("old").alias("new")), "new", "left_anti"
        ).localCheckpoint()
        if choice.rdd.isEmpty():
            break  # stall: smalls with no strictly-greater neighbor

        def remap(df, col):
            return (
                df.join(choice.withColumnRenamed("old", col), col, "left")
                .withColumn(col, F.coalesce("new", F.col(col)))
                .drop("new")
            )

        # pixel counts move to the target; labels come from KEPT rows
        # only (targets never merge this round, so every surviving id
        # keeps its own label — first() over mixed labels would be wrong)
        px_new = (
            remap(regions.select("rid", "px"), "rid")
            .groupBy("rid")
            .agg(F.sum("px").alias("px"))
        )
        labels_kept = regions.join(
            choice.select(F.col("old").alias("rid")), "rid", "left_anti"
        ).select("rid", "label")
        regions = labels_kept.join(px_new, "rid").localCheckpoint()
        adj = (
            remap(remap(adj, "a"), "b")
            .select(
                F.least("a", "b").alias("a"),
                F.greatest("a", "b").alias("b"),
                "shared",
            )
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("shared").alias("shared"))
            .localCheckpoint()
        )
        mapping = remap(mapping, "cur").localCheckpoint()

    # label changes only; every ORIGINAL local region that ends in a
    # different-labeled parent gets a row (expanded back to per-tile
    # rkeys through the CC map so sieve_apply can key by tile)
    final = mapping.join(
        regions.select(F.col("rid").alias("cur"), F.col("label").alias("new_label")),
        "cur",
    )
    orig_labels = parts.filter(F.col("kind") == 1).select(
        "rkey", F.col("label").alias("old_label")
    )
    # re-expand: local rkey -> its global orig id -> final label
    local_map = (
        parts.filter(F.col("kind") == 1)
        .select("rkey")
        .join(comp, "rkey", "left")
        .select("rkey", F.coalesce("_rid", F.col("rkey")).alias("orig"))
        .join(final.select("orig", "new_label"), "orig")
        .join(orig_labels, "rkey")
        .filter(F.col("new_label") != F.col("old_label"))
        .select("rkey", "new_label", F.lit(True).alias("resolved"))
    )
    # stall rows: still-small regions keep their label, surfaced
    stalled = (
        parts.filter(F.col("kind") == 1)
        .select("rkey")
        .join(comp, "rkey", "left")
        .select("rkey", F.coalesce("_rid", F.col("rkey")).alias("orig"))
        .join(mapping, "orig")
        .join(
            regions.filter(F.col("px") < min_px).select(
                F.col("rid").alias("cur"), F.col("label").alias("new_label")
            ),
            "cur",
        )
        .select("rkey", "new_label", F.lit(False).alias("resolved"))
    )
    return local_map.unionByName(stalled)


def sieve_apply(
    images: DataFrame,
    mapping: DataFrame,
    *,
    zoom: int,
    band="max",
) -> DataFrame:
    """Rewrite only the tiles that own a relabeled region: decode,
    re-derive the identical local labeling, substitute ``new_label``
    (grayscale ×3 channels) and re-encode PNG; every untouched tile
    passes through with its ORIGINAL bytes (no decode). Output mirrors
    the input schema with updated (bytes, fmt)."""
    z = int(zoom)
    ent = mapping.filter(F.col("resolved")).select(
        F.shiftright("rkey", _RID_BITS + 22).alias("x"),
        F.shiftright("rkey", _RID_BITS).bitwiseAND(F.lit((1 << 22) - 1)).alias("y"),
        F.col("rkey").bitwiseAND(F.lit((1 << _RID_BITS) - 1)).alias("rid"),
        "new_label",
    )
    per_tile = ent.groupBy("x", "y").agg(
        F.collect_list(F.struct("rid", "new_label")).alias("relabel")
    )
    src = images.filter(F.col("z") == z)
    joined = src.join(per_tile, ["x", "y"], "left")
    out_schema = src.schema

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [f.name for f in out_schema.fields]
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                d = {n: getattr(row, n) for n in names}
                rel = row.relabel
                if rel is not None and len(rel):
                    try:
                        arr = decode_payload(
                            bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                        )
                        lab = _labels_of(arr, band).astype(np.int32)
                        loc, n_loc = _label_regions(lab)
                        lut = np.full(n_loc, -1, dtype=np.int32)
                        for e in rel:
                            lut[int(e["rid"])] = int(e["new_label"])
                        hit = lut[loc] >= 0
                        lab = np.where(hit, lut[loc], lab).astype(np.uint8)
                        rgb = np.repeat(lab[:, :, None], 3, axis=2)
                        d["bytes"] = bytes(encode_png(rgb))
                        d["fmt"] = "png"
                    except (ValueError, NotImplementedError):
                        pass  # undecodable: pass through unchanged
                rows.append(d)
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return joined.mapInPandas(rewrite, schema=out_schema)


def sieve(
    images: DataFrame,
    *,
    zoom: int,
    min_px: int,
    band="max",
    max_rounds: int = 10,
) -> DataFrame:
    """``sieve_labels`` + ``sieve_apply`` in one call."""
    mapping = sieve_labels(
        images, zoom=zoom, min_px=min_px, band=band, max_rounds=max_rounds
    )
    return sieve_apply(images, mapping, zoom=zoom, band=band)
