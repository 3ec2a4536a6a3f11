"""The benchmark's workloads: each request runs through the engine's public
entry points, and each output is checked against the oracle.

A request returns a ``Result`` (time, delivered tiles, committed bytes).
With a ``Tracer`` the same request runs inside ``probes.layer_spans``: each
engine layer it calls runs in a span that records Spark's counters around
the call, and returns its output materialised for the next layer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from probes import dir_bytes, layer_spans

ZOOM = gen.SPEC["zoom"]
MASK29 = (1 << 29) - 1


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str):
    if not cond:
        raise CheckFailed(what)


@dataclass
class Result:
    seconds: float
    tiles: int            # tiles delivered
    out_bytes: int        # committed stage data, lineage excluded
    selected: int = 0     # tiles the request asked for
    extra: dict = field(default_factory=dict)   # oracle figures for the trace


class Inputs:
    """The generator's manifest, indexed for the checks."""

    def __init__(self, root: str):
        with open(os.path.join(root, "inputs.json")) as f:
            own = json.load(f)
        self.requests = own["requests"]
        table = os.path.normpath(os.path.join(root, own["table"]))
        with open(os.path.join(table, "inputs.json")) as f:
            meta = json.load(f)
        self.root = root
        self.table_seed = meta["table_seed"]
        self.images = os.path.join(table, "images")
        self.kind = {tuple(map(int, k.split("_"))): v for k, v in meta["kinds"].items()}
        self.by_cell: dict[tuple, list] = {}
        self.sha: dict[str, str] = {}
        self.rev: dict[str, int] = {}
        for iid, x, y, rev, _kind, sha, _n in meta["images"]:
            self.by_cell.setdefault((x, y), []).append(iid)
            self.sha[iid] = sha
            self.rev[iid] = rev
        for ids in self.by_cell.values():
            ids.sort()

    def top_pixels(self, x: int, y: int) -> np.ndarray:
        """Pixels that end up on the canvas for a tile: the stitch pastes a
        tile's revisions in image_id order, so the greatest image_id wins."""
        iid = self.by_cell[(x, y)][-1]
        return gen.tile_pixels(self.table_seed, x, y, self.rev[iid], self.kind[(x, y)])


def _read_files(files: list, columns: list):
    """The named parquet files as one table, or None if there are none."""
    import pyarrow as pa

    tables = [pq.read_table(f, columns=columns) for f in files]
    return pa.concat_tables(tables) if tables else None


def _parquet_files(path: str) -> set:
    if not os.path.isdir(path):
        return set()
    return {os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")}


def check_rows(inp: Inputs, tbl, cells) -> int:
    """Fetched rows equal every stored revision of ``cells`` with the
    generator's payload hashes; returns the row count."""
    want = sorted((x, y, iid) for x, y in cells for iid in inp.by_cell[(x, y)])
    if tbl is None:
        expect(not want, f"no rows committed, {len(want)} expected")
        return 0
    xs, ys = tbl.column("x").to_pylist(), tbl.column("y").to_pylist()
    ids, payloads = tbl.column("image_id").to_pylist(), tbl.column("bytes").to_pylist()
    got = sorted(zip(xs, ys, ids))
    expect(got == want, f"fetched rows differ: {len(got)} rows, {len(want)} expected")
    for iid, data in zip(ids, payloads):
        expect(hashlib.sha256(data).hexdigest() == inp.sha[iid], f"payload hash of {iid}")
    return len(want)


def lineage_cells(metrics_dir: str, files: list | None = None) -> tuple[dict, int]:
    """Cells per stage in a metrics table (or in some of its files), and
    the number of lineage rows."""
    files = sorted(_parquet_files(metrics_dir)) if files is None else files
    if not files:
        return {}, 0
    tbl = _read_files(files, ["stage", "cell_id", "status"])
    expect(set(tbl.column("status").to_pylist()) <= {"SUCCESS"}, "lineage status")
    out: dict[str, set] = {}
    for st, c in zip(tbl.column("stage").to_pylist(), tbl.column("cell_id").to_pylist()):
        out.setdefault(st, set()).add(((c >> 29) & MASK29, c & MASK29))
    return out, tbl.num_rows


class Workload:
    name = ""

    def __init__(self, spark, inp: Inputs, work: str, nproc: int):
        self.spark = spark
        self.inp = inp
        self.work = work
        self.nproc = nproc
        self._n = 0

    def warmup_requests(self) -> list:
        return self.inp.requests[self.name][0]

    def requests(self):
        """The timed sequence: the measured rounds, cycled."""
        rounds = self.inp.requests[self.name][1:]
        while True:
            for rnd in rounds:
                yield rnd

    def new_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{self._n:04d}-{tag}")
        os.makedirs(d)
        return d

    def begin_round(self, state: dict):
        """Per-round state (fresh output tables) shared by a round's requests."""

    def end_round(self, state: dict):
        for d in state.get("dirs", ()):
            shutil.rmtree(d, ignore_errors=True)


def traced(tracer, rid: str):
    """The engine's layers in spans when tracing; otherwise nothing."""
    return nullcontext() if tracer is None else layer_spans(tracer, rid)


def selected_cells(layers) -> list:
    """The tiles the engine selected, from a traced request's tiles layer."""
    rows = layers["tiles"][0].select("x", "y").collect()
    return sorted((r["x"], r["y"]) for r in rows)


# ---------------------------------------------------------------------------
# aoi_mosaic: polygon AOIs through the CLI path --shape --images --png
# ---------------------------------------------------------------------------

class AoiMosaic(Workload):
    name = "aoi_mosaic"

    def run(self, req, state, tracer=None) -> Result:
        from tilegrab_spark.cli import main as cli_main

        d = self.new_dir(req["id"])
        state.setdefault("dirs", []).append(d)
        tiles_out, out = os.path.join(d, "tiles"), os.path.join(d, "out")
        gj = os.path.join(self.inp.root, req["geojson"])
        argv = ["--source", gj, "--shape", "--zoom", str(ZOOM), "--images", self.inp.images,
                "--png", "--tiles-out", tiles_out, "--out", out, "--quiet",
                "--workers", str(self.nproc), "--no-progress"]
        if req["invert"]:
            argv.append("--invert")
        with traced(tracer, req["id"]) as layers:
            t0 = time.perf_counter()
            rc = cli_main(argv)
            dt = time.perf_counter() - t0
        expect(rc == 0, f"cli exit code {rc}")
        return self.check(req, tiles_out, out, dt, layers)

    def check(self, req, tiles_out, out, dt, layers) -> Result:
        inp = self.inp
        mosaic_dir = os.path.join(out, "mosaics")
        sel = oracle.select_tiles(req["polygons"], ZOOM, "shape", req["invert"], 250)
        if layers is not None:
            # untraced requests show the selection only through the cells
            # that hold images; the traced one shows it whole, gaps included
            expect(selected_cells(layers) == sel, "selected tiles")
        delivered = [c for c in sel if c in inp.by_cell]
        check_rows(inp, pq.read_table(tiles_out, columns=["x", "y", "image_id", "bytes"]),
                   delivered)
        m = pq.read_table(mosaic_dir, columns=["tminx", "tminy", "tmaxx", "tmaxy", "w", "h",
                                               "n_tiles", "n_bad", "bytes"]).to_pylist()
        expect(len(m) == 1, f"{len(m)} mosaics, 1 expected")
        m = m[0]
        ext = (min(c[0] for c in sel), min(c[1] for c in sel),
               max(c[0] for c in sel), max(c[1] for c in sel))
        expect((m["tminx"], m["tminy"], m["tmaxx"], m["tmaxy"]) == ext, f"mosaic extent {m}")
        expect((m["w"], m["h"]) == ((ext[2] - ext[0] + 1) * 256, (ext[3] - ext[1] + 1) * 256),
               "mosaic size")
        expect(m["n_tiles"] == sum(len(inp.by_cell[c]) for c in delivered), "n_tiles")
        expect(m["n_bad"] == 0, "n_bad")
        want = oracle.canvas(ext, delivered, inp.top_pixels)
        expect(np.array_equal(oracle.decode_png(m["bytes"]), want), "mosaic pixels")
        lin, lin_rows = lineage_cells(os.path.join(out, "metrics"))
        expect(lin == {"fetch": set(delivered), "mosaic": {ext[:2]}}, "lineage cells")
        bbox_n = len(oracle.bbox_cells(req["polygons"], ZOOM))
        return Result(dt, len(delivered), dir_bytes(tiles_out) + dir_bytes(mosaic_dir),
                      selected=len(sel),
                      extra={"candidates": bbox_n, "canvases": [want],
                             "lineage_rows": lin_rows,
                             "image_ids": [i for c in delivered for i in inp.by_cell[c]]})


# ---------------------------------------------------------------------------
# fetch_export: bbox fetches committed with lineage, alternating with
# resume=True re-requests over overlapping regions
# ---------------------------------------------------------------------------

class FetchExport(Workload):
    name = "fetch_export"

    def begin_round(self, state):
        d = self.new_dir("round")
        state.update(dirs=[d], fetch=os.path.join(d, "fetch"),
                     metrics=os.path.join(d, "metrics"), committed=set())

    def run(self, req, state, tracer=None) -> Result:
        from tilegrab_spark import Engine
        from tilegrab_spark.sources.geometries import geometry_from_rings

        rid = req["id"]
        before, mbefore = _parquet_files(state["fetch"]), _parquet_files(state["metrics"])
        geom = geometry_from_rings(rid, req["polygons"])
        with traced(tracer, rid) as layers:
            t0 = time.perf_counter()
            eng = Engine(self.spark, metrics_path=state["metrics"])
            tiles = eng.tiles_for(geom, ZOOM, by="bbox", safe_limit=None)
            joined = eng.fetch(tiles, self.inp.images, how="inner", resume=req["resume"])
            eng.write(joined, state["fetch"], stage="fetch")
            dt = time.perf_counter() - t0
        new = sorted(_parquet_files(state["fetch"]) - before)
        mnew = sorted(_parquet_files(state["metrics"]) - mbefore)

        box = req["box"]
        cells = [(x, y) for x in range(box[0], box[2] + 1) for y in range(box[1], box[3] + 1)]
        expect(oracle.bbox_cells(req["polygons"], ZOOM) == cells, "bbox cells")
        if layers is not None:
            expect(selected_cells(layers) == cells, "selected tiles")
        present = [c for c in cells if c in self.inp.by_cell]
        expect_cells = [c for c in present if not (req["resume"] and c in state["committed"])]
        rows = check_rows(self.inp, _read_files(new, ["x", "y", "image_id", "bytes"]), expect_cells)
        lin, lin_rows = lineage_cells(state["metrics"], mnew)
        expect(lin == ({"fetch": set(expect_cells)} if expect_cells else {}), "lineage cells")
        state["committed"] |= set(expect_cells)
        extra = dict(candidates=len(cells), lineage_rows=lin_rows,
                     skipped=len(present) - len(expect_cells) if req["resume"] else 0,
                     image_ids=[i for c in expect_cells for i in self.inp.by_cell[c]])
        return Result(dt, rows, sum(os.path.getsize(f) for f in new),
                      selected=len(cells), extra=extra)


WORKLOADS = {w.name: w for w in (AoiMosaic, FetchExport)}
