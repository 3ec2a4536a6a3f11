"""Per-layer metrics of a traced run, from its spans, the Spark counters
recorded at their boundaries, and the oracle's figures per request. Every
figure is a mean per request over the traced requests that reached the
layer; a layer the workload never calls reports 0."""

from __future__ import annotations

import statistics
import time

import pyarrow.parquet as pq

from probes import dir_bytes

MB = 1e6
DECODES_PER_REQUEST = 24


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _ratio(num, den) -> float:
    return num / den if den else 0.0


def layer_metrics(tracer, traced, untraced, spark_per_req, inp, *, start_s, warm_s) -> dict:
    from tilegrab_spark.kernels import png

    per_req = []
    for r in traced:
        a, b = r.extra["spans"]
        spans = tracer.spans[a:b]
        by = {}
        for s in spans:
            by.setdefault(s["layer"], []).append(s)
        per_req.append((r, spans[0], by))

    def layer(name, fn):
        """fn(span) per request that has the layer (summed over its spans)."""
        return [sum(fn(s) for s in by[name]) for _, _, by in per_req if name in by]

    def dur_ms(s):
        return (s["end"] - s["start"]) * 1e3

    def own(key):
        """A counter of the span itself, its child spans (the resume
        filter inside fetch, say) excluded."""
        return lambda s: tracer.self_counter(s, key)

    selected = sum(r.selected for r in traced)
    row_bytes = dir_bytes(inp.images) / len(inp.sha)
    fetch_rows = sum(root["rows"]["fetch"] for _, root, _ in per_req)
    # the fetch's input records also count the tile rows it read back from
    # the checkpoint of the layer before it (the resume filter, if any)
    scanned = [sum(own("input_records")(s) for s in by["fetch"])
               - root["rows"]["resume" if "resume" in by else "tiles"]
               for _, root, by in per_req]
    mosaic = [root for _, root, by in per_req if "mosaic" in by]
    resumed = [r for r, _, by in per_req if "resume" in by]

    # the PNG kernel, timed directly on this workload's payloads and canvases
    ids = [i for r in traced for i in r.extra["image_ids"][:DECODES_PER_REQUEST]]
    wanted = set(ids)
    tbl = pq.read_table(inp.images, columns=["image_id", "bytes"])
    payload = {i: b for i, b in zip(tbl.column("image_id").to_pylist(),
                                    tbl.column("bytes").to_pylist()) if i in wanted}
    t = time.perf_counter()
    for i in ids:
        png.decode_png(payload[i])
    decode_ms = _ratio((time.perf_counter() - t) * 1e3, len(ids))
    enc_ms = enc_bytes = mpx = 0.0
    for r in traced:
        for canvas in r.extra.get("canvases", ()):
            t = time.perf_counter()
            enc_bytes += len(png.encode_png(canvas, filter_type=2, level=3))
            enc_ms += (time.perf_counter() - t) * 1e3
            mpx += canvas.shape[0] * canvas.shape[1] / 1e6

    return {
        "session.start_s": start_s,
        "session.warmup_s": warm_s,
        "tiles.select_ms": _mean(layer("tiles", dur_ms)),
        "tiles.candidates_per_selected": _ratio(sum(r.extra["candidates"] for r in traced), selected),
        # the status store's inputBytes misses parquet reads made off the
        # task thread, so scanned MB = rows read x stored bytes per row
        "images.scan_mb": _mean(scanned) * row_bytes / MB,
        "images.rows_read_per_tile": _ratio(sum(scanned), selected),
        "fetch.ms": _mean(layer("fetch", tracer.self_ms)),
        "fetch.shuffle_mb": _mean(layer("fetch", own("shuffle_write_bytes"))) / MB,
        "fetch.rows_per_tile": _ratio(fetch_rows, selected),
        "mosaic.ms": _mean(layer("mosaic", dur_ms)),
        "mosaic.shuffle_mb": _mean(layer("mosaic", own("shuffle_write_bytes"))) / MB,
        "mosaic.groups_out": _mean(root["rows"]["mosaic"] for root in mosaic),
        "png.decode_ms_per_tile": decode_ms,
        "png.encode_ms_per_mpx": _ratio(enc_ms, mpx),
        "png.encoded_bytes_per_mpx": _ratio(enc_bytes, mpx),
        "write.ms": _mean(layer("write", tracer.self_ms)),
        "write.mb": _mean(r.out_bytes for r in traced) / MB,
        "lineage.ms": _mean(layer("lineage", dur_ms)),
        "lineage.rows": _mean(r.extra["lineage_rows"] for r in traced),
        "resume.filter_ms": _mean(layer("resume", dur_ms)),
        "resume.cells_skipped": _mean(r.extra["skipped"] for r in resumed),
        "spark.jobs": _mean(c["jobs"] for c in spark_per_req),
        "spark.tasks": _mean(c["tasks"] for c in spark_per_req),
        "spark.task_ms": _mean(c["task_ms"] for c in spark_per_req),
        "spark.gc_ms": _mean(c["gc_ms"] for c in spark_per_req),
        "trace.overhead_ms": (statistics.median(r.seconds for r in traced)
                              - statistics.median(r.seconds for r in untraced)) * 1e3
        if traced else 0.0,
    }
