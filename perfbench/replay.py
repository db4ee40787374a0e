"""Single-process replay of the transcode kernel, with a span per layer call.

The replay makes the same calls the fused sink's task makes, in the same
order, on one core and without Spark: ``index_blobs`` once, then per data
blob ``read_blob_at`` → ``decompress_blob`` → ``decode_primitive_block`` →
``columns_to_arrow``, with the Arrow tables streamed into one
``write_kind_tables`` call as in ``sinks.native_sink._transcode``. Spans
are recorded from outside the package, around each call. The write span
of a blob is the time ``write_kind_tables`` holds control between
receiving that blob's table and asking for the next one (plus its final
flush after the last), so the spans tile the replay.

``replay(..., traced=False)`` runs the identical loop with no spans; the
difference between the two walls is the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa


class Spans:
    """In-memory spans: (layer, start, end)."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []

    def add(self, layer: str, t0: float, t1: float) -> None:
        self.spans.append((layer, t0, t1))

    def total(self, layer: str) -> float:
        return sum(b - a for name, a, b in self.spans if name == layer)

    def covered(self) -> float:
        return sum(b - a for _n, a, b in self.spans)


def replay(pbf: str, out_dir: str, traced: bool) -> dict:
    from osm_pbf_parquet_spark.pbf.blob import (
        TYPE_DATA, decompress_blob, index_blobs, read_blob_at,
    )
    from osm_pbf_parquet_spark.pbf.decode import (
        columns_to_arrow, decode_primitive_block,
    )
    from osm_pbf_parquet_spark.sinks.native_sink import write_kind_tables

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    clock = time.perf_counter
    sp = Spans()
    counts = {"blobs": 0, "compressed": 0, "raw": 0, "rows": 0}
    t_start = clock()

    t0 = clock()
    infos = [i for i in index_blobs(pbf) if i.blob_type == TYPE_DATA]
    if traced:
        sp.add("index", t0, clock())

    def tables():
        with open(pbf, "rb") as f:
            for info in infos:
                t0 = clock()
                blob = read_blob_at(f, info.offset, info.size)
                t1 = clock()
                raw = decompress_blob(blob)
                t2 = clock()
                per_kind = decode_primitive_block(raw)
                t3 = clock()
                batch = columns_to_arrow(per_kind)
                t4 = clock()
                if traced:
                    sp.add("read", t0, t1)
                    sp.add("inflate", t1, t2)
                    sp.add("decode", t2, t3)
                    sp.add("arrow", t3, t4)
                counts["blobs"] += 1
                counts["compressed"] += len(blob)
                counts["raw"] += len(raw)
                if batch is None:
                    continue
                counts["rows"] += batch.num_rows
                table = pa.Table.from_batches([batch])
                t5 = clock()
                yield table
                if traced:
                    sp.add("write", t5, clock())

    t_w = clock()
    stats = write_kind_tables(tables(), out_dir, "replay", "zstd", 3,
                              500 * 1024 * 1024, 400_000, False)
    t_end = clock()
    if traced:
        # the final flush after the generator is exhausted, and the
        # table wrap between arrow and yield, both belong to the write
        last = max((b for _n, _a, b in sp.spans), default=t_w)
        sp.add("write", last, t_end)
    wall = t_end - t_start
    out = {
        "wall_s": wall,
        "blobs": counts["blobs"],
        "compressed_mb": counts["compressed"] / 1e6,
        "raw_mb": counts["raw"] / 1e6,
        "rows": counts["rows"],
        "files": len(stats),
        "parquet_mb": sum(s[3] for s in stats) / 1e6,
        "file_mb": os.path.getsize(pbf) / 1e6,
    }
    if traced:
        out["spans"] = {k: sp.total(k) for k in
                        ("index", "read", "inflate", "decode", "arrow", "write")}
        out["coverage"] = sp.covered() / wall
    shutil.rmtree(out_dir, ignore_errors=True)
    return out


def layer_metrics(pbf: str, out_dir: str) -> dict[str, float]:
    """A warm-up replay, then plain and traced ones; the per-layer
    ``pbf.*`` and ``sinks.native_sink`` kernel metrics plus tracing
    overhead."""
    replay(pbf, out_dir, traced=False)
    plain = replay(pbf, out_dir, traced=False)
    tr = replay(pbf, out_dir, traced=True)
    s = tr["spans"]
    return {
        "pbf.blob.index_s": s["index"],
        "pbf.blob.read_s": s["read"],
        "pbf.blob.inflate_s": s["inflate"],
        "pbf.blob.blobs": tr["blobs"],
        "pbf.blob.compressed_mb": tr["compressed_mb"],
        "pbf.blob.raw_mb": tr["raw_mb"],
        "pbf.decode.decode_s": s["decode"],
        "pbf.decode.arrow_s": s["arrow"],
        "pbf.decode.rows": tr["rows"],
        "pbf.decode.raw_mb_per_s": tr["raw_mb"] / s["decode"],
        "pbf.chain_mb_per_s": plain["file_mb"] / plain["wall_s"],
        "sinks.native_sink.write_s": s["write"],
        "sinks.native_sink.parquet_mb": tr["parquet_mb"],
        "sinks.native_sink.files": tr["files"],
        "trace.replay_span_coverage": tr["coverage"],
        "trace.replay_overhead_pct": 100.0 * (tr["wall_s"] / plain["wall_s"] - 1),
    }
