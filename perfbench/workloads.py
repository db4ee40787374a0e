"""The benchmark's two workloads: the operations each one times, and the
oracle each operation's result is checked against.

An operation (``Op``) is one call into a public entry point of the
package, ending in an action whose result comes back to the driver. Each
op carries the layer prefix its per-query trace metric is named under,
the input bytes and rows it reads, and the DuckDB SQL (or Python value)
its result must equal. Checks run after the timed region.

* ``transcode`` — ``sinks.native_sink.transcode_pbf`` at zstd-3, the
  paper's product flow: every PBF kernel layer and the parquet encode, no
  shuffle, no Python→JVM row hand-off.
* ``query`` — reads that bypass the fused sink: ``operators.osm_ops`` over
  both PBF read paths (``scan_pbf`` and ``format("osmpbf")``, with kind
  and column pushdown, paying the Arrow hand-off to the JVM) and over the
  same seed's transcode output through ``spark.read.parquet`` (no PBF
  kernel; shuffle and JVM compute).

The traced run also sweeps ``curation_ops``: ``plans.*`` registry queries
on a seeded corpus, checked against each entry's DuckDB oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

# Curation registry queries of the traced sweep: the capstone pipeline
# (quality, PII scrub, dedup window, chunking, split).
CURATION_QUERIES = ("full_curation_pipeline",)
WORKLOADS = ("transcode", "query")
# (layer, op) for every op of every workload: the traced run reports each
# op's latency as ``<layer>.<op>_s``
OP_LAYERS = (
    [("sinks.native_sink", "transcode_pbf")]
    + [("operators.osm_ops", n) for n in (
        "pbf_count_by_type", "pbf_datasource_node_count",
        "parquet_amenity_filter", "parquet_latest_versions")]
    + [("plans", n) for n in CURATION_QUERIES]
)

_OSM = "read_parquet('{d}/*/*.parquet', hive_partitioning = true)"

SQL_COUNT_BY_TYPE = "SELECT type, count(*) AS n FROM osm GROUP BY type"
SQL_NODES_BY_TYPE = (
    "SELECT type, count(*) AS n FROM osm WHERE type = 'node' GROUP BY type"
)
# the tag-filter shape of the reference README's DuckDB example
SQL_AMENITY = """
SELECT type, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum
FROM osm WHERE element_at(tags, 'amenity')[1] = 'bench' GROUP BY type
"""
SQL_LATEST_VERSIONS = """
SELECT type, count(*) AS n, CAST(sum(version) AS BIGINT) AS version_sum FROM (
  SELECT type, version, visible, row_number() OVER (
    PARTITION BY type, id
    ORDER BY version DESC NULLS LAST, timestamp DESC NULLS LAST) AS rn
  FROM osm
) WHERE rn = 1 AND coalesce(visible, true) GROUP BY type
"""


@dataclass
class Op:
    name: str
    layer: str  # per-query trace metric prefix: "<layer>.<name>_s"
    run: Callable[[Any], Any]  # spark -> result on the driver
    oracle: str | None = None  # DuckDB SQL over the op's reference views
    expected: Any = None  # or a Python value, when no SQL applies
    in_bytes: int = 0
    in_rows: int = 0


@dataclass
class Inputs:
    pbf: str
    counts: dict  # generator's element counts per kind
    parquet: str  # the same PBF's transcode output ("" when not made)
    corpus: str  # "" when not made
    pbf_bytes: int = field(init=False)
    corpus_rows: int = field(init=False)

    def __post_init__(self) -> None:
        import pyarrow.parquet as pq

        self.pbf_bytes = os.path.getsize(self.pbf)
        self.corpus_rows = sum(
            pq.ParquetFile(os.path.join(self.corpus, f)).metadata.num_rows
            for f in ("documents.parquet", "embeddings.parquet")
        ) if self.corpus else 0

    @property
    def n_elements(self) -> int:
        return sum(self.counts.values())


def _parquet_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _dirs, files in os.walk(d) for f in files if f.endswith(".parquet")
    )


def _rows(df):
    """Action that brings a small result to the driver as pandas."""
    return df.toPandas()


def transcode_ops(inp: Inputs, out_dir: str) -> list[Op]:
    from osm_pbf_parquet_spark.sinks.native_sink import transcode_pbf

    def run(spark):
        stats = transcode_pbf(spark, inp.pbf, out_dir,
                              compression="zstd", zstd_level=3)
        return {"rows": stats["rows"], "bytes": stats["bytes"],
                "files": len(stats["files"])}

    return [Op("transcode_pbf", "sinks.native_sink", run,
               expected={"node": inp.counts["nodes"], "way": inp.counts["ways"],
                         "relation": inp.counts["relations"]},
               in_bytes=inp.pbf_bytes, in_rows=inp.n_elements)]


def query_ops(inp: Inputs) -> list[Op]:
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators import osm_ops
    from osm_pbf_parquet_spark.sources.pbf_source import scan_pbf

    p, d = inp.pbf, inp.parquet
    pbf_b, pq_b, n = inp.pbf_bytes, _parquet_bytes(d), inp.n_elements

    def osm(s):
        return s.read.parquet(d)

    def amenity(s):
        return (osm(s).filter(F.element_at("tags", "amenity") == "bench")
                .groupBy("type")
                .agg(F.count("*").alias("n"), F.sum("id").alias("id_sum")))

    def latest(s):
        return osm_ops.latest_versions(osm(s)).groupBy("type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("version").cast("long")).alias("version_sum"))

    return [
        # PBF read paths, with kind/column pushdown
        Op("pbf_count_by_type", "operators.osm_ops",
           lambda s: _rows(osm_ops.count_by_type(
               scan_pbf(s, p, columns=["id", "type"]))),
           SQL_COUNT_BY_TYPE, in_bytes=pbf_b, in_rows=n),
        Op("pbf_datasource_node_count", "operators.osm_ops",
           lambda s: _rows(osm_ops.count_by_type(
               s.read.format("osmpbf").load(p).filter(F.col("type") == "node"))),
           SQL_NODES_BY_TYPE, in_bytes=pbf_b, in_rows=inp.counts["nodes"]),
        # the transcode's parquet output
        Op("parquet_amenity_filter", "operators.osm_ops",
           lambda s: _rows(amenity(s)), SQL_AMENITY, in_bytes=pq_b, in_rows=n),
        Op("parquet_latest_versions", "operators.osm_ops",
           lambda s: _rows(latest(s)), SQL_LATEST_VERSIONS,
           in_bytes=pq_b, in_rows=n),
    ]


def curation_ops(inp: Inputs) -> list[Op]:
    """Registry queries over the seeded corpus. They run in the traced
    sweep, not in a workload's timed passes: each is a handful of small
    jobs whose latency swings with host CPU steal (see README.md)."""
    reg = curation_registry()
    return [
        Op(name, "plans", lambda s, fn=reg[name][0]: _rows(fn(s, inp.corpus)),
           reg[name][1], in_bytes=_parquet_bytes(inp.corpus),
           in_rows=inp.corpus_rows)
        for name in CURATION_QUERIES
    ]


def curation_registry() -> dict:
    from osm_pbf_parquet_spark.plans.pipeline_queries import PIPELINE_QUERIES
    from osm_pbf_parquet_spark.plans.sampling_queries import SAMPLING_QUERIES
    from osm_pbf_parquet_spark.plans.advanced_queries import ADVANCED_QUERIES
    from osm_pbf_parquet_spark.plans.selection_queries import SELECTION_QUERIES

    return {**PIPELINE_QUERIES, **SAMPLING_QUERIES, **ADVANCED_QUERIES,
            **SELECTION_QUERIES}


def ops_for(workload: str, inp: Inputs, out_dir: str) -> list[Op]:
    if workload == "transcode":
        return transcode_ops(inp, out_dir)
    if workload == "query":
        return query_ops(inp)
    raise ValueError(f"unknown workload: {workload}")


class Checker:
    """Compares op results with their oracles; DuckDB views are registered
    over the same files the Spark ops read."""

    def __init__(self, inp: Inputs, repo_root: str) -> None:
        import sys

        import duckdb

        sys.path.insert(0, os.path.join(repo_root, "tests"))
        try:
            from oracle_harness import compare_frames
        finally:
            sys.path.pop(0)
        self._compare = compare_frames
        self._con = duckdb.connect()
        if inp.parquet:
            self._con.execute(
                f"CREATE VIEW osm AS SELECT * FROM {_OSM.format(d=inp.parquet)}")
        for t in ("documents", "embeddings") if inp.corpus else ():
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{inp.corpus}/{t}.parquet')")
        self._oracle_cache: dict[str, Any] = {}

    def oracle(self, op: Op):
        if op.oracle not in self._oracle_cache:
            self._oracle_cache[op.oracle] = self._con.execute(op.oracle).df()
        return self._oracle_cache[op.oracle]

    def check(self, op: Op, result) -> str | None:
        """None when ``result`` is correct, else a one-line reason."""
        if op.oracle is None:
            got = result["rows"] if isinstance(result, dict) else result
            if got != op.expected:
                return f"{op.name}: got {got}, expected {op.expected}"
            return None
        try:
            self._compare(result, self.oracle(op), op.name)
        except AssertionError as exc:
            return str(exc).splitlines()[0]
        return None

    def close(self) -> None:
        self._con.close()
