"""Task shape of the PBF scan and the fused transcode: one task per blob
group, driven by ``spark.range`` so each task is one Python worker
round-trip. Hermetic: every input is written by tests/pbf_encoder.py.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osm_pbf_parquet_spark.schema import pruned_schema
from osm_pbf_parquet_spark.sinks.native_sink import transcode_pbf
from osm_pbf_parquet_spark.sources.pbf_datasource import OsmPbfReader
from osm_pbf_parquet_spark.sources.pbf_source import _task_groups, scan_pbf

from pbf_encoder import encode_header_block, write_blob, write_synthetic_pbf

# 5000 nodes at 100 per block + 5 way blocks + 1 relation block
N_DATA_BLOBS = 56


@pytest.fixture(scope="module")
def many_blob_pbf(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pbf") / "many_blobs.osm.pbf")
    stats = write_synthetic_pbf(path, n_nodes=5000, n_ways=500, n_rels=50,
                                nodes_per_block=100)
    return path, stats


@pytest.fixture(scope="module")
def header_only_pbf(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pbf") / "header_only.osm.pbf")
    with open(path, "wb") as f:
        write_blob(f, "OSMHeader", encode_header_block())
    return path


def _json_rows(df) -> list[str]:
    return sorted(
        r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()
    )


def test_scan_plan_is_range_driven(spark, many_blob_pbf):
    """One Python round-trip per task: the kernel's only input is a JVM
    Range, not a Python-RDD catalog (an ExistingRDD/LogicalRDD leaf)."""
    path, _ = many_blob_pbf
    plan = scan_pbf(spark, path)._jdf.queryExecution().analyzed().toString()
    assert "Range (" in plan, plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan


def test_task_groups_cover_every_blob_once(many_blob_pbf):
    path, _ = many_blob_pbf
    blobs = sorted(e for grp in _task_groups(path, 4, 1) for e in grp)
    assert len(blobs) == N_DATA_BLOBS
    for interleave in (False, True):
        groups = _task_groups(path, 4, None, interleave=interleave)
        assert len(groups) == 4
        assert sorted(e for grp in groups for e in grp) == blobs
        for grp in groups:  # each group reads its blobs in file order
            assert grp == sorted(grp)


def test_one_task_per_blob_matches_default_grouping(spark, many_blob_pbf):
    path, stats = many_blob_pbf
    per_blob = scan_pbf(spark, path, blobs_per_task=1)
    assert per_blob.rdd.getNumPartitions() == N_DATA_BLOBS
    default = scan_pbf(spark, path)
    assert default.rdd.getNumPartitions() == min(
        N_DATA_BLOBS, spark.sparkContext.defaultParallelism
    )
    rows = _json_rows(per_blob)
    assert len(rows) == sum(stats.values())
    assert rows == _json_rows(default)


def test_fused_transcode_one_task_per_blob(spark, tmp_path, many_blob_pbf):
    path, stats = many_blob_pbf
    want = {"node": stats["nodes"], "way": stats["ways"],
            "relation": stats["relations"]}
    res = transcode_pbf(spark, path, str(tmp_path / "per_blob"),
                        blobs_per_task=1)
    assert res["rows"] == want
    back = spark.read.parquet(str(tmp_path / "per_blob"))
    assert {r["type"]: r["count"]
            for r in back.groupBy("type").count().collect()} == want


def test_datasource_partitions_are_the_task_groups(many_blob_pbf):
    path, _ = many_blob_pbf
    reader = OsmPbfReader({"path": path, "blobs_per_task": "1"}, None)
    groups = _task_groups(path, 1, 1)
    assert len(groups) == N_DATA_BLOBS
    # byte-weighted boundaries may leave a tail group empty: no partition
    assert [p.entries for p in reader.partitions()] == [g for g in groups if g]


def test_header_only_pbf_scan_is_empty(spark, header_only_pbf):
    df = scan_pbf(spark, header_only_pbf)
    assert df.schema == pruned_schema(None)
    assert df.count() == 0


def test_header_only_pbf_transcode_writes_only_success(
        spark, tmp_path, header_only_pbf):
    out = str(tmp_path / "out")
    res = transcode_pbf(spark, header_only_pbf, out)
    assert res == {"files": [], "rows": {}, "bytes": 0}
    assert os.listdir(out) == ["_SUCCESS"]
