"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "big_tier_total", "value": <big_total_sec>, "unit": "sec",
     "queries": {...per-query sec, sf0.1, ADVISORY...}, "sf": ...,
     "query_spread": {...per-query [min,max]...},
     "big_queries": {...}, "big_spread": {...}, "big_copies": 10,
     "raw_reps": {...}, "big_raw_reps": {...}, ...}

Every per-query number is in that one line; nothing is written to disk.

The headline metric is the BIG-TIER total: sf0.1 queries finish in
0.3-0.9s — noise-dominated on this host (r4's published 3.75s
decontaminate re-timed at 1.08s idle), unable to distinguish a good plan
from a lucky run — so the sub-second sf0.1 values are advisory only.
Every query carries its [min, max] run spread: a max several times the
min IS the host-contention detector — treat such numbers as noise, not
regressions. Contention-outlier rejection: reps slower than 1.5× the
best rep are discarded from the published spread and re-run (bounded
attempts); every raw rep, rejected or not, is printed in
raw_reps/big_raw_reps so nothing is hidden. The headline min is always
over ALL reps.

The headline set spans the engine's surfaces: PBF scan→parquet transcode
(the reference's product), the TPC-H-shaped relational core, windows/asof,
and the training-data operators (LSH dedup, ANN, text). Each query is
executed once, end-to-end (action = count or write), after a shared
session warm-up.

BIG TIER: replicates the fact tables 10× (cached in /tmp; key-shifted
copies so join/anti-join structure survives), runs the 5 most expensive
queries on it, adds one deliberately skewed distribution (50% of 5M rows
on one hot key) through the salted two-phase distinct path, and
transcodes a 4× PBF input. Regressions should be judged HERE.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BIG_COPIES = 10
# tier files are written pre-split (_TIER_FILES part files): AQE
# coalescing otherwise packs the 10x documents table into ONE ~20 MB
# zstd file and lineitem into two, capping every downstream scan stage
# at 1-2 tasks on 32 cores — the tier then measures an artificial
# layout bottleneck no large table has (a 100 TB table is thousands of
# files), not the operators. The _p32 dir suffix versions the cache so
# hosts with the old single-file layout regenerate.
_TIER_FILES = 32
# the cache key carries the SOURCE SF tag: without it, a bench run at a
# non-default SF would write its tier under the same path and every
# later default-SF run would silently reuse the wrong-scale data
_SF_TAG = os.path.basename(SF_DIR.rstrip("/")) or "sf"
BIG_DIR = os.path.join(
    tempfile.gettempdir(),
    f"spark_graft_bigtier_x{BIG_COPIES}_p{_TIER_FILES}_{_SF_TAG}",
)
N_BIG_SKEW_ROWS = 5_000_000


def _make_big_tier(spark) -> None:
    """Materialize the 10× tier once (deterministic; cached across runs).

    - documents: doc_id shifted per copy by a multiple of 20 (the %-20
      eval/train splits keep their proportions); text lightly perturbed
      per copy so replicas are near- not exact duplicates (realistic LSH
      bucket structure instead of degenerate identical-signature buckets).
    - orders/lineitem: orderkey shifted consistently on both sides so the
      join fan-out matches a real 10× scale-up.
    - dimensions copied as-is (they stay broadcast-sized at any scale).
    - skewed.parquet: 5M rows, 50% on one hot key, values spread over 1M
      distinct — the count(DISTINCT) shape map-side combine can't fix.
    """
    from pyspark.sql import functions as F

    ready = os.path.join(BIG_DIR, "_READY")
    if os.path.exists(ready):
        return
    _reap_stale_tiers()
    shutil.rmtree(BIG_DIR, ignore_errors=True)
    os.makedirs(BIG_DIR, exist_ok=True)
    copies = F.explode(
        F.sequence(F.lit(0), F.lit(BIG_COPIES - 1))
    ).alias("_c")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (
        docs.select("*", copies)
        .withColumn("doc_id", F.col("doc_id") + F.col("_c") * F.lit(1_000_000))
        .withColumn(
            "text",
            F.concat("text", F.lit(" copyvariant"), F.col("_c").cast("string")),
        )
        .drop("_c")
        .repartition(_TIER_FILES)
        .write.mode("overwrite")
        .parquet(f"{BIG_DIR}/documents.parquet")
    )
    for tbl, keycol in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        (
            spark.read.parquet(f"{SF_DIR}/{tbl}.parquet")
            .select("*", copies)
            .withColumn(keycol, F.col(keycol) + F.col("_c") * F.lit(100_000_000))
            .drop("_c")
            .repartition(_TIER_FILES)
            .write.mode("overwrite")
            .parquet(f"{BIG_DIR}/{tbl}.parquet")
        )
    for tbl in ("region", "nation", "customer", "supplier", "part",
                "events", "embeddings"):
        shutil.copy(f"{SF_DIR}/{tbl}.parquet", f"{BIG_DIR}/{tbl}.parquet")

    (
        spark.range(N_BIG_SKEW_ROWS)
        .select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.hash(F.col("id")), F.lit(100_000)))
            .cast("long")
            .alias("key"),
            F.pmod(F.hash(F.col("id") + 1), F.lit(1_000_000))
            .cast("long")
            .alias("value"),
        )
        .write.mode("overwrite")
        .parquet(f"{BIG_DIR}/skewed.parquet")
    )
    with open(ready, "w"):
        pass


def _reap_stale_tiers() -> None:
    """Remove tier cache dirs from earlier layout versions (e.g. the
    pre-_p32 unversioned spark_graft_bigtier_x10) and of the retired
    50× soak tier (spark_graft_soak_x*): each version bump otherwise
    orphans hundreds of MB of dead parquet in tmp on hosts that ran
    earlier rounds. Only dirs untouched for >1 day are
    reaped — a concurrently RUNNING bench from an older checkout is
    still writing its tier (fresh mtimes), and deleting it mid-run
    would fail that run (r8 advice #4)."""
    live = {BIG_DIR}
    cutoff = time.time() - 86_400
    for pat in ("spark_graft_bigtier_x*", "spark_graft_soak_x*"):
        for d in glob.glob(os.path.join(tempfile.gettempdir(), pat)):
            if d in live:
                continue
            try:
                if os.path.getmtime(d) > cutoff:
                    continue
            except OSError:
                continue
            shutil.rmtree(d, ignore_errors=True)


def _q_pagerank_big(spark, big_dir):
    """Integer-exact PageRank over the 10× interaction graph: edge
    extraction (orders ⋈ lineitem), distinct, 3 power supersteps."""
    from osm_pbf_parquet_spark.plans.mining_queries import (
        q_pagerank_suppliers,
    )

    return q_pagerank_suppliers(spark, big_dir)


def _q_skew_salted_distinct(spark, big_dir):
    """Hot-key count(DISTINCT value): 2.5M of 5M rows share key=0. The
    salted two-phase plan (operators/skew.py) spreads the hot key's
    distinct work over 16 reducers; a naive groupBy().countDistinct()
    serializes it on one."""
    from osm_pbf_parquet_spark.operators.skew import salted_distinct_count

    df = spark.read.parquet(f"{big_dir}/skewed.parquet")
    return salted_distinct_count(df, ["key"], "value")


N_BENCH_NODES = 10_000_000  # ~130 MB input — large enough to be
# throughput-bound rather than job-setup-bound: measured in the SAME
# host-contention window, 64 MB records 4.5 MB/s while 130 MB records
# 9.8 MB/s, because the ~0.6s fixed scheduling + ~1s warm-up tail get
# amortized. Kept under ~30s/run so min-of-3 still dodges the host's
# minutes-long CPU-contention windows.


def _make_bench_pbf(n_nodes: int = N_BENCH_NODES) -> str:
    """Synthetic input generation — test fixture cost, kept OUTSIDE the
    timed transcode region and cached across bench runs (deterministic
    content, keyed by size; ~20s per 130 MB to regenerate if the cache is
    cold via the numpy-vectorized encoder)."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "tests"))
    from pbf_encoder import write_synthetic_pbf_fast

    cache = os.path.join(
        tempfile.gettempdir(), f"spark_graft_benchv2_{n_nodes}.osm.pbf"
    )
    if not os.path.exists(cache):
        tmp = cache + ".tmp"
        write_synthetic_pbf_fast(tmp, n_nodes=n_nodes,
                                 n_ways=n_nodes // 10,
                                 n_rels=n_nodes // 100,
                                 nodes_per_block=8_000)
        os.replace(tmp, cache)
    return cache


def _q_hll_big(spark, sf_dir):
    from osm_pbf_parquet_spark.operators.sketches import hll_distinct

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return hll_distinct(df, "l_orderkey")


def _bench_transcode(spark, pbf: str, workdir: str,
                     blobs_per_task: int | None = None) -> None:
    """PBF → partitioned parquet, the reference's product flow — the fused
    parse+write stage (sinks/native_sink.py): columnar end-to-end, no JVM
    row round-trip, zstd level 3 like the reference default (util.rs:39)."""
    from osm_pbf_parquet_spark.sinks.native_sink import transcode_pbf

    out = os.path.join(workdir, "parquet_out")
    transcode_pbf(spark, pbf, out, compression="zstd", zstd_level=3,
                  blobs_per_task=blobs_per_task)


def main() -> None:
    t_start = time.time()
    from osm_pbf_parquet_spark.session import get_spark
    from osm_pbf_parquet_spark.plans.relational import QUERIES as REL
    from osm_pbf_parquet_spark.plans.pipeline_queries import PIPELINE_QUERIES as PIPE
    from osm_pbf_parquet_spark.plans.sampling_queries import SAMPLING_QUERIES as SAMP
    from osm_pbf_parquet_spark.plans.advanced_queries import ADVANCED_QUERIES as ADV
    from osm_pbf_parquet_spark.plans.quality_queries import QUALITY_QUERIES as QUAL
    from osm_pbf_parquet_spark.plans.media_queries import MEDIA_QUERIES as MEDIA
    from osm_pbf_parquet_spark.plans.selection_queries import (
        SELECTION_QUERIES as SEL,
    )

    spark = get_spark("bench")
    # warm the JVM + parquet footers with a trivial action
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    # spawn the Python worker pool once (first Python stage otherwise pays
    # ~fork+import per core inside whichever query hits it first)
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4, numPartitions=n).mapInPandas(
        lambda it: it, "id long"
    ).count()

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0

    headline = [
        ("pricing_summary", REL["pricing_summary"][0]),
        ("top_revenue_orders", REL["top_revenue_orders"][0]),
        ("region_revenue", REL["region_revenue"][0]),
        ("semi_join", REL["semi_join"][0]),
        ("outer_join_agg", REL["outer_join_agg"][0]),
        ("topk_per_group", REL["topk_per_group"][0]),
        ("sessionize", REL["sessionize"][0]),
        ("asof_join", REL["asof_join"][0]),
        ("dedup_exact", PIPE["dedup_exact"][0]),
        ("dedup_minhash_lsh", PIPE["dedup_minhash_lsh"][0]),
        ("dedup_simhash", PIPE["dedup_simhash"][0]),
        ("ann_cosine_topk", PIPE["ann_cosine_topk"][0]),
        ("text_quality", PIPE["text_quality"][0]),
        ("text_lang_id", PIPE["text_lang_id"][0]),
        ("decontaminate", PIPE["decontaminate"][0]),
        ("sample_pack_sequences", SAMP["sample_pack_sequences"][0]),
        ("duplicate_spans", PIPE["duplicate_spans"][0]),
        ("line_corpus_dedup", PIPE["line_corpus_dedup"][0]),
        ("semantic_dedup", PIPE["semantic_dedup"][0]),
        ("kmeans_clusters", PIPE["kmeans_clusters"][0]),
        ("full_curation_pipeline", PIPE["full_curation_pipeline"][0]),
        ("hll_distinct", ADV["hll_distinct"][0]),
        ("bm25_topk", ADV["bm25_topk"][0]),
        ("hybrid_rrf_search", ADV["hybrid_rrf_search"][0]),
        ("dsir_importance", SEL["dsir_importance"][0]),
    ]

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    raw_reps: dict[str, list[float]] = {}

    # r6-verdict ask #3: min-of-3 under this host's minutes-long
    # contention windows is a noisy estimator — 8/14 big anchors spread
    # >1.6×, indistinguishable from a real regression. A rep whose wall
    # exceeds OUTLIER_X × the best rep is a contention hit, not the
    # engine: discard it from the published spread (NEVER from the raw
    # reps) and re-run, bounded by EXTRA_ATTEMPTS. The
    # min is over ALL reps, so rejection can only tighten the spread,
    # never move the headline number. The published spread must rest on
    # at least n clean reps — if the extra attempts are also contended
    # (fewer than n survive rejection), the spread falls back to ALL
    # raw reps and stays honestly wide instead of collapsing onto the
    # lone quiet rep and silencing the contention detector.
    OUTLIER_X = 1.5
    EXTRA_ATTEMPTS = 3

    def timed(name: str, thunk, n: int, into: dict, spread_into: dict,
              raw_into: dict) -> None:
        raw: list[float] = []
        while True:
            t0 = time.time()
            thunk()
            raw.append(time.time() - t0)
            spark.catalog.clearCache()
            clean = [r for r in raw if r <= OUTLIER_X * min(raw)]
            if len(clean) >= n or len(raw) >= n + EXTRA_ATTEMPTS:
                break
        published = clean if len(clean) >= n else raw
        into[name] = round(min(raw), 3)
        spread_into[name] = [round(min(published), 3), round(max(published), 3)]
        raw_into[name] = [round(r, 3) for r in raw]

    workdir = tempfile.mkdtemp(prefix="bench_pbf_")
    try:
        # transcode first, on the freshest JVM: a tiny same-plan-shape
        # warm-up pays whole-stage codegen + zstd/arrow init outside the
        # timed region, then min-of-2 timed runs (the reference's
        # criterion bench samples n=10 for the same reason)
        pbf = _make_bench_pbf()
        in_mb = os.path.getsize(pbf) / 1e6
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "tests"))
        from pbf_encoder import write_synthetic_pbf_fast

        warm = os.path.join(workdir, "warm.osm.pbf")
        # 280k nodes = 35 dense blocks (+ way/rel blobs) so blobs_per_task=1
        # yields >32 tasks: EVERY worker slot pays its one-time package
        # import inside the warm-up. The old 50k-node warm file had only 9
        # data blobs, so 23 of 32 workers spawned cold INSIDE run 1 —
        # measured 50.5 MB/s first-run vs 84 steady on the 531 MB input;
        # with a 37-blob warm file the first run hits 88
        write_synthetic_pbf_fast(warm, n_nodes=280_000, n_ways=5_000, n_rels=500)
        _bench_transcode(spark, warm, workdir, blobs_per_task=1)
        timed("pbf_transcode", lambda: _bench_transcode(spark, pbf, workdir),
              3, timings, spreads, raw_reps)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    for name, fn in headline:
        # min-of-3 per query: the host VM shows 3-6x CPU-contention swings
        # lasting minutes (identical transcode runs measured 5s vs 45s), so
        # few samples conflate engine cost with host noise — the reference's
        # criterion bench samples n=10 for the same reason. Repeat runs are
        # NOT warm-cache: clearCache() drops persisted intermediates.
        # count() forces the full plan without driver-side materialization.
        timed(name, lambda fn=fn: fn(spark, SF_DIR).count(),
              3, timings, spreads, raw_reps)

    # ---- big tier: 10× data, min-of-3 (the host's contention windows
    # outlast min-of-2 even for multi-second runs — see spreads) ----
    big_timings: dict[str, float] = {}
    big_spreads: dict[str, list[float]] = {}
    big_raw_reps: dict[str, list[float]] = {}
    big_extra: dict = {}
    try:
        _make_big_tier(spark)
        # re-warm the Python worker pool before the tier's first
        # pandas_udf user (minhash signatures) — same respawn-billing
        # guard as the transcode legs
        spark.range(spark.sparkContext.defaultParallelism * 1000).repartition(
            spark.sparkContext.defaultParallelism
        ).mapInArrow(lambda it: it, "id long").count()
        big_headline = [
            ("region_revenue", REL["region_revenue"][0]),
            ("decontaminate", PIPE["decontaminate"][0]),
            ("dedup_minhash_lsh", PIPE["dedup_minhash_lsh"][0]),
            ("dedup_simhash", PIPE["dedup_simhash"][0]),
            ("sample_pack_sequences", SAMP["sample_pack_sequences"][0]),
            ("duplicate_spans", PIPE["duplicate_spans"][0]),
            ("skew_salted_distinct", _q_skew_salted_distinct),
            # HLL over the 10x lineitem key space (~6M rows) — the gate
            # query's events table is copied 1x into BIG_DIR, so point
            # the sketch at the table that actually scales
            ("hll_distinct", _q_hll_big),
            ("bm25_topk", ADV["bm25_topk"][0]),
            # r6: integer PageRank on the 10x orders⋈lineitem edge
            # extraction (6M lineitem rows → edge dedup → 3 supersteps)
            ("pagerank_suppliers", _q_pagerank_big),
            # r6: bounded BFS over the same 10x edge extraction (3
            # frontier-join levels + visited anti-joins, per-level persist)
            ("shortest_hops", QUAL["shortest_hops"][0]),
            # r6: integer median/MAD on 1.5M orders joined to the 1x
            # customer dim — two partitioned window sorts, 25 groups
            ("mad_outliers", QUAL["mad_outliers"][0]),
            # r6: perceptual dedup over 50k synthesized images — real
            # PPM decode + dHash in mapInPandas, then the banded
            # Hamming self-join (Arrow-batch + join-path anchor)
            ("image_near_dup_pairs", MEDIA["image_near_dup_pairs"][0]),
            # r7: DSIR importance weights over the 10x document corpus —
            # one token-level shuffle to the persisted (doc, is_t,
            # bucket) frame, two tiny aggs + broadcast lambda attach
            ("dsir_importance", SEL["dsir_importance"][0]),
            # r7: EXACT prefix-filtered Jaccard self-join — the 10x
            # replication is adversarial (every gram's df >= 10), so
            # this anchors the PPJoin length+positional pruning: 1.25M
            # filtered candidates against 248.6k true pairs
            ("jaccard_join_exact", PIPE["jaccard_join_exact"][0]),
            # r9: the training-set-assembly capstone — dsir over the 10x
            # corpus → A-ES reservoir top-k → shard window, end-to-end
            ("training_set_assembly", SEL["training_set_assembly"][0]),
            # r9: margin criterion over LSH candidates (the CCMatrix
            # shape) — bucket join + cached candidates + 2 rank-k windows
            ("margin_bitext_ann", PIPE["margin_bitext_ann"][0]),
            # r9: winnowing span-decontamination certificate — scan-speed
            # fingerprints + broadcast eval set + one doc-keyed agg
            ("fingerprint_decontaminate",
             PIPE["fingerprint_decontaminate"][0]),
        ]
        for name, fn in big_headline:
            # min-of-3 for the WHOLE tier: the host's minutes-long
            # contention windows outlast min-of-2 for any multi-second
            # entry (r5 observed 5.5s-vs-46.7s minhash and 3.8s-vs-11.6s
            # bm25 spreads); the extra ~15s of wall buys trustworthy mins
            timed(name, lambda fn=fn: fn(spark, BIG_DIR).count(),
                  3, big_timings, big_spreads, big_raw_reps)

        big_workdir = tempfile.mkdtemp(prefix="bench_pbf_big_")
        try:
            big_pbf = _make_bench_pbf(N_BENCH_NODES * 4)
            big_mb = os.path.getsize(big_pbf) / 1e6
            # re-warm the Python worker pool right before timing: the 4×
            # transcode runs LAST, after minutes of non-transcode queries —
            # Spark's idle-worker reaper has emptied the pool by then, and
            # billing 32 worker spawns + imports to run 1 is what produced
            # r4's phantom "throughput droop" (12.2s first-run vs 6.9s
            # steady-state; isolated re-runs measure 77 MB/s at 4× — flat
            # vs the 130 MB input)
            warm2 = os.path.join(big_workdir, "warm.osm.pbf")
            # ≥32 data blobs (see the small-tier warm-up note): re-spawns
            # the FULL worker pool the idle reaper emptied, not 9/32 of it
            write_synthetic_pbf_fast(warm2, n_nodes=280_000, n_ways=5_000,
                                     n_rels=500)
            _bench_transcode(spark, warm2, big_workdir, blobs_per_task=1)
            timed("pbf_transcode_4x",
                  lambda: _bench_transcode(spark, big_pbf, big_workdir),
                  3, big_timings, big_spreads, big_raw_reps)
            big_extra["big_transcode_input_mb"] = round(big_mb, 1)
            big_extra["big_transcode_mb_per_s"] = round(
                big_mb / big_timings["pbf_transcode_4x"], 1
            )
        finally:
            shutil.rmtree(big_workdir, ignore_errors=True)
    except Exception as exc:  # the sf0.1 line must survive a big-tier failure
        big_extra["big_error"] = f"{type(exc).__name__}: {exc}"

    big_total = round(sum(big_timings.values()), 3)
    payload = {
        # headline = big tier: the sf0.1 per-query values are ADVISORY
        # (sub-second, noise-dominated on this host); judge regressions on
        # big_queries / big_total, and read the spreads first — a max far
        # above the min marks a contention window, not a regression
        "metric": "big_tier_total",
        "value": big_total,
        "unit": "sec",
        "queries": timings,
        "query_spread": spreads,
        "sf01_advisory": True,
        "sf01_total": round(sum(timings.values()), 3),
        "sf": sf,
        "transcode_input_mb": round(in_mb, 1),
        "transcode_mb_per_s": round(in_mb / timings["pbf_transcode"], 1),
        "big_queries": big_timings,
        "big_spread": big_spreads,
        "raw_reps": raw_reps,
        "big_raw_reps": big_raw_reps,
        "big_total": big_total,
        "big_copies": BIG_COPIES,
        **big_extra,
        "wall_total": round(time.time() - t_start, 3),
    }
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main()
