"""Serving maintenance sweeps — the measured lines behind docs/SCALE.md.

Two witnesses (VERDICT r09 #6 and #1):

--cadence C1,C2,...  fold-cadence sweep under live ingest. The serving
    cost model (docs/SCALE.md round 9) says query wall = per-job floor
    + stable ADC (∝ n/nlist) + delta scan (∝ rows since last fold).
    The delta term's expectation is (cadence × rate)/2 rows — this
    sweep measures 2–3 cadences at a fixed offered rate so the 100 TB
    extrapolation rests on a measured slope, not one point. Reports
    per-cadence query p50/p95, mean fold wall, and the measured mean
    delta rows at query time.

--growth             index re-sizing witness. Grows the corpus through
    fold cycles until needs_rebuild() flips (rows/nlist > α× the built
    ratio — collection.needs_rebuild, VERDICT r09 #1), measuring the
    stable-ADC probe wall as it climbs, then auto_resize() and measures
    the probe again: the rebuild at recommended_nlist() (√n scaling)
    must restore ADC to ~the built-ratio cost. Reference anchor: the
    24 h centroid retrain schedule (config.h:79-81) is the same knob on
    a clock instead of an odometer.

Usage:
    python tools/serving_sweep.py --cadence 6,12,24 [--serve-s 30]
    python tools/serving_sweep.py --growth [--gens 5]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_SERVE_RATE (default 5000 rows/s).
Prints one JSON line per mode; paste-ready for docs/SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RATE = int(os.environ.get("SPARK_GRAFT_SERVE_RATE", "5000"))


def _pctl(xs: list[float], q: float) -> float:
    ys = sorted(xs)
    return ys[min(len(ys) - 1, max(0, round(q * (len(ys) - 1))))]


def _fresh_collection(spark, tmp: str):
    from write_optimized_vector_database_spark.collection import VectorCollection
    from write_optimized_vector_database_spark.operators.changelog import (
        synthetic_changelog,
    )

    coll = VectorCollection(spark, tmp, metric="ip")
    coll.ingest(synthetic_changelog(spark, SF_DIR))
    coll.compact()
    coll.vacuum()
    coll.build_indexes(nlist=8, m=8, nbits=8)
    return coll


def _queries(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def run_cadence(spark, cadences: list[float], serve_s: float) -> dict:
    """One serving window per cadence, same offered rate, fresh
    collection each (so corpus size at window start is comparable)."""
    from pyspark.sql import functions as F

    from write_optimized_vector_database_spark.operators.pq import (
        release_query_broadcasts,
    )
    from write_optimized_vector_database_spark.streaming.ingest import (
        EPOCH_STRIDE,
        changelog_batch_writer,
    )

    emb_dim = len(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("embedding").first()[0]
    )
    out = {"offered_rows_per_s": RATE, "serve_s": serve_s, "cadences": []}
    for cadence in cadences:
        tmp = tempfile.mkdtemp(prefix="sweep_serve_")
        ckpt = tempfile.mkdtemp(prefix="sweep_ckpt_")
        try:
            coll = _fresh_collection(spark, tmp)
            qdf = _queries(spark)
            epoch_base = (
                max(coll._snapshot_epoch(), coll._index_epoch()) // EPOCH_STRIDE + 1
            ) * EPOCH_STRIDE
            src = (
                spark.readStream.format("rate")
                .option("rowsPerSecond", RATE)
                .option("numPartitions", 4)
                .load()
                .select(
                    F.lit("INSERT").alias("op"),
                    (F.col("value") + F.lit(5_000_000_000)).alias("id"),
                    F.lit("stream").alias("tenant"),
                    F.lit("ns0").alias("namespace"),
                    F.transform(
                        F.sequence(F.lit(0), F.lit(emb_dim - 1)),
                        lambda j: F.pmod(
                            F.xxhash64(F.col("value"), j), F.lit(1000)
                        ).cast("double") / F.lit(1000.0),
                    ).cast("array<float>").alias("vector"),
                    F.array(F.lit(0)).alias("tags"),
                )
            )
            q = (
                src.writeStream.foreachBatch(
                    changelog_batch_writer(tmp, epoch_base=epoch_base)
                )
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(processingTime="1 seconds")
                .start()
            )
            lat: list[float] = []
            delta_rows: list[int] = []
            fold_walls: list[float] = []
            t0 = time.time()
            last_maint = t0
            try:
                while time.time() - t0 < serve_s or len(lat) < 8:
                    # measured delta size at query time — the term the
                    # cost model predicts as (cadence × rate)/2
                    idx_epoch = coll._index_epoch()
                    delta_rows.append(
                        coll.changelog()
                        .filter(F.col("epoch") > idx_epoch)
                        .count()
                        if coll._has_changelog_files()
                        else 0
                    )
                    t1 = time.time()
                    n = coll.topk_two_phase(
                        qdf, k=10, nprobe=8, rerank_factor=4
                    ).count()
                    lat.append(time.time() - t1)
                    assert n > 0
                    release_query_broadcasts()
                    if time.time() - last_maint > cadence:
                        tm = time.time()
                        coll.refresh_indexes()
                        fold_walls.append(time.time() - tm)
                        spark.sparkContext._jvm.System.gc()
                        last_maint = time.time()
            finally:
                q.stop()
            lat_ms = [x * 1000.0 for x in lat]
            out["cadences"].append(
                {
                    "cadence_s": cadence,
                    "queries": len(lat),
                    "query_p50_ms": round(_pctl(lat_ms, 0.5), 1),
                    "query_p95_ms": round(_pctl(lat_ms, 0.95), 1),
                    "folds": len(fold_walls),
                    "fold_wall_p50_s": (
                        round(_pctl(fold_walls, 0.5), 2) if fold_walls else None
                    ),
                    "mean_delta_rows_at_query": (
                        round(sum(delta_rows) / len(delta_rows)) if delta_rows else 0
                    ),
                    "predicted_mean_delta_rows": round(cadence * RATE / 2),
                }
            )
            print(f"cadence {cadence}s: {out['cadences'][-1]}", file=sys.stderr)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
    return out


def _synthetic_corpus(spark, n: int, dim: int, id_base: int = 0,
                      epoch_base: int = 0):
    """Deterministic dim-`dim` changelog batch (the bench stream's
    xxhash generator, batched): the reference-shape corpus the fixture
    embeddings (dim 64) can't provide — at m=96/dim=768 the ADC term is
    actually visible over the per-job floor."""
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.lit("INSERT").alias("op"),
            (F.col("id") + F.lit(id_base)).alias("id"),
            F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("tenant"),
            F.lit("ns0").alias("namespace"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.pmod(F.xxhash64(F.col("id"), j), F.lit(1000))
                .cast("double") / F.lit(1000.0),
            ).cast("array<float>").alias("vector"),
            F.array((F.col("id") % 50).cast("int")).alias("tags"),
            (F.col("id") + F.lit(epoch_base)).alias("epoch"),
        )
    )


def run_growth(spark, gens: int, synthetic_n: int = 0, dim: int = 768,
               m: int = 96) -> dict:
    """Batch growth through fold cycles until needs_rebuild flips, then
    auto_resize; ADC probe wall measured at each step (the bench
    variant VERDICT r09 #1 asks for, minus the stream — growth is the
    variable here, so it is driven deterministically). With
    --synthetic N the corpus is N generated dim-`dim` rows (reference
    shape, config.h:19/88) instead of the fixture embeddings."""
    from pyspark.sql import functions as F

    from write_optimized_vector_database_spark.collection import VectorCollection
    from write_optimized_vector_database_spark.operators.ivfpq import (
        ivfpq_adc_topk,
    )
    from write_optimized_vector_database_spark.operators.pq import (
        release_query_broadcasts,
    )

    tmp = tempfile.mkdtemp(prefix="sweep_growth_")
    try:
        if synthetic_n:
            coll = VectorCollection(spark, tmp, metric="ip")
            coll.ingest(_synthetic_corpus(spark, synthetic_n, dim), dedup=False)
            coll.compact()
            coll.build_indexes(nlist=8, m=m, nbits=8, sample_fraction=None)
            qdf = (
                _synthetic_corpus(spark, 8, dim)
                .select(F.col("id").alias("query_id"),
                        F.col("vector").alias("query_vec"))
            )
        else:
            coll = _fresh_collection(spark, tmp)
            qdf = _queries(spark)
        base = coll.current()
        n0 = base.count()

        def adc_wall() -> float:
            # merged view (round 13): folds land in overlay dirs, so a
            # raw base-dir read would miss every folded row and keep
            # probing the gen-0 index while index_rows doubles
            meta = coll._meta()
            idx = coll.stable_index_df(meta)
            cents, codebooks = coll._index_artifacts(meta)
            crows, cbt = coll._index_artifacts_np(meta)
            t0 = time.time()
            ivfpq_adc_topk(
                idx, qdf, cents, codebooks, k=40, nprobe=8,
                metric="ip", vec_id_col="id", _cb_np=cbt, _crows=crows,
            ).count()
            release_query_broadcasts()
            return time.time() - t0

        steps = []
        adc_wall()  # discard the cold first probe (JVM/page-cache warmup)
        d = coll.describe_index()
        steps.append(
            {
                "gen": 0,
                "index_rows": d["index_rows"],
                "rows_per_list": d["rows_per_list"],
                "needs_rebuild": d["needs_rebuild"],
                "adc_probe_s": round(adc_wall(), 2),
            }
        )
        for gen in range(1, gens + 1):
            # double the corpus each generation (ids offset into a fresh
            # range, epochs strictly above the high-water mark): sustained
            # growth, the shape the odometer exists for
            grow = coll.current().select(
                F.lit("INSERT").alias("op"),
                (F.col("id") + F.lit(10_000_000 * gen)).alias("id"),
                "tenant", "namespace", "vector", "tags",
                (F.col("epoch") + F.lit(100_000_000 * gen)).alias("epoch"),
            )
            coll.ingest(grow, dedup=False)
            res = coll.refresh_indexes()
            d = coll.describe_index()
            steps.append(
                {
                    "gen": gen,
                    "index_rows": d["index_rows"],
                    "rows_per_list": d["rows_per_list"],
                    "needs_rebuild": res["needs_rebuild"],
                    "adc_probe_s": round(adc_wall(), 2),
                }
            )
            print(f"growth gen {gen}: {steps[-1]}", file=sys.stderr)
        before = steps[-1]
        t0 = time.time()
        resized = coll.auto_resize()
        resize_wall = time.time() - t0
        after = {
            "nlist": coll._meta()["index_nlist"],
            "rows_per_list": resized["rows_per_list"] if resized else None,
            "needs_rebuild": resized["needs_rebuild"] if resized else None,
            "adc_probe_s": round(adc_wall(), 2),
            "resize_wall_s": round(resize_wall, 2),
        }
        print(f"after auto_resize: {after}", file=sys.stderr)
        return {
            "base_rows": n0,
            "steps": steps,
            "flipped_at_gen": next(
                (s["gen"] for s in steps if s["needs_rebuild"]), None
            ),
            "adc_before_resize_s": before["adc_probe_s"],
            "after_resize": after,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cadence", type=str, default=None,
                    help="comma-separated fold cadences in seconds")
    ap.add_argument("--serve-s", type=float, default=30.0)
    ap.add_argument("--growth", action="store_true")
    ap.add_argument("--gens", type=int, default=5)
    ap.add_argument("--synthetic", type=int, default=0,
                    help="start the growth corpus at N generated rows")
    ap.add_argument("--dim", type=int, default=768)
    ap.add_argument("--m", type=int, default=96)
    args = ap.parse_args()

    from write_optimized_vector_database_spark.session import get_spark

    spark = get_spark("serving_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cadence:
            cadences = [float(c) for c in args.cadence.split(",")]
            print(json.dumps({"mode": "cadence", "sf_dir": SF_DIR,
                              **run_cadence(spark, cadences, args.serve_s)}))
        if args.growth:
            print(json.dumps({
                "mode": "growth", "sf_dir": SF_DIR,
                "synthetic_n": args.synthetic, "dim": args.dim, "m": args.m,
                **run_growth(spark, args.gens, synthetic_n=args.synthetic,
                             dim=args.dim, m=args.m),
            }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
