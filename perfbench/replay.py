"""Traced per-layer replay of one pipeline run.

Reads the committed upstream stages of one `Pipeline.run` through
`Warehouse.read`, then runs each layer alone, through its public function,
under a benchmark span: the layer's output is persisted and counted inside
the layer span, then committed with `Warehouse.write` inside an `io.write`
span. With Spark's event log on, `spans.rollup` prices each span.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession, functions as F

from dedup import lsh, verify
from dedup.components import connected_components
from dedup.config import DedupConfig
from dedup.io import Warehouse
from dedup.pipeline import exact_member_edges, member_scores

from spans import Spans

LAYERS = [
    "keys", "signatures", "lsh.minhash_band", "lsh.phash", "verify.substring",
    "pipeline.reps", "components", "pipeline.member_scores", "io.write",
]

# which end-to-end metric, on which workload, each per-layer metric should
# move (printed by every traced run; BENCHMARK.json's per_layer entries hold
# only name, unit and better)
LAYER_MOVES = {
    "keys.*": "items_per_s on batch-mixed; nothing on stream-fuzzy",
    "signatures.*": "items_per_s on batch-mixed",
    "lsh.minhash_band.*": "items_per_s on batch-mixed, the largest replayed layer there",
    "lsh.phash.*": "items_per_s on batch-mixed",
    "verify.substring.*": "items_per_s on batch-mixed",
    "pipeline.reps.*": "items_per_s on batch-mixed (viral caption collapse)",
    "components.*": "items_per_s and the printed peak_rss_mb on batch-mixed",
    "pipeline.member_scores.*": "items_per_s on batch-mixed",
    "io.write.*": "items_per_s on batch-mixed, where fixed commit cost is a large share",
    "io.commits, io.mb_written": "items_per_s on batch-mixed (fixed cost per stage commit)",
    "pipeline.jobs, pipeline.overlap": "items_per_s on batch-mixed (fixed cost per job, tail-stage concurrency)",
    "streaming.*": "items_per_s on stream-fuzzy; nothing on batch-mixed",
    "queries.*": "no end-to-end metric directly: measured in batch-mixed's traced run only; "
                 "queries.dedup* share lsh/verify/components kernels with items_per_s on batch-mixed",
    "*.udf_gap_s": "items_per_s on whichever workload that layer dominates",
    "trace.overhead_s": "no end-to-end metric: end-to-end runs are untraced",
}


def _keys(images: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The pipeline's keys stage: sha2 plus imaging.verify_row_fidelity over
    Arrow batches (mapInPandas)."""
    psnr_min = cfg.psnr_min_db

    def check(batches):
        import pandas as pd

        from dedup import imaging

        for pdf in batches:
            res = [
                imaging.verify_row_fidelity(b, f, w, h, p, psnr_min)
                for b, f, w, h, p in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"], pdf["phash"])
            ]
            yield pd.DataFrame({
                "image_id": pdf["image_id"], "sha": pdf["sha"], "caption": pdf["caption"],
                "phash": pdf["phash"],
                "decode_ok": [r[0] for r in res], "phash_ok": [r[1] for r in res],
            })

    return images.withColumn("sha", F.sha2(F.col("bytes"), 256)).mapInPandas(
        check,
        "image_id string, sha string, caption string, phash long, "
        "decode_ok boolean, phash_ok boolean",
    )


def _minhash_probes(sigs: DataFrame, cfg: DedupConfig) -> int:
    """Sum of C(bucket, 2) over the LSH band buckets (lsh.band_keys_expr)."""
    n = (
        sigs.select(F.posexplode(F.expr(lsh.band_keys_expr(cfg))).alias("band", "bh"))
        .groupBy("band", "bh").count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long").alias("p"))
        .collect()[0]["p"]
    )
    return int(n or 0)


def replay(
    spark: SparkSession, images_path: str, upstream: str, out_root: str,
    cfg: DedupConfig, spans: Spans,
) -> dict:
    """Run every layer once under its span. Returns per-layer output row
    counts, the yield numerators/denominators, and the replayed
    assignments as {image_id: cluster_id} for the oracle check."""
    up = Warehouse(upstream, cfg.config_hash())
    out = Warehouse(out_root, cfg.config_hash(), run_id="replay")
    keys_man, sig_man, pairs_man = up.manifest("keys"), up.manifest("signatures"), up.manifest("pairs")
    rows: dict[str, int] = {}
    facts: dict = {}

    def layer(name: str, build) -> DataFrame:
        with spans.span(name):
            df = build().persist()
            rows[name] = df.count()
        with spans.span("io.write"):
            out.write(df, name.replace(".", "_"))
        rows["io.write"] = rows.get("io.write", 0) + rows[name]
        return df

    layer("keys", lambda: _keys(spark.read.parquet(images_path), cfg)).unpersist()
    keys = up.read(spark, "keys")

    def build_sigs() -> DataFrame:
        uniq = keys.groupBy("caption").agg(F.min("image_id").alias("rep_id")) \
            .repartition(spark.sparkContext.defaultParallelism)
        return lsh.with_shingles(lsh.with_minhash(uniq, "caption", cfg), "caption", cfg)

    layer("signatures", build_sigs).unpersist()
    sigs = up.read(spark, "signatures")

    def build_band() -> DataFrame:
        pairs, skew, _ = lsh.minhash_scored_band(
            sigs, "rep_id", cfg, 0, cfg.lsh_bands - 1,
            sample_mod=cfg.metrics_inter_sample_mod, persist=False,
        )
        skew.collect()  # the pipeline commits these bucket stats with each band group
        return pairs

    band = layer("lsh.minhash_band", build_band)
    with spans.span("aux"):
        facts["minhash_verified"] = band.where(F.col("score") >= cfg.jaccard_threshold).count()
        facts["minhash_probes"] = _minhash_probes(sigs, cfg)
    band.unpersist()

    uniq_ph = keys.groupBy("phash").agg(F.min("image_id").alias("rep_id")).persist()
    layer("lsh.phash", lambda: lsh.phash_candidates(uniq_ph, "rep_id", "phash", cfg)).unpersist()
    with spans.span("aux"):
        # bucket_cap=1 makes "capped_candidate_pairs" the sum of C(n, 2) over
        # every chunk-pair bucket: the probe count of the candidate join
        every = dataclasses.replace(cfg, bucket_cap=1)
        stats = lsh.phash_bucket_stats(uniq_ph, "rep_id", "phash", every).collect()[0]
        facts["phash_probes"] = int(stats["capped_candidate_pairs"] or 0)
    uniq_ph.unpersist()
    facts["phash_edges"] = rows["lsh.phash"]

    layer("verify.substring", lambda: verify.substring_edges(
        sigs.select("rep_id", "caption"), "rep_id", "caption", cfg,
        max_container_len=sig_man.get("observed", {}).get("max_caption_len"),
        approx_rows=sig_man["row_count"],
    )).unpersist()
    layer("pipeline.reps", lambda: exact_member_edges(
        keys, cfg.reps_hot_key_rows, cfg.reps_hot_key_cap, corpus_rows=keys_man["row_count"],
    )).unpersist()

    pairs = up.read(spark, "pairs")
    gate = (pairs_man["row_count"], pairs_man["observed"]["edge_bytes_est"])
    cc = layer("components", lambda: connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        keys.select("image_id"), cfg=cfg, pre_gate=gate,
    ))
    facts["assignments"] = {r["image_id"]: r["cluster_id"] for r in cc.collect()}
    cc.unpersist()
    layer("pipeline.member_scores",
          lambda: member_scores(up.read(spark, "assignments"), pairs)).unpersist()

    facts["rows"] = rows
    return facts
