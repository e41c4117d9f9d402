"""10x scaling probe (SCALE.md evidence) — measures wall at 1x and 10x
the sf0.1 corpus for the operator families whose shuffle-shape analysis
claims at-or-below-linear growth.

The 10x replica perturbs each copy (first token prefixed for documents,
first embedding component shifted) so hashes, buckets, and signatures
actually differ between copies — a naive replica would collapse into
the 1x hash space and understate the work.

Usage:
    python tools/scale_probe.py [sf_dir]

Prints one line per (operator, scale) with wall seconds; paste the table
into SCALE.md. Timings are best-of-1 warm-session (plans compiled by a
throwaway run at 1x first), matching the round-3 probe's methodology.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


def replicate_docs(docs, copies: int):
    n = docs.count()
    parts = []
    for i in range(copies):
        parts.append(
            docs.select(
                (F.col("doc_id") + i * n).alias("doc_id"),
                F.concat(F.lit(f"r{i} "), F.col("text")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32).cache()


def replicate_events(ev, copies: int):
    # new event ids + shifted users/subjects so distinct-key work grows
    # with the replication factor (not just row count)
    n = ev.count()
    parts = []
    for i in range(copies):
        parts.append(
            ev.select(
                (F.col("event_id") + i * n).alias("event_id"),
                "ts",
                (F.col("user_id") + i * 1_000_000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32).cache()


def replicate_embeddings(emb, copies: int):
    n = emb.count()
    parts = []
    for i in range(copies):
        parts.append(
            emb.select(
                (F.col("vec_id") + i * n).alias("vec_id"),
                F.concat(
                    F.array((F.element_at("embedding", 1) + F.lit(float(i) * 0.01)).cast("float")),
                    F.slice("embedding", 2, 10_000),
                ).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32).cache()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from cloudtrace_exporter_spark.operators import dedup, similarity, text
    from cloudtrace_exporter_spark.session import get_spark

    spark = get_spark("scale_probe")
    docs1 = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    print(f"1x: {docs1.count()} docs, {emb1.count()} vectors")
    docs10 = replicate_docs(docs1, 10)
    emb10 = replicate_embeddings(emb1, 10)
    print(f"10x: {docs10.count()} docs, {emb10.count()} vectors")

    def t(label: str, fn) -> None:
        t0 = time.time()
        n = fn().count()
        print(f"{label:42s} {time.time() - t0:6.2f} s  ({n} rows)")

    # --- DSIR importance (profile + score passes) ---
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"dsir_importance {tag}", lambda d=d: text.dsir_importance(d, d.filter(F.col("lang") == "en")))

    # --- PQ encode + ADC top-k (books trained once at 1x — the serve shape) ---
    books = similarity.pq_train(emb1)
    for tag, e in (("1x", emb1), ("10x", emb10)):
        t(f"pq_encode {tag}", lambda e=e: similarity.pq_encode(e, books))
    for tag, e in (("1x", emb1), ("10x", emb10)):
        codes = similarity.pq_encode(e, books).cache()
        codes.count()
        q = e.filter(F.col("vec_id") < 10)
        t(f"pq_topk (ADC over codes) {tag}", lambda e=e, q=q, codes=codes: similarity.pq_topk(e, q, books, codes=codes))
        codes.unpersist()

    # --- chunked exact cosine (4 broadcast chunks, shared corpus exchange) ---
    for tag, e in (("1x", emb1), ("10x", emb10)):
        q = e.filter(F.col("vec_id") < 40)
        t(f"cosine_topk_chunked {tag}", lambda e=e, q=q: similarity.cosine_topk_chunked(e, q))

    # --- chunk-level substring dedup census ---
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"chunk_dup_census {tag}", lambda d=d: dedup.chunk_dup_census(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"chunk_overlap_ratio {tag}", lambda d=d: dedup.chunk_overlap_ratio(d))

    # --- round-4 additions ---
    from cloudtrace_exporter_spark.operators import curate

    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"classifier_quality_score {tag}", lambda d=d: text.classifier_quality_score(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"gopher_quality {tag}", lambda d=d: text.gopher_quality(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"token_budget_sample {tag}", lambda d=d: curate.token_budget_sample(d, budget_tokens=600))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"intra_doc_dedup {tag}", lambda d=d: dedup.dedup_intra_doc(d))
    # semantic dedup: n_bits=None → the operator applies the sizing rule
    # itself (occupancy constant — buckets ∝ corpus); a frozen n_bits=2 at
    # 10x re-quadratizes the pair join (measured 149 s vs 5.4 s at 1x)
    # because 2 bits = 4 buckets/table regardless of n
    for tag, e in (("1x (auto bits)", emb1), ("10x (auto bits)", emb10)):
        t(f"semantic_dedup {tag}", lambda e=e: semantic_dedup_probe(e))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(
            f"bm25_topk {tag}",
            lambda d=d: text.bm25_topk(
                d, [(0, "hash join"), (1, "window agg stream"), (2, "fast scan filter")]
            ),
        )
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"bpe_pair_stats {tag}", lambda d=d: text.bpe_pair_stats(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"bpe_encode (6 merges) {tag}", lambda d=d: text.bpe_encode_counts(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"fuzzy_prefix_join {tag}", lambda d=d: dedup.fuzzy_prefix_join(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(
            f"fuzzy_sorted_neighborhood {tag}",
            lambda d=d: dedup.fuzzy_sorted_neighborhood(d),
        )

    # --- round-6 additions ---
    from cloudtrace_exporter_spark.operators import layout

    def lsh_index(d):
        return dedup.minhash_banded_index(d).cache()

    for tag, d in (("1x", docs1), ("10x", docs10)):
        idx = lsh_index(d)
        idx.count()  # build once; the probe measures the steady-state ops
        t(
            f"contrastive_pairs (LSH source) {tag}",
            lambda d=d, idx=idx: curate.contrastive_pairs(
                d, pairs=dedup.minhash_lsh_pairs(d, threshold=0.5, index=idx)
            ),
        )
        t(
            f"dedup_threshold_sweep {tag}",
            lambda d=d, idx=idx: dedup.dedup_threshold_sweep(d, index=idx),
        )
        t(
            f"source_overlap_matrix {tag}",
            lambda d=d, idx=idx: dedup.source_overlap_matrix(d, index=idx),
        )
        idx.unpersist()
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(
            f"containment_pairs_blocked {tag}",
            lambda d=d: dedup.containment_pairs_blocked(d, threshold=0.98),
        )
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"padding_waste_report {tag}", lambda d=d: text.padding_waste_report(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(
            f"range_partition_plan {tag}",
            lambda d=d: layout.range_partition_plan(
                d.select(text.token_count("text").cast("long").alias("n_tokens")),
                "n_tokens",
            ),
        )
    for tag, e in (("1x", emb1), ("10x", emb10)):
        t(
            f"embedding_outliers_scaled {tag}",
            lambda e=e: similarity.embedding_outliers_scaled(e),
        )
    from cloudtrace_exporter_spark.operators import expectations

    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(
            f"expectation_report {tag}",
            lambda d=d: expectations.expectation_report(
                d,
                not_null=("text", "source"),
                unique=("doc_id",),
                bounds={"n_chars": (1.0, None)},
                accepted={"lang": ["en", "de", "fr", "zh", "es"]},
            ),
        )
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"pii_report {tag}", lambda d=d: text.pii_report(d))

    # --- round-6 second wave ---
    from cloudtrace_exporter_spark.operators import analytics, curate as _cur, graph

    ev1 = spark.read.parquet(f"{sf_dir}/events.parquet").cache()
    ev1.count()
    ev10 = replicate_events(ev1, 10)
    ev10.count()
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"water_fill_caps {tag}", lambda d=d: _cur.water_fill_caps(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"vocab_growth_curve {tag}", lambda d=d: text.vocab_growth_curve(d))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"kmv_join_estimate {tag}", lambda e=e: analytics.kmv_join_estimate(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"holt_forecast {tag}", lambda e=e: analytics.holt_forecast(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"theil_sen_trend {tag}", lambda e=e: analytics.theil_sen_trend(e))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"quantile_normalize {tag}", lambda d=d: _cur.quantile_normalize(d))
    _BMQ = [
        (0, "hash join"),
        (1, "window agg stream"),
        (2, "fast scan filter"),
        (3, "customer order value the"),
    ]
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"bm25_prf {tag}", lambda d=d: text.bm25_prf_topk(d, _BMQ))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"bm25_snippets {tag}", lambda d=d: text.bm25_snippets(d, _BMQ))
    for tag, e in (("1x", emb1), ("10x", emb10)):
        t(
            f"label_separation {tag}",
            lambda e=e: similarity.label_separation_matrix(e),
        )
    t("lsh_tuning 1x", lambda: dedup.lsh_tuning_report(docs1))
    t(
        "lsh_tuning 10x sampled(0.1)",
        lambda: dedup.lsh_tuning_report(docs10, sample_fraction=0.1),
    )
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"survival_curve {tag}", lambda e=e: analytics.survival_curve(e))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(
            f"corpus_diff {tag}",
            lambda d=d: _cur.corpus_diff(
                d.filter(F.col("doc_id") % 7 != 0), d.filter(F.col("doc_id") % 5 != 0)
            ),
        )
    t("lsh_eval 1x sampled(0.25)", lambda: dedup.lsh_eval_report(docs1, sample_fraction=0.25))
    t("lsh_eval 10x sampled(0.05)", lambda: dedup.lsh_eval_report(docs10, sample_fraction=0.05))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(
            f"label_propagation {tag}",
            lambda e=e: graph.label_propagation(
                e.select(
                    F.col("user_id").cast("string").alias("src"),
                    F.col("event_type").alias("dst"),
                ).dropDuplicates(["src", "dst"]),
                n_rounds=4,
            ),
        )

    # --- round-6 third wave ---
    from cloudtrace_exporter_spark.operators import skew as _skew

    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"passjoin_edit_pairs {tag}", lambda d=d: dedup.passjoin_edit_pairs(d))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"cusum_drift {tag}", lambda e=e: analytics.cusum_drift(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"interarrival_stats {tag}", lambda e=e: analytics.interarrival_stats(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"key_skew_audit (user_id) {tag}", lambda e=e: _skew.key_skew_audit(e, "user_id"))
    for tag, e in (("1x", emb1), ("10x", emb10)):
        t(f"mutual_nn_pairs {tag}", lambda e=e: similarity.mutual_nn_pairs(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"ab_ztest {tag}", lambda e=e: analytics.ab_ztest(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"purged_time_folds {tag}", lambda e=e: _cur.purged_time_folds(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"isotonic_calibration {tag}", lambda e=e: analytics.isotonic_calibration(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"mann_whitney {tag}", lambda e=e: analytics.mann_whitney(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"lead_lag_ccf {tag}", lambda e=e: analytics.lead_lag_ccf(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"ks_test {tag}", lambda e=e: analytics.ks_test(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"conformal_intervals {tag}", lambda e=e: analytics.conformal_intervals(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"cuped_adjustment {tag}", lambda e=e: analytics.cuped_adjustment(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"mann_kendall {tag}", lambda e=e: analytics.mann_kendall(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"target_encoding_loo {tag}", lambda e=e: _cur.target_encoding_loo(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"woe_iv {tag}", lambda e=e: _cur.woe_iv(e))
    for tag, e in (("1x", emb1), ("10x", emb10)):
        t(f"mmr_rerank {tag}", lambda e=e: similarity.mmr_rerank(e))

    # --- round-7 additions ---
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"retention_cohorts {tag}", lambda e=e: analytics.retention_cohorts(e))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"pack_layout {tag}", lambda d=d: _cur.pack_layout(d))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"ngram_novelty {tag}", lambda d=d: text.ngram_novelty(d))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"auc_report {tag}", lambda e=e: analytics.auc_report(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"chi_square_cells {tag}", lambda e=e: analytics.chi_square_cells(e))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"exact_quota_split {tag}", lambda d=d: _cur.exact_quota_split(d))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"funnel_strict {tag}", lambda e=e: analytics.funnel_strict(e))
    from cloudtrace_exporter_spark.operators import graph as _graph

    for tag, d in (("1x", docs1), ("10x", docs10)):
        idx = lsh_index(d)
        idx.count()
        t(
            f"triangle_counts (LSH pairs) {tag}",
            lambda d=d, idx=idx: _graph.triangle_counts(
                dedup.minhash_lsh_pairs(d, threshold=0.5, index=idx).select("doc_a", "doc_b")
            ),
        )
        idx.unpersist()
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"calibration_bins {tag}", lambda e=e: analytics.calibration_bins(e))
    for tag, e in (("1x", emb1), ("10x", emb10)):
        t(f"dominant_direction {tag}", lambda e=e: similarity.dominant_direction(e))
    for tag, e in (("1x", emb1), ("10x", emb10)):
        t(f"anisotropy_report {tag}", lambda e=e: similarity.anisotropy_report(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"rolling_median {tag}", lambda e=e: analytics.rolling_median(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"activity_gini {tag}", lambda e=e: analytics.activity_gini(e))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"changepoint_amoc {tag}", lambda e=e: analytics.changepoint_amoc(e))
    for tag, d in (("1x", docs1), ("10x", docs10)):
        t(f"source_concentration {tag}", lambda d=d: _cur.source_concentration(d))
    for tag, e in (("1x", ev1), ("10x", ev10)):
        t(f"bootstrap_ci (B=200) {tag}", lambda e=e: analytics.bootstrap_ci(e))
    # DBSCAN with the INJECTED candidate source over the whole corpus —
    # the 100 TB posture (the q_dbscan_lsh plan): sign-block bits follow
    # the semantic_dedup occupancy rule (buckets ∝ corpus) so bucket
    # population — and thus candidate volume per vector — stays flat
    for tag, e, nb in (("1x (8 bits)", emb1, 8), ("10x (12 bits)", emb10, 12)):
        t(
            f"dbscan_embeddings injected pairs {tag}",
            lambda e=e, nb=nb: similarity.dbscan_embeddings(
                e, cos_num=95, cos_den=100, min_pts=4,
                pairs=similarity.sign_block_pairs(e, n_bits=nb),
            ),
        )


def semantic_dedup_probe(e, n_bits: int | None = None):
    from cloudtrace_exporter_spark.operators import similarity

    return similarity.semantic_dedup(e, n_bits=n_bits)


if __name__ == "__main__":
    main()
