"""Second-scale benchmark for the dedup/ANN family.

The sf0.1 bench point cannot show skew or candidate-blowup
inflections, so this tool derives a 5× corpus ("sf0.5-equivalent")
FROM the sf0.1 fixtures and times the heavy dedup/ANN queries at both
scales, printing one JSON line per scale plus per-query ratios.

Derivation (deterministic, no RNG):
- documents: 5 replicas; replica r rotates the vowels of every token
  by r positions (``translate``). Within a replica the original
  near-dup structure is preserved exactly; across replicas most
  shingles differ, so no new cross-replica near-dups appear — the
  workload scales linearly in corpus size, which is the property a
  scaling trend should isolate.
- embeddings: 5 replicas; replica r rotates the embedding DIMENSIONS
  by 13·r positions. Norms and within-replica cosines are preserved
  bit-exactly; cross-replica cosines decorrelate.
- ids offset by r·10⁹ so replicas never collide.

Usage: python tools/bench_scale.py [replicas] (default 5; the derived
parquet is cached under .scale_bench/ and rebuilt only if absent).

``python tools/bench_scale.py N --emb`` runs the EMBEDDING family only
at N× (documents are not replicated — doc queries dominate wall clock
and their scaling is already pinned by the default run) plus a routing
microbenchmark: flat O(n·k) vs two-hop O(n·√k) cell assignment at
k_cells = 1024 over the N× corpus, isolating the stage
route_hierarchical replaces — the win only shows at k_cells far above
what the small IVF bench trains.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from yelp_data_pipeline_spark.queries import queries  # noqa: E402
from yelp_data_pipeline_spark.session import get_spark, release_tracked  # noqa: E402

VOWELS = "aeiou"
EMB_DIM = 64

FAMILY = [
    "dedup_minhash_pairs",
    "dedup_ngram_pairs",
    "ngram_jaccard_exact",
    "simhash_near_pairs",
    "embedding_neardup_pairs",
    "embedding_neardup_fine",
    "ann_topk_cosine",
    "winnowing_fingerprints",
]

BASE_SF = "/root/testdata/sf0.1"
OUT_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".scale_bench")


EMB_FAMILY = [
    "embedding_neardup_pairs",
    "embedding_neardup_fine",
    "ann_topk_cosine",
    # PQ encode is n·m·k work and ADC is n·m + LUT: both should scale
    # ~linearly (ratio ≈ multiplier); a super-linear ratio would mean
    # the codebook TakeOrdered or the per-id fold shuffle regressed.
    "pq_encoded_embeddings",
    "pq_adc_topk",
]

# ``--docs`` family: the document-side dedup operators only (the
# verdict's 25× point — embedding queries are excluded because
# embedding_neardup_fine is the DELIBERATELY fixed-band recall
# baseline and goes ~n² by design; its scaling is pinned separately
# by the 10× --emb table).
DOC_FAMILY = [
    "dedup_minhash_pairs",
    "dedup_ngram_pairs",
    "ngram_jaccard_exact",
    "prefix_jaccard_pairs",
    "simhash_near_pairs",
    "winnowing_fingerprints",
    # Linear additions (round 6): novelty is one shingle-keyed shuffle,
    # CDC chunking is zero-shuffle map-side — both should track the
    # multiplier ~linearly; a blowup means the shingle shuffle or the
    # nested array transforms regressed.
    "doc_novelty_scores",
    "cdc_chunked_documents",
]


# ``--er`` family: entity-resolution / record-linkage (the round-6
# additions whose scale point BASELINE.md lacked through r6). SNM's
# global sort-window blocking and the Fellegi-Sunter scorer should
# both track the multiplier ~linearly: SNM is one global sort (range
# partitioner) + a size-3 window — no candidate blowup by
# construction; the scorer is |pairs| CASE arithmetic + two
# custkey-keyed joins.
ER_FAMILY = [
    "snm_candidate_pairs",
    "customer_linkage_scores",
]


def _write_scaled_customer(spark, replicas: int, out_dir: str) -> None:
    """replicas× customer: ids offset by r·10⁹; c_acctbal shifted by
    r·10⁷ so replicas occupy DISJOINT regions of the SNM sort order —
    within a replica the original linkage structure is preserved
    exactly, across replicas no new candidate pairs appear (the same
    linear-isolation property as the vowel-rotated documents)."""
    cust = spark.read.parquet(f"{BASE_SF}/customer.parquet")
    passthrough = [
        c for c in cust.columns if c not in ("c_custkey", "c_acctbal")
    ]
    parts = []
    for r in range(replicas):
        parts.append(
            cust.select(
                (F.col("c_custkey") + F.lit(r * 1_000_000_000)).alias(
                    "c_custkey"
                ),
                (F.col("c_acctbal") + F.lit(float(r * 10_000_000))).alias(
                    "c_acctbal"
                ),
                *passthrough,
            )
        )
    scaled = parts[0]
    for p in parts[1:]:
        scaled = scaled.unionByName(p)
    scaled.write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")


def build_scaled(spark, replicas: int, emb_only: bool = False) -> str:
    out_dir = os.path.join(OUT_ROOT, f"x{replicas}" + ("e" if emb_only else ""))
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir

    if emb_only:
        _write_scaled_embeddings(spark, replicas, out_dir)
        with open(os.path.join(out_dir, "_DONE"), "w") as fh:
            fh.write("ok\n")
        return out_dir

    docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    parts = []
    for r in range(replicas):
        rot = VOWELS[r % 5:] + VOWELS[: r % 5]
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * 1_000_000_000)).alias("doc_id"),
                F.translate("text", VOWELS, rot).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    scaled_docs = parts[0]
    for p in parts[1:]:
        scaled_docs = scaled_docs.unionByName(p)
    scaled_docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    _write_scaled_embeddings(spark, replicas, out_dir)

    with open(os.path.join(out_dir, "_DONE"), "w") as fh:
        fh.write("ok\n")
    return out_dir


def _write_scaled_embeddings(spark, replicas: int, out_dir: str) -> None:
    emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    parts = []
    for r in range(replicas):
        k = (13 * r) % EMB_DIM
        rotated = F.concat(
            F.slice("embedding", k + 1, EMB_DIM - k),
            F.slice("embedding", 1, k),
        ) if k else F.col("embedding")
        parts.append(
            emb.select(
                # Replica 0 keeps ids 0..n-1 (dense from 0 — the kmeans
                # seed-init precondition); later replicas offset.
                (F.col("vec_id") + F.lit(r * 1_000_000_000)).alias("vec_id"),
                rotated.cast("array<float>").alias("embedding"),
                "label",
            )
        )
    scaled_emb = parts[0]
    for p in parts[1:]:
        scaled_emb = scaled_emb.unionByName(p)
    scaled_emb.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def run_family(spark, qs, sf_dir: str, family=FAMILY) -> dict[str, float]:
    timings = {}
    for name in family:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        release_tracked()
    return timings


def routing_microbench(
    spark, sf_dir: str, k_cells: int = 1024, probes: int = 2
) -> dict[str, float]:
    """Flat O(n·k) vs two-hop O(n·√k) cell assignment over the same
    seed-centroid table (iters=0: no training — this isolates the
    ROUTING stage that route_hierarchical replaces past
    HIERARCHICAL_ROUTING_CELLS)."""
    from pyspark.sql import Window

    from yelp_data_pipeline_spark.functions.vectors import cosine
    from yelp_data_pipeline_spark.operators.similarity import (
        kmeans_centroids,
        route_hierarchical,
    )
    from yelp_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=k_cells, iters=0).localCheckpoint(eager=True)

    t0 = time.perf_counter()
    score = F.round(cosine(F.col("embedding"), F.col("centroid")), 6)
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("cell").desc())
    (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cell", score.alias("s"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= probes)
        .select("vec_id", "cell")
        .write.format("noop").mode("overwrite").save()
    )
    t_flat = round(time.perf_counter() - t0, 3)
    release_tracked()

    t0 = time.perf_counter()
    route_hierarchical(emb, cents, probes=probes).write.format("noop").mode(
        "overwrite"
    ).save()
    t_hier = round(time.perf_counter() - t0, 3)
    release_tracked()
    return {
        f"route_flat_k{k_cells}": t_flat,
        f"route_hier_k{k_cells}": t_hier,
        "route_speedup": round(t_flat / t_hier, 2) if t_hier > 0 else None,
    }


def main_emb(replicas: int) -> int:
    spark = get_spark("bench_scale_emb")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    scaled_dir = build_scaled(spark, replicas, emb_only=True)

    qs["ann_topk_cosine"](spark, BASE_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()

    base = run_family(spark, qs, BASE_SF, EMB_FAMILY)
    scaled = run_family(spark, qs, scaled_dir, EMB_FAMILY)

    from yelp_data_pipeline_spark.operators.similarity import neardup_pairs_ivf
    from yelp_data_pipeline_spark.tables import load_table

    for tag, sf_dir, cells in (
        ("ivf_neardup_k8", BASE_SF, 8),
        (f"ivf_neardup_k{8 * replicas}", scaled_dir, 8 * replicas),
    ):
        t0 = time.perf_counter()
        neardup_pairs_ivf(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.42, k_cells=cells, probes=2, iters=1,
        ).write.format("noop").mode("overwrite").save()
        (base if sf_dir == BASE_SF else scaled)[tag] = round(
            time.perf_counter() - t0, 3
        )
        release_tracked()

    routing = routing_microbench(spark, scaled_dir)
    ratios = {
        k: (round(scaled[k] / base[k], 2) if base[k] > 0 else None)
        for k in base
        if k in scaled
    }
    print(json.dumps({
        "metric": "embedding_family_scale",
        "unit": "sec",
        "sf_base": 0.1,
        "scale_multiplier": replicas,
        "base": base,
        "scaled": scaled,
        "ratio": ratios,
        "routing_microbench": routing,
    }))
    return 0


def main_docs(replicas: int) -> int:
    """Doc-dedup family at an aggressive multiplier (default 25×):
    minhash / raw n-gram / capped n-gram / simhash / winnowing."""
    spark = get_spark("bench_scale_docs")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    scaled_dir = build_scaled(spark, replicas)

    qs["dedup_minhash_pairs"](spark, BASE_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()

    base = run_family(spark, qs, BASE_SF, DOC_FAMILY)
    scaled = run_family(spark, qs, scaled_dir, DOC_FAMILY)
    ratios = {
        k: (round(scaled[k] / base[k], 2) if base[k] > 0 else None)
        for k in base
        if k in scaled
    }
    print(json.dumps({
        "metric": "doc_family_scale",
        "unit": "sec",
        "sf_base": 0.1,
        "scale_multiplier": replicas,
        "base": base,
        "scaled": scaled,
        "ratio": ratios,
    }))
    return 0


def main_er(replicas: int) -> int:
    """ER/record-linkage family at an aggressive multiplier (the
    round-7 scale point): SNM blocking over documents + Fellegi-Sunter
    scoring over customers, both derived linearly (vowel-rotated docs,
    acctbal-shifted customer replicas)."""
    spark = get_spark("bench_scale_er")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    scaled_dir = build_scaled(spark, replicas)
    if not os.path.exists(f"{scaled_dir}/customer.parquet/_SUCCESS"):
        _write_scaled_customer(spark, replicas, scaled_dir)

    qs["snm_candidate_pairs"](spark, BASE_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()

    base = run_family(spark, qs, BASE_SF, ER_FAMILY)
    scaled = run_family(spark, qs, scaled_dir, ER_FAMILY)
    ratios = {
        k: (round(scaled[k] / base[k], 2) if base[k] > 0 else None)
        for k in base
        if k in scaled
    }
    print(json.dumps({
        "metric": "er_family_scale",
        "unit": "sec",
        "sf_base": 0.1,
        "scale_multiplier": replicas,
        "base": base,
        "scaled": scaled,
        "ratio": ratios,
    }))
    return 0


# ``--r7`` family: the round-7 additions over documents (exact
# substring dedup, unigram-LM pass, perceptron gate). Expected shapes:
# substring spans ~linear (gram-count groupBy + join, like novelty);
# unigram/perceptron dominated by their FIXED iteration counts (the
# corpus pass is one scan; the DP/epoch loops run on the distinct-word
# relation / 1-row weights), so ratios ≪ multiplier.
R7_DOC_FAMILY = [
    "duplicate_substring_spans",
    "unigram_lm_piece_scores",
    "perceptron_quality_gate",
]


def main_r7(replicas: int) -> int:
    spark = get_spark("bench_scale_r7")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    scaled_dir = build_scaled(spark, replicas)

    qs["duplicate_substring_spans"](spark, BASE_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()

    base = run_family(spark, qs, BASE_SF, R7_DOC_FAMILY)
    scaled = run_family(spark, qs, scaled_dir, R7_DOC_FAMILY)

    # PCA over the 10×-equivalent embedding corpus (dimension-rotated
    # replicas): the covariance pass is the only data-scale stage.
    emb_dir = build_scaled(spark, 10, emb_only=True)
    from yelp_data_pipeline_spark.operators.similarity import embedding_top_pc
    from yelp_data_pipeline_spark.tables import load_table

    for tag, sf_dir in (("pca_base", BASE_SF), ("pca_10x", emb_dir)):
        t0 = time.perf_counter()
        embedding_top_pc(
            load_table(spark, sf_dir, "embeddings"), "embedding", 64, 8
        ).write.format("noop").mode("overwrite").save()
        (base if sf_dir == BASE_SF else scaled)[tag] = round(
            time.perf_counter() - t0, 3
        )
        release_tracked()
    ratios = {}
    for k in base:
        sk = {"pca_base": "pca_10x"}.get(k, k)
        if sk in scaled and base[k] > 0:
            ratios[k] = round(scaled[sk] / base[k], 2)
    print(json.dumps({
        "metric": "r7_family_scale",
        "unit": "sec",
        "sf_base": 0.1,
        "scale_multiplier": replicas,
        "pca_multiplier": 10,
        "base": base,
        "scaled": scaled,
        "ratio": ratios,
    }))
    return 0


# ``--r8`` family: the round-8 doc-side additions. Expected shapes:
# line dedup ~linear (line-hash combinable groupBy + join back — the
# novelty/substring-span shuffle shape); URL canonicalization is pure
# map-side + one groupBy on the canonical key; domain caps one
# domain-keyed window over a ~constant domain count (rows/domain grow
# 25×, the window partition count does NOT — the documented skew
# regime); contamination is the broadcast-eval-grams semi-join.
R8_DOC_FAMILY = [
    "dedup_corpus_lines",
    "canonical_url_dedup",
    "domain_capped_docs",
    "contamination_spans",
]


def main_r8(replicas: int) -> int:
    spark = get_spark("bench_scale_r8")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    scaled_dir = build_scaled(spark, replicas)

    qs["dedup_corpus_lines"](spark, BASE_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()

    base = run_family(spark, qs, BASE_SF, R8_DOC_FAMILY)
    scaled = run_family(spark, qs, scaled_dir, R8_DOC_FAMILY)
    ratios = {
        k: round(scaled[k] / base[k], 2) for k in base if base[k] > 0
    }
    print(json.dumps({
        "metric": "r8_family_scale",
        "unit": "sec",
        "sf_base": 0.1,
        "scale_multiplier": replicas,
        "base": base,
        "scaled": scaled,
        "ratio": ratios,
    }))
    return 0


def main_curate(replicas: int) -> int:
    """End-to-end curate pipeline scale point (round-8 verdict #8):
    the COMPOSITE curate_documents_job (scrub → quality → MinHash LSH
    → CC survivors → partitioned write) measured whole plus a
    per-stage breakdown at base and N× — composition can double-scan
    what single ops persist, which no single-operator row would show.
    ``clusters_incl_pairs`` deliberately re-runs the pairs stage (CC
    consumes it); subtract ``minhash_pairs`` for the CC-only cost."""
    import shutil

    from yelp_data_pipeline_spark import pipelines
    from yelp_data_pipeline_spark.operators import dedup as dd
    from yelp_data_pipeline_spark.operators import graph
    from yelp_data_pipeline_spark.operators import textops as tx
    from yelp_data_pipeline_spark.tables import load_table

    spark = get_spark("bench_scale_curate")
    spark.sparkContext.setLogLevel("ERROR")
    scaled_dir = build_scaled(spark, replicas)

    # Warm-up (JIT/codegen outside the measured passes).
    tx.quality_features(
        load_table(spark, BASE_SF, "documents"), "doc_id", "text"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    results: dict[str, dict[str, float]] = {}
    for tag, sf_dir in (("base", BASE_SF), ("scaled", scaled_dir)):
        docs = load_table(spark, sf_dir, "documents")
        stages: dict[str, float] = {}

        def timed(name, thunk):
            # thunk, not DataFrame: CC/checkpoint-style operators do
            # eager work at CONSTRUCTION time, which must land inside
            # the timer.
            t0 = time.perf_counter()
            thunk().write.format("noop").mode("overwrite").save()
            stages[name] = round(time.perf_counter() - t0, 3)
            release_tracked()

        timed(
            "quality_gate",
            lambda: tx.quality_features(docs, "doc_id", "text")
            .filter(
                (F.col("quality_score") >= 0.45)
                & F.col("n_tokens").between(5, 5000)
            )
            .select("doc_id"),
        )
        timed(
            "minhash_pairs",
            lambda: dd.minhash_lsh_pairs(
                docs, "doc_id", "text", k=12, bands=4, threshold=0.8
            ),
        )
        timed(
            "clusters_incl_pairs",
            lambda: graph.dedup_clusters(
                docs,
                dd.minhash_lsh_pairs(
                    docs, "doc_id", "text", k=12, bands=4, threshold=0.8
                ),
            ),
        )
        timed("scrub_pii", lambda: tx.scrub_pii(docs, "doc_id", "text"))

        out = os.path.join(OUT_ROOT, f"curate_out_{tag}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        pipelines.curate_documents_job(spark, sf_dir, out)
        stages["end_to_end_write"] = round(time.perf_counter() - t0, 3)
        release_tracked()
        shutil.rmtree(out, ignore_errors=True)
        results[tag] = stages

    ratios = {
        k: round(results["scaled"][k] / results["base"][k], 2)
        for k in results["base"]
        if results["base"][k] > 0
    }
    print(json.dumps({
        "metric": "curate_pipeline_scale",
        "unit": "sec",
        "sf_base": 0.1,
        "scale_multiplier": replicas,
        "base": results["base"],
        "scaled": results["scaled"],
        "ratio": ratios,
    }))
    return 0


# ``--r9`` mode: three scale points in one run.
# (a) Round-9 statistical-audit tier on the fact side, sf0.01 -> sf0.1
#     (native 10x): Benford is a 9-cell combinable groupBy (scan-
#     bound), the association table one tiny-cell groupBy + windows,
#     Gini one per-key fold + a rank window over the KEY relation —
#     all expected ~linear-or-flat.
# (b) distinctive_terms_by_source at 25x replica docs: the cell
#     relation grows with vocab x sources (sublinear in rows), the
#     explode+groupBy with the corpus — expected ratio well under 25.
# (c) The round-8 embedding additions BASELINE.md lacked a point for:
#     whitening (covariance-pass dominated, same shape as the PCA 10x
#     point), JL distortion (n x out_dim projection + md5-pair join),
#     hard negatives (batch brute top-k over broadcast queries).
R9_FACT_FAMILY = [
    "benford_price_audit",
    "priority_status_association",
    "customer_spend_gini",
]

R9_EMB_FAMILY = [
    "whitened_embedding_sample",
    "jl_distortion_pairs",
    "hard_negative_pairs",
]


def main_r9(replicas: int) -> int:
    spark = get_spark("bench_scale_r9")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["benford_price_audit"](spark, "/root/testdata/sf0.01").write.format(
        "noop"
    ).mode("overwrite").save()
    release_tracked()

    fact_base = run_family(spark, qs, "/root/testdata/sf0.01", R9_FACT_FAMILY)
    fact_scaled = run_family(spark, qs, BASE_SF, R9_FACT_FAMILY)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, ["distinctive_terms_by_source"])
    doc_scaled = run_family(spark, qs, docs_dir, ["distinctive_terms_by_source"])

    emb_dir = build_scaled(spark, 10, emb_only=True)
    emb_base = run_family(spark, qs, BASE_SF, R9_EMB_FAMILY)
    emb_scaled = run_family(spark, qs, emb_dir, R9_EMB_FAMILY)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r9_family_scale",
        "unit": "sec",
        "fact_10x": {"base_sf0.01": fact_base, "sf0.1": fact_scaled,
                     "ratio": ratios(fact_base, fact_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
        "emb_10x": {"base": emb_base, "scaled": emb_scaled,
                    "ratio": ratios(emb_base, emb_scaled)},
    }))
    return 0


# ``--r9b`` mode: the late round-9 statistical tier.
# (a) Fact-side native 10x (sf0.01 -> sf0.1): the drift battery
#     additions (KS / Cohen's d / per-type rank-sum scan), the
#     between-groups tests (ANOVA, Brown-Forsythe, Cramér's V,
#     partial correlation), survival, HHI, transition entropy, EWMA,
#     and the SNM+Levenshtein ER pass. Every one is scan-bound work
#     plus arithmetic on a domain-bounded cell relation (cents cells,
#     contingency cells, gap days, transition cells) — expected
#     ~linear-or-flat; the ER pass is n*w pairs, expected ~linear.
# (b) Docs 25x replicas: JSD (cell relation ~ vocab x sources,
#     sublinear), Chao1 (one word groupBy), kappa (two scans of
#     per-doc Catalyst expressions) — expected well under 25.
R9B_FACT_FAMILY = [
    "event_value_ks_drift",
    "event_value_cohens_d",
    "event_type_ranksum_scan",
    "event_value_anova_f",
    "event_value_levene",
    "priority_status_cramers_v",
    "price_quantity_partial_corr",
    "customer_order_survival",
    "nation_customer_hhi",
    "event_transition_entropy",
    "daily_event_ewma",
    "customer_name_edit_pairs",
]

R9B_DOC_FAMILY = [
    "source_unigram_jsd",
    "vocab_chao1_richness",
    "quality_gate_kappa",
]


def main_r9b(replicas: int) -> int:
    spark = get_spark("bench_scale_r9b")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["event_value_ks_drift"](spark, "/root/testdata/sf0.01").write.format(
        "noop"
    ).mode("overwrite").save()
    release_tracked()

    fact_base = run_family(spark, qs, "/root/testdata/sf0.01", R9B_FACT_FAMILY)
    fact_scaled = run_family(spark, qs, BASE_SF, R9B_FACT_FAMILY)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R9B_DOC_FAMILY)
    doc_scaled = run_family(spark, qs, docs_dir, R9B_DOC_FAMILY)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r9b_family_scale",
        "unit": "sec",
        "fact_10x": {"base_sf0.01": fact_base, "sf0.1": fact_scaled,
                     "ratio": ratios(fact_base, fact_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
    }))
    return 0


# ``--r9c`` mode: the final late-round-9 additions.
# (a) Fact-side native 10x: Q-Q shift (shared cents cells), Hurst
#     (calendar-bounded blocks), runs test (daily relation), mutual
#     info / Benford conformity (bounded cells + spines), AUC/lift
#     vs the doc gates... the doc-gate pair rides the docs corpus, so
#     it goes in (b).
# (b) Docs 25x: burstiness/moments/chao1/tfidf-pairs/AUC/lift — the
#     tfidf pair join is the one with a real growth term (sum of
#     df^2 over the band), expected well under 25 with the cap.
# (c) Embeddings 10x: rank-quality + centroid margin (broadcast
#     fan-out, per-vector windows).
R9C_FACT_FAMILY = [
    "event_value_quantile_shift",
    "daily_count_hurst",
    "daily_count_runs_test",
    "priority_status_mutual_info",
    "benford_price_conformity",
]

R9C_DOC_FAMILY = [
    "word_burstiness",
    "doc_length_moments",
    "vocab_chao1_richness",
    "tfidf_doc_similarity",
    "quality_score_auc",
    "quality_score_lift",
]

R9C_EMB_FAMILY = [
    "ann_rank_quality",
    "centroid_margin_eval",
]


def main_r9c(replicas: int) -> int:
    spark = get_spark("bench_scale_r9c")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["event_value_quantile_shift"](
        spark, "/root/testdata/sf0.01"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    fact_base = run_family(spark, qs, "/root/testdata/sf0.01", R9C_FACT_FAMILY)
    fact_scaled = run_family(spark, qs, BASE_SF, R9C_FACT_FAMILY)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R9C_DOC_FAMILY)
    doc_scaled = run_family(spark, qs, docs_dir, R9C_DOC_FAMILY)

    emb_dir = build_scaled(spark, 10, emb_only=True)
    emb_base = run_family(spark, qs, BASE_SF, R9C_EMB_FAMILY)
    emb_scaled = run_family(spark, qs, emb_dir, R9C_EMB_FAMILY)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r9c_family_scale",
        "unit": "sec",
        "fact_10x": {"base_sf0.01": fact_base, "sf0.1": fact_scaled,
                     "ratio": ratios(fact_base, fact_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
        "emb_10x": {"base": emb_base, "scaled": emb_scaled,
                    "ratio": ratios(emb_base, emb_scaled)},
    }))
    return 0


# ``--r9d`` mode: the final-session round-9 additions.
# (a) Fact-side native 10x (sf0.01 -> sf0.1): Wasserstein (cents-cell
#     CDF windows), the five-member drift dashboard, and the
#     golden-record merge — the interesting one: customers grow
#     1500 -> 15000 and the name-typo chain cluster grows with them,
#     so this measures the alternating-star CC's O(log n) rounds on a
#     10x-longer chain plus the survivorship windows.
# (b) Docs 25x: the calibration pair (same linear per-doc regex
#     regime as AUC/lift/kappa).
R9D_FACT_FAMILY = [
    "event_value_wasserstein",
    "event_drift_report",
    "customer_golden_records",
]

R9D_DOC_FAMILY = [
    "quality_score_calibration",
    "quality_score_brier",
]


def main_r9d(replicas: int) -> int:
    spark = get_spark("bench_scale_r9d")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["event_value_wasserstein"](
        spark, "/root/testdata/sf0.01"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    fact_base = run_family(spark, qs, "/root/testdata/sf0.01", R9D_FACT_FAMILY)
    fact_scaled = run_family(spark, qs, BASE_SF, R9D_FACT_FAMILY)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R9D_DOC_FAMILY)
    doc_scaled = run_family(spark, qs, docs_dir, R9D_DOC_FAMILY)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r9d_family_scale",
        "unit": "sec",
        "fact_10x": {"base_sf0.01": fact_base, "sf0.1": fact_scaled,
                     "ratio": ratios(fact_base, fact_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
    }))
    return 0


# ``--r10`` mode: the round-10 additions.
# (a) Fact-side native 10x (sf0.01 -> sf0.1): HITS (edge list and
#     per-round shuffles grow 10x; rounds fixed -> expect ~linear),
#     the normal-equations OLS (one combinable aggregate -> linear,
#     scan-dominated) and the conformal intervals (calibration sort
#     grows with the split half -> ~linear per group).
# (b) Docs 25x: quantile normalization (per-source windows + bounded
#     cells), the dup matrix / composition shift (LSH-candidate
#     regime, pinned linear for the underlying pair relation by the
#     default family run) and the token-budget water-fill (token
#     aggregate dominates; the k-row allocation is scale-free).
R10_FACT_FAMILY = [
    "part_supplier_hits",
    "price_qty_discount_ols",
    "conformal_event_intervals",
]

R10_DOC_FAMILY = [
    "quantile_normalized_doclens",
    "token_budget_allocation",
    "cross_source_dup_matrix",
    "dedup_composition_shift",
]

# ``--r10b``: the later round-10 additions. bloom/layout are fact-side
# native 10x; the banding S-curve and scalable lift are doc-side 25x
# (the S-curve's exact-truth arm inherits the ngram_jaccard_exact
# superlinear recall-baseline regime — expected >2, documented);
# nprobe curve is embeddings (native corpus, 10x replicas).
R10B_FACT_FAMILY = [
    "bloom_fpr_eval",
    "layout_pruning_eval",
]

R10B_DOC_FAMILY = [
    "minhash_band_tuning_curve",
    "quality_score_lift_scalable",
]

R10B_EMB_FAMILY = [
    "ivf_nprobe_recall_curve",
]


def main_r10b(replicas: int) -> int:
    spark = get_spark("bench_scale_r10b")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["bloom_fpr_eval"](
        spark, "/root/testdata/sf0.01"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    fact_base = run_family(
        spark, qs, "/root/testdata/sf0.01", R10B_FACT_FAMILY
    )
    fact_scaled = run_family(spark, qs, BASE_SF, R10B_FACT_FAMILY)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R10B_DOC_FAMILY)
    doc_scaled = run_family(spark, qs, docs_dir, R10B_DOC_FAMILY)

    emb_dir = build_scaled(spark, 10, emb_only=True)
    emb_base = run_family(spark, qs, BASE_SF, R10B_EMB_FAMILY)
    emb_scaled = run_family(spark, qs, emb_dir, R10B_EMB_FAMILY)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r10b_family_scale",
        "unit": "sec",
        "fact_10x": {"base_sf0.01": fact_base, "sf0.1": fact_scaled,
                     "ratio": ratios(fact_base, fact_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
        "emb_10x": {"base": emb_base, "scaled": emb_scaled,
                    "ratio": ratios(emb_base, emb_scaled)},
    }))
    return 0


def main_r10(replicas: int) -> int:
    spark = get_spark("bench_scale_r10")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["price_qty_discount_ols"](
        spark, "/root/testdata/sf0.01"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    fact_base = run_family(spark, qs, "/root/testdata/sf0.01", R10_FACT_FAMILY)
    fact_scaled = run_family(spark, qs, BASE_SF, R10_FACT_FAMILY)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R10_DOC_FAMILY)
    doc_scaled = run_family(spark, qs, docs_dir, R10_DOC_FAMILY)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r10_family_scale",
        "unit": "sec",
        "fact_10x": {"base_sf0.01": fact_base, "sf0.1": fact_scaled,
                     "ratio": ratios(fact_base, fact_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
    }))
    return 0


# ``--r11`` mode: the round-11 additions + the multimodal-dedup scale
# gap the round-10 verdict flagged (the only r10 family without a
# measured inflection row).
# (a) Native 10x (sf0.01 -> sf0.1 documents): the fingerprint stages
#     (mapInPandas synth+hash, expect ~linear), BOTH near-dup joins —
#     the fixed 7x8-band join (expect SUPERLINEAR: 256 buckets/band,
#     candidates ~n²/256) vs multi-index hashing (16384 buckets/chunk,
#     expect ~linear at these occupancies) — and span surgery (gram
#     explode + broadcast semi-join + doc-keyed merge, ~linear).
# (b) Derived 25x docs: span surgery only. BOTH image pair joins are
#     DELIBERATELY EXCLUDED from the replica corpus: image payloads
#     derive from doc_id mod lcm(15, 256) = 3840, so 1.25M replicas
#     hold ≤3840 distinct dHashes — every image is an EXACT dup of
#     its ~325 formula-siblings and the true pair relation itself is
#     ~200M rows (Θ(replicas²·n)); any correct algorithm is quadratic
#     on that input, so the replica corpus measures nothing about the
#     join. The native 10x point (true-pair density held realistic)
#     is the scale instrument for the pairs joins; the 56-bit-code
#     candidate-volume law (~n²/2^chunk_bits) is documented in the
#     MIH row's scale_note.
R11_NATIVE_FAMILY = [
    "image_dhash_fingerprints",
    "audio_fingerprints",
    "image_neardup_pairs",
    "image_neardup_pairs_mih",
    "span_surgery_docs",
]

R11_DOC_FAMILY = [
    "span_surgery_docs",
    "contamination_direction_matrix",
]


def main_r11(replicas: int) -> int:
    spark = get_spark("bench_scale_r11")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["image_dhash_fingerprints"](
        spark, "/root/testdata/sf0.01"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    nat_base = run_family(
        spark, qs, "/root/testdata/sf0.01", R11_NATIVE_FAMILY
    )
    print("nat_base", json.dumps(nat_base), flush=True)
    nat_scaled = run_family(spark, qs, BASE_SF, R11_NATIVE_FAMILY)
    print("nat_scaled", json.dumps(nat_scaled), flush=True)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R11_DOC_FAMILY)
    print("doc_base", json.dumps(doc_base), flush=True)
    doc_scaled = run_family(spark, qs, docs_dir, R11_DOC_FAMILY)
    print("doc_scaled", json.dumps(doc_scaled), flush=True)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r11_family_scale",
        "unit": "sec",
        "native_10x": {"base_sf0.01": nat_base, "sf0.1": nat_scaled,
                       "ratio": ratios(nat_base, nat_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
    }))
    return 0


# ``--r12`` mode: the round-12 additions.
# (a) Native 10x (sf0.01 -> sf0.1 documents): the ball-2 MIH join
#     (same ~n²/2¹⁴ candidate law as radius 6, more TRUE pairs by
#     definition), the offset-tolerant video matcher (identical packed
#     join + one extra combinable groupBy over the slim matched-frame
#     relation), the gate twin (cross-half bucket join, candidates
#     ~n²·bands/2^band-entropy like the minhash join), and the
#     modality matrix (three pair relations + spine; image arm makes
#     the replica corpus invalid — see the r11 degeneracy note — so
#     native-only).
# (b) Derived 25x docs: the gate twin only (text-only minhash algebra;
#     replica corpus preserves within-replica near-dup structure).
R12_NATIVE_FAMILY = [
    "image_neardup_pairs_mih_r8",
    "video_neardup_pairs_offset",
    "neardup_gate_quarantine",
    "modality_dup_matrix",
    "image_dhash_fingerprints_wide",
    "image_neardup_pairs_wide",
    "audio_neardup_pairs",
    "crossmodal_mismatch_pairs",
]

R12_DOC_FAMILY = [
    "neardup_gate_quarantine",
]


# ``--r13`` mode: the round-13 additions.
# (a) Native 10x (sf0.01 -> sf0.1 documents): hashed text embeddings
#     (zero-shuffle map-side fold — must track ~n), the packing
#     assignment + its boundary-loss eval (one balanced window + two
#     combinable aggregates — ~n), the text-grounded agreement and
#     semantic-survivor rows (minhash join + ADAPTIVE sign-LSH join:
#     bucket counts grow with n so candidates stay ~n·bucket_size),
#     the modality-aware funnel (three MIH pair joins + one
#     conditional-sum aggregate), and the rate-hypothesis video
#     matcher (same packed MIH join as the offset matcher + a bounded
#     rate-bucket vote).
# (b) Derived 5x docs: the linear rows + the agreement row (text-only
#     algebra; the replica corpus preserves within-replica near-dup
#     structure, and hashed embeddings are text-derived so the
#     semantic arm sees the same preserved structure — unlike the
#     synthetic embeddings table, replicas do NOT degenerate it).
R13_NATIVE_FAMILY = [
    "text_hashed_embeddings",
    "packed_assignments",
    "packed_boundary_loss_stats",
    "dedup_family_agreement_text",
    "semantic_dedup_survivors_text",
    "multimodal_curation_funnel",
    "video_neardup_pairs_rate",
]

R13_DOC_FAMILY = [
    "text_hashed_embeddings",
    "packed_assignments",
    "dedup_family_agreement_text",
]


def main_r13(replicas: int) -> int:
    spark = get_spark("bench_scale_r13")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["packed_assignments"](
        spark, "/root/testdata/sf0.01"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    nat_base = run_family(
        spark, qs, "/root/testdata/sf0.01", R13_NATIVE_FAMILY
    )
    print("nat_base", json.dumps(nat_base), flush=True)
    nat_scaled = run_family(spark, qs, BASE_SF, R13_NATIVE_FAMILY)
    print("nat_scaled", json.dumps(nat_scaled), flush=True)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R13_DOC_FAMILY)
    print("doc_base", json.dumps(doc_base), flush=True)
    doc_scaled = run_family(spark, qs, docs_dir, R13_DOC_FAMILY)
    print("doc_scaled", json.dumps(doc_scaled), flush=True)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r13_family_scale",
        "unit": "sec",
        "native_10x": {"base_sf0.01": nat_base, "sf0.1": nat_scaled,
                       "ratio": ratios(nat_base, nat_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
    }))
    return 0


# ``--r15`` mode: third scale points for the r13/r14 additions
# (VERDICT r14 item #5).
# (a) Native three-point curve (sf0.001 -> sf0.01 -> sf0.1): the
#     newest operators measured at TWO consecutive 10x steps, so an
#     inflection between regimes is visible, matching the three-point
#     evidence the dedup/ANN families carry. Valid for the multimodal
#     rows because every point is the real generated corpus (the
#     replica derivation degenerates the image arm — r11 note).
# (b) Derived 10x docs (text-only algebra, replica-valid): the packing
#     + curation-composite rows, extending their 5x point.
R15_THREE_POINT_FAMILY = [
    "packed_assignments",
    "curated_packed_assignments",
    "video_neardup_pairs_rate",
    "multimodal_curation_funnel",
]

R15_DOC_FAMILY = [
    "packed_assignments",
    "curated_packed_assignments",
]


def main_r15(replicas: int) -> int:
    spark = get_spark("bench_scale_r15")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # JIT/session warmup on the smallest point.
    qs["packed_assignments"](
        spark, "/root/testdata/sf0.001"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    points = {}
    for tag, sf_dir in (
        ("sf0.001", "/root/testdata/sf0.001"),
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", BASE_SF),
    ):
        points[tag] = run_family(spark, qs, sf_dir, R15_THREE_POINT_FAMILY)
        print(tag, json.dumps(points[tag]), flush=True)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R15_DOC_FAMILY)
    print("doc_base", json.dumps(doc_base), flush=True)
    doc_scaled = run_family(spark, qs, docs_dir, R15_DOC_FAMILY)
    print("doc_scaled", json.dumps(doc_scaled), flush=True)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r15_family_scale",
        "unit": "sec",
        "native_points": points,
        "native_ratio_mid": ratios(points["sf0.001"], points["sf0.01"]),
        "native_ratio_top": ratios(points["sf0.01"], points["sf0.1"]),
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
    }))
    return 0


def main_r12(replicas: int) -> int:
    spark = get_spark("bench_scale_r12")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    qs["image_neardup_pairs_mih_r8"](
        spark, "/root/testdata/sf0.01"
    ).write.format("noop").mode("overwrite").save()
    release_tracked()

    nat_base = run_family(
        spark, qs, "/root/testdata/sf0.01", R12_NATIVE_FAMILY
    )
    print("nat_base", json.dumps(nat_base), flush=True)
    nat_scaled = run_family(spark, qs, BASE_SF, R12_NATIVE_FAMILY)
    print("nat_scaled", json.dumps(nat_scaled), flush=True)

    docs_dir = build_scaled(spark, replicas)
    doc_base = run_family(spark, qs, BASE_SF, R12_DOC_FAMILY)
    print("doc_base", json.dumps(doc_base), flush=True)
    doc_scaled = run_family(spark, qs, docs_dir, R12_DOC_FAMILY)
    print("doc_scaled", json.dumps(doc_scaled), flush=True)

    def ratios(b, s):
        return {k: round(s[k] / b[k], 2) for k in b if b[k] > 0}

    print(json.dumps({
        "metric": "r12_family_scale",
        "unit": "sec",
        "native_10x": {"base_sf0.01": nat_base, "sf0.1": nat_scaled,
                       "ratio": ratios(nat_base, nat_scaled)},
        "docs_%dx" % replicas: {"base": doc_base, "scaled": doc_scaled,
                                "ratio": ratios(doc_base, doc_scaled)},
    }))
    return 0


# ``--tpch`` family: the fact-side TPC-H analogs. Unlike the doc/emb
# families these scale with SF natively (lineitem/orders grow with the
# fixture scale factor), so the scale point is sf0.01 → sf0.1 (10×
# facts) with no derived corpus. Expected shapes: all ~linear — scan-
# dominated aggregates, broadcast-dim joins, and key-partitioned
# shuffles with no candidate blowup term; the interesting check is
# that none of them hides a superlinear join (e.g. the Q21 analog's
# per-order counts must stay one orderkey shuffle).
TPCH_FAMILY = [
    "forecast_revenue_simple",
    "customer_order_count_distribution",
    "small_quantity_order_revenue",
    "large_volume_customers",
    "sole_late_suppliers",
    "dormant_rich_customers",
    "part_supplier_diversity",
    "dominant_share_suppliers",
    "incremental_event_state_merge",
]


def main_tpch() -> int:
    spark = get_spark("bench_scale_tpch")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    small, big = "/root/testdata/sf0.01", "/root/testdata/sf0.1"
    qs["forecast_revenue_simple"](spark, small).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()
    base = run_family(spark, qs, small, TPCH_FAMILY)
    scaled = run_family(spark, qs, big, TPCH_FAMILY)
    ratios = {k: round(scaled[k] / base[k], 2) for k in base if base[k] > 0}
    print(json.dumps({
        "metric": "tpch_family_scale",
        "unit": "sec",
        "sf_base": 0.01,
        "sf_scaled": 0.1,
        "data_multiplier": 10,
        "base": base,
        "scaled": scaled,
        "ratio": ratios,
    }))
    return 0


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    replicas = int(args[0]) if args else 5
    if "--tpch" in sys.argv:
        return main_tpch()
    if "--emb" in sys.argv:
        return main_emb(replicas)
    if "--docs" in sys.argv:
        return main_docs(replicas)
    if "--er" in sys.argv:
        return main_er(replicas)
    if "--r7" in sys.argv:
        return main_r7(replicas)
    if "--curate" in sys.argv:
        return main_curate(replicas)
    if "--r8" in sys.argv:
        return main_r8(replicas)
    if "--r9" in sys.argv:
        return main_r9(replicas)
    if "--r9b" in sys.argv:
        return main_r9b(replicas)
    if "--r9c" in sys.argv:
        return main_r9c(replicas)
    if "--r9d" in sys.argv:
        return main_r9d(replicas)
    if "--r10" in sys.argv:
        return main_r10(replicas)
    if "--r10b" in sys.argv:
        return main_r10b(replicas)
    if "--r15" in sys.argv:
        return main_r15(int(args[0]) if args else 10)
    if "--r13" in sys.argv:
        return main_r13(replicas)
    if "--r12" in sys.argv:
        return main_r12(replicas)
    if "--r11" in sys.argv:
        return main_r11(replicas)
    spark = get_spark("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    scaled_dir = build_scaled(spark, replicas)

    # Warm-up so JVM/codegen cost lands outside both measured passes.
    qs["ann_topk_cosine"](spark, BASE_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()

    base = run_family(spark, qs, BASE_SF)
    scaled = run_family(spark, qs, scaled_dir)

    # IVF blocking's thesis is that bucket count GROWS with the corpus:
    # measure it with k_cells scaled by the multiplier (vs the registry
    # query's fixed k=8, which would look quadratic like any fixed
    # bucketing).
    from yelp_data_pipeline_spark.operators.similarity import neardup_pairs_ivf
    from yelp_data_pipeline_spark.tables import load_table

    for tag, sf_dir, cells in (
        ("ivf_neardup_k8", BASE_SF, 8),
        (f"ivf_neardup_k{8 * replicas}", scaled_dir, 8 * replicas),
    ):
        t0 = time.perf_counter()
        neardup_pairs_ivf(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.42, k_cells=cells, probes=2, iters=1,
        ).write.format("noop").mode("overwrite").save()
        (base if sf_dir == BASE_SF else scaled)[tag] = round(
            time.perf_counter() - t0, 3
        )
        release_tracked()
    ratios = {
        k: (round(scaled[k] / base[k], 2) if base[k] > 0 else None)
        for k in base
        if k in scaled
    }
    print(json.dumps({
        "metric": "dedup_ann_family_total",
        "unit": "sec",
        "sf_base": 0.1,
        "scale_multiplier": replicas,
        "base": base,
        "scaled": scaled,
        "ratio": ratios,
        "base_total": round(sum(base.values()), 3),
        "scaled_total": round(sum(scaled.values()), 3),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
