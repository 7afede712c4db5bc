"""Plan auditor: prints scale-relevant physical-plan properties for
registry queries so plan regressions are visible at a glance.

For each query: exchange (shuffle) count, broadcast count, whether
filters/projections reached the parquet scan (PushedFilters/ReadSchema),
whole-stage-codegen span count, and any nested-loop/cartesian nodes
(always a red flag at scale). Usage:

    python tools/audit_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

from yelp_data_pipeline_spark.queries import registry
from yelp_data_pipeline_spark.session import get_spark, release_tracked

DEFAULT_AUDIT = [
    "pricing_summary",
    "top_regions_by_orders",
    "filtered_lineitems",
    "dedup_minhash_pairs",
    "dedup_ngram_pairs",
    "simhash_near_pairs",
    "embedding_neardup_pairs",
    "ann_topk_cosine",
    "asof_latest_order",
    "event_pairs_within_5s",
    "user_sessions",
    "fact_orders",
    "shipping_priority_top10",
    "order_price_rank_scalable",
    "ngram_jaccard_exact",
    "semantic_dedup_survivors",
    "winnowing_fingerprints",
    "scd2_order_status_history",
    "fuzzy_dup_pairs",
    "salted_segment_event_counts",
    "kmeans_assignments",
    "leakage_safe_splits",
    # round 5
    "bloom_filtered_segment_events",
    "pagerank_supplier_graph",
    "zorder_file_stats",
    "eval_contaminated_docs",
    "orders_reconciliation_diff",
    "late_shipment_priority_counts",
    "disjunctive_part_revenue",
    # round 6
    "min_cost_part_supplier",
    "order_priority_fulfillment",
    "nation_market_share",
    "product_profit_by_nation_year",
    "important_part_values",
    "dominant_share_suppliers",
    "multimodal_decode_meta",
    "bpe_encoded_token_counts",
    "supplier_kcore",
    "pq_encoded_embeddings",
    "pq_adc_topk",
    "customer_linkage_scores",
    "event_value_drift",
    "event_value_mad_outliers",
    "corpus_diversity_by_source",
    "event_sequence_motifs",
    "adaptive_quality_survivors",
    "pq_recall_eval",
    "doc_novelty_scores",
    "priority_loo_target_encoding",
    "order_price_decile_bins",
    "hourly_value_isotonic_fit",
    "customer_k_anonymity_audit",
    "vocab_coverage_curve",
    "cdc_chunked_documents",
    # round 7
    "duplicate_substring_spans",
    "unigram_lm_piece_scores",
    "nation_theil_sen_trend",
    "perceptron_quality_gate",
    "embedding_principal_component",
    "hll_users_by_event_type",
    "approx_event_stats",
    # round 8
    "contamination_spans",
    "canonical_url_dedup",
    "domain_capped_docs",
    "dedup_corpus_lines",
    "jl_distortion_pairs",
    "whitened_embedding_sample",
    "hard_negative_pairs",
    "event_user_skew_report",
    "local_supplier_volume",
    "nation_market_share_by_year",
    "simhash_recall_eval",
    "customer_order_count_distribution",
    "small_quantity_order_revenue",
    "sole_late_suppliers",
    "incremental_event_state_merge",
    # round 9 (late): the composite dashboard, the classifier-eval
    # additions, the transport-drift member, and the iterative-CC
    # golden-record merge (the registry's biggest fixed-size plan
    # after unigram_lm).
    "event_drift_report",
    "quality_score_calibration",
    "quality_score_brier",
    "event_value_wasserstein",
    "event_type_wasserstein_scan",
    "customer_golden_records",
    "supplier_bfs_hops",
    "prefix_dim_fidelity",
    "quantile_sketch_error",
    "split_leakage_audit",
    "fd_discovery_audit",
    "heavy_hitter_error_report",
    "hll_error_report",
    "hybrid_rrf_ranking",
    "ann_prefilter_vs_postfilter",
    "mmr_diversified_topk",
    "retrieval_health_report",
    # round 10: the composite report (LSH + CC + both leakage arms off
    # one persisted pair relation), the dup-matrix spine (the
    # AQE-limit-elision lesson), the banding/nprobe tuning curves,
    # the no-global-window lift path, HITS, and the layout eval.
    "pretraining_data_report",
    "cross_source_dup_matrix",
    "minhash_band_tuning_curve",
    "ivf_nprobe_recall_curve",
    "quality_score_lift_scalable",
    "part_supplier_hits",
    "layout_pruning_eval",
    "conformal_event_intervals",
    "quantile_normalized_doclens",
    "token_budget_allocation",
    "bloom_fpr_eval",
    "price_qty_discount_ols",
    "dedup_composition_shift",
    # round 11: span surgery (collect_list + higher-order filter), the
    # MIH near-dup join, the video tier (container decode + per-frame
    # dHash + packed-key MIH), the extended readiness pane, and the
    # train×eval contamination matrix (litbound spine).
    "span_surgery_docs",
    "image_neardup_pairs_mih",
    "multimodal_avi_decode",
    "video_frame_fingerprints",
    "video_neardup_pairs",
    "contamination_direction_matrix",
    "dedup_threshold_curve",
    "dedup_span_surgery_docs",
    # round 12: the ball-2 MIH join, the offset-tolerant video matcher
    # (delta-mode aggregate over the packed-key join), the gate's
    # batch twin (cross-half bucket join + verify), and the
    # modality × source dup matrix (three pair relations + bounded
    # spine cross).
    "image_neardup_pairs_mih_r8",
    "video_neardup_pairs_offset",
    "neardup_gate_quarantine",
    "modality_dup_matrix",
    "image_neardup_pairs_wide",
    "audio_neardup_pairs",
    "crossmodal_mismatch_pairs",
    "length_bucketed_packing_stats",
    "dedup_family_agreement",
    "tokenizer_fertility_by_source",
    # round 13: the map-side gram-fold embeddings, the packing
    # assignment window + its boundary-loss aggregates, the
    # text-grounded agreement/survivor rows (adaptive sign-LSH +
    # minhash joins, CC), the rate-hypothesis video matcher (packed
    # MIH join + bounded vote), and the modality-aware funnel
    # (three MIH pair joins + one conditional-sum aggregate).
    "text_hashed_embeddings",
    "packed_assignments",
    "packed_boundary_loss_stats",
    "dedup_family_agreement_text",
    "semantic_dedup_survivors_text",
    "video_neardup_pairs_rate",
    "multimodal_curation_funnel",
]


def _normalize_tree_lines(plan: str) -> str:
    """Rejoin physical-plan lines broken by literal newlines inside
    expression text (e.g. `string_split(text, chr(10))` prints the
    actual newline), which otherwise truncate indentation-based
    subtree capture mid-branch — the failure mode that hid a nested-
    loop build side behind a chr(10) literal in a probe-side
    projection. Every real tree line except the root contains a
    '+- ' or ':- ' edge marker (or is a section header); anything
    else is a continuation of the previous logical line."""
    out: list[str] = []
    prev_header = False
    for i, line in enumerate(plan.splitlines()):
        # AQE section roots ("+- == Final/Initial Plan ==") are
        # followed by ONE headerless top node line — a real tree line.
        is_tree = (
            i == 0
            or "+- " in line
            or ":- " in line
            or line.startswith("==")
            or prev_header
        )
        prev_header = line.rstrip().endswith("==")
        if is_tree or not out:
            out.append(line)
        else:
            out[-1] = out[-1] + " " + line.strip()
    return "\n".join(out)


def _elide_cached(plan: str) -> str:
    """Drop the build-plan subtree repeated under every
    InMemoryRelation node: it prints once per cached-scan consumer but
    executes at most once, so string-counting it inflates exchange
    totals."""
    out, skip_depth = [], None
    for line in plan.splitlines():
        label = re.search(r"[A-Za-z*]", line)
        depth = label.start() if label else 0
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if "InMemoryRelation" in line:
            out.append(line[: line.index("InMemoryRelation")] + "InMemoryRelation <elided>")
            skip_depth = line.index("InMemoryRelation")
            continue
        out.append(line)
    return "\n".join(out)


def audit(name: str, df) -> dict:
    # Execute first: under AQE the plan string is pre-final
    # (isFinalPlan=false) until the query actually runs, hiding codegen
    # spans and runtime join choices.
    jqe = df._jdf.queryExecution()
    jqe.executedPlan().executeCollect()
    plan = _elide_cached(_normalize_tree_lines(jqe.executedPlan().toString()))
    # codegen spans print as `*(N)` prefixes; long PushedFilters lists
    # are truncated by toString without a closing bracket, so count
    # non-empty opens rather than matching to `]`.
    return {
        "query": name,
        "exchanges": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition|RoundRobin)", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": len(re.findall(r"PushedFilters: \[(?!\])", plan)),
        "nested_loop": _dangerous_nested_loop(plan),
        "inlist_cross": _inlist_cross(plan),
        "ckpt_cross": _ckpt_cross(plan),
        "sampled_cross": _sampled_cross(plan),
        "litbound_cross": _litbound_cross(plan),
        "onerow_cross": _benign_onerow_cross(plan),
        "takeordered": "TakeOrderedAndProject" in plan,
    }


def _nested_loop_subtrees(plan: str) -> list[str]:
    lines = plan.splitlines()
    subs = []
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line and "CartesianProduct" not in line:
            continue
        label = re.search(r"[A-Za-z*]", line)
        d = label.start() if label else 0
        sub = [line]
        for nxt in lines[i + 1 :]:
            lbl = re.search(r"[A-Za-z*]", nxt)
            if lbl and lbl.start() <= d and nxt.strip():
                break
            sub.append(nxt)
        subs.append("\n".join(sub))
    return subs


# Group keys / cached-relation outputs a deliberate tiny-side broadcast
# cross join is keyed by in this repo: centroid/cell tables, band
# buckets, per-range-partition offsets. A keyed aggregate on anything
# else (a raw high-cardinality group key) stays a red flag — a keyed
# aggregate is NOT bounded in general.
_BOUNDED_KEY_RE = re.compile(
    r"\b(cell|ccell|fcell|centroid|band(_id)?|bucket|__km_label|"
    r"cluster|__pid|__range_id|__offset\w*)\b",
    re.IGNORECASE,
)


def _resolve_reused(line: str, plan: str) -> str:
    """A build side may be a ReusedExchange pointer ('ReusedExchange
    [med#45], BroadcastExchange ..., [plan_id=113]') — the bounded
    1-row aggregate lives under the ORIGINAL exchange elsewhere in the
    plan. Return that original subtree so the boundedness check sees
    the real producer (empty string if unresolvable)."""
    m = re.search(r"ReusedExchange .*\[plan_id=(\d+)\]", line)
    if not m or not plan:
        return ""
    pid = m.group(1)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if f"[plan_id={pid}]" in ln and "ReusedExchange" not in ln:
            label = re.search(r"[A-Za-z*]", ln)
            d = label.start() if label else 0
            sub = [ln]
            for nxt in lines[i + 1 :]:
                lbl = re.search(r"[A-Za-z*]", nxt)
                if lbl and lbl.start() <= d and nxt.strip():
                    break
                sub.append(nxt)
            return "\n".join(sub)
    return ""


def _is_bounded_cross(sub: str, plan: str = "") -> bool:
    """A BroadcastNestedLoopJoin is exempt only when its BUILD side is
    a known bounded producer: keys=[] aggregates carry at most one row
    (scan-and-attach-scalar idiom — date spans, quantile bounds);
    keyed aggregates and cached scans qualify ONLY when the key /
    output names a deliberately tiny relation (centroid cells, band
    buckets, partition offsets — _BOUNDED_KEY_RE), since an arbitrary
    keyed aggregate can be as large as its input; LocalTableScan is
    literal driver-side data. A nested loop whose broadcast side is a
    raw scan, a high-cardinality aggregate, or an unrecognized cached
    relation, and every CartesianProduct, stays a red flag.
    """
    if "CartesianProduct" in sub:
        return False
    # Only the BUILD side bounds the fan-out: look for an aggregate
    # strictly below the BroadcastExchange node, not on the probe side.
    lines = sub.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line and "BroadcastQueryStage" not in line:
            continue
        label = re.search(r"[A-Za-z*]", line)
        d = label.start() if label else 0
        for nxt in lines[i + 1 :]:
            lbl = re.search(r"[A-Za-z*]", nxt)
            if lbl and lbl.start() <= d and nxt.strip():
                break
            if re.search(
                r"HashAggregate\(keys=\[\]|ObjectHashAggregate\(keys=\[\]|"
                r"SortAggregate\(key=\[\]|LocalTableScan",
                nxt,
            ):
                return True
            # A literal Range with a small, provable row count (the
            # spark.range(1) seed-frame idiom in iterative operators).
            rng = re.search(r"Range \((\d+), (\d+), step=", nxt)
            if rng and int(rng.group(2)) - int(rng.group(1)) <= 64:
                return True
            # A literal global limit / top-k on the build side bounds
            # it by plan text alone (the orderBy().limit(n) anchor
            # frame in hard-negative mining): unlike IN-lists or
            # residue samples, `limit=N` IS a proof of cardinality.
            lim = re.search(
                r"TakeOrderedAndProject\(limit=(\d+)|GlobalLimit (\d+)", nxt
            )
            if lim and int(lim.group(1) or lim.group(2)) <= 4096:
                return True
            if "ReusedExchange" in nxt:
                orig = _resolve_reused(nxt, plan)
                if orig and _is_bounded_cross(
                    "BroadcastNestedLoopJoin\n" + orig, plan=""
                ):
                    return True
            m = re.search(
                r"(?:HashAggregate\(keys=\[|ObjectHashAggregate\(keys=\[|"
                r"SortAggregate\(key=\[|InMemoryTableScan \[)([^\]]*)",
                nxt,
            )
            if m:
                if _BOUNDED_KEY_RE.search(m.group(1)):
                    return True
                # Aggregate keyed by an arbitrary column is still
                # bounded when the key is filtered to < a literal
                # BELOW the aggregate (k-means seed init: groupBy(id)
                # under Filter(id < k) carries at most k rows).
                key = re.match(r"\s*(\w+)#", m.group(1))
                if key and re.search(
                    rf"Filter .*\b{re.escape(key.group(1))}#\d+L? < \d+",
                    sub,
                ):
                    return True
    return False


def _is_literal_inlist_cross(sub: str) -> bool:
    """Build side filtered by a literal IN-list (the broadcast-query-
    set serving shape: cosine_topk_batch, pq_recall_eval). Plan text
    cannot prove the filtered column is UNIQUE — `c_nationkey IN
    (1,2)` bounds nothing while `vec_id IN (0,1,2)` bounds everything
    — so this is a SEPARATE, visible category ('inlist-cross'), not a
    silent exemption and not a hard red flag: the auditor's reader
    decides. Subqueries print as InSubquery/DynamicPruning, never a
    bare literal list."""
    return bool(
        re.search(r"Filter .*\bIN \(-?\d", sub)
        or re.search(r"PushedFilters: \[[^\]]*In\(\w+, \[-?\d", sub)
    )


def _is_sampled_cross(sub: str) -> bool:
    """Build side filtered to an md5-residue sample (the bounded
    ground-truth shape: simhash_recall_eval's brute-force all-pairs
    runs over `pmod(md5-derived hash, m) = 0` — a 1/m sample whose
    modulus grows with the corpus so the quadratic side stays
    eval-sized). Plan text cannot prove the modulus is large enough —
    so, like the IN-list and checkpoint cases, this is a SEPARATE,
    visible category ('sampled-cross'), not a silent exemption and
    not a hard red flag: the reader checks that the producing query
    caps the sample."""
    return bool(
        re.search(r"Filter .*\bpmod\([^\n]*md5\([^\n]*\) = 0", sub)
    )


def _is_literal_bound_cross(sub: str) -> bool:
    """Build side is a SCAN filtered to `col < N` with a small literal
    N (the broadcast-query-set serving shape when probes are chosen
    by a literal id range: ann_recall_eval / ann_rank_quality's
    `vec_id < 20` query arm). Same epistemics as the IN-list case:
    plan text cannot prove the filtered column is unique — `price <
    20` bounds nothing while `vec_id < 20` bounds everything — so
    this is a SEPARATE, visible category ('litbound-cross'), not a
    silent exemption and not a hard red flag: the reader checks the
    filtered column is a key. Only literals <= 4096 qualify (the
    same cardinality bar as the limit/Range exemptions)."""
    if "CartesianProduct" in sub:
        return False
    lines = sub.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line and "BroadcastQueryStage" not in line:
            continue
        label = re.search(r"[A-Za-z*]", line)
        d = label.start() if label else 0
        for nxt in lines[i + 1 :]:
            lbl = re.search(r"[A-Za-z*]", nxt)
            if lbl and lbl.start() <= d and nxt.strip():
                break
            m = re.search(r"Filter .*#\d+L? < (\d+)\)", nxt) or re.search(
                r"PushedFilters: \[[^\]]*LessThan\(\w+,(\d+)\)", nxt
            )
            if m and int(m.group(1)) <= 4096:
                return True
    return False


def _is_checkpoint_cross(sub: str) -> bool:
    """Build side is a localCheckpoint handoff (prints as `Scan
    ExistingRDD`) — the iterative-operator idiom (perceptron weights,
    power-iteration vectors, unigram DP levels): 1-row / d-row frames
    eagerly checkpointed per round so lineage stays linear. Plan text
    cannot prove the RDD's size, so — like the literal IN-list case —
    this is a SEPARATE, visible category ('ckpt-cross'), not a silent
    exemption and not a hard red flag: the reader checks that the
    producing operator checkpoints only bounded iteration state."""
    if "CartesianProduct" in sub:
        return False
    lines = sub.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line and "BroadcastQueryStage" not in line:
            continue
        label = re.search(r"[A-Za-z*]", line)
        d = label.start() if label else 0
        for nxt in lines[i + 1 :]:
            lbl = re.search(r"[A-Za-z*]", nxt)
            if lbl and lbl.start() <= d and nxt.strip():
                break
            if "Scan ExistingRDD" in nxt:
                return True
    return False


def _inline_reused_exchanges(sub: str, plan: str) -> str:
    """A ReusedExchange prints only a pointer (`[plan_id=N]`) to its
    original exchange, so a nested-loop build side that AQE served
    from exchange reuse hides the very subtree the classifiers read
    (r18: ivf_nprobe_recall_curve's second and third nprobe arms
    reuse the checkpointed-centroid broadcast and printed as bare
    pointers). A reused exchange IS its original by definition —
    append each referenced original's subtree so the build-side
    matchers classify what actually executes. A genuinely dangerous
    original still fails every matcher after inlining."""
    out = [sub]
    lines = plan.splitlines()
    for pid in set(re.findall(r"ReusedExchange [^\n]*\[plan_id=(\d+)\]", sub)):
        for i, line in enumerate(lines):
            if f"[plan_id={pid}]" not in line or "ReusedExchange" in line:
                continue
            label = re.search(r"[A-Za-z*]", line)
            d = label.start() if label else 0
            orig = [line]
            for nxt in lines[i + 1 :]:
                lbl = re.search(r"[A-Za-z*]", nxt)
                if lbl and lbl.start() <= d and nxt.strip():
                    break
                orig.append(nxt)
            out.append("\n".join(orig))
    return "\n".join(out)


def _dangerous_nested_loop(plan: str) -> bool:
    subs = [
        _inline_reused_exchanges(s, plan) for s in _nested_loop_subtrees(plan)
    ]
    return any(
        not _is_bounded_cross(s, plan)
        and not _is_literal_inlist_cross(s)
        and not _is_checkpoint_cross(s)
        and not _is_sampled_cross(s)
        and not _is_literal_bound_cross(s)
        for s in subs
    )


def _inlist_cross(plan: str) -> bool:
    return any(
        not _is_bounded_cross(s, plan) and _is_literal_inlist_cross(s)
        for s in _nested_loop_subtrees(plan)
    )


def _ckpt_cross(plan: str) -> bool:
    return any(
        not _is_bounded_cross(s, plan)
        and not _is_literal_inlist_cross(s)
        and _is_checkpoint_cross(s)
        for s in _nested_loop_subtrees(plan)
    )


def _sampled_cross(plan: str) -> bool:
    return any(
        not _is_bounded_cross(s, plan)
        and not _is_literal_inlist_cross(s)
        and not _is_checkpoint_cross(s)
        and _is_sampled_cross(s)
        for s in _nested_loop_subtrees(plan)
    )


def _litbound_cross(plan: str) -> bool:
    return any(
        not _is_bounded_cross(s, plan)
        and not _is_literal_inlist_cross(s)
        and not _is_checkpoint_cross(s)
        and not _is_sampled_cross(s)
        and _is_literal_bound_cross(s)
        for s in _nested_loop_subtrees(plan)
    )


def _benign_onerow_cross(plan: str) -> bool:
    return any(_is_bounded_cross(s, plan) for s in _nested_loop_subtrees(plan))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or DEFAULT_AUDIT
    spark = get_spark("audit_plans")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    specs = {s.name: s for s in registry()}
    header = f"{'query':32} {'xchg':>4} {'bcast':>5} {'wscg':>4} {'pushF':>5} {'topk':>4}  flags"
    print(header)
    print("-" * len(header))
    for name in only:
        if name not in specs:
            print(f"unknown query {name!r}; valid: {', '.join(sorted(specs))}")
            return 2
        df = specs[name].fn(spark, sf_dir)
        a = audit(name, df)
        release_tracked()
        flags = "NESTED-LOOP!" if a["nested_loop"] else (
            "inlist-cross" if a["inlist_cross"] else
            "ckpt-cross" if a["ckpt_cross"] else
            "sampled-cross" if a["sampled_cross"] else
            "litbound-cross" if a["litbound_cross"] else
            "bounded-cross" if a["onerow_cross"] else ""
        )
        print(
            f"{a['query']:32} {a['exchanges']:>4} {a['broadcasts']:>5} "
            f"{a['codegen_spans']:>4} {a['pushed_filters']:>5} "
            f"{str(a['takeordered'])[0]:>4}  {flags}"
        )
        if a["nested_loop"]:
            bad += 1
    print(f"\n{'OK' if bad == 0 else f'{bad} queries with nested-loop plans'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
