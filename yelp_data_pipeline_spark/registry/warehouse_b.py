"""Remaining classic decision-support shapes (TPC-H Q2/Q8/Q11/... analogs), part B.

Split from the single-file queries.py (round 15). Modules are imported by registry/__init__.py in a FIXED order; every @_q call appends to the shared _REGISTRY in registry/core.py, so registration order (the driver's export order) is preserved byte-for-byte.
"""

from __future__ import annotations

from .core import (
    F,
    _q,
    _t,
    agg,
    dd,
    graph,
    joins,
    md5_long_sql,
    sim,
    smp,
    ts_ops,
    tx,
)  # noqa: F401
from .dedup import _SHINGLES_CTE, _minhash_oracle  # noqa: F401
from .similarity import _signlsh_adaptive_oracle  # noqa: F401

# --------------------------------------------------------------------------
# Round 6: remaining classic decision-support shapes (TPC-H Q2/Q4/Q8/
# Q9/Q11/Q20). The fixture has no partsupp table, so part-supplier cost
# and stock relations derive from lineitem (documented per query).
# --------------------------------------------------------------------------


@_q(
    "min_cost_part_supplier",
    """
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(round(CAST(l_extendedprice AS DOUBLE)
                   / CAST(l_quantity AS DOUBLE), 6)) AS unit_cost
  FROM lineitem
  GROUP BY 1, 2
),
m AS (SELECT partkey AS mp, min(unit_cost) AS min_cost FROM ps GROUP BY 1)
SELECT p_partkey, s_name, unit_cost AS min_unit_cost
FROM ps
JOIN m ON mp = partkey AND unit_cost = min_cost
JOIN part ON p_partkey = partkey
JOIN supplier ON s_suppkey = suppkey
WHERE p_type = 'STANDARD' AND p_size < 15
""",
    doc="TPC-H Q2 shape (min-cost supplier): the correlated "
    "min-subquery decorrelates into one per-(part, supplier) "
    "aggregate + a per-part min + an equi-join back on (part, cost) — "
    "Catalyst plans two groupBys sharing one shuffle key and never "
    "re-executes a per-row subquery. Part/supplier costs derive from "
    "lineitem (min observed unit price, 6dp-rounded BEFORE the min so "
    "the tie set is engine-identical) since the fixture has no "
    "partsupp. Ties return every minimal supplier, as in Q2.",
)
def q_min_cost_part_supplier(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = l.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(
        F.min(
            F.round(
                F.col("l_extendedprice").cast("double")
                / F.col("l_quantity").cast("double"),
                6,
            )
        ).alias("unit_cost")
    )
    from ..session import track_persist

    ps = track_persist(ps)  # consumed by the min and the join-back
    m = ps.groupBy(F.col("partkey").alias("mp")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    p = (
        _t(spark, sf_dir, "part")
        .where((F.col("p_type") == "STANDARD") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        ps.join(
            m,
            (F.col("mp") == F.col("partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("suppkey"))
        .select(
            "p_partkey", "s_name", F.col("unit_cost").alias("min_unit_cost")
        )
    )


@_q(
    "order_priority_fulfillment",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01'
  AND o_orderdate < DATE '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape (order priority checking): EXISTS with a "
    "cross-relation predicate (lineitem shipped >30 days after its "
    "order's date — the fixture has no commit/receipt dates) becomes "
    "ONE left-semi join whose condition carries both the key equality "
    "and the date residual; the date-window filter prunes the probe "
    "side before the shuffle. No de-dup pass needed: semi-join "
    "emits each order at most once by construction.",
)
def q_order_priority_fulfillment(spark, sf_dir):
    o = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@_q(
    "nation_market_share",
    """
WITH rev AS (
  SELECT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = cn.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA'
)
SELECT yr,
       round(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                           ELSE CAST(0 AS DECIMAL(27,4)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share
FROM rev
GROUP BY yr
""",
    doc="TPC-H Q8 shape (national market share): the share of ASIA-"
    "destined revenue supplied by NATION_3, per year. Five dimension "
    "joins (orders->customer->nation->region, supplier->nation) all "
    "broadcast — the only shuffle is the final per-year aggregate; "
    "the share is a conditional-sum / total-sum over the SAME "
    "relation (one pass, no self-join), both sums decimal-exact "
    "before the 6dp ratio.",
)
def q_nation_market_share(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cn = n.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    sn = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    rev = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cnk") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("crk"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("snk") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("yr"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(27,4)")
            .alias("vol"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(27,4)")
    return rev.groupBy("yr").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("vol"))
                .otherwise(zero)
            ).cast("double")
            / F.sum("vol").cast("double"),
            6,
        ).alias("mkt_share")
    )


@_q(
    "product_profit_by_nation_year",
    """
SELECT sn.n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.6
                AS DECIMAL(27,4))) AS DOUBLE) AS profit
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""",
    doc="TPC-H Q9 shape (product-type profit): profit per supplier "
    "nation per year over a part-name filter. Cost is the synthetic "
    "0.6 x retail (the fixture has no ps_supplycost); the per-row "
    "profit expression casts to DECIMAL(27,4) BEFORE the sum so "
    "accumulation order cannot shift the result. The part filter "
    "broadcasts; lineitem->orders is the one big join.",
)
def q_product_profit_by_nation_year(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("nation")
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.6
    ).cast("decimal(27,4)")
    j = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("snk") == F.col("s_nationkey"))
    )
    return j.groupBy(
        F.col("nation"), F.year("o_orderdate").cast("int").alias("yr")
    ).agg(F.sum(profit).cast("double").alias("profit"))


@_q(
    "important_part_values",
    """
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)))
           AS value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
),
tot AS (SELECT SUM(value) AS total FROM pv)
SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS part_value
FROM pv, tot
WHERE CAST(value AS DOUBLE) > 0.002 * CAST(total AS DOUBLE)
""",
    doc="TPC-H Q11 shape (important stock): per-part traded value for "
    "one nation's suppliers, kept only when above a FRACTION OF THE "
    "GLOBAL TOTAL — the scalar subquery decorrelates into a 1-row "
    "aggregate broadcast back as a cross join (the same broadcast-"
    "scalar idiom as embedding_norm_outliers). The per-part and "
    "global sums reuse ONE aggregated relation, so the fact table is "
    "scanned once.",
)
def q_important_part_values(spark, sf_dir):
    from ..session import track_persist

    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_7"
    ).select("n_nationkey")
    pv = track_persist(
        l.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(27,4)"
                )
            ).alias("value")
        )
    )
    tot = pv.agg(F.sum("value").alias("total"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(
            F.col("value").cast("double")
            > 0.002 * F.col("total").cast("double")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value").cast("double").alias("part_value"),
        )
    )


@_q(
    "dominant_share_suppliers",
    """
WITH fp AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
),
pq AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(27,4))) AS sq
  FROM lineitem JOIN fp ON p_partkey = l_partkey
  GROUP BY 1, 2
),
tot AS (
  SELECT l_partkey AS tp, SUM(sq) AS tq FROM pq GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM pq JOIN tot ON tp = l_partkey
  WHERE CAST(sq AS DOUBLE) > 0.15 * CAST(tq AS DOUBLE)
)
""",
    doc="TPC-H Q20 shape (excess-stock suppliers): suppliers holding "
    "a dominant (>15%) share of any 'red%' part's traded quantity — "
    "the nested IN-subquery chain decorrelates into per-(part, "
    "supplier) sums, a per-part total REUSING that aggregate (not a "
    "second fact scan), a share filter, and one left-semi join into "
    "supplier. Quantity sums are decimal-exact; the share compare "
    "casts to double identically on both engines.",
)
def q_dominant_share_suppliers(spark, sf_dir):
    from ..session import track_persist

    fp = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    pq = track_persist(
        l.join(F.broadcast(fp), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,4)")).alias("sq"))
    )
    tot = pq.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("sq").alias("tq")
    )
    dominant = (
        pq.join(tot, F.col("tp") == F.col("l_partkey"))
        .where(
            F.col("sq").cast("double") > 0.15 * F.col("tq").cast("double")
        )
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(
        dominant, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )


@_q(
    "kmv_distinct_events",
    f"""
WITH h AS (
  SELECT DISTINCT {md5_long_sql("CAST(event_id AS VARCHAR)")} AS h
  FROM events
),
k AS (SELECT h FROM h ORDER BY h LIMIT 256),
a AS (SELECT count(*) AS m, max(h) AS hk FROM k),
e AS (SELECT count(DISTINCT event_id) AS exact_distinct FROM events)
SELECT CASE WHEN m < 256 THEN m
            ELSE CAST(round(255.0 * 1152921504606846976.0
                            / CAST(hk AS DOUBLE)) AS BIGINT)
       END AS est_distinct,
       exact_distinct,
       round(abs(CASE WHEN m < 256 THEN m
                      ELSE CAST(round(255.0 * 1152921504606846976.0
                                      / CAST(hk AS DOUBLE)) AS BIGINT)
                 END - exact_distinct) / CAST(exact_distinct AS DOUBLE), 4)
         AS rel_err
FROM a, e
""",
    doc="K-minimum-values distinct sketch (Bar-Yossef et al. 2002, "
    "operators/aggregates.py:kmv_distinct) — the DETERMINISTIC "
    "mergeable alternative to approx_count_distinct's HLL: the "
    "estimate depends only on the md5 family and k, so the DuckDB "
    "oracle reproduces it BIT-EXACTLY (approx_event_stats is "
    "rows-only-checkable by contrast, which is why this query "
    "exists). Scale shape: map-side distinct partials, per-partition "
    "k-min heaps (TakeOrdered — the partials ARE the mergeable "
    "sketch), final aggregate over k rows. exact_compare adds the "
    "true count + relative error for the harness.",
)
def q_kmv_distinct_events(spark, sf_dir):
    return agg.kmv_distinct(
        _t(spark, sf_dir, "events"), "event_id", k=256, exact_compare=True
    )


@_q(
    "segment_event_values_hot_cold",
    """
SELECT c_mktsegment,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
FROM events JOIN customer ON c_custkey = user_id
GROUP BY c_mktsegment
""",
    doc="Two-path skew join (operators/joins.py:hot_cold_split_join): "
    "the 8 hottest user keys route through a broadcast join (their "
    "dim rows move map-side, no shuffle partition ever receives a "
    "hot key) while the cold tail takes the normal shuffle join; "
    "semi/anti on the same in-plan top-k relation partition the fact "
    "exactly, so the union equals the plain join — which is what the "
    "oracle runs. The declarative complement to AQE's reactive skew "
    "split and to salting (which multiplies the dim for ALL keys).",
)
def q_segment_event_values_hot_cold(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "value")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = joins.hot_cold_split_join(e, c, "user_id", "c_custkey", n_hot=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        agg.exact_sum("value", "total_value"),
    )


@_q(
    "minhash_recall_eval",
    f"""
WITH lsh AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_minhash_oracle(k=12, bands=4, threshold=0.8)}) mp
),
ex AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    WITH {_SHINGLES_CTE},
    exx AS (
      SELECT doc_id, CAST(len(shingles) AS INT) AS n_sh, unnest(shingles) AS s FROM sh
    ),
    c AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
             count(*) AS common
      FROM exx a JOIN exx b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b
    FROM c
    WHERE round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6) >= 0.8
  ) q
),
j AS (
  SELECT coalesce(ex.doc_a, lsh.doc_a) AS doc_a,
         CASE WHEN ex.doc_a IS NOT NULL THEN 1 ELSE 0 END AS e,
         CASE WHEN lsh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS l
  FROM ex FULL OUTER JOIN lsh
    ON ex.doc_a = lsh.doc_a AND ex.doc_b = lsh.doc_b
),
agg AS (
  SELECT CAST(sum(e) AS BIGINT) AS n_exact,
         CAST(sum(l) AS BIGINT) AS n_lsh,
         CAST(sum(e * l) AS BIGINT) AS n_common
  FROM j
)
SELECT n_exact, n_lsh, n_common,
       CASE WHEN n_exact > 0
         THEN round(CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) END
         AS recall,
       CASE WHEN n_lsh > 0
         THEN round(CAST(n_common AS DOUBLE) / CAST(n_lsh AS DOUBLE), 6) END
         AS precision
FROM agg
""",
    doc="Banding quality measured, not assumed: the MinHash-LSH pair "
    "set (12 hashes × 4 bands, exact-Jaccard verified) scored against "
    "the EXACT n-gram-Jaccard ≥ 0.8 ground truth — recall is the "
    "banding miss rate (P[no band collides] for a qualifying pair), "
    "precision is 1.0 by construction (the verify step readmits no "
    "false positives) and the query PROVES it rather than asserting "
    "it. The dedup-family twin of pq_recall_eval: approximation "
    "quality is itself a first-class, oracle-checked output. Both "
    "pair sets are bucketed joins (never n²); the comparison is one "
    "full-outer join on the bounded pair relations.",
    scale_note="eval-tier — the exact-Jaccard ground-truth side "
    "inherits ngram_jaccard_exact's superlinear recall-baseline cost "
    "on hot shingles; at corpus scale replay the eval on an "
    "md5-capped subsample (the simhash_recall_eval sampling pattern)",
)
def q_minhash_recall_eval(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    lsh = dd.minhash_lsh_pairs(
        d, "doc_id", "text", k=12, bands=4, threshold=0.8
    ).select("doc_a", "doc_b", F.lit(1).alias("l"))
    ex = dd.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, max_doc_freq=None
    ).select("doc_a", "doc_b", F.lit(1).alias("e"))
    j = ex.join(lsh, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("e", F.lit(0)).alias("e"),
        F.coalesce("l", F.lit(0)).alias("l"),
    )
    a = j.agg(
        F.sum("e").cast("long").alias("n_exact"),
        F.sum("l").cast("long").alias("n_lsh"),
        F.sum(F.col("e") * F.col("l")).cast("long").alias("n_common"),
    )
    rec = F.when(
        F.col("n_exact") > 0,
        F.round(
            F.col("n_common").cast("double") / F.col("n_exact").cast("double"),
            6,
        ),
    )
    prec = F.when(
        F.col("n_lsh") > 0,
        F.round(
            F.col("n_common").cast("double") / F.col("n_lsh").cast("double"), 6
        ),
    )
    return a.select(
        "n_exact", "n_lsh", "n_common",
        rec.alias("recall"), prec.alias("precision"),
    )


@_q(
    "priority_sampled_docs",
    f"""
WITH scored AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
         CAST(length(text) AS DOUBLE)
           / (CAST(({md5_long_sql("CAST(doc_id AS VARCHAR)")} + 1) AS DOUBLE)
              / 1152921504606846976.0) AS q
  FROM documents
  WHERE CAST(length(text) AS DOUBLE) > 0
),
top AS (
  SELECT doc_id, w, q,
         row_number() OVER (ORDER BY q DESC, doc_id ASC) AS rn
  FROM scored
),
tau AS (SELECT q AS tau FROM top WHERE rn = 65),
kept AS (SELECT doc_id, w FROM top WHERE rn <= 64)
SELECT doc_id, round(w, 6) AS weight,
       round(greatest(w, coalesce((SELECT tau FROM tau), w)), 6)
         AS est_weight
FROM kept
""",
    doc="Fixed-size length-weighted document sample via PRIORITY "
    "SAMPLING (operators/sampling.py:priority_sample; Duffield, Lund "
    "& Thorup 2007) — the deterministic weighted reservoir: priority "
    "q = w/u with u = (md5(id)+1)/2^60, global top-64 kept, ŵ = "
    "max(w, τ) from the 65th priority makes subset-sum estimates "
    "UNBIASED ('how many training tokens does slice X contribute' "
    "from a tiny sample). Content-hash u ⇒ reruns/retries/engines "
    "agree row-for-row, unlike rand(); ONE map-side priority + one "
    "TakeOrdered top-(k+1), no table shuffle. Length weights = "
    "token-budget-proportional sampling.",
)
def q_priority_sampled_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return smp.priority_sample(d, "doc_id", F.length("text"), k=64)


def _hll_by_type_oracle() -> str:
    from ..operators.aggregates import hll_oracle_sql

    return hll_oracle_sql("events", "user_id", m=64, by=["event_type"])


@_q(
    "hll_users_by_event_type",
    _hll_by_type_oracle(),
    doc="Per-event-type distinct-user sketch — the deterministic "
    "md5-register HLL (operators/aggregates.py:hll_distinct) in its "
    "actual 100 TB deployment shape: ONE pass, one (group, register)-"
    "keyed fold, ≤64 shuffle rows per group per task, NO expand "
    "(Spark's multi-aggregate exact count_distinct multiplies scan "
    "output per aggregate; the sketch never does) and no key "
    "shuffling. registers_hit/rho_sum pin each group's full register "
    "state; the oracle replays every register bit-exactly.",
)
def q_hll_users_by_event_type(spark, sf_dir):
    return agg.hll_distinct(
        _t(spark, sf_dir, "events"), "user_id", m=64, by=["event_type"]
    )


def _top_pc_ctes(dim: int = 64, iters: int = 8) -> str:
    """Unrolled power-iteration twin of similarity.embedding_top_pc:
    exact-DECIMAL covariance assembly, j-/i-ORDERED list_sum folds
    for every float reduction (the pq-oracle pattern — left-to-right
    on both engines), sqrt allowed (IEEE correctly rounded), per-level
    CTEs MATERIALIZED."""
    parts = [
        f"""
mom AS MATERIALIZED (
  SELECT i, j,
         sum(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                  * CAST(embedding[CAST(j AS INT)] AS DOUBLE)
                  AS DECIMAL(38,18))) AS s
  FROM embeddings,
       LATERAL unnest(generate_series(1, {dim})) AS iu(i),
       LATERAL unnest(generate_series(1, {dim})) AS ju(j)
  GROUP BY 1, 2
),
mu AS MATERIALIZED (
  SELECT i,
         CAST(sum(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                       AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mu,
         count(*) AS n
  FROM embeddings, LATERAL unnest(generate_series(1, {dim})) AS iu(i)
  GROUP BY 1
),
cov AS MATERIALIZED (
  SELECT CAST(m.i AS INT) AS i, CAST(m.j AS INT) AS j,
         CAST(m.s AS DOUBLE) / CAST(a.n AS DOUBLE) - a.mu * b.mu AS c
  FROM mom m JOIN mu a ON m.i = a.i JOIN mu b ON m.j = b.i
),
v0 AS (
  SELECT CAST(i AS INT) AS j, 1.0 / sqrt(CAST({dim} AS DOUBLE)) AS vj
  FROM (SELECT unnest(generate_series(1, {dim})) AS i)
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
u{t} AS MATERIALIZED (
  SELECT i, list_sum(list(c * vj ORDER BY j)) AS u
  FROM cov JOIN v{t - 1} USING (j) GROUP BY i
),
n{t} AS (SELECT sqrt(list_sum(list(u * u ORDER BY i))) AS nm FROM u{t}),
v{t} AS MATERIALIZED (SELECT CAST(i AS INT) AS j, u / nm AS vj FROM u{t}, n{t})"""
        )
    parts.append(
        f""",
sg AS (
  SELECT CASE WHEN vj >= 0 THEN 1.0 ELSE -1.0 END AS s FROM (
    SELECT vj, row_number() OVER (ORDER BY abs(vj) DESC, j ASC) AS rn
    FROM v{iters}
  ) WHERE rn = 1
)"""
    )
    return "WITH " + "".join(parts)


def _top_pc_oracle(dim: int = 64, iters: int = 8) -> str:
    """Full top-PC oracle: the shared CTEs plus Rayleigh/trace rows."""
    return _top_pc_ctes(dim, iters) + f""",
ufin AS MATERIALIZED (
  SELECT i, list_sum(list(c * vj ORDER BY j)) AS u
  FROM cov JOIN v{iters} USING (j) GROUP BY i
),
lamr AS (
  SELECT list_sum(list(v.vj * f.u ORDER BY f.i)) AS lam
  FROM v{iters} v JOIN ufin f ON v.j = f.i
),
trr AS (SELECT list_sum(list(c ORDER BY i)) AS tr FROM cov WHERE i = j)
SELECT CAST(j AS INT) AS dim, round(s * vj, 6) AS loading FROM v{iters}, sg
UNION ALL SELECT 0, round(lam, 6) FROM lamr
UNION ALL SELECT -1, round(tr, 6) FROM trr"""


@_q(
    "embedding_principal_component",
    _top_pc_oracle(),
    doc="Top principal component of the embedding corpus by power "
    "iteration over the exactly-aggregated covariance "
    "(operators/similarity.py:embedding_top_pc) — the embedding "
    "anisotropy / dominant-direction / drift diagnostic (Mu & "
    "Viswanath 2018's 'all-but-the-top' preprocessing starts here). "
    "ONE data-scale pass: map-side d² component products into an "
    "(i,j)-keyed combinable groupBy with DECIMAL(38,18) accumulation "
    "(order-independent, bit-stable); then 8 data-free power-iteration "
    "rounds on the d²-cell relation (anytime contract) — matvec joins "
    "+ j-SORTED array folds, sqrt normalization (IEEE correctly "
    "rounded, unlike ln/exp). Output: unit loadings (sign-fixed at "
    "the largest component), dim 0 = Rayleigh λ₁ estimate, dim -1 = "
    "exact trace — anisotropy ≈ λ·d/trace.",
)
def q_embedding_principal_component(spark, sf_dir):
    return sim.embedding_top_pc(
        _t(spark, sf_dir, "embeddings"), "embedding", dim=64, iters=8
    )


def _whiten_oracle(dim: int = 64, iters: int = 8, n_sample: int = 4) -> str:
    key = md5_long_sql("concat('whiten:', CAST(vec_id AS VARCHAR))")
    return _top_pc_ctes(dim, iters) + f""",
uu AS MATERIALIZED (
  SELECT CAST(j AS INT) AS d, s * vj AS u FROM v{iters}, sg
),
pick AS MATERIALIZED (
  SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, {key} AS k FROM embeddings) t
  ORDER BY k ASC, vec_id ASC LIMIT {n_sample}
),
cent AS MATERIALIZED (
  SELECT p.vec_id, CAST(m.i AS INT) AS d,
         CAST(p.embedding[CAST(m.i AS INT)] AS DOUBLE) - m.mu AS cv
  FROM pick p, mu m
),
dt AS (
  SELECT c.vec_id, list_sum(list(c.cv * u.u ORDER BY c.d)) AS dot
  FROM cent c JOIN uu u ON c.d = u.d GROUP BY c.vec_id
)
SELECT c.vec_id, c.d AS dim, round(c.cv - dt.dot * u.u, 6) AS w
FROM cent c JOIN uu u ON c.d = u.d JOIN dt ON c.vec_id = dt.vec_id
"""


@_q(
    "whitened_embedding_sample",
    _whiten_oracle(),
    doc="All-but-the-top postprocessing APPLIED (operators/similarity."
    "py:whiten_all_but_top; Mu & Viswanath 2018): mean removed and "
    "the top principal component projected out — w = (v−μ) − "
    "⟨v−μ,u⟩·u per dimension, for 4 md5-sampled vectors. "
    "embedding_principal_component DIAGNOSES the anisotropy; this "
    "performs the repair it recommends (a dominant common direction "
    "makes every cosine look alike). In production the 65-row μ/u "
    "frames broadcast against the full corpus and the transform is "
    "one map-side expression — the cheapest repair pass at 100 TB; "
    "the sampled long-format output here is the verification "
    "surface. Same exact-DECIMAL power-iteration numerics as the "
    "diagnostic; dot products fold d-sorted on both engines.",
)
def q_whitened_embedding_sample(spark, sf_dir):
    return sim.whiten_all_but_top(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        dim=64, iters=8, n_sample=4,
    )


def _perceptron_oracle(epochs: int = 24, bias_scale: int = 100) -> str:
    """Unrolled averaged-step pocket-perceptron twin of textops.
    perceptron_quality_gate — every epoch's integer update replayed
    exactly; per-epoch stat/weight CTEs MATERIALIZED (each read by the
    next epoch AND the candidate pool). The label reuses the
    quality_scores oracle's float formula verbatim (already
    hash-proven identical to Spark's quality_score_col)."""
    stop_list = ", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS["en"])
    dot = "y * (w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4)"
    parts = [
        f"""
cnt AS (
  SELECT CAST(length(text) AS INT) AS n_chars,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS INT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INT) AS n_punct,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS INT) AS n_digit,
         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              t -> t IN ({stop_list}))) AS INT) AS n_stop
  FROM documents
),
feat AS MATERIALIZED (
  SELECT CASE WHEN
           round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
                 + round(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) * 0.3
                 + (1.0 - least(CASE WHEN n_chars > 0
                       THEN round(CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE), 6)
                     END * 10, 1.0)) * 0.2, 6) >= 0.5
         THEN 1 ELSE -1 END AS y,
         CAST({bias_scale} AS BIGINT) AS x0,
         CAST(n_tokens AS BIGINT) AS x1,
         CAST(floor(CAST(1000 * n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS x2,
         CASE WHEN n_chars > 0
           THEN CAST(floor(CAST(1000 * n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) AS BIGINT)
           ELSE 0 END AS x3,
         CASE WHEN n_chars > 0
           THEN CAST(floor(CAST(1000 * n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE)) AS BIGINT)
           ELSE 0 END AS x4
  FROM cnt
),
w0t AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
               CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
               CAST(0 AS BIGINT) AS w4)"""
    ]
    for t in range(1, epochs + 1):
        ss = ", ".join(
            f"coalesce(CAST(sum(CASE WHEN {dot} <= 0 THEN y * x{i} END) AS BIGINT), 0) AS s{i}"
            for i in range(5)
        )
        # Pure-long floor division (mirrors textops: (s - pmod) is
        # exactly divisible, `//` exact at any magnitude, no 2^53 cap).
        ws = ", ".join(
            f"w{i} + CASE WHEN m > 0 THEN CAST((s{i} - ((s{i} % m) + m) % m) // m AS BIGINT) ELSE 0 END AS w{i}"
            for i in range(5)
        )
        parts.append(
            f""",
st{t} AS MATERIALIZED (
  SELECT CAST(sum(CASE WHEN {dot} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS correct,
         CAST(count(*) AS BIGINT) AS total,
         coalesce(CAST(sum(CASE WHEN {dot} <= 0 THEN 1 END) AS BIGINT), 0) AS m,
         {ss}
  FROM feat, w{t - 1}t
),
cand{t} AS (SELECT {t} AS ep, correct, total, w0, w1, w2, w3, w4
            FROM st{t}, w{t - 1}t),
w{t}t AS MATERIALIZED (SELECT {ws} FROM w{t - 1}t, st{t})"""
        )
    cands = " UNION ALL ".join(
        f"SELECT * FROM cand{t}" for t in range(1, epochs + 1)
    )
    parts.append(
        f""",
fin AS (
  SELECT CAST(sum(CASE WHEN {dot} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS correct,
         CAST(count(*) AS BIGINT) AS total
  FROM feat, w{epochs}t
),
candF AS (SELECT {epochs + 1} AS ep, correct, total, w0, w1, w2, w3, w4
          FROM fin, w{epochs}t),
pocket AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY correct DESC, ep ASC) AS rn
    FROM ({cands} UNION ALL SELECT * FROM candF)
  ) WHERE rn = 1
)
SELECT 'bias' AS term, w0 AS value FROM pocket
UNION ALL SELECT 'n_tokens', w1 FROM pocket
UNION ALL SELECT 'stop_permille', w2 FROM pocket
UNION ALL SELECT 'punct_permille', w3 FROM pocket
UNION ALL SELECT 'digit_permille', w4 FROM pocket
UNION ALL SELECT 'train_correct', correct FROM pocket
UNION ALL SELECT 'train_total', total FROM pocket"""
    )
    return "WITH " + "".join(parts)


@_q(
    "perceptron_quality_gate",
    _perceptron_oracle(),
    doc="Averaged-step POCKET perceptron (Gallant 1990) distilling "
    "the float composite quality heuristic (label: quality_score >= "
    "0.5, the formula already hash-proven cross-engine in "
    "quality_scores) into five per-mille INTEGER count features "
    "(operators/textops.py:perceptron_quality_gate) — the "
    "fastText-style replacement of an expensive gate with a map-side "
    "dot product; pocket recovers the separable-by-construction gate "
    "at ~96% train accuracy on the fixture. Chosen over logistic "
    "regression because the whole trajectory is EXACT INT64 (no "
    "exp/log — the cross-engine float rule): per epoch w += "
    "floor(sum(y·x)/m) over the m misclassified rows (ties "
    "misclassified), pocket = best-accuracy iterate (integer compare, "
    "earliest-epoch tiebreak), fixed epoch count (anytime contract). "
    "ONE persisted feature scan; per epoch ONE combinable aggregate "
    "yields both the pocket candidate and the update — the "
    "bpe_train/kmeans bounded-iteration frame. Output long-format "
    "(term, value) pocket weights + training accuracy counts.",
)
def q_perceptron_quality_gate(spark, sf_dir):
    return tx.perceptron_quality_gate(
        _t(spark, sf_dir, "documents"), "text", threshold=0.5, epochs=24
    )


@_q(
    "nation_theil_sen_trend",
    f"""
WITH daily AS (
  SELECT n_name,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
rep AS (
  SELECT n_name, CAST(x AS BIGINT) AS x, CAST(rev AS DECIMAL(18,2)) AS y, r
  FROM daily, LATERAL unnest(generate_series(1, 8)) AS ru(r)
),
rk AS (
  SELECT n_name, r, x, y,
         row_number() OVER (
           PARTITION BY n_name, r
           ORDER BY {md5_long_sql("concat(CAST(r AS VARCHAR), ':', CAST(x AS VARCHAR))")} ASC,
                    x ASC) AS rn
  FROM rep
),
pairs AS (
  SELECT n_name, r, (rn - 1) // 2 AS pid,
         max(CASE WHEN rn % 2 = 1 THEN x END) AS x1,
         max(CASE WHEN rn % 2 = 1 THEN y END) AS y1,
         max(CASE WHEN rn % 2 = 0 THEN x END) AS x2,
         max(CASE WHEN rn % 2 = 0 THEN y END) AS y2
  FROM rk GROUP BY 1, 2, 3
),
sl AS (
  SELECT n_name, CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE) AS slope
  FROM pairs WHERE x2 IS NOT NULL AND x1 <> x2
)
SELECT n_name, CAST(count(*) AS BIGINT) AS n_slopes,
       round(quantile_cont(slope, 0.5), 6) AS ts_slope
FROM sl GROUP BY 1
""",
    doc="Per-nation Theil-Sen robust trend of daily revenue "
    "(operators/timeseries.py:grouped_theil_sen) — the median-slope "
    "robust sibling of nation_revenue_trend's OLS, as MAD pairs with "
    "mean/stddev: outlier days cannot drag the slope (29% breakdown "
    "vs OLS's 0). All-pairs Theil-Sen is O(n²) per group; this is the "
    "repeated-random-pairing estimator made DETERMINISTIC (points "
    "ranked by md5(round:x) per round, consecutive ranks paired — "
    "8 rounds → O(8n) sampled slopes, reproducible across engines/"
    "partitionings/retries, unlike rand()). y deltas subtract in "
    "DECIMAL, x deltas in int64, ONE double division per slope with "
    "equal-x pairs filtered (ANSI-safe); exact per-group median "
    "(percentile == quantile_cont; percentile_approx at 100 TB).",
)
def q_nation_theil_sen_trend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")).alias("x"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "x")
        .agg(F.sum("p").alias("rev"))
    )
    return ts_ops.grouped_theil_sen(daily, "n_name", "x", "rev", rounds=8)


def _unigram_lm_oracle(
    L: int = 12, P: int = 4, min_freq: int = 2, k: int = 50
) -> str:
    """Unrolled-DP DuckDB twin of textops.unigram_lm_piece_scores:
    dp/dpu levels are MATERIALIZED (each referenced by later levels
    AND the walk — the kcore inline-explosion lesson), the Viterbi
    argmax is the row_number-rn=1 idiom, and every float op (one
    prob division, per-arc products) mirrors Spark's association
    order exactly."""
    parts = [
        f"""
wf AS MATERIALIZED (
  SELECT substr(word, 1, {L}) AS word, count(*) AS wcnt FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY 1
),
occ AS (
  SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece, wcnt
  FROM wf,
       LATERAL unnest(generate_series(1, length(word))) AS su(s),
       LATERAL unnest(generate_series(1, least({P}, length(word) - s + 1))) AS lu(l)
),
pieces AS MATERIALIZED (
  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS freq
  FROM occ GROUP BY piece
  HAVING sum(wcnt) >= {min_freq} OR length(piece) = 1
),
tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM pieces),
pr AS MATERIALIZED (
  SELECT piece, freq, CAST(freq AS DOUBLE) / total AS prob FROM pieces, tot
),
arcs AS MATERIALIZED (
  SELECT a.word, a.j, a.i, a.piece, p.prob
  FROM (
    SELECT word, CAST(i - l AS INT) AS j, CAST(i AS INT) AS i,
           substr(word, CAST(i - l + 1 AS INT), CAST(l AS INT)) AS piece
    FROM wf,
         LATERAL unnest(generate_series(1, length(word))) AS iu(i),
         LATERAL unnest(generate_series(1, least({P}, i))) AS lu(l)
  ) a JOIN pr p USING (piece)
),
dpu0 AS (
  SELECT word, CAST(0 AS INT) AS i, CAST(1.0 AS DOUBLE) AS prob,
         CAST(NULL AS INT) AS bj, CAST(NULL AS VARCHAR) AS bpiece
  FROM wf
)"""
    ]
    for i in range(1, L + 1):
        parts.append(
            f""",
dp{i} AS MATERIALIZED (
  SELECT word, i, prob, bj, bpiece FROM (
    SELECT a.word, a.i AS i, d.prob * a.prob AS prob, a.j AS bj,
           a.piece AS bpiece,
           row_number() OVER (PARTITION BY a.word
             ORDER BY d.prob * a.prob DESC, a.j ASC, a.piece ASC) AS rn
    FROM arcs a JOIN dpu{i - 1} d ON a.word = d.word AND a.j = d.i
    WHERE a.i = {i}
  ) WHERE rn = 1
),
dpu{i} AS MATERIALIZED (
  SELECT * FROM dpu{i - 1} UNION ALL SELECT * FROM dp{i}
)"""
        )
    parts.append(
        f""",
dpall AS MATERIALIZED (SELECT * FROM dpu{L} WHERE i >= 1),
w0 AS (SELECT word, wcnt, CAST(length(word) AS INT) AS pos FROM wf)"""
    )
    for t in range(1, L + 1):
        parts.append(
            f""",
e{t} AS MATERIALIZED (
  SELECT w.word, w.wcnt, d.bpiece, d.bj
  FROM w{t - 1} w JOIN dpall d ON w.word = d.word AND w.pos = d.i
),
w{t} AS (SELECT word, wcnt, bj AS pos FROM e{t} WHERE bj > 0)"""
        )
    unions = " UNION ALL ".join(
        f"SELECT bpiece, wcnt FROM e{t}" for t in range(1, L + 1)
    )
    parts.append(
        f""",
em AS (
  SELECT bpiece AS piece, CAST(sum(wcnt) AS BIGINT) AS em_count
  FROM ({unions}) GROUP BY 1
)
SELECT em.piece, em.em_count, pr.freq AS seed_freq
FROM em JOIN pr USING (piece)
ORDER BY em_count DESC, piece ASC
LIMIT {k}"""
    )
    return "WITH " + "".join(parts)


@_q(
    "unigram_lm_piece_scores",
    _unigram_lm_oracle(),
    doc="One hard-EM round of SentencePiece-style unigram-LM tokenizer "
    "training (operators/textops.py:unigram_lm_piece_scores, Kudo "
    "2018): char-n-gram seed pieces re-counted under each word's "
    "VITERBI segmentation — bpe_train's probabilistic sibling, same "
    "anytime-iteration frame. Everything after the one corpus scan "
    "runs on the DISTINCT-WORD relation; the lattice is max_word_len "
    "bounded, UNROLLED DP levels (word-keyed join per level, eager "
    "checkpoint so the ~4^L logical-plan fan-in never builds), "
    "then a bounded backpointer walk. No ln(): Viterbi compares raw "
    "probability products (identical association order both engines), "
    "and the OUTPUT is integer-only (piece, em_count, seed_freq).",
)
def q_unigram_lm_piece_scores(spark, sf_dir):
    return tx.unigram_lm_piece_scores(
        _t(spark, sf_dir, "documents"),
        "text",
        max_word_len=12,
        max_piece_len=4,
        min_freq=2,
        k=50,
    )


@_q(
    "duplicate_substring_spans",
    f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         {md5_long_sql("array_to_string(t[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')")} AS g
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
),
dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM grams JOIN dupg USING (g)),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
              THEN 0 ELSE 1 END AS new
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(new) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS start_tok,
       CAST(max(pos) + 7 AS INT) AS end_tok,
       CAST(max(pos) + 7 - min(pos) + 1 AS INT) AS span_tokens
FROM isl GROUP BY doc_id, island
""",
    doc="Exact long-duplicate-substring spans (operators/dedup.py:"
    "duplicate_substring_spans; Lee et al. 2022 suffix-array dedup): "
    "maximal per-doc token ranges covered by a ≥8-token substring "
    "occurring ≥2× corpus-wide — the spans the next stage cuts from "
    "training text, complementing the document-level MinHash/SimHash "
    "families and CDC. The suffix-sort + adjacent-LCP scan reduces "
    "exactly to duplicated-L-gram detection (equal L-grams ⟺ adjacent "
    "truncated suffixes with LCP ≥ L), swapping a global sort for two "
    "key-partitioned shuffles: map-side positioned 60-bit gram hashes, "
    "map-side-combinable gram counts + an AQE-splittable join back "
    "(not a count-window — a hot boilerplate gram would pin one "
    "reducer), then a doc-keyed gaps-and-islands merge.",
)
def q_duplicate_substring_spans(spark, sf_dir):
    return dd.duplicate_substring_spans(
        _t(spark, sf_dir, "documents"), "doc_id", "text", min_tokens=8
    )


@_q(
    "contamination_spans",
    f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         {md5_long_sql("array_to_string(t[CAST(i AS INT):CAST(i + 3 AS INT)], ' ')")} AS g
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 4
),
evg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
hits AS (SELECT doc_id, pos FROM grams
         WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM evg)),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
              THEN 0 ELSE 1 END AS new
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(new) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS start_tok,
       CAST(max(pos) + 3 AS INT) AS end_tok,
       CAST(max(pos) + 3 - min(pos) + 1 AS INT) AS span_tokens
FROM isl GROUP BY doc_id, island
""",
    doc="SPAN-LEVEL eval decontamination (operators/dedup.py:"
    "contamination_spans): per TRAIN document (doc_id % 97 <> 0, the "
    "decontaminated_docs split), the maximal token ranges covered by a "
    "≥4-token substring appearing anywhere in the eval split — the "
    "ranges the pipeline CUTS, keeping the rest of the doc, where the "
    "doc-level 4-gram tier (decontaminated_docs) drops it whole. "
    "Completes the decontamination tier: exact 4-gram blocklist + "
    "MinHash fuzzy + exact substring spans. Same suffix-array⇒dup-"
    "L-gram reduction as duplicate_substring_spans, but the dup-gram "
    "set is the DISTINCT eval gram relation — eval suites are ≪ the "
    "training corpus, so it broadcasts and the marking pass is a "
    "map-side semi-join: zero shuffle of train grams before the "
    "doc-keyed island merge.",
)
def q_contamination_spans(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    return dd.contamination_spans(train, ev, "doc_id", "text", min_tokens=4)


@_q(
    "span_surgery_docs",
    f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         {md5_long_sql("array_to_string(t[CAST(i AS INT):CAST(i + 3 AS INT)], ' ')")} AS g
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 4
),
evg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
hits AS (SELECT doc_id, pos FROM grams
         WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM evg)),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
              THEN 0 ELSE 1 END AS new
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(new) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
),
spans AS (
  SELECT doc_id, min(pos) AS start_tok, max(pos) + 3 AS end_tok
  FROM isl GROUP BY doc_id, island
),
pos AS (
  SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT)] AS tok
  FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)
  WHERE doc_id % 97 <> 0
),
kept AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS txt
  FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = p.doc_id
                      AND p.pos BETWEEN s.start_tok AND s.end_tok)
  GROUP BY doc_id
),
nsp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
        FROM spans GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
       CAST(coalesce(n.n_spans, 0) AS INT) AS n_spans,
       CAST(len(t.t) - coalesce(k.n_kept, 0) AS INT) AS n_removed_tokens,
       coalesce(k.txt, '') AS clean_text
FROM toks t
LEFT JOIN kept k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
WHERE t.doc_id % 97 <> 0
ORDER BY t.doc_id
""",
    doc="SPAN SURGERY (operators/dedup.py:apply_span_surgery) — the "
    "APPLY stage completing the decontamination tier end-to-end: "
    "contamination_spans finds the ≥4-token ranges shared with the "
    "eval split (doc_id % 97 = 0); this row EMITS the rewritten train "
    "corpus with those ranges excised and the rest of each document "
    "kept — Lee et al. 2022's cut step, where the doc-level tier "
    "(decontaminated_docs) would drop whole documents. All Catalyst: "
    "spans collapse to one (start,end)-struct array per doc (bounded "
    "— disjoint merged spans, each ≥4 tokens), join back, and the cut "
    "is a positional higher-order filter with an exists() membership "
    "test; recomposition is array_join. Every original occurrence of "
    "a flagged gram is destroyed by construction (pinned by the "
    "planted-overlap pytest: zero eval 4-grams survive in clean_text).",
)
def q_span_surgery_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    spans = dd.contamination_spans(train, ev, "doc_id", "text", min_tokens=4)
    return dd.apply_span_surgery(train, spans, "doc_id", "text").orderBy(
        "doc_id"
    )


@_q(
    "dedup_span_surgery_docs",
    f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         {md5_long_sql("array_to_string(t[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')")} AS g
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
),
dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM grams JOIN dupg USING (g)),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
              THEN 0 ELSE 1 END AS new
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(new) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
),
spans AS (
  SELECT doc_id, min(pos) AS start_tok, max(pos) + 7 AS end_tok
  FROM isl GROUP BY doc_id, island
),
pos AS (
  SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT)] AS tok
  FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)
),
kept AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS txt
  FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = p.doc_id
                      AND p.pos BETWEEN s.start_tok AND s.end_tok)
  GROUP BY doc_id
),
nsp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
        FROM spans GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
       CAST(coalesce(n.n_spans, 0) AS INT) AS n_spans,
       CAST(len(t.t) - coalesce(k.n_kept, 0) AS INT) AS n_removed_tokens,
       coalesce(k.txt, '') AS clean_text
FROM toks t
LEFT JOIN kept k USING (doc_id)
LEFT JOIN nsp n USING (doc_id)
ORDER BY t.doc_id
""",
    doc="SELF-dedup span surgery — apply_span_surgery composed with "
    "duplicate_substring_spans: the rewritten corpus with every "
    "maximal ≥8-token range that occurs ≥2× corpus-wide excised from "
    "EVERY occurrence (the cut-all policy of Lee et al. 2022's "
    "ExactSubstr tooling, whose documented quirk is that twice-"
    "duplicated text vanishes entirely; a keep-one-copy policy needs "
    "an ownership rule assigning each duplicated gram run a surviving "
    "doc — noted, not implemented). Together with span_surgery_docs "
    "(the train-vs-eval cut) the APPLY stage now covers both span "
    "producers. Same Catalyst shape: span-array join + positional "
    "higher-order filter + array_join recomposition.",
)
def q_dedup_span_surgery_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    spans = dd.duplicate_substring_spans(docs, "doc_id", "text", min_tokens=8)
    return dd.apply_span_surgery(docs, spans, "doc_id", "text").orderBy(
        "doc_id"
    )


@_q(
    "dedup_threshold_curve",
    "WITH mp AS (SELECT * FROM ("
    + _minhash_oracle(k=12, bands=4, threshold=0.7)
    + """) z),
th AS (SELECT unnest([0.7, 0.8, 0.9]) AS threshold),
x AS (
  SELECT t.threshold, m.doc_a, m.doc_b
  FROM mp m JOIN th t ON m.jaccard >= t.threshold
),
p AS (
  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
  FROM x GROUP BY 1
),
d AS (
  SELECT threshold, CAST(count(DISTINCT dd) AS BIGINT) AS n_dup_docs
  FROM (SELECT threshold, doc_a AS dd FROM x
        UNION ALL SELECT threshold, doc_b FROM x) u
  GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT CAST(t.threshold AS DOUBLE) AS threshold,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(d.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       round(CAST(coalesce(d.n_dup_docs, 0) AS DOUBLE)
             / CAST(tot.n_docs AS DOUBLE), 6) AS dup_doc_rate
FROM th t
LEFT JOIN p ON p.threshold = t.threshold
LEFT JOIN d ON d.threshold = t.threshold
CROSS JOIN tot
ORDER BY threshold
""",
    doc="Dedup threshold sensitivity curve — the third member of the "
    "tuning-curve tier (banding S-curve chooses the LSH banding, "
    "nprobe curve the serving knob; this chooses the VERIFY "
    "threshold): near-dup pair count, distinct docs in ≥1 pair, and "
    "the dup-doc rate at Jaccard ≥ 0.7/0.8/0.9, all cut from ONE "
    "MinHash(12)+LSH(4×3) candidates+verify relation computed at the "
    "loosest threshold and persisted — the marginal corpus loss of "
    "tightening the dedup gate, measured before committing a "
    "full-corpus rerun. The threshold explode is 3 rows/pair; both "
    "aggregates are combinable groupBys on the slim pair relation.",
)
def q_dedup_threshold_curve(spark, sf_dir):
    from ..session import cut_lineage

    docs = _t(spark, sf_dir, "documents")
    # Eager lineage cut, not a lazy persist: the slim verified-pair
    # relation has three consumers (two aggregates + the spine), and a
    # lazy persist leaves the full MinHash subtree embedded in each
    # consumer's plan (audited at 142 exchanges round 11) — any
    # consumer that misses cache re-derives LSH from scratch. After
    # the checkpoint every consumer plans against a scan of the
    # materialized pair blocks.
    pairs = cut_lineage(
        dd.minhash_lsh_pairs(
            docs, "doc_id", "text", k=12, bands=4, threshold=0.7
        )
    )
    x = pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.explode(
            F.array(F.lit(0.7), F.lit(0.8), F.lit(0.9))
        ).alias("threshold"),
    ).where(F.col("jaccard") >= F.col("threshold"))
    p = x.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    d = (
        x.select(
            "threshold", F.explode(F.array("doc_a", "doc_b")).alias("dd")
        )
        .groupBy("threshold")
        .agg(F.countDistinct("dd").cast("long").alias("n_dup_docs"))
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    spine = spark.createDataFrame(
        [(0.7,), (0.8,), (0.9,)], "threshold double"
    )
    return (
        spine.join(p, "threshold", "left")
        .join(d, "threshold", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_dup_docs", F.lit(0))
            .cast("long")
            .alias("n_dup_docs"),
            # NULL rate on an empty corpus — not an ANSI 0/0 crash.
            F.when(
                F.col("n_docs") > 0,
                F.round(
                    F.coalesce("n_dup_docs", F.lit(0)).cast("double")
                    / F.col("n_docs").cast("double"),
                    6,
                ),
            ).alias("dup_doc_rate"),
        )
        .orderBy("threshold")
    )


@_q(
    "dedup_family_agreement",
    f"""
WITH lex AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle(k=12, bands=4, threshold=0.8)}) m
),
sem AS (
  SELECT id_a AS doc_a, id_b AS doc_b
  FROM ({_signlsh_adaptive_oracle(threshold=0.42)}) s
),
j AS (
  SELECT CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS lx,
         CASE WHEN r.doc_a IS NOT NULL THEN 1 ELSE 0 END AS sx
  FROM lex l FULL JOIN sem r
    ON l.doc_a = r.doc_a AND l.doc_b = r.doc_b
)
SELECT CAST(sum(lx) AS BIGINT) AS n_lexical,
       CAST(sum(sx) AS BIGINT) AS n_semantic,
       CAST(sum(lx * sx) AS BIGINT) AS n_both,
       CAST(sum(lx * (1 - sx)) AS BIGINT) AS n_only_lexical,
       CAST(sum(sx * (1 - lx)) AS BIGINT) AS n_only_semantic,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE round(CAST(sum(lx * sx) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6)
       END AS pair_jaccard
FROM j
""",
    doc="Lexical-vs-semantic dedup AGREEMENT — the number that decides "
    "whether embedding dedup earns its cost on top of MinHash (the "
    "SemDeDup question asked of real relations): the verified MinHash "
    "pair set (exact Jaccard >= 0.8) and the sign-LSH cosine pair set "
    "(>= 0.42, corpus-adaptive banding) meet in ONE full outer join "
    "on the shared id domain; the row reports each family's pair "
    "count, the intersection, each side's exclusive catches, and the "
    "pair-set Jaccard. High agreement ⇒ the cheaper family suffices; "
    "a large n_only_semantic is the paraphrase mass only embeddings "
    "see. Both member relations are verbatim the standalone green "
    "operators. On THIS fixture the answer is pair_jaccard = 0 — the "
    "synthetic embeddings are generated independently of the "
    "documents' text, so the two families flag disjoint pair sets; "
    "an honest measured zero, like the audio r6 arm.",
)
def q_dedup_family_agreement(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    ).select("doc_a", "doc_b", F.lit(1).alias("lx"))
    sem = sim.cosine_neardup_pairs(emb, threshold=0.42).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(1).alias("sx"),
    )
    j = lex.join(sem, ["doc_a", "doc_b"], "full").select(
        F.coalesce("lx", F.lit(0)).alias("lx"),
        F.coalesce("sx", F.lit(0)).alias("sx"),
    )
    return j.agg(
        F.sum("lx").cast("long").alias("n_lexical"),
        F.sum("sx").cast("long").alias("n_semantic"),
        F.sum(F.col("lx") * F.col("sx")).cast("long").alias("n_both"),
        F.sum(F.col("lx") * (1 - F.col("sx")))
        .cast("long")
        .alias("n_only_lexical"),
        F.sum(F.col("sx") * (1 - F.col("lx")))
        .cast("long")
        .alias("n_only_semantic"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                F.sum(F.col("lx") * F.col("sx")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ),
        ).alias("pair_jaccard"),
    )


@_q(
    "text_hashed_embeddings",
    "WITH "
    + tx.hashed_text_embeddings_sql()
    + """
SELECT vec_id AS doc_id,
       array_to_string(list_transform(embedding,
         x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',') AS emb_sig
FROM temb
ORDER BY doc_id
""",
    doc="The TEXT-DERIVED embedding fixture twin (verdict r12 item "
    "#2): feature-hashing (Weinberger ICML'09) over each document's "
    "bag of word 3-grams — md5-hashed gram → dimension h % 64, sign "
    "± from bit 6 — summed to a 64-dim signed-count vector, entirely "
    "in Catalyst higher-order functions (one md5 per gram, no "
    "shuffle, no UDF). Unlike the synthetic embeddings table "
    "(text-independent, so semantic similarity there is noise), "
    "cosine over THESE vectors is a real soft-overlap similarity, "
    "which makes the semantic-dedup tier's agreement numbers "
    "meaningful. The row serializes the integer-valued vector "
    "(values are sums of ±1, so the long cast is exact and "
    "formatting-stable) for the cross-engine hash; the DuckDB "
    "oracle replays tokenization, gram slicing, hash, sign, and the "
    "dims-grid fold verbatim.",
)
def q_text_hashed_embeddings(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    emb = tx.hashed_text_embeddings(docs)
    return emb.select(
        F.col("vec_id").alias("doc_id"),
        F.array_join(
            F.transform("embedding", lambda x: x.cast("long").cast("string")),
            ",",
        ).alias("emb_sig"),
    ).orderBy("doc_id")


@_q(
    "dedup_family_agreement_text",
    "WITH "
    + tx.hashed_text_embeddings_sql()
    + f""",
lex AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle(k=12, bands=4, threshold=0.8)}) m
),
sem AS (
  SELECT id_a AS doc_a, id_b AS doc_b
  FROM ({_signlsh_adaptive_oracle(threshold=0.5, emb_rel="temb")}) s
),
j AS (
  SELECT CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS lx,
         CASE WHEN r.doc_a IS NOT NULL THEN 1 ELSE 0 END AS sx
  FROM lex l FULL JOIN sem r
    ON l.doc_a = r.doc_a AND l.doc_b = r.doc_b
)
SELECT CAST(sum(lx) AS BIGINT) AS n_lexical,
       CAST(sum(sx) AS BIGINT) AS n_semantic,
       CAST(sum(lx * sx) AS BIGINT) AS n_both,
       CAST(sum(lx * (1 - sx)) AS BIGINT) AS n_only_lexical,
       CAST(sum(sx * (1 - lx)) AS BIGINT) AS n_only_semantic,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE round(CAST(sum(lx * sx) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6)
       END AS pair_jaccard
FROM j
""",
    doc="dedup_family_agreement asked on NON-DEGENERATE truth "
    "(verdict r12 item #2): the lexical arm is unchanged (verified "
    "MinHash, exact Jaccard >= 0.8) but the semantic arm runs the "
    "SAME production sign-LSH cosine matcher over the text-derived "
    "hashed embeddings (text_hashed_embeddings) at cosine >= 0.5 — "
    "so the two families finally see the same underlying text and "
    "the agreement number answers the SemDeDup question for real. "
    "Measured on this fixture: n_both > 0 (every planted near-dup "
    "pair is caught by both arms) and n_only_semantic > 0 — the "
    "paraphrase/containment mass (e.g. a doc vs its half: shingle "
    "Jaccard ~0.5, below the lexical bar, but cosine ~sqrt(0.5) "
    "over shared-gram counts) that ONLY the embedding arm sees, "
    "which is precisely the mass that decides whether semantic "
    "dedup earns its cost. The degenerate twin over the synthetic "
    "embeddings table stays registered as the algebra check.",
)
def q_dedup_family_agreement_text(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    lex = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", k=12, bands=4, threshold=0.8
    ).select("doc_a", "doc_b", F.lit(1).alias("lx"))
    # Arrow matrix projection (r18, guide §4.2): the hashed TEXT
    # embeddings are INTEGER-valued (sums of ±1) and the planes are
    # ±1, so every dot product is a sum of exact small integers in
    # float64 — order-independent, hence the BLAS matmul produces
    # bit-identical sign bits to the JVM fold (the float-noise caveat
    # in signlsh_bits_pandas's docstring cannot arise here; pinned by
    # tests/test_round18_opt.py and the oracle).
    sem = sim.cosine_neardup_pairs(
        tx.hashed_text_embeddings(docs), threshold=0.5,
        use_pandas_projection=True,
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(1).alias("sx"),
    )
    j = lex.join(sem, ["doc_a", "doc_b"], "full").select(
        F.coalesce("lx", F.lit(0)).alias("lx"),
        F.coalesce("sx", F.lit(0)).alias("sx"),
    )
    return j.agg(
        F.sum("lx").cast("long").alias("n_lexical"),
        F.sum("sx").cast("long").alias("n_semantic"),
        F.sum(F.col("lx") * F.col("sx")).cast("long").alias("n_both"),
        F.sum(F.col("lx") * (1 - F.col("sx")))
        .cast("long")
        .alias("n_only_lexical"),
        F.sum(F.col("sx") * (1 - F.col("lx")))
        .cast("long")
        .alias("n_only_semantic"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                F.sum(F.col("lx") * F.col("sx")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ),
        ).alias("pair_jaccard"),
    )


@_q(
    "semantic_dedup_survivors_text",
    "WITH RECURSIVE "
    + tx.hashed_text_embeddings_sql()
    + f""",
pairs AS (
  SELECT id_a, id_b FROM ({_signlsh_adaptive_oracle(threshold=0.5, emb_rel="temb")}) sp
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk(node, label) AS (
  SELECT vec_id, vec_id FROM temb
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
),
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
)
SELECT cluster_id AS doc_id, count(*) AS n_members
FROM clusters GROUP BY cluster_id
""",
    doc="semantic_dedup_survivors on NON-DEGENERATE truth: the same "
    "sign-LSH-pairs → connected-components → min-id-survivor "
    "pipeline, run over the text-derived hashed embeddings at "
    "cosine >= 0.5 — so the semantic clusters actually merge "
    "paraphrase/containment families the MinHash clusters split, "
    "instead of partitioning noise. Oracle = recursive-CTE "
    "reachability over the replayed LSH pairs, seeded from the "
    "derived-embedding id domain (docs with >= 3 tokens).",
)
def q_semantic_dedup_survivors_text(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    emb = tx.hashed_text_embeddings(docs)
    # Arrow matrix projection — exact on these integer-valued vectors
    # (see q_dedup_family_agreement_text's note; guide §4.2).
    pairs = sim.cosine_neardup_pairs(
        emb, threshold=0.5, use_pandas_projection=True
    )
    comp = graph.connected_components(pairs, "id_a", "id_b")
    clusters = (
        emb.select(F.col("vec_id").alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster", F.col("doc_id")).alias("cluster_id"),
        )
    )
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("cluster_id").alias("doc_id"), "n_members")
    )


@_q(
    "neardup_gate_quarantine",
    "SELECT CAST(doc_a % 3 AS BIGINT) AS batch_id, doc_a AS doc_id, "
    "doc_b AS matched_doc, jaccard FROM ("
    + _minhash_oracle(
        k=12,
        bands=4,
        threshold=0.8,
        pair_pred="a.doc_id % 2 = 1 AND b.doc_id % 2 = 0",
    )
    + ") g ORDER BY doc_id, matched_doc",
    doc="Batch-checkable twin of the STREAMING near-dup ingestion "
    "gate (streaming/sinks.py:neardup_gate_batch — round 11's "
    "pytest-only surface, now driver-hashed): even-id documents form "
    "the frozen accepted-corpus index, odd-id documents arrive as "
    "the stream replayed over a 3-batch spine (batch_id = doc_id % "
    "3), and the quarantine log is every incoming doc that verifies "
    "against an index doc at exact Jaccard >= 0.8 after the band-key "
    "bucket join. The log is computed by dedup.neardup_gate_log — "
    "the SAME single construction the foreachBatch sink calls per "
    "micro-batch, so this row hashes the gate's actual algebra, not "
    "a parallel copy; the frozen index makes per-batch gating equal "
    "the all-at-once relation (order-insensitive union), which is "
    "what makes the stream batch-checkable at all. Oracle: the "
    "minhash fragment with the cross-half (incoming vs index) "
    "candidate predicate.",
)
def q_neardup_gate_quarantine(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1)
    ikeys, ish = dd.minhash_index_relations(corpus, "doc_id", "text")
    log = dd.neardup_gate_log(incoming, ikeys, ish, "doc_id", "text")
    return log.select(
        (F.col("doc_in") % 3).cast("long").alias("batch_id"),
        F.col("doc_in").alias("doc_id"),
        F.col("doc_ref").alias("matched_doc"),
        "jaccard",
    ).orderBy("doc_id", "matched_doc")


@_q(
    "contamination_direction_matrix",
    f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         {md5_long_sql("array_to_string(t[CAST(i AS INT):CAST(i + 3 AS INT)], ' ')")} AS g
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 4
),
tsrc AS (SELECT DISTINCT source FROM documents WHERE doc_id % 97 <> 0),
esrc AS (SELECT DISTINCT source FROM documents WHERE doc_id % 97 = 0),
eg AS (
  SELECT DISTINCT gr.g, d.source AS eval_source
  FROM grams gr JOIN documents d USING (doc_id)
  WHERE d.doc_id % 97 = 0
),
hits AS (
  SELECT gr.doc_id, d.source AS train_source, e.eval_source
  FROM grams gr
  JOIN documents d USING (doc_id)
  JOIN eg e ON gr.g = e.g
  WHERE d.doc_id % 97 <> 0
),
per AS (
  SELECT train_source, eval_source,
         CAST(count(*) AS BIGINT) AS n_gram_hits,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train_docs
  FROM hits GROUP BY 1, 2
)
SELECT s.source AS train_source, e.source AS eval_source,
       CAST(coalesce(p.n_gram_hits, 0) AS BIGINT) AS n_gram_hits,
       CAST(coalesce(p.n_train_docs, 0) AS BIGINT) AS n_train_docs
FROM tsrc s
CROSS JOIN esrc e
LEFT JOIN per p
  ON p.train_source = s.source AND p.eval_source = e.source
ORDER BY train_source, eval_source
""",
    doc="Per-source contamination DIRECTION matrix — which training "
    "feed contaminates which eval suite: for every (train source × "
    "eval source) cell, the number of ≥4-token gram occurrences in "
    "that train source that also appear in that eval source, and the "
    "distinct train docs carrying them (the cross_source_dup_matrix "
    "move applied to the train×eval axis; completes decontamination "
    "REPORTING the way round 10 completed dedup reporting — spans "
    "say what to cut, this says which ingestion pipeline to fix). "
    "Train grams meet the (gram, eval_source) relation in ONE "
    "broadcast hash join (eval suites ≪ corpus); the all-cells spine "
    "is the litbound pattern — two keys=[] collect_set aggregates "
    "crossed at one row each then exploded, plan-provably bounded.",
)
def q_contamination_direction_matrix(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tg = dd._positioned_grams(train, "doc_id", "text", 4).join(
        train.select("doc_id", F.col("source").alias("train_source")),
        "doc_id",
    )
    eg = (
        dd._positioned_grams(ev, "doc_id", "text", 4)
        .join(
            ev.select("doc_id", F.col("source").alias("eval_source")),
            "doc_id",
        )
        .select("g", "eval_source")
        .distinct()
    )
    per = (
        tg.join(F.broadcast(eg), "g")
        .groupBy("train_source", "eval_source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gram_hits"),
            F.countDistinct("doc_id").cast("long").alias("n_train_docs"),
        )
    )
    # All-cells spine, litbound: one-row collect_set aggregates crossed
    # (keys=[] agg is plan-provably single-row), exploded after.
    ts = train.agg(F.collect_set("source").alias("ts"))
    es = ev.agg(F.collect_set("source").alias("es"))
    spine = (
        ts.crossJoin(F.broadcast(es))
        .select(F.explode("ts").alias("train_source"), "es")
        .select("train_source", F.explode("es").alias("eval_source"))
    )
    return (
        spine.join(per, ["train_source", "eval_source"], "left")
        .select(
            "train_source",
            "eval_source",
            F.coalesce("n_gram_hits", F.lit(0))
            .cast("long")
            .alias("n_gram_hits"),
            F.coalesce("n_train_docs", F.lit(0))
            .cast("long")
            .alias("n_train_docs"),
        )
        .orderBy("train_source", "eval_source")
    )


