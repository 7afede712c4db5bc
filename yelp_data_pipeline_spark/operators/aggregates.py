"""Aggregation operators (SURVEY.md §2.4, §2.6 O3).

Cross-engine float determinism: a parallel SUM over doubles is
order-dependent, so Spark and the DuckDB oracle can disagree in the last
ULP. Every float aggregate here accumulates in DECIMAL (exact, orderless)
and casts the final value back to DOUBLE — bit-identical across engines,
partitionings, and retries. That property matters beyond testing: at
100 TB it makes aggregates stable under AQE re-partitioning and task
retries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long

DECIMAL = "decimal(27,4)"


def exact_sum(col, alias: str) -> Column:
    """Order-independent SUM for double columns."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DECIMAL)).cast("double").alias(alias)


def exact_avg(col, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count, then one
    double division (deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(DECIMAL)).cast("double") / F.count(c)
    ).alias(alias)


def group_count(df: DataFrame, keys: list[str], alias: str = "cnt") -> DataFrame:
    """A1 — groupBy count (S2G:107-112): partial+final hash aggregate."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def empty_grand_total(
    result: DataFrame,
    source: DataFrame,
    fallback: dict[str, Column] | None = None,
) -> DataFrame:
    """Close the cube/rollup empty-input gap against SQL semantics:
    ``GROUP BY CUBE/ROLLUP`` over an EMPTY relation emits the ()
    grand-total grouping-set row (keys NULL, COUNT 0, SUM NULL) in
    ANSI SQL, while Spark's cube/rollup emit nothing.

    The fallback row is gated on ``source`` (the cube's input) being
    empty, probed with ``limit(1)`` — a one-row CollectLimit that
    scans partitions incrementally and stops at the first row, so the
    probe costs one split at any scale; the fact table is never
    rescanned in full (counting over the grouped RESULT instead would
    duplicate the whole aggregate: column pruning specializes the
    gate's copy, defeating ReusedExchange — measured on the cube
    plan). On nonempty input the gate arm is an empty relation and
    the union is a no-op. ``fallback`` overrides per output column
    (COUNT-like columns want ``F.lit(0)``); everything else NULLs at
    its schema type, exactly the SQL () row.
    """
    fallback = fallback or {}
    gate = (
        source.select(F.lit(1).alias("__x"))
        .limit(1)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") == 0)
    )
    row = gate.select(
        [
            (fallback[f.name] if f.name in fallback else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in result.schema.fields
        ]
    )
    return result.unionByName(row)


def salted_group_count(
    df: DataFrame, keys: list[str], alias: str = "cnt", salt_buckets: int = 16
) -> DataFrame:
    """Two-stage aggregation for SKEWED keys: stage 1 groups by
    (keys + salt) so a hot key's rows spread over ``salt_buckets``
    reducers; stage 2 sums the partials per key. The salt derives from
    ``monotonically_increasing_id`` — value-irrelevant, it only has to
    spread rows; the final counts are salt-invariant.

    Use when one key holds a scale-breaking share of rows and AQE's
    skew-join splitting doesn't apply (it handles joins, not
    aggregations). For mild skew, plain groupBy + map-side partial
    aggregation is already enough.
    """
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets)).alias("__salt")
    partial = (
        df.select(*keys, salt)
        .groupBy(*keys, "__salt")
        .agg(F.count(F.lit(1)).alias("__pc"))
    )
    return partial.groupBy(*keys).agg(F.sum("__pc").alias(alias))


def exact_quantiles(
    col, probs: list[float], round_to: int = 6
) -> list[Column]:
    """Exact interpolated quantiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``), one aliased column per probability,
    rounded so the interpolation's float arithmetic can't diverge
    across engines. Exact percentile sorts per group — at true scale
    swap in ``percentile_approx`` (t-digest, mergeable, no sort) and
    drop the oracle to rows-only."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.round(F.percentile(c, F.lit(p)), round_to).alias(
            f"p{str(p).replace('0.', '')}"
        )
        for p in probs
    ]


def pivot_counts(
    df: DataFrame, row_key: str, pivot_col: str, values: list[str]
) -> DataFrame:
    """Wide count matrix: one row per ``row_key``, one count column per
    ``pivot_col`` value. ``values`` is REQUIRED: without an explicit
    list Spark runs an extra distinct-collect job to discover the
    domain — a full scan and a driver round-trip before the real plan
    even starts. Absent combinations come back 0 (Spark's pivot yields
    NULL; the coalesce matches SQL's FILTER-count semantics)."""
    wide = df.groupBy(row_key).pivot(pivot_col, values).count()
    return wide.select(
        row_key,
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(f"cnt_{v.lower()}")
            for v in values
        ],
    )


def unpivot_counts(
    wide: DataFrame, row_key: str, values: list[str]
) -> DataFrame:
    """Melt a :func:`pivot_counts` matrix back to long form
    (row_key, status, cnt) — the narrow shape BI tools and UNION-ALL
    SQL oracles speak."""
    long = wide.unpivot(
        [row_key], [f"cnt_{v.lower()}" for v in values], "status", "cnt"
    )
    return long.withColumn(
        "status", F.upper(F.regexp_replace("status", "^cnt_", ""))
    )


def top_k(
    df: DataFrame, order_col: str, k: int, tiebreak: list[str] | None = None
) -> DataFrame:
    """O3 — dashboard top-k (`assets/dashboard.jpg` "Top 10 Businesses
    by 5-Star Reviews"). Spark plans this as TakeOrderedAndProject:
    each partition keeps a k-heap, the driver merges — no global sort.
    ``tiebreak`` columns make the cut deterministic when measures tie.
    """
    order = [F.col(order_col).desc()] + [F.col(c).asc() for c in (tiebreak or [])]
    return df.orderBy(*order).limit(k)


def winsorize(
    df, col: str, lo: float = 0.01, hi: float = 0.99, round_to: int = 6
):
    """Clip a column to its [lo, hi] exact quantiles — standard outlier
    taming before scaling/normalization. Two-pass: a 1-row quantile
    aggregate broadcast back over the scan (same spine idiom as the
    date gap-fill), then a pure map-side clamp; the clipped value is
    rounded so the interpolated bounds replay across engines. Adds
    ``<col>_w``; at true scale swap the exact percentile for
    percentile_approx."""
    bounds = df.agg(
        F.round(F.percentile(F.col(col), F.lit(lo)), round_to).alias("_qlo"),
        F.round(F.percentile(F.col(col), F.lit(hi)), round_to).alias("_qhi"),
    )
    clipped = F.round(
        F.least(F.greatest(F.col(col), F.col("_qlo")), F.col("_qhi")), round_to
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn(f"{col}_w", clipped)
        .drop("_qlo", "_qhi")
    )


# ----------------------------------------------------------- KMV sketch

KMV_HASH_SPACE = 1 << 60  # md5_long's range (15 hex digits)


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256, exact_compare: bool = False
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002)
    — a DETERMINISTIC alternative to HLL's approx_count_distinct: the
    estimate depends only on the md5 hash family and k, so retries,
    partitionings, AND the DuckDB oracle reproduce it bit-exactly
    (HLL sketches are engine-internal and only rows-checkable).

    Estimator: keep the k smallest distinct 60-bit hashes; if fewer
    than k exist the count is exact, else est = (k-1) · 2^60 / h_(k).
    Numerics: (k-1)·2^60 holds exactly in a double for k ≤ 2^9+1
    (8-bit mantissa need), and both engines convert h_(k) with the
    same IEEE round-to-nearest, so the rounded estimate is
    engine-identical.

    Scale shape: map-side distinct partials shrink each partition to
    ≤ its distinct hashes, the k-smallest pass is a TakeOrdered k-heap
    (the per-partition k-min sets ARE mergeable sketches — union then
    re-take-k — which is how a 100 TB scan's partials combine), and
    the final aggregate sees k rows. With ``exact_compare`` the output
    adds the true distinct count and relative error (a second pass —
    for validation harnesses, not production).
    """
    hashes = df.select(
        md5_long(F.col(col).cast("string")).alias("h")
    ).distinct()
    topk = hashes.orderBy(F.col("h").asc()).limit(k)
    est = F.when(
        F.col("m") < k, F.col("m")
    ).otherwise(
        F.round(F.lit(float((k - 1) * KMV_HASH_SPACE)) / F.col("hk").cast("double"))
        .cast("long")
    )
    sk = topk.agg(
        F.count(F.lit(1)).alias("m"), F.max("h").alias("hk")
    ).select(est.alias("est_distinct"))
    if not exact_compare:
        return sk
    exact = df.agg(F.count_distinct(F.col(col)).alias("exact_distinct"))
    return (
        sk.crossJoin(F.broadcast(exact))
        .select(
            "est_distinct",
            "exact_distinct",
            # NULL on an empty relation (exact = 0), matching SQL
            # division semantics — an ANSI-mode 0/0 would otherwise
            # crash the stage on empty input.
            F.when(
                F.col("exact_distinct") > 0,
                F.round(
                    F.abs(
                        F.col("est_distinct") - F.col("exact_distinct")
                    ).cast("double")
                    / F.col("exact_distinct").cast("double"),
                    4,
                ),
            ).alias("rel_err"),
        )
    )


# ------------------------------------------------------------ HLL sketch

HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hll_distinct(
    df: DataFrame, col: str, m: int = 64, by: list[str] | None = None
) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) built
    on the md5 hash family — DETERMINISTIC, unlike Spark's
    ``approx_count_distinct`` whose HLL++ internals are engine-private
    (that variant is only rows-checkable; this one the DuckDB oracle
    replays register-for-register).

    Construction: register = first md5 byte mod m; rho = 1 + leading
    zero bits of the next 60 hash bits (computed as ``61 −
    length(bin(w))`` — pure integer/string ops, identical both
    engines). Registers fold with MAX (fully map-side combinable, the
    canonical mergeable sketch); the harmonic mean is assembled from
    the EXACT integer ``sum(2^(61−M_r))`` accumulated in DECIMAL(38,0)
    — each term is one ≤2^60 shift, so the sum is order-independent
    and bit-identical across engines/partitionings/retries, then ONE
    double conversion + division yields the estimate (IEEE
    correctly-rounded, engine-identical).

    The small-range linear-counting correction is deliberately
    omitted: it needs ln(), which is not correctly rounded across
    libms (the repo's cross-engine float rule). At the 100 TB scale
    this sketch targets, n ≫ 2.5m so the raw estimator is the
    operative branch anyway; below that regime use
    :func:`kmv_distinct` (exact when distinct < k).

    Output: (approx_users=round(est,4), registers_hit, rho_sum) —
    all scalars, so the driver canonicalizer hashes the frame
    directly. ``registers_hit``/``rho_sum`` pin the full register
    state: two sketches agree on the estimate iff they agree on
    these.

    With ``by``, one sketch PER GROUP in the same pass — the actual
    100 TB deployment shape ("distinct users per segment/day"): the
    register fold is keyed by (group, register), so the shuffle
    carries ≤ m rows per group per task instead of the keys, and no
    expand (Spark's exact count_distinct multiplies scan output by
    the aggregate count; this never does). Output gains the group
    columns.
    """
    if m not in HLL_ALPHA:
        raise ValueError(f"m must be one of {sorted(HLL_ALPHA)}, got {m}")
    by = by or []
    return _hll_estimate(_hll_registers(df, col, m, by), m, by)


def _hll_registers(
    df: DataFrame, col: str, m: int, by: list[str]
) -> DataFrame:
    """(by..., reg, m_r) register state — the mergeable half of the
    sketch: registers fold with MAX at any granularity (partition,
    day, group), which is what hll_daily_merge proves."""
    hexc = F.md5(F.col(col).cast("string"))
    reg = F.conv(F.substring(hexc, 1, 2), 16, 10).cast("long") % m
    wv = F.conv(F.substring(hexc, 3, 15), 16, 10).cast("long")
    rho = F.when(wv == F.lit(0), F.lit(61)).otherwise(
        F.lit(61) - F.length(F.bin(wv))
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(*by, reg.alias("reg"), rho.alias("rho"))
        .groupBy(*by, "reg")
        .agg(F.max("rho").alias("m_r"))
    )


def _hll_estimate(regs: DataFrame, m: int, by: list[str]) -> DataFrame:
    """Assemble the estimate from register state: exact DECIMAL(38,0)
    integer harmonic sum, one double conversion + division at the end
    (see hll_distinct's docstring for the determinism argument)."""
    pow261 = float(1 << 61)  # exact in double
    sk = regs.groupBy(*by).agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("m_r").cast("long").alias("rho_sum"),
        F.sum(
            F.expr("CAST(shiftleft(1L, CAST(61 - m_r AS INT)) AS DECIMAL(38,0))")
        ).alias("s"),
    )
    # Empty registers contribute 2^0 = 1 each to the harmonic sum Z:
    # Z·2^61 = (m − V)·2^61 + S, assembled in doubles from exact parts.
    t = (F.lit(float(m)) - F.col("v").cast("double")) * F.lit(pow261) + F.col(
        "s"
    ).cast("double")
    est = F.lit(HLL_ALPHA[m] * (m * m)) * F.lit(pow261) / t
    return sk.select(
        *by,
        F.round(est, 4).alias("approx_users"),
        F.col("v").alias("registers_hit"),
        F.col("rho_sum"),
    )


def hll_daily_merge(
    df: DataFrame, ts_col: str, col: str, m: int = 64
) -> DataFrame:
    """HLL register-max merge proof — the sketch whose merge is NOT a
    sum: per-day register states fold with MAX (max is associative,
    commutative, idempotent — the semilattice the sketch is built
    on), then the merged state is assembled into an estimate next to
    the direct whole-table sketch. approx_users, registers_hit AND
    rho_sum must all agree — the last two pin the full register
    state, so the pair proves state equality, not just estimate
    coincidence. Completes the proof family: KMV (k-min union),
    histogram (bucket-count sum), aggregate state (monoids), HLL
    (register max). At 100 TB: keep days × m register rows; any
    date-range distinct = one max-fold over them, no raw rescan."""
    if m not in HLL_ALPHA:
        raise ValueError(f"m must be one of {sorted(HLL_ALPHA)}, got {m}")
    day = F.to_date(F.col(ts_col)).cast("string")
    daily = _hll_registers(
        df.withColumn("__day", day), col, m, ["__day"]
    )
    merged_regs = daily.groupBy("reg").agg(F.max("m_r").alias("m_r"))
    merged = _hll_estimate(merged_regs, m, []).select(
        F.lit("__merged__").alias("src"),
        "approx_users", "registers_hit", "rho_sum",
    )
    direct = _hll_estimate(_hll_registers(df, col, m, []), m, []).select(
        F.lit("__direct__").alias("src"),
        "approx_users", "registers_hit", "rho_sum",
    )
    return merged.unionByName(direct)


def hll_merge_oracle_sql(
    table: str, ts_col: str, col: str, m: int = 64
) -> str:
    """DuckDB twin of :func:`hll_daily_merge`: per-day register maxes
    re-folded vs the direct fold, both assembled with the identical
    exact-integer arithmetic as :func:`hll_oracle_sql`."""
    alpha_m2 = repr(HLL_ALPHA[m] * (m * m))
    pow261 = repr(float(1 << 61))
    est = (
        f"round({alpha_m2} * {pow261} /"
        f" ((CAST({m} AS DOUBLE) - CAST(v AS DOUBLE)) * {pow261}"
        f" + CAST(s AS DOUBLE)), 4)"
    )
    return f"""
WITH wv AS (
  SELECT CAST(CAST({ts_col} AS DATE) AS VARCHAR) AS day,
         CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 2) AS BIGINT)
           % {m} AS reg,
         CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 3, 15) AS BIGINT)
           AS w
  FROM {table} WHERE {col} IS NOT NULL
),
rd AS (
  SELECT day, reg,
         max(CASE WHEN w = 0 THEN 61 ELSE 61 - length(bin(w)) END) AS m_r
  FROM wv GROUP BY day, reg
),
rm AS (SELECT reg, max(m_r) AS m_r FROM rd GROUP BY reg),
rdir AS (
  SELECT reg,
         max(CASE WHEN w = 0 THEN 61 ELSE 61 - length(bin(w)) END) AS m_r
  FROM wv GROUP BY reg
),
skm AS (
  SELECT count(*) AS v, CAST(sum(m_r) AS BIGINT) AS rho_sum,
         sum(CAST(1::BIGINT << (61 - m_r) AS DECIMAL(38,0))) AS s
  FROM rm
),
skd AS (
  SELECT count(*) AS v, CAST(sum(m_r) AS BIGINT) AS rho_sum,
         sum(CAST(1::BIGINT << (61 - m_r) AS DECIMAL(38,0))) AS s
  FROM rdir
)
SELECT '__merged__' AS src, {est} AS approx_users,
       CAST(v AS BIGINT) AS registers_hit, rho_sum
FROM skm
UNION ALL
SELECT '__direct__', {est}, CAST(v AS BIGINT), rho_sum
FROM skd
"""


def hll_oracle_sql(
    table: str, col: str, m: int = 64, by: list[str] | None = None
) -> str:
    """DuckDB twin of :func:`hll_distinct` (same registers, same exact
    integer sum, same double assembly — bit-identical; ``by`` adds
    group keys to both folds, mirroring the Spark plan)."""
    by = by or []
    bysel = "".join(f"{c}, " for c in by)
    bykeys = ", ".join(by)
    by_grp1 = f"GROUP BY {bykeys}, reg" if by else "GROUP BY reg"
    by_grp2 = f"GROUP BY {bykeys}" if by else ""
    alpha_m2 = repr(HLL_ALPHA[m] * (m * m))  # repr round-trips exactly
    pow261 = repr(float(1 << 61))
    return f"""
WITH hx AS (
  SELECT {bysel}md5(CAST({col} AS VARCHAR)) AS hex
  FROM {table} WHERE {col} IS NOT NULL
),
wv AS (
  SELECT {bysel}CAST('0x' || substr(hex, 1, 2) AS BIGINT) % {m} AS reg,
         CAST('0x' || substr(hex, 3, 15) AS BIGINT) AS w
  FROM hx
),
r AS (
  SELECT {bysel}reg,
         max(CASE WHEN w = 0 THEN 61 ELSE 61 - length(bin(w)) END) AS m_r
  FROM wv {by_grp1}
),
sk AS (
  SELECT {bysel}count(*) AS v,
         CAST(sum(m_r) AS BIGINT) AS rho_sum,
         sum(CAST(1::BIGINT << (61 - m_r) AS DECIMAL(38,0))) AS s
  FROM r {by_grp2}
)
SELECT {bysel}round({alpha_m2} * {pow261} /
             ((CAST({m} AS DOUBLE) - CAST(v AS DOUBLE)) * {pow261}
              + CAST(s AS DOUBLE)), 4) AS approx_users,
       CAST(v AS BIGINT) AS registers_hit,
       rho_sum
FROM sk
"""


# ------------------------------------------------- Count-Min heavy hitters


def _cms_probes(col: str, depth: int, width: int):
    """The Kirsch-Mitzenmacher md5 probe array shared by every CMS
    construction (batch top-k, daily merge proof, streaming sink):
    row i probes position (h1 + i*h2) mod width."""
    from ..functions.hashing import md5_pair

    hexc = F.md5(F.col(col).cast("string"))
    h1, h2 = md5_pair(hexc)
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                ((h1 + F.lit(i) * h2) % width).alias("pos"),
            )
            for i in range(depth)
        ]
    )


def _cms_grid(df: DataFrame, col: str, depth: int, width: int) -> DataFrame:
    """(i, pos, cnt) nonzero-cell grid — <= depth*width rows, built by
    one map-side-combinable groupBy; grids merge by cell-wise SUM."""
    probes = _cms_probes(col, depth, width)
    return (
        df.select(F.explode(probes).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame, col: str, depth: int = 4, width: int = 512, k: int = 20
) -> DataFrame:
    """Heavy hitters via a Count-Min Sketch (Cormode & Muthukrishnan
    2005) built with the md5 double-hashing family — DETERMINISTIC, so
    the DuckDB oracle replays every counter and estimate bit-exactly
    (engine-internal sketches are only rows-checkable).

    The sketch is a depth×width counter grid: row i counts the stream
    at position ``(h1 + i·h2) mod width`` (Kirsch-Mitzenmacher: one md5
    yields both components, see functions/hashing.py). Point estimate =
    min over rows — never an undercount, overcount bounded by
    2N/width per row with prob 1-(1/2)^depth.

    Why a sketch when groupBy(col).count() is exact: the grid is FIXED
    memory (depth·width counters) independent of key cardinality, and
    grids merge by cell-wise addition — so 100 TB of partitions, or a
    day of streaming micro-batches, combine into one O(kB) summary
    that answers any later point query without rescanning. That merge
    is exactly Spark's map-side partial aggregation here: each task
    builds its local grid, the shuffle moves ≤ depth·width rows per
    task, never the keys.

    This batch wrapper then answers "top-k keys by estimated count"
    by probing the finished grid with the observed distinct keys — a
    broadcast join (the grid is ≤ depth·width rows by construction)
    followed by min-per-key and a TakeOrdered k-heap with (count DESC,
    key ASC) tiebreak.
    """
    probes = _cms_probes(col, depth, width)
    cells = _cms_grid(df, col, depth, width)
    keys = (
        df.select(F.col(col)).distinct()
        .select(F.col(col), F.explode(probes).alias("c"))
        .select(F.col(col), F.col("c.i").alias("i"), F.col("c.pos").alias("pos"))
    )
    est = (
        keys.join(F.broadcast(cells), ["i", "pos"])
        .groupBy(col)
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.orderBy(F.col("est_cnt").desc(), F.col(col).asc()).limit(k)


def cms_daily_merge(
    df: DataFrame, ts_col: str, col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Count-Min grid merge proof — cells are plain counters, so grids
    merge by CELL-WISE ADDITION: per-day depth×width grids summed
    cell-for-cell must equal the direct whole-table grid. The demo
    emits BOTH full nonzero grids (src, i, pos, cnt) — bounded at
    2 · depth · width rows regardless of data volume — so the driver's
    value hash proves equality of every counter, not a summary. With
    hll_daily_merge this closes the sketch-merge proof set: counters
    add, k-min sets union, buckets add, registers max. At 100 TB the
    per-day grids are the stored artifact (depth·width ints/day); any
    date-range point query sums them first, then takes min over rows."""
    probes = _cms_probes(col, depth, width)
    day = F.to_date(F.col(ts_col)).cast("string")
    daily = (
        df.select(day.alias("__day"), F.explode(probes).alias("c"))
        .groupBy("__day", F.col("c.i").alias("i"), F.col("c.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = daily.groupBy("i", "pos").agg(F.sum("cnt").alias("cnt")).select(
        F.lit("__merged__").alias("src"), "i", "pos",
        F.col("cnt").cast("long").alias("cnt"),
    )
    direct = (
        _cms_grid(df, col, depth, width)
        .select(
            F.lit("__direct__").alias("src"), "i", "pos",
            F.col("cnt").cast("long").alias("cnt"),
        )
    )
    return merged.unionByName(direct)


def cms_merge_oracle_sql(
    table: str, ts_col: str, col: str, depth: int = 4, width: int = 512
) -> str:
    """DuckDB twin of :func:`cms_daily_merge` (same double-hashing
    probes as cms_heavy_hitters' oracle)."""
    from ..functions.hashing import H2_DIGITS, H2_OFFSET, HEX_DIGITS

    h1 = f"CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, {HEX_DIGITS}) AS BIGINT)"
    h2 = f"CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), {H2_OFFSET}, {H2_DIGITS}) AS BIGINT)"
    return f"""
WITH probes AS (
  SELECT CAST(CAST({ts_col} AS DATE) AS VARCHAR) AS day,
         CAST(i AS INT) AS i,
         ({h1} + i * {h2}) % {width} AS pos
  FROM {table}, LATERAL unnest(generate_series(0, {depth - 1})) AS u(i)
),
daily AS (
  SELECT day, i, pos, CAST(count(*) AS BIGINT) AS cnt
  FROM probes GROUP BY day, i, pos
)
SELECT '__merged__' AS src, i, pos, CAST(sum(cnt) AS BIGINT) AS cnt
FROM daily GROUP BY i, pos
UNION ALL
SELECT '__direct__', i, pos, CAST(count(*) AS BIGINT)
FROM probes GROUP BY i, pos
"""


# --------------------------------------------- Market-basket pair mining


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket: int = 64,
    top: int = 100,
) -> DataFrame:
    """Frequent co-occurring item pairs across baskets (the counting
    core of association-rule mining — the 2-itemset pass of Apriori /
    the first FP-growth layer), with per-pair lift.

    Shape: distinct (basket, item) → within-basket self-join with
    ``a < b`` (each unordered pair built once) → groupBy(pair) support
    count → keep support ≥ min_support, top-k by (support DESC, a, b).
    Lift = support(a,b)·n_baskets / (support(a)·support(b)), from two
    broadcast-joined item-support relations, rounded 6dp — exact
    integer inputs, so engines agree bit-for-bit.

    Scale guard: the within-basket join is quadratic in basket size,
    and real basket data is heavy-tailed (one crawler session with 10⁵
    items would dominate the whole job). Baskets larger than
    ``max_basket`` are dropped BEFORE pairing — the standard mining
    practice (they contribute noise pairs anyway). That bounds work at
    |baskets|·max_basket², and the pair aggregate is map-side
    combinable; the top-k is a TakeOrdered heap, no global sort.
    """
    items = df.select(
        F.col(basket_col).alias("b_"), F.col(item_col).alias("i_")
    ).distinct()
    sizes = items.groupBy("b_").agg(F.count(F.lit(1)).alias("sz"))
    ok = items.join(
        sizes.where(F.col("sz") <= max_basket).select("b_"), "b_"
    )
    lhs = ok.select("b_", F.col("i_").alias("a"))
    rhs = ok.select("b_", F.col("i_").alias("b"))
    pairs = (
        lhs.join(rhs, "b_")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    item_supp = ok.groupBy("i_").agg(F.count(F.lit(1)).alias("supp"))
    n_baskets = ok.select("b_").distinct().agg(
        F.count(F.lit(1)).alias("nb")
    )
    sa = item_supp.select(F.col("i_").alias("a"), F.col("supp").alias("sa"))
    sb = item_supp.select(F.col("i_").alias("b"), F.col("supp").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "a",
            "b",
            "support",
            F.round(
                (F.col("support") * F.col("nb")).cast("double")
                / (F.col("sa") * F.col("sb")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("support").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(top)
    )


def kmv_set_estimates(
    df_a: DataFrame, col_a: str, df_b: DataFrame, col_b: str, k: int = 256
) -> DataFrame:
    """Distinct-cardinality estimates for A, B, A∪B and A∩B from
    MERGED k-minimum-values sketches (Beyer et al., SIGMOD'07) — the
    reason sketches beat exact distincts at scale: the union sketch is
    just the k smallest of the two sketches' hashes (never a rescan of
    either table), and the intersection uses the ρ estimator
    ρ = |{h ∈ K_∪ : h ∈ K_A ∧ h ∈ K_B}| / k, est_∩ = round(ρ · est_∪).
    Same md5 hash family as :func:`kmv_distinct`, so the DuckDB oracle
    replays every hash, both sketch paths (m < k exact, else the
    (k−1)·2^60/h_(k) estimator), and the final products bit-exactly —
    the product ciÂ·est_∪ stays far inside a double's exact-integer
    range, so the one rounded division is engine-identical.

    Each input is scanned ONCE (sketches are 256-row checkpoints,
    re-used by the union and membership joins); everything after the
    two k-min passes operates on ≤k-row relations — broadcast-only,
    no shuffle of data rows. Returns one row:
    (est_a, est_b, est_union, est_intersection).
    """
    from ..session import cut_lineage

    def sketch(df: DataFrame, col: str) -> DataFrame:
        return cut_lineage(
            df.select(md5_long(F.col(col).cast("string")).alias("h"))
            .distinct()
            .orderBy(F.col("h").asc())
            .limit(k),
            eager=False,
        )

    def estimate(sk: DataFrame, out: str) -> DataFrame:
        est = F.when(F.col("m") < k, F.col("m")).otherwise(
            F.round(
                F.lit(float((k - 1) * KMV_HASH_SPACE))
                / F.col("hk").cast("double")
            ).cast("long")
        )
        return sk.agg(
            F.count(F.lit(1)).alias("m"), F.max("h").alias("hk")
        ).select(est.alias(out))

    ka = sketch(df_a, col_a)
    kb = sketch(df_b, col_b)
    ku = cut_lineage(
        ka.union(kb).distinct().orderBy(F.col("h").asc()).limit(k),
        eager=False,
    )
    ci = (
        ku.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("ci"))
    )
    return (
        estimate(ka, "est_a")
        .crossJoin(F.broadcast(estimate(kb, "est_b")))
        .crossJoin(F.broadcast(estimate(ku, "est_union")))
        .crossJoin(F.broadcast(ci))
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                (F.col("ci") * F.col("est_union")).cast("double") / k
            )
            .cast("long")
            .alias("est_intersection"),
        )
    )


def loo_target_encoding(
    df: DataFrame,
    key_cols: list[str],
    cat_col: str,
    target_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Leave-one-out target (mean) encoding: replace a categorical
    column with the mean of a numeric target over all OTHER rows of
    the same category — the standard high-cardinality encoder for
    tree/linear models, in its leakage-safe form (including the row's
    own target leaks the label into the feature; LOO excludes it:
    (S_g − xᵢ)/(n_g − 1)).

    Determinism: S_g accumulates in DECIMAL (order-free under AQE/
    repartition), the subtraction stays decimal-exact, and ONE double
    division happens per row at the end. Singleton categories
    (n_g = 1) yield NULL — there is no "other rows" mean and a global
    fallback is a modeling choice, not a default.

    Plan: ONE map-side-combinable groupBy(category) for (S, n) —
    joined back un-hinted (AQE broadcasts when the stats relation is
    small; at true high cardinality it correctly shuffles instead).
    No per-row window over the category (the naive windowed mean-
    over-others funnels every hot category through one reducer).

    Returns key_cols + (cat_col, target, loo_mean).
    """
    c = F.col(target_col).cast(DECIMAL)
    stats = df.groupBy(cat_col).agg(
        F.sum(c).alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    loo = F.when(
        F.col("__n") > 1,
        F.round(
            (F.col("__s") - c).cast("double")
            / (F.col("__n") - 1).cast("double"),
            round_to,
        ),
    )
    # No broadcast hint: this IS the high-cardinality encoder, and a
    # hard hint would force a 10^8-category stats relation onto the
    # driver and every executor. AQE broadcasts small stats on its own
    # and falls back to a shuffled hash join past the threshold.
    return df.join(stats, cat_col).select(
        *key_cols,
        cat_col,
        F.col(target_col),
        loo.alias("loo_mean"),
    )


def quantile_bins(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Equi-depth (quantile) binning: assign each row the bucket of
    its value among ``n_bins`` quantile bounds — the feature
    discretizer (MLlib's QuantileDiscretizer) expressed as plain
    DataFrame ops so the bounds are exact, engine-replayable, and the
    assignment is a broadcast + map-side fold rather than a fitted
    model object.

    Unlike ntile() — which ranks ROWS into equal-count buckets and
    therefore splits ties arbitrarily — value-bound binning puts equal
    values in the same bin always (determinism, and the property a
    learned discretizer must have at inference time). Bin =
    1 + #bounds ≤ value, bounds at k/n_bins quantiles (k=1..n_bins−1),
    6dp-rounded before comparison on both engines.

    Plan: one exact-percentile aggregate (1 row, broadcast), then a
    map-side array fold per row. percentile_approx is the 100 TB
    drop-in.

    Returns key_cols + (value, bin).
    """
    ps = [k / n_bins for k in range(1, n_bins)]
    bounds = df.agg(
        F.expr(
            f"percentile({value_col}, array({', '.join(str(p) for p in ps)}))"
        ).alias("__b")
    ).select(
        F.transform(F.col("__b"), lambda b: F.round(b, 6)).alias("__b")
    )
    # NULL values keep a NULL bin: every bound comparison is NULL, the
    # filter drops all elements, and size()=0 would silently impute
    # "lowest decile" for missing data — exactly wrong for a feature
    # discretizer, where missingness must stay visible downstream.
    binv = F.when(
        F.col(value_col).isNotNull(),
        (
            F.lit(1)
            + F.size(
                F.filter(
                    F.col("__b"), lambda b: b <= F.round(F.col(value_col), 6)
                )
            )
        ).cast("int"),
    )
    return df.crossJoin(F.broadcast(bounds)).select(
        *key_cols, F.col(value_col), binv.alias("bin")
    )


def histogram_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    width: float,
    quantiles: list[float],
) -> DataFrame:
    """Grouped quantile estimates from a FIXED-BOUNDARY mergeable
    histogram — the deterministic quantile member of the sketch tier
    (KMV/HLL/CMS all estimate counts; none estimates order
    statistics). Buckets are ``floor(v / width)``: data-independent
    boundaries, so per-partition (or per-day) histograms MERGE by
    summing bucket counts — the property t-digest/DDSketch buy with
    log boundaries, here with linear ones so the oracle replays every
    arithmetic step exactly (no ln/exp, which are not correctly
    rounded across libms; ``v/width`` + ``floor`` are single IEEE
    ops).

    Estimate: the target rank ``ceil(q·n)`` lands in exactly one
    bucket per group; linear interpolation inside it gives
    ``width · (bucket + (rank − cum_before) / cnt)``, max error
    ``width`` (choose width ≈ wanted absolute resolution). The exact
    twin (``exact_quantiles``/percentile) needs a per-group sort of
    VALUES; this needs a per-group sort of ≤(domain/width) BUCKETS —
    bounded state, map-side combinable, streaming-mergeable.

    Scale posture: one combinable groupBy to ≤(groups × buckets)
    rows; the window + quantile probe run on the bucket relation,
    never on data rows. NULL values are excluded (no rank).

    Returns group_cols + (q, quantile_est, n_rows), one row per
    (group, q).
    """
    b = F.floor(F.col(value_col).cast("double") / F.lit(float(width))).cast(
        "long"
    )
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _hist_quantile_probe(hist, group_cols, width, quantiles)


def _hist_quantile_probe(
    hist: DataFrame,
    group_cols: list[str],
    width: float,
    quantiles: list[float],
) -> DataFrame:
    """Quantile probe over a (group_cols..., bucket, cnt) histogram
    relation — factored out so MERGED histograms (bucket counts summed
    across partitions/days) take the identical arithmetic path as
    direct ones. Runs entirely on the bounded bucket relation; with
    ``group_cols=[]`` the windows are global but span ≤(domain/width)
    bucket rows, never data rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("bucket")
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy(*group_cols)))
    rows = cum.select(
        *group_cols,
        "bucket",
        "cnt",
        "cum",
        "n",
        F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q"),
    )
    target = F.ceil(F.col("q") * F.col("n"))
    est = F.round(
        F.lit(float(width))
        * (
            F.col("bucket").cast("double")
            + (target - (F.col("cum") - F.col("cnt"))).cast("double")
            / F.col("cnt").cast("double")
        ),
        6,
    )
    return rows.where(
        (F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target)
    ).select(
        *group_cols,
        F.col("q"),
        est.alias("quantile_est"),
        F.col("n").alias("n_rows"),
    )


def histogram_daily_merge(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    width: float,
    quantiles: list[float],
) -> DataFrame:
    """Sketch-associativity demo over the fixed-boundary histogram —
    the quantile member of the proof family (kmv_daily_merge for
    distinct counts, incremental_state_merge_demo for sum/min/max):
    per-day histograms of ``value_col`` MERGED by summing bucket
    counts, probed for quantiles, emitted next to the direct
    whole-table histogram probed identically. Equal because the
    boundaries are data-independent (floor(v/width) never depends on
    which partition a row came from) — the property that lets a
    100 TB pipeline keep per-day bucket rows and answer any
    date-range quantile by summing O(days × buckets) integers. The
    ``__merged__`` / ``__direct__`` row pairs PROVE it on real data.

    Scale shape: one (day, bucket) combinable groupBy, a bucket-keyed
    re-aggregation over days×buckets rows, and probes on ≤buckets
    rows; the raw table is scanned twice only because the demo
    instantiates both paths — a production refresh maintains the
    per-day relation incrementally and never rescans."""
    day = F.to_date(F.col(ts_col))
    b = F.floor(F.col(value_col).cast("double") / F.lit(float(width))).cast(
        "long"
    )
    nn = df.where(F.col(value_col).isNotNull())
    daily = nn.groupBy(day.alias("day"), b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    merged_hist = daily.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    direct_hist = nn.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = _hist_quantile_probe(merged_hist, [], width, quantiles).select(
        F.lit("__merged__").alias("src"), "q", "quantile_est", "n_rows"
    )
    d = _hist_quantile_probe(direct_hist, [], width, quantiles).select(
        F.lit("__direct__").alias("src"), "q", "quantile_est", "n_rows"
    )
    return m.unionByName(d)


def kmv_daily_merge(
    df: DataFrame, day_col: str, col: str, k: int = 64
) -> DataFrame:
    """Sketch-associativity demo over KMV: per-day k-minimum-values
    sketches of ``col``, plus the MERGED estimate (union the per-day
    k-min sets, re-take k) and the DIRECT global estimate — which are
    EQUAL by construction: every member of the global k-min set is in
    its own day's k-min set, so merging loses nothing. This is the
    property that lets a 100 TB pipeline maintain daily sketch
    partitions and answer any date-range distinct query by merging
    O(days·k) rows instead of rescanning the raw data — and the pair
    of output rows (``__merged__`` vs ``__direct__``) PROVES the
    associativity on real data rather than asserting it.

    Scale shape: one (day, hash)-distinct pass (map-side combinable),
    a per-day k-min window on the distinct relation, then estimates
    over ≤ days·k rows. Same md5 hash family and estimator as
    :func:`kmv_distinct` — deterministic, oracle-replayable.

    Returns (day, est_distinct): one row per day plus ``__merged__``
    and ``__direct__`` rows.
    """
    from pyspark.sql import Window

    from ..session import track_persist

    hx = track_persist(
        df.select(
            F.col(day_col).cast("date").cast("string").alias("day"),
            md5_long(F.col(col).cast("string")).alias("h"),
        ).distinct()
    )
    w = Window.partitionBy("day").orderBy(F.asc("h"))
    pk = track_persist(
        hx.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )

    def est(m, hk):
        return F.when(m < k, m).otherwise(
            F.round(
                F.lit(float((k - 1) * KMV_HASH_SPACE)) / hk.cast("double")
            ).cast("long")
        )

    per_day = pk.groupBy("day").agg(
        F.count(F.lit(1)).alias("m"), F.max("h").alias("hk")
    ).select("day", est(F.col("m"), F.col("hk")).alias("est_distinct"))

    def global_row(rel, label):
        return (
            rel.select("h")
            .distinct()
            .orderBy(F.asc("h"))
            .limit(k)
            .agg(F.count(F.lit(1)).alias("m"), F.max("h").alias("hk"))
            .select(
                F.lit(label).alias("day"),
                est(F.col("m"), F.col("hk")).alias("est_distinct"),
            )
        )

    return (
        per_day.unionByName(global_row(pk, "__merged__"))
        .unionByName(global_row(hx, "__direct__"))
    )


def daily_agg_state(
    df: DataFrame, ts_col: str, key_col: str, val_col: str
) -> DataFrame:
    """Per-(day, key) MERGEABLE aggregate state: (n, exact DECIMAL sum,
    min, max). Count/sum/min/max form commutative monoids, so the
    state combines associatively — the algebraic fact that makes
    incremental ETL correct. The sum is kept in DECIMAL(27,4) (never a
    double) so merging is order-independent and bit-stable across
    engines; read-time derivations (avg = sum/n) do the single double
    division at the end."""
    v = F.col(val_col)
    return df.groupBy(
        F.to_date(F.col(ts_col)).alias("day"), F.col(key_col).alias("key")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(DECIMAL)).alias("s"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def merge_agg_state(state: DataFrame) -> DataFrame:
    """Fold per-day states into per-key totals: sum of counts, sum of
    DECIMAL sums, min of mins, max of maxes — one combinable groupBy
    over days×keys STATE rows, never the raw fact table."""
    return state.groupBy("key").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )


def incremental_state_merge_demo(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    val_col: str,
    cutoff: str,
) -> DataFrame:
    """Incremental-maintenance equivalence PROVED on real data: split
    the fact table at ``cutoff`` into a base (already-materialized
    state) and a delta (today's new partition), build their per-day
    states INDEPENDENTLY, merge — and emit the merged per-key totals
    next to a direct full recompute. The two row sets are equal by the
    monoid laws; the query measures it instead of assuming it (the
    same proof-not-promise pattern as kmv_daily_merge).

    At 100 TB this is the nightly-ETL contract: refreshing a daily
    state table touches only the delta partition (predicate-pruned
    scan + one combinable groupBy over days×keys state rows), while
    the naive alternative rescans the full history. Output one row per
    (src, key) with src ∈ {'__merged__', '__direct__'}."""
    base = df.where(F.col(ts_col) < cutoff)
    delta = df.where(F.col(ts_col) >= cutoff)
    state = daily_agg_state(base, ts_col, key_col, val_col).unionByName(
        daily_agg_state(delta, ts_col, key_col, val_col)
    )
    merged = merge_agg_state(state).select(
        F.lit("__merged__").alias("src"), "key", "n", "s", "mn", "mx"
    )
    direct = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(val_col).cast(DECIMAL)).alias("s"),
        F.min(val_col).alias("mn"),
        F.max(val_col).alias("mx"),
    ).select(F.lit("__direct__").alias("src"), "key", "n", "s", "mn", "mx")
    out = merged.unionByName(direct)
    return out.select(
        "src",
        F.col("key").alias("event_type"),
        F.col("n").alias("n_events"),
        F.col("s").cast("double").alias("total_value"),
        F.round("mn", 6).alias("min_value"),
        F.round("mx", 6).alias("max_value"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("avg_value"),
    )


def contingency_assoc(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Contingency-table association audit between two categorical
    columns: per cell, the joint count plus both marginals, the lift
    (observed/expected ratio) and the pointwise mutual information
    (PMI, nats) — the table an analyst reads to decide whether two
    dimensions are independent before trusting a segmentation or a
    stratified sample on their cross product.

    Plan: the ONLY data-volume work is one map-side-combinable
    groupBy(a, b) over the pruned two-column scan; marginals and the
    grand total are window sums over the resulting CELL relation
    (|A|x|B| rows, bounded by category cardinality), never a second
    scan. At 100 TB: one scan, one tiny shuffle, three window passes
    over dozens of rows.

    Numerics: counts are exact int64; lift and PMI are computed from
    exact integers with a fixed IEEE op order (two multiplies, one
    divide), and PMI's single ln is rounded to 6dp — the repo's
    one-libm-call-per-output rule, replayable on any engine.

    Returns (a, b, n_cell, n_a, n_b, n_total, lift, pmi) with the
    input column names preserved for a/b, ordered by (a, b).
    """
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("n_cell"))
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy()
    ratio = (
        F.col("n_cell").cast("double") * F.col("n_total").cast("double")
    ) / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    return (
        cells.withColumn("n_a", F.sum("n_cell").over(wa).cast("long"))
        .withColumn("n_b", F.sum("n_cell").over(wb).cast("long"))
        .withColumn("n_total", F.sum("n_cell").over(wall).cast("long"))
        .select(
            F.col("__a").alias(col_a),
            F.col("__b").alias(col_b),
            F.col("n_cell"),
            "n_a",
            "n_b",
            "n_total",
            F.round(ratio, 6).alias("lift"),
            F.round(F.log(ratio), 6).alias("pmi"),
        )
        .orderBy(col_a, col_b)
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Gini concentration coefficient of per-key value totals within
    each group — the inequality number behind "top 1% of customers
    drive X% of revenue" (Lorenz 1905/Gini 1912), and for a training
    corpus the per-source document-contribution skew screen.

    Exactness: per-key totals accumulate as exact integer cents
    (floor(v*100 + 0.5), single IEEE ops on 2-decimal monetary
    doubles); the rank-weighted sum S1 = sum(i * x_(i)) accumulates in
    DECIMAL(38,0) (int64 overflows near 2^63 once n_keys * total_cents
    grows past ~10^18 — real at fact scale). The final coefficient
    G = 2*S1/(n*S) - (n+1)/n is a fixed sequence of correctly-rounded
    IEEE ops on exactly-represented integers, rounded 6dp.

    Plan: one combinable groupBy(group, key) -> per-key relation; one
    rank window per group (sort shuffle of the KEY relation, not the
    facts — |keys| << |rows|); one combinable final aggregate. A
    single pathologically hot group serializes its own rank sort only;
    at 100 TB pre-aggregate per key first (done here by construction)
    and the window input is the small relation.

    Returns (group, n_keys, total_cents, gini) ordered by group.
    """
    from pyspark.sql import Window

    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    per_key = df.groupBy(
        F.col(group_col).alias("g"), F.col(key_col).alias("k")
    ).agg(F.sum(cents).alias("x"))
    w = Window.partitionBy("g").orderBy(F.asc("x"), F.asc("k"))
    ranked = per_key.withColumn("i", F.row_number().over(w))
    agg_ = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("x").cast("long").alias("total_cents"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
        ).alias("__s1"),
    )
    n = F.col("n_keys").cast("double")
    gini = (
        F.lit(2.0) * F.col("__s1").cast("double")
        / (n * F.col("total_cents").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    # total == 0 makes the coefficient 0/0 — concentration of nothing
    # is undefined; surface an explicit NULL (identical on both
    # engines) rather than an IEEE NaN.
    gini = F.when(F.col("total_cents") != 0, F.round(gini, 6))
    return agg_.select(
        F.col("g").alias(group_col),
        "n_keys",
        "total_cents",
        gini.alias("gini"),
    ).orderBy(group_col)


def median_ci(df: DataFrame, value_col: str, z: float = 1.96) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN via
    order statistics (the binomial argument with its normal
    approximation: ranks l = floor((n - z*sqrt(n))/2) and u = n+1-l
    bracket the true median with ~95% coverage for ANY continuous
    distribution — no normality, no bootstrap, no randomness). The
    inference companion to exact_quantiles: the quantile says where
    the middle is, the interval says how sure the data lets you be.

    Exact construction on the bounded cents domain (same move as
    ranksum_drift): values become integer cents, one combinable
    groupBy to (cents, count) cells — bounded by the value DOMAIN,
    not the row count — then every order statistic is a min-over-
    threshold on the running total, and the rank arithmetic is a
    fixed IEEE sequence (sqrt correctly rounded) on the exact n.
    Median is the classic mid-pair average for even n, exact in
    half-cents. One scan, one tiny shuffle, one bounded window.

    Returns ONE row: (n_values, median, ci_low, ci_high) in value
    units, 6dp.
    """
    from pyspark.sql import Window

    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    cells = (
        df.where(F.col(value_col).isNotNull())
        .select(cents.alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.withColumn("cum", F.sum("t").over(w))
    tot = cum.agg(F.max("cum").cast("long").alias("n"))
    j = cum.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    low_rank = F.greatest(
        F.lit(1),
        F.floor((nd - F.lit(z) * F.sqrt(nd)) / F.lit(2.0)).cast("long"),
    )
    hi_rank = F.least(F.col("n"), F.col("n") + F.lit(1) - low_rank)
    # Median order statistics: m1 = floor((n+1)/2), m2 = floor(n/2)+1
    # (equal for odd n; the middle pair for even n). Exact integers.
    m1 = F.floor((F.col("n") + F.lit(1)).cast("double") / F.lit(2.0)).cast("long")
    m2 = F.floor(F.col("n").cast("double") / F.lit(2.0)).cast("long") + F.lit(1)

    def at_rank(r):
        return F.min(F.when(F.col("cum") >= r, F.col("v")))

    agg_ = j.groupBy("n").agg(
        at_rank(low_rank).alias("vl"),
        at_rank(hi_rank).alias("vu"),
        at_rank(m1).alias("vm1"),
        at_rank(m2).alias("vm2"),
    )
    return agg_.select(
        F.col("n").alias("n_values"),
        F.round(
            (F.col("vm1").cast("double") + F.col("vm2").cast("double"))
            / F.lit(2.0)
            / F.lit(100.0),
            6,
        ).alias("median"),
        F.round(F.col("vl").cast("double") / F.lit(100.0), 6).alias("ci_low"),
        F.round(F.col("vu").cast("double") / F.lit(100.0), 6).alias("ci_high"),
    )


def spearman_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation — Pearson on average ranks: the
    robust, monotone-relationship companion to the exact-moment
    Pearson (price_quantity_corr), immune to outliers and to any
    monotone rescaling of either variable, with the textbook
    average-rank tie convention.

    Exact construction: each column's rank map is built over its
    DISTINCT-value relation (groupBy + one ordered window over values
    — for the registry's columns these are domain-bounded; for
    unbounded domains swap in windows.scalable_ranks' range-partition
    machinery). Average ranks are kept as INTEGERS via r2 = 2*rank =
    2*count_below + ties + 1; the constant 2 cancels in the
    correlation. Rank moments accumulate in DECIMAL(38,0)/HUGEINT
    (r2^2 * n passes int64 near 10^6-row inputs already), and the
    final rho is the identical IEEE sequence as the Pearson query,
    on exact operands, rounded 6dp.

    Plan: two tiny cell aggregations + two map-side rank joins back
    to the rows + ONE combinable moment aggregate.

    Returns ONE row: (n_rows, rho).
    """
    from pyspark.sql import Window

    def rank_map(col):
        cells = df.groupBy(F.col(col).alias("__v")).agg(
            F.count(F.lit(1)).alias("__t")
        )
        w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
        return cells.withColumn(
            "__cb", F.coalesce(F.sum("__t").over(w), F.lit(0))
        ).select(
            F.col("__v"),
            (F.lit(2) * F.col("__cb") + F.col("__t") + F.lit(1)).alias("__r2"),
        )

    xm = rank_map(x_col).withColumnRenamed("__r2", "__rx")
    ym = rank_map(y_col).withColumnRenamed("__r2", "__ry")
    j = (
        df.select(F.col(x_col).alias("__xv"), F.col(y_col).alias("__yv"))
        .join(F.broadcast(xm), F.col("__xv") == xm["__v"])
        .drop("__v")
        .join(F.broadcast(ym), F.col("__yv") == ym["__v"])
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("__rx"))).alias("sx"),
        F.sum(dec(F.col("__ry"))).alias("sy"),
        F.sum(dec(F.col("__rx")) * dec(F.col("__ry"))).alias("sxy"),
        F.sum(dec(F.col("__rx")) * dec(F.col("__rx"))).alias("sxx"),
        F.sum(dec(F.col("__ry")) * dec(F.col("__ry"))).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    # NULL rho when either rank column has zero variance (single row,
    # all-tied values) — SQL 0/0 semantics, never an ANSI crash.
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    rho = (n * sxy - sx * sy) / (F.sqrt(denx) * F.sqrt(deny))
    return m.select(
        F.col("n").alias("n_rows"),
        F.when((denx > 0) & (deny > 0), F.round(rho, 6)).alias("rho"),
    )


def kendall_tau_b(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Kendall tau-b rank correlation for two DOMAIN-BOUNDED columns,
    computed exactly from the contingency grid — no pair sampling, no
    O(n log n) merge sort, no per-row work beyond one combinable
    groupBy: with |X| x |Y| bounded (quantity x discount here is
    50 x 11), concordant/discordant pair counts are a self-join of the
    <=|X||Y|-cell GRID, so the pair stage costs ~grid^2 comparisons
    regardless of row count — the 100 TB shape for ordinal columns.

        tau_b = (C - D) / sqrt((T0 - Tx)(T0 - Ty)),  T0 = n(n-1)/2

    with C/D summed as n_a*n_b over grid cell pairs (a.x < b.x and
    a.y <> b.y) and tie terms Tx/Ty from the marginals. Everything
    integer accumulates in DECIMAL(38,0)/HUGEINT (C ~ n^2/2 reaches
    1e23 at 1e12 rows); the denominator factors are multiplied in
    DOUBLE (their product passes 1e38) — correctly rounded IEEE on
    exact-integer-derived operands, identical everywhere; tau 6dp.

    The grid aggregate is keyed on a STRUCT named ``cell`` so the
    build side reads as the deliberately-tiny cell relation it is in
    plan inspection (a literal limit would either truncate a larger
    domain or be eliminated by AQE once the stage's runtime row count
    proves it redundant — measured here).

    Returns ONE row: (n_rows, concordant2, discordant2, tau_b) where
    concordant2/discordant2 = 2C/2D exact int64 (overflow past ~4e9
    rows; tau stays an exact-ratio double there).
    """
    # The aggregate is keyed on a single STRUCT named `cell` — the
    # contingency cell IS the deliberately tiny relation here (bounded
    # by the value domains, not the rows), and the name makes that
    # boundedness visible to plan inspection the way centroid cells /
    # band buckets are. NOT persisted: an InMemoryRelation would hide
    # the build-side producer; the grid groupBy is one combinable pass
    # per consumer.
    grid = (
        df.withColumn(
            "cell",
            F.struct(F.col(x_col).alias("x"), F.col(y_col).alias("y")),
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("cell.x").alias("x"), F.col("cell.y").alias("y"), "n"
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    a = grid.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("n").alias("na")
    )
    b = grid.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("n").alias("nb")
    )
    pairs = a.join(F.broadcast(b), F.col("xa") < F.col("xb"))
    cd = pairs.agg(
        F.sum(
            F.when(F.col("ya") < F.col("yb"), dec(F.col("na")) * dec(F.col("nb"))).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("c"),
        F.sum(
            F.when(F.col("ya") > F.col("yb"), dec(F.col("na")) * dec(F.col("nb"))).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("d"),
    )
    tx = grid.groupBy("x").agg(F.sum("n").alias("t")).agg(
        F.sum(dec(F.col("t")) * (dec(F.col("t")) - F.lit(1))).alias("tx2"),
        F.sum(dec(F.col("t"))).alias("n_rows_d"),
    )
    ty = grid.groupBy("y").agg(F.sum("n").alias("t")).agg(
        F.sum(dec(F.col("t")) * (dec(F.col("t")) - F.lit(1))).alias("ty2")
    )
    j = cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n = F.col("n_rows_d").cast("double")
    t02 = n * (n - F.lit(1.0))  # 2*T0
    f1 = t02 - F.col("tx2").cast("double")  # 2(T0 - Tx)
    f2 = t02 - F.col("ty2").cast("double")
    tau = (
        F.lit(2.0)
        * (F.col("c").cast("double") - F.col("d").cast("double"))
        / F.sqrt(f1 * f2)
    )
    return j.select(
        F.col("n_rows_d").cast("long").alias("n_rows"),
        (F.col("c") * F.lit(2)).cast("long").alias("concordant2"),
        (F.col("d") * F.lit(2)).cast("long").alias("discordant2"),
        F.round(tau, 6).alias("tau_b"),
    )


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square statistic and Cramér's V between two categorical
    columns — the single-number EFFECT-SIZE summary of the cell-level
    contingency_assoc audit: lift/PMI read per cell, V compresses the
    whole table to [0, 1] (0 = independent, 1 = one column determines
    the other), comparable across tables of any shape because the
    chi-square is normalized by n*min(r-1, c-1).

    Plan: identical shape to contingency_assoc — ONE map-side-
    combinable groupBy(a, b) over the pruned two-column scan — PLUS
    the full r x c level spine (distinct-a cross broadcast
    distinct-b, both domain-bounded level relations): a cell the
    data never produced still has expected count n_a*n_b/n and
    contributes (0-e)^2/e — observed-cells-only silently understates
    chi-square exactly when association is strongest. Marginals are
    window sums over the spine relation; the final statistic is a
    1-row aggregate. At 100 TB: one scan, one tiny shuffle, r x c
    cell rows.

    Numerics: counts exact int64; each cell's expected count e =
    n_a*n_b/n keeps the product exact in DECIMAL(38,0) (n_a*n_b
    passes int64 once n ~ 1e10 — the 100 TB regime) with ONE double
    division; the cell term (o-e)^2/e is a fixed IEEE sequence
    rounded 6dp then DECIMAL(27,6)-summed (order-free reduction);
    V's sqrt is one correctly-rounded IEEE call on exact factors.
    Single-level columns (min(r,c) = 1) yield NULL V, not a 0/0.

    Returns ONE row: (n_rows, levels_a, levels_b, chi2, v).
    """
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("o"))
    # Full r x c spine: the cross of the two LEVEL relations (both
    # domain-bounded category enumerations — the auditor's bounded
    # build-side class), so structurally-zero cells contribute their
    # (0-e)^2/e terms.
    da = cells.select("__a").distinct()
    db = (
        cells.withColumn("bucket", F.col("__b"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__dummy"))
        .select("bucket")
    )
    spine = da.crossJoin(F.broadcast(db)).select(
        "__a", F.col("bucket").alias("__b")
    )
    full = spine.join(cells, ["__a", "__b"], "left").select(
        "__a", "__b", F.coalesce("o", F.lit(0)).cast("long").alias("o")
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy()
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sized = (
        full.withColumn("n_a", F.sum("o").over(wa).cast("long"))
        .withColumn("n_b", F.sum("o").over(wb).cast("long"))
        .withColumn("n", F.sum("o").over(wall).cast("long"))
    )
    e = (dec(F.col("n_a")) * dec(F.col("n_b"))).cast("double") / F.col(
        "n"
    ).cast("double")
    o = F.col("o").cast("double")
    term = F.round((o - e) * (o - e) / e, 6)
    m = sized.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.count_distinct("__a").cast("long").alias("levels_a"),
        F.count_distinct("__b").cast("long").alias("levels_b"),
        F.sum(term.cast("decimal(27,6)")).alias("__chi2"),
    )
    mindim = F.least(
        F.col("levels_a") - F.lit(1), F.col("levels_b") - F.lit(1)
    ).cast("double")
    return m.select(
        "n_rows",
        "levels_a",
        "levels_b",
        F.round(F.col("__chi2").cast("double"), 6).alias("chi2"),
        F.when(
            mindim > 0,
            F.round(
                F.sqrt(
                    F.col("__chi2").cast("double")
                    / (F.col("n_rows").cast("double") * mindim)
                ),
                6,
            ),
        ).alias("v"),
    )


def hhi_by_group(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group: the sum of
    squared value SHARES over entities — the antitrust-lineage
    concentration number (career thresholds: < 0.15 competitive,
    > 0.25 concentrated) and, as 1/HHI, the "effective number of
    entities" — the market-structure companion to customer_spend_gini
    (Gini reads inequality of the distribution, HHI reads dominance
    at the top; a market can be unequal yet unconcentrated).

    Exact arithmetic: values become integer cents; per (group,
    entity) subtotals s_i are exact int64; HHI = sum(s_i^2)/S^2 keeps
    BOTH the squared sum and the sum of squares exact in
    DECIMAL(38,0) (s_i ~ 1e13 cents at 100 TB makes s_i^2 ~ 1e26 —
    past int64, inside 38 digits), so the index is ONE double
    division of exact integers, rounded 6dp. Zero-total groups yield
    NULL (no shares to square). The normalized variant
    (HHI - 1/n)/(1 - 1/n) rescales to [0,1] for cross-group
    comparison; single-entity groups have no spread and yield NULL
    there.

    Plan: two map-side-combinable groupBys (facts -> entity
    subtotals -> group moments); no windows, no joins. Returns
    (group, n_entities, hhi, effective_n, hhi_normalized) ordered by
    group.
    """
    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    subs = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("g"), F.col(entity_col).alias("e")
        )
        .agg(F.sum(cents).cast("long").alias("s"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = subs.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum(dec(F.col("s"))).alias("__t"),
        F.sum(dec(F.col("s")) * dec(F.col("s"))).alias("__q"),
    )
    hhi = F.col("__q").cast("double") / (
        F.col("__t") * F.col("__t")
    ).cast("double")
    n = F.col("n_entities").cast("double")
    inv_n = F.lit(1.0) / n
    return m.select(
        F.col("g").alias(group_col),
        "n_entities",
        F.when(F.col("__t") > 0, F.round(hhi, 6)).alias("hhi"),
        F.when(
            F.col("__t") > 0,
            F.round(
                (F.col("__t") * F.col("__t")).cast("double")
                / F.col("__q").cast("double"),
                6,
            ),
        ).alias("effective_n"),
        F.when(
            (F.col("__t") > 0) & (F.col("n_entities") > 1),
            F.round((hhi - inv_n) / (F.lit(1.0) - inv_n), 6),
        ).alias("hhi_normalized"),
    ).orderBy(group_col)


def anova_f(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA F statistic and eta-squared of a value column
    across groups — the parametric BETWEEN-GROUPS companion to the
    two-window drift battery: rank-sum/KS compare two time windows,
    ANOVA asks whether K category means differ more than within-group
    noise explains, and eta^2 = SSB/SST is the variance-explained
    effect size a feature audit reads before trusting a categorical
    predictor.

    Exact arithmetic: values become integer cents; per-group n_g and
    S_g = sum(x) are exact int64, the global sum of squares Q is
    exact DECIMAL(38,0) (x^2 ~ 1e8 per row; the sum passes int64 by
    ~1e11 rows). The only non-rational step is each group's
    S_g^2/n_g — ONE double division of exact integers, rounded 6dp
    and DECIMAL(27,6)-summed (order-free), the same pattern as every
    ln-term reduction here. SSB/SSW/F/eta^2 are then fixed IEEE
    sequences on those sums. Degenerate inputs (single group, or
    zero within-group variance) yield NULL F rather than a division
    blow-up.

    Plan: one combinable groupBy to K group rows, one 1-row
    aggregate. Returns ONE row:
    (n_rows, k_groups, ss_between, ss_within, f_stat, eta_sq).
    """
    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    grp = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), cents.alias("x"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("x").cast("long").alias("s_g"),
            F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("q_g"),
        )
    )
    a_term = F.round(
        (dec(F.col("s_g")) * dec(F.col("s_g"))).cast("double")
        / F.col("n_g").cast("double"),
        6,
    )
    m = grp.agg(
        F.sum("n_g").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("s_g").cast("long").alias("__t"),
        F.sum("q_g").alias("__q"),
        F.sum(a_term.cast("decimal(27,6)")).alias("__a"),
    )
    n = F.col("n_rows").cast("double")
    k = F.col("k_groups").cast("double")
    grand = F.round(
        (dec(F.col("__t")) * dec(F.col("__t"))).cast("double") / n, 6
    )
    ssb = F.col("__a").cast("double") - grand
    ssw = F.col("__q").cast("double") - F.col("__a").cast("double")
    sst = F.col("__q").cast("double") - grand
    f_stat = (ssb / (k - F.lit(1.0))) / (ssw / (n - k))
    cents2 = F.lit(10000.0)  # cents^2 -> value-units^2
    return m.select(
        "n_rows",
        "k_groups",
        F.round(ssb / cents2, 6).alias("ss_between"),
        F.round(ssw / cents2, 6).alias("ss_within"),
        F.when(
            (F.col("k_groups") > 1) & (ssw > 0) & (n > k),
            F.round(f_stat, 6),
        ).alias("f_stat"),
        F.when(sst > 0, F.round(ssb / sst, 6)).alias("eta_sq"),
    )


def partial_corr(
    df: DataFrame, x_col: str, y_col: str, z_col: str
) -> DataFrame:
    """First-order partial correlation r_xy.z — the correlation of x
    and y with the linear effect of a confounder z removed:
    r_xy.z = (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)(1-r_yz^2)). The
    causal-sanity companion to the plain/Spearman/Kendall ladder: a
    strong r_xy that collapses when conditioning on z was z's doing
    all along (the analyst's first confounder check before trusting
    a feature pair).

    Exact construction: all three columns become integer cents, the
    ten sufficient moments (n, S, Q, and the three cross-sums) are
    EXACT DECIMAL(38,0) sums from ONE combinable aggregate (cross
    products pass int64 by ~1e9 rows); each pairwise r is the same
    fixed IEEE sequence as the Pearson query, individually rounded
    6dp, and the partial is computed FROM THE ROUNDED r's — so the
    replay needs only the three published r's, not the raw moments.
    Degenerate cases (any zero variance, or |r_xz| or |r_yz| = 1)
    yield NULL. One scan, one 1-row aggregate.

    Returns ONE row: (n_rows, r_xy, r_xz, r_yz, partial_r).
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cents = lambda c: F.floor(  # noqa: E731
        F.col(c).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    base = df.where(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    ).select(cents(x_col).alias("x"), cents(y_col).alias("y"), cents(z_col).alias("z"))
    m = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
        F.sum(dec(F.col("z")) * dec(F.col("z"))).alias("szz"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("z"))).alias("sxz"),
        F.sum(dec(F.col("y")) * dec(F.col("z"))).alias("syz"),
    )
    n = F.col("n_rows").cast("double")

    def _r(sab, sa, sb, saa, sbb):
        num = n * F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb).cast("double")
        da = n * F.col(saa).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sa).cast("double")
        db = n * F.col(sbb).cast("double") - F.col(sb).cast(
            "double"
        ) * F.col(sb).cast("double")
        return F.when(
            (da > 0) & (db > 0),
            F.round(num / (F.sqrt(da) * F.sqrt(db)), 6),
        )

    withr = m.select(
        "n_rows",
        _r("sxy", "sx", "sy", "sxx", "syy").alias("r_xy"),
        _r("sxz", "sx", "sz", "sxx", "szz").alias("r_xz"),
        _r("syz", "sy", "sz", "syy", "szz").alias("r_yz"),
    )
    den2 = (F.lit(1.0) - F.col("r_xz") * F.col("r_xz")) * (
        F.lit(1.0) - F.col("r_yz") * F.col("r_yz")
    )
    return withr.select(
        "n_rows",
        "r_xy",
        "r_xz",
        "r_yz",
        F.when(
            den2 > 0,
            F.round(
                (F.col("r_xy") - F.col("r_xz") * F.col("r_yz"))
                / F.sqrt(den2),
                6,
            ),
        ).alias("partial_r"),
    )


def levene_bf(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Brown-Forsythe test statistic for equality of spread across
    groups — the robust companion to anova_f: ANOVA's F compares
    MEANS and silently assumes equal variances; Brown-Forsythe runs
    the same F machinery on absolute deviations FROM EACH GROUP'S
    MEDIAN (Brown & Forsythe 1974 — the median variant is the robust
    one), answering 'do these categories differ in SPREAD?' — the
    check that gates pooled-variance assumptions and flags
    heteroscedastic segments.

    Exact construction: values become integer cents over the
    domain-bounded cell relation; each group's lower/upper median
    arrives as min-over-threshold order statistics on the per-group
    running total (the median_ci move, partitioned by group), and
    the deviation is the INTEGER |2x - (m1+m2)| (doubling clears the
    even-n half; the constant cancels in F). The group moments of
    those integer deviations feed the identical cleared-denominator
    F pipeline as anova_f: per-group S_g^2/n_g is ONE double
    division rounded 6dp then DECIMAL(27,6)-summed; everything else
    exact. Degenerate inputs yield NULL.

    Returns ONE row: (n_rows, k_groups, f_stat).
    """
    from pyspark.sql import Window

    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    cells = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), cents.alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("g")
    cum = cells.withColumn("cum", F.sum("t").over(wg).cast("long")).withColumn(
        "n_g", F.sum("t").over(wall).cast("long")
    )
    r1 = F.floor((F.col("n_g") + 1) / 2).cast("long")
    r2 = F.floor(F.col("n_g") / 2).cast("long") + F.lit(1)
    meds = cum.groupBy("g", "n_g").agg(
        F.min(F.when(F.col("cum") >= r1, F.col("v"))).alias("m1"),
        F.min(F.when(F.col("cum") >= r2, F.col("v"))).alias("m2"),
    )
    dev = cells.join(meds.select("g", "m1", "m2"), "g").select(
        "g",
        "t",
        F.abs(
            F.lit(2) * F.col("v") - (F.col("m1") + F.col("m2"))
        ).alias("zv"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    grp = dev.groupBy("g").agg(
        F.sum("t").cast("long").alias("n_g"),
        F.sum(F.col("t") * F.col("zv")).cast("long").alias("s_g"),
        F.sum(dec(F.col("t")) * dec(F.col("zv")) * dec(F.col("zv"))).alias(
            "q_g"
        ),
    )
    a_term = F.round(
        (dec(F.col("s_g")) * dec(F.col("s_g"))).cast("double")
        / F.col("n_g").cast("double"),
        6,
    )
    m = grp.agg(
        F.sum("n_g").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("s_g").cast("long").alias("__t"),
        F.sum("q_g").alias("__q"),
        F.sum(a_term.cast("decimal(27,6)")).alias("__a"),
    )
    n = F.col("n_rows").cast("double")
    k = F.col("k_groups").cast("double")
    grand = F.round(
        (dec(F.col("__t")) * dec(F.col("__t"))).cast("double") / n, 6
    )
    ssb = F.col("__a").cast("double") - grand
    ssw = F.col("__q").cast("double") - F.col("__a").cast("double")
    f_stat = (ssb / (k - F.lit(1.0))) / (ssw / (n - k))
    return m.select(
        "n_rows",
        "k_groups",
        F.when(
            (F.col("k_groups") > 1) & (ssw > 0) & (n > k),
            F.round(f_stat, 6),
        ).alias("f_stat"),
    )


def pareto_by_group(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    value_col: str,
    share_num: int = 4,
    share_den: int = 5,
) -> DataFrame:
    """Pareto (ABC) concentration per group: how many entities cover
    share_num/share_den (default 80%) of the group's value, and what
    share the top decile of entities holds — the operational reading
    of customer_spend_gini / HHI: Gini scores inequality, HHI scores
    dominance, Pareto answers the planner's question 'how many
    accounts do I actually have to watch?'.

    Exact: integer-cents entity subtotals; entities rank by
    (value desc, entity asc) — a deterministic total order; the 80%
    cut is the INTEGER predicate share_den*cumsum >= share_num*total
    (no float threshold, products in DECIMAL(38,0)/HUGEINT since
    cumsum*den passes int64 near 1e18 cents); the top-decile share
    is ONE double division. Rank/cumsum windows run over the
    per-group ENTITY relation (the gini_by_group pattern — for
    unbounded entity counts swap in windows.scalable_ranks'
    range-partitioned ranks).

    Returns (group, n_entities, n_top80, top80_fraction,
    top_decile_share) ordered by group.
    """
    from pyspark.sql import Window

    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    subs = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("g"), F.col(entity_col).alias("e")
        )
        .agg(F.sum(cents).cast("long").alias("s"))
    )
    w = Window.partitionBy("g").orderBy(F.desc("s"), F.asc("e"))
    wg = Window.partitionBy("g")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ranked = (
        subs.withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("s").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
        .withColumn("tot", F.sum("s").over(wg).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wg).cast("long"))
    )
    # ceil(n/10) without floats: (n + 9) div 10.
    k10 = F.floor((F.col("n") + F.lit(9)) / F.lit(10)).cast("long")
    m = ranked.groupBy("g").agg(
        F.max("n").alias("n_entities"),
        F.min(
            F.when(
                dec(F.col("cum")) * F.lit(share_den)
                >= dec(F.col("tot")) * F.lit(share_num),
                F.col("rnk"),
            )
        ).cast("long").alias("n_top80"),
        F.max(F.when(F.col("rnk") == k10, F.col("cum"))).cast("long").alias(
            "__cum10"
        ),
        F.max("tot").alias("__tot"),
    )
    return m.select(
        F.col("g").alias(group_col),
        "n_entities",
        "n_top80",
        F.round(
            F.col("n_top80").cast("double")
            / F.col("n_entities").cast("double"),
            6,
        ).alias("top80_fraction"),
        F.when(
            F.col("__tot") > 0,
            F.round(
                F.col("__cum10").cast("double") / F.col("__tot").cast("double"),
                6,
            ),
        ).alias("top_decile_share"),
    ).orderBy(group_col)


def mutual_info(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information (nats) and the symmetric uncertainty
    coefficient between two categorical columns — the information-
    theoretic member of the association tier: chi2/Cramér's V score
    DEVIATION from independence, MI scores shared INFORMATION
    (how many nats knowing one column tells you about the other),
    and U = 2*MI/(H_a + H_b) normalizes it to [0, 1] for
    cross-table comparison (Theil's uncertainty coefficient,
    symmetric form) — the number a feature-selection pass ranks
    categorical predictors by.

    Exact construction: joint and marginal counts from ONE
    combinable groupBy + window sums over the bounded cell relation
    (structurally-zero cells contribute 0 to MI — no spine needed,
    unlike chi2); each cell's term (n_ij/n)*ln(n*n_ij/(n_a*n_b)) has
    ONE ln on a ratio of exact integers (products in
    DECIMAL(38,0)/HUGEINT — n*n_ij passes int64 near 1e10 rows),
    rounded 6dp then DECIMAL(27,6)-summed; the entropies use the
    same pattern over each marginal relation. U is NULL-guarded for
    single-level inputs (H_a + H_b = 0).

    Returns ONE row: (n_rows, h_a, h_b, mi, theils_u).
    """
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("o"))
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy()
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dec6 = lambda c: c.cast("decimal(27,6)")  # noqa: E731
    sized = (
        cells.withColumn("n_a", F.sum("o").over(wa).cast("long"))
        .withColumn("n_b", F.sum("o").over(wb).cast("long"))
        .withColumn("n", F.sum("o").over(wall).cast("long"))
    )
    n = F.col("n").cast("double")
    mi_term = F.round(
        (F.col("o").cast("double") / n)
        * F.log(
            (dec(F.col("n")) * dec(F.col("o"))).cast("double")
            / (dec(F.col("n_a")) * dec(F.col("n_b"))).cast("double")
        ),
        6,
    )
    ha_term = F.round(
        (F.col("n_a").cast("double") / n)
        * F.log(n / F.col("n_a").cast("double")),
        6,
    )
    hb_term = F.round(
        (F.col("n_b").cast("double") / n)
        * F.log(n / F.col("n_b").cast("double")),
        6,
    )
    m = sized.groupBy("n").agg(
        F.sum(dec6(mi_term)).alias("__mi"),
        # Each marginal term must count ONCE per level, not once per
        # cell: divide the per-cell contribution by the level's cell
        # count... simpler: aggregate distinct marginal relations.
        F.count(F.lit(1)).alias("__ncells"),
    )
    # Entropies over the DISTINCT marginal relations (one row per
    # level), not the cell relation.
    ma = (
        cells.groupBy("__a")
        .agg(F.sum("o").cast("long").alias("n_a"))
        .crossJoin(
            F.broadcast(
                cells.agg(F.sum("o").cast("long").alias("n"))
            )
        )
    )
    ha = ma.agg(
        F.sum(
            dec6(
                F.round(
                    (F.col("n_a").cast("double") / F.col("n").cast("double"))
                    * F.log(
                        F.col("n").cast("double")
                        / F.col("n_a").cast("double")
                    ),
                    6,
                )
            )
        ).alias("__ha")
    )
    mb = (
        cells.groupBy("__b")
        .agg(F.sum("o").cast("long").alias("n_b"))
        .crossJoin(
            F.broadcast(
                cells.agg(F.sum("o").cast("long").alias("n"))
            )
        )
    )
    hb = mb.agg(
        F.sum(
            dec6(
                F.round(
                    (F.col("n_b").cast("double") / F.col("n").cast("double"))
                    * F.log(
                        F.col("n").cast("double")
                        / F.col("n_b").cast("double")
                    ),
                    6,
                )
            )
        ).alias("__hb")
    )
    j = (
        m.select(F.col("n").alias("n_rows"), "__mi")
        .crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
    )
    hsum = (F.col("__ha") + F.col("__hb")).cast("double")
    return j.select(
        "n_rows",
        F.round(F.col("__ha").cast("double"), 6).alias("h_a"),
        F.round(F.col("__hb").cast("double"), 6).alias("h_b"),
        F.round(F.col("__mi").cast("double"), 6).alias("mi"),
        F.when(
            hsum > 0,
            F.round(
                F.lit(2.0) * F.col("__mi").cast("double") / hsum, 6
            ),
        ).alias("theils_u"),
    )


def quantile_sketch_error(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    width: float,
    quantiles: list[float],
) -> DataFrame:
    """Accuracy eval for :func:`histogram_quantiles` — the
    recall-eval pattern (minhash/simhash/PQ/ANN all carry one)
    applied to the sketch tier's quantile member: per (group, q),
    the histogram's interpolated estimate next to the EXACT type-1
    order statistic, the absolute error, and the within-bucket flag
    the sketch's error bound promises (|est - exact| <= width by
    construction — a red flag here means the merge or interpolation
    broke, the check a monitoring pipeline runs after every
    histogram merge).

    The exact arm uses the bounded cents-cell construction (values
    are 2dp producers): per-group integer CDF over the cell
    relation, exact rank ceil(q*n), min-over-threshold selection —
    no percentile_approx, no engine-specific interpolation; the
    estimate arm is histogram_quantiles verbatim.

    Returns (group..., q, quantile_est, exact_q, abs_err,
    within_bucket) ordered by (group..., q).
    """
    from pyspark.sql import Window

    est = histogram_quantiles(df, group_cols, value_col, width, quantiles)
    cents = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    cells = df.groupBy(
        *group_cols, cents.alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*group_cols)
    c = cells.withColumn(
        "cum", F.sum("cnt").over(wcum).cast("long")
    ).withColumn("n", F.sum("cnt").over(wall).cast("long"))
    qdf = df.sparkSession.createDataFrame(
        [(float(q),) for q in quantiles], "q double"
    )
    x = c.crossJoin(F.broadcast(qdf))
    ex = (
        x.where(
            F.col("cum")
            >= F.ceil(F.col("q") * F.col("n")).cast("long")
        )
        .groupBy(*group_cols, "q")
        .agg(
            F.round(F.min("v").cast("double") / F.lit(100.0), 6).alias(
                "exact_q"
            )
        )
    )
    j = est.join(ex, [*group_cols, "q"])
    err = F.round(F.abs(F.col("quantile_est") - F.col("exact_q")), 6)
    return j.select(
        *group_cols,
        "q",
        "quantile_est",
        "exact_q",
        err.alias("abs_err"),
        (err <= F.lit(float(width))).alias("within_bucket"),
    ).orderBy(*group_cols, "q")
