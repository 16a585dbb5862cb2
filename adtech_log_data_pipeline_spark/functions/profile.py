"""Table profiling — the per-batch data-quality report an ingest pipeline
runs before admitting data (null fractions, exact cardinalities, value /
length bounds per column). The declared `table_profile` query instantiates
it over `documents`; the operator itself is schema-driven and runs on any
DataFrame.

Scale shape: ONE aggregation pass over the table produces every metric
(Spark expands multi-countDistinct via a single Expand + hash agg — the
rows scan once); the per-column unpivot is a row-generator over the 1-row
aggregate. At 100 TB swap the exact countDistinct for
approx_count_distinct (``approx_distinct=True``) — exact distinct counts
are the one metric whose state grows with cardinality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    MapType,
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)


def table_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """Per-column quality metrics:
    (col, n_rows, n_nulls, n_distinct, min_val, max_val), all bigint.
    Bounds by type: numeric/boolean -> value; string -> LENGTH (length
    bounds are collation-free, so the report is engine-portable); date ->
    epoch days; timestamp -> epoch millis. Any other type (array, struct,
    binary, map) still gets null/cardinality metrics with NULL bounds
    (maps are not comparable in Spark, so their n_distinct is NULL
    too) — no column type fails the profile.

    ``approx_distinct=True`` swaps the exact countDistinct (whose agg
    state grows with cardinality) for HyperLogL++ — the 100 TB posture;
    approx results are engine-specific, so the oracle-gated query keeps
    the exact default."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = columns if columns is not None else list(fields)
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        t = fields[c]
        distinct: Column = (
            F.approx_count_distinct(c) if approx_distinct else F.countDistinct(c)
        )
        if isinstance(t, NumericType):
            lo, hi = F.min(c), F.max(c)
        elif isinstance(t, StringType):
            lo, hi = F.min(F.length(c)), F.max(F.length(c))
        elif isinstance(t, BooleanType):
            v = F.col(c).cast("bigint")
            lo, hi = F.min(v), F.max(v)
        elif isinstance(t, DateType):
            v = F.datediff(F.col(c), F.lit("1970-01-01"))
            lo, hi = F.min(v), F.max(v)
        elif isinstance(t, TimestampType):
            # zoned timestamp: an absolute instant — unix_millis is
            # already engine/host-portable
            v = F.unix_millis(F.col(c))
            lo, hi = F.min(v), F.max(v)
        elif isinstance(t, TimestampNTZType):
            # NTZ: NEVER route through cast('timestamp') (that reads
            # spark.sql.session.timeZone — the vanilla driver session has
            # no timezone pin). Epoch millis from the LOCAL datetime
            # fields: to_date/hour/minute/extract(second) on NTZ read the
            # stored fields directly, timezone-free. extract(second)
            # carries the fractional part (decimal), so floor(sec*1000)
            # is the full millis-within-minute.
            v = (
                F.datediff(F.to_date(F.col(c)), F.lit("1970-01-01")).cast("bigint")
                * 86400000
                + F.hour(F.col(c)).cast("bigint") * 3600000
                + F.minute(F.col(c)).cast("bigint") * 60000
                + F.floor(
                    F.expr(f"extract(second from `{c}`)").cast("decimal(18,6)")
                    * 1000
                ).cast("bigint")
            )
            lo, hi = F.min(v), F.max(v)
        else:
            lo, hi = F.lit(None), F.lit(None)
            if isinstance(t, MapType):
                distinct = F.lit(None).cast("bigint")
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            distinct.alias(f"__nd_{c}"),
            lo.cast("bigint").alias(f"__lo_{c}"),
            hi.cast("bigint").alias(f"__hi_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("__n_rows").alias("n_rows"),
                (F.col("__n_rows") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__lo_{c}").alias("min_val"),
                F.col(f"__hi_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("m")).select("m.*")


# ---------------------------------------------------------------------------
# optimizer observability: histogram join-cardinality estimation
# ---------------------------------------------------------------------------

#: heavy-hitter histogram width for join_cardinality_audit
JOINCARD_HH = 50


def join_cardinality_audit(
    a_keys: DataFrame, b_keys: DataFrame, h: int = JOINCARD_HH
) -> DataFrame:
    """Estimate |A join B| on a key from per-side HEAVY-HITTER histograms
    (the System-R / end-biased-histogram recipe: Ioannidis & Christodoulakis
    1993) and audit the estimate against the exact join size — the
    observability a 100 TB planner needs to know when its statistics have
    drifted (the same estimate-vs-exact audit shape as hll_error_audit /
    cm_error_audit).

    Inputs are single-column key relations (column ``k``). Estimator:

    * exact counts for each side's top-``h`` keys (ties by key — fully
      deterministic, stated identically by the oracle);
    * matched heavy keys contribute ``cA * cB`` exactly;
    * a heavy key of one side absent from the other's histogram
      contributes ``c * (res_rows div res_d)`` (uniformity over the
      other side's residual);
    * residual x residual contributes
      ``resA_rows * resB_rows div max(resA_d, resB_d)`` (containment).

    The TRUE size is computed as sum(cA * cB) over the key-count join —
    key-sized relations, never the pair blowup. All arithmetic is bigint
    with truncating division on non-negative operands.

    Output (1 row): (n_a, n_b, true_pairs, est_pairs, err_ppm)."""
    from ._cache import hold

    def side(df: DataFrame, tag: str):
        cnt = hold(
            df.filter(F.col("k").isNotNull())
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"c_{tag}"))
        )
        hh = hold(
            cnt.orderBy(F.col(f"c_{tag}").desc(), F.col("k")).limit(h)
        )
        # residual census: totals minus the heavy slice (1-row each)
        tot = cnt.agg(
            F.sum(f"c_{tag}").cast("bigint").alias(f"rows_{tag}"),
            F.count(F.lit(1)).cast("bigint").alias(f"d_{tag}"),
        )
        hh_tot = hh.agg(
            F.coalesce(F.sum(f"c_{tag}"), F.lit(0))
            .cast("bigint")
            .alias(f"hhrows_{tag}"),
            F.count(F.lit(1)).cast("bigint").alias(f"hhd_{tag}"),
        )
        return cnt, hh, tot.crossJoin(hh_tot).select(
            "*",
            (F.col(f"rows_{tag}") - F.col(f"hhrows_{tag}")).alias(
                f"resrows_{tag}"
            ),
            (F.col(f"d_{tag}") - F.col(f"hhd_{tag}")).alias(f"resd_{tag}"),
        )
    cnt_a, hh_a, res_a = side(a_keys, "a")
    cnt_b, hh_b, res_b = side(b_keys, "b")

    true_pairs = (
        cnt_a.join(cnt_b, "k")
        .agg(
            F.coalesce(F.sum(F.col("c_a") * F.col("c_b")), F.lit(0))
            .cast("bigint")
            .alias("true_pairs")
        )
    )
    # heavy-heavy matches: exact
    hhj = hh_a.join(hh_b, "k", "full").select(
        F.col("c_a"), F.col("c_b")
    )
    hh_match = hhj.filter(
        F.col("c_a").isNotNull() & F.col("c_b").isNotNull()
    ).agg(
        F.coalesce(F.sum(F.col("c_a") * F.col("c_b")), F.lit(0))
        .cast("bigint")
        .alias("hh_hh")
    )
    hh_a_only = hhj.filter(
        F.col("c_a").isNotNull() & F.col("c_b").isNull()
    ).agg(F.coalesce(F.sum("c_a"), F.lit(0)).cast("bigint").alias("a_only"))
    hh_b_only = hhj.filter(
        F.col("c_b").isNotNull() & F.col("c_a").isNull()
    ).agg(F.coalesce(F.sum("c_b"), F.lit(0)).cast("bigint").alias("b_only"))

    one = (
        res_a.crossJoin(res_b)
        .crossJoin(hh_match)
        .crossJoin(hh_a_only)
        .crossJoin(hh_b_only)
        .crossJoin(true_pairs)
    )
    est = (
        F.col("hh_hh")
        + F.when(
            F.col("resd_b") > 0,
            F.col("a_only") * F.expr("resrows_b div resd_b"),
        ).otherwise(F.lit(0))
        + F.when(
            F.col("resd_a") > 0,
            F.col("b_only") * F.expr("resrows_a div resd_a"),
        ).otherwise(F.lit(0))
        + F.when(
            F.greatest(F.col("resd_a"), F.col("resd_b")) > 0,
            F.expr(
                "(resrows_a * resrows_b) div greatest(resd_a, resd_b)"
            ),
        ).otherwise(F.lit(0))
    ).cast("bigint")
    return one.select(
        F.col("rows_a").alias("n_a"),
        F.col("rows_b").alias("n_b"),
        "true_pairs",
        est.alias("est_pairs"),
    ).select(
        "n_a",
        "n_b",
        "true_pairs",
        "est_pairs",
        F.when(
            F.col("true_pairs") > 0,
            F.expr(
                "(abs(est_pairs - true_pairs) * 1000000) div true_pairs"
            ),
        )
        .cast("bigint")
        .alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# robust location stats: winsorized / trimmed means with exact percentiles
# ---------------------------------------------------------------------------

#: trim percent (each tail) for trimmed_stats
TRIM_PCT = 5

#: bucket width (cents) for the two-phase percentile prefix scan
_TRIM_BUCKET = 1 << 20


def trimmed_stats(
    values: DataFrame, trim_pct: int = TRIM_PCT
) -> DataFrame:
    """Robust location report over a bigint column ``cents``: exact
    p{trim}/p{100-trim} order statistics, mean, WINSORIZED mean (tails
    clamped to the percentile bounds) and TRIMMED mean (tails dropped) —
    the outlier-resistant summary a feature pipeline uses where a plain
    mean is one fat-finger away from garbage (Tukey's robust statistics,
    stated integer-exact).

    Percentile picks avoid a global sort window: per-distinct-value
    counts, then the same two-phase bucket prefix scan as the AUC /
    conformal machinery (bucket-local cumsum + bounded per-bucket offset
    relation). The p-th order statistic is the smallest value whose
    cumulative count reaches ceil(p*n/100). Means are truncating bigint
    division on non-negative cents.

    Output (1 row): (n_rows, p_lo_cents, p_hi_cents, mean_cents,
    winsor_mean_cents, trimmed_mean_cents, n_below, n_above)."""
    from pyspark.sql import Window

    from ._cache import hold

    p = int(trim_pct)
    per = hold(
        values.filter(F.col("cents").isNotNull())
        .groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")),
    )
    bucketed = per.withColumn(
        "bucket", F.expr(f"cents div {_TRIM_BUCKET}")
    )
    local = bucketed.withColumn(
        "local_cum",
        F.sum("cnt").over(
            Window.partitionBy("bucket")
            .orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # bounded one-row-per-bucket offsets
    offsets = (
        bucketed.groupBy("bucket")
        .agg(F.sum("cnt").alias("btot"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("btot").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "offset")
    )
    cum = local.join(F.broadcast(offsets), "bucket").select(
        "cents", "cnt", (F.col("local_cum") + F.col("offset")).alias("cum")
    )
    tot = per.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.sum(F.col("cnt") * F.col("cents")).cast("bigint").alias("s"),
    )
    ranks = tot.select(
        "n_rows",
        "s",
        F.expr(f"({p} * n_rows + 99) div 100").alias("r_lo"),
        F.expr(f"({100 - p} * n_rows + 99) div 100").alias("r_hi"),
    )
    bounds = (
        cum.crossJoin(F.broadcast(ranks))
        .agg(
            F.min(F.when(F.col("cum") >= F.col("r_lo"), F.col("cents")))
            .alias("p_lo_cents"),
            F.min(F.when(F.col("cum") >= F.col("r_hi"), F.col("cents")))
            .alias("p_hi_cents"),
        )
    )
    return (
        per.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(ranks))
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.expr("max(s) div max(n_rows)").alias("mean_cents"),
            F.max("p_lo_cents").alias("p_lo_cents"),
            F.max("p_hi_cents").alias("p_hi_cents"),
            F.expr(
                "sum(cnt * least(greatest(cents, p_lo_cents), p_hi_cents))"
                " div max(n_rows)"
            ).alias("winsor_mean_cents"),
            F.expr(
                "sum(CASE WHEN cents BETWEEN p_lo_cents AND p_hi_cents"
                " THEN cnt * cents ELSE 0 END)"
                " div sum(CASE WHEN cents BETWEEN p_lo_cents AND"
                " p_hi_cents THEN cnt ELSE 0 END)"
            ).alias("trimmed_mean_cents"),
            F.sum(
                F.when(F.col("cents") < F.col("p_lo_cents"), F.col("cnt"))
                .otherwise(F.lit(0))
            ).cast("bigint").alias("n_below"),
            F.sum(
                F.when(F.col("cents") > F.col("p_hi_cents"), F.col("cnt"))
                .otherwise(F.lit(0))
            ).cast("bigint").alias("n_above"),
        )
        .select(
            "n_rows", "p_lo_cents", "p_hi_cents", "mean_cents",
            "winsor_mean_cents", "trimmed_mean_cents", "n_below",
            "n_above",
        )
    )
