"""Skew-resistant aggregation — the salting pattern for hot keys
(SURVEY.md §4 scale notes: "salt the bundle aggregation if app popularity
is skewed"; AQE skew-join handles joins, but a single hot GROUP BY key
still funnels into one reducer for non-algebraic aggregates).

``salted_count_distinct`` demonstrates the two-phase shape for the
engine's hottest real case — distinct users per (possibly viral) app:

  phase 1: groupBy(key, salt = hash(value) % n) -> partial distinct count
           (each hot key spreads over n reducers; distinct sets are
           disjoint across salts BECAUSE the salt is derived from the
           value, so phase 2 may simply SUM)
  phase 2: groupBy(key) -> sum of partial counts

For algebraic aggregates (sum/count/min/max) Spark's built-in partial
aggregation already neutralizes skew; salting matters exactly for
distinct-style state.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _free_col(name: str, *dfs: DataFrame) -> str:
    """A column name not present in any of ``dfs`` — internal helper
    columns (_salt, _hit, _partial) must never capture or clobber a user
    column of the same name; the join/filter would turn ambiguous or
    silently drop user data."""
    taken = {c for df in dfs for c in df.columns}
    while name in taken:
        name = "_" + name
    return name


def salted_count_distinct(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    n_salts: int = 16,
    alias: str = "n_distinct",
) -> DataFrame:
    """Exact distinct count of `value_cols` tuples per `key_cols` group,
    skew-spread over `n_salts` reducers. Equivalent to
    groupBy(keys).agg(countDistinct(values)) for any input (test-checked);
    use when a handful of keys hold a large share of the rows."""
    sc, pc = _free_col("_salt", df), _free_col("_partial", df)
    salt: Column = F.pmod(F.hash(*[F.col(c) for c in value_cols]), F.lit(n_salts))
    partial = (
        df.select(*key_cols, *value_cols)
        .withColumn(sc, salt)
        .groupBy(*key_cols, sc)
        .agg(F.countDistinct(*value_cols).alias(pc))
    )
    return partial.groupBy(*key_cols).agg(F.sum(pc).alias(alias))


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-spread equi-join for a too-big-to-broadcast build side with hot
    keys: fact rows get a random-ish salt derived from the WHOLE row hash
    (deterministic, no rand() — rerun-stable), the dim side replicates
    once per salt, and the join keys on (key, salt) so one hot key spreads
    over ``n_salts`` reducers instead of funneling into one.

    Use when AQE's skew-join split can't help: AQE splits oversized
    PARTITIONS after the shuffle, but a single key whose hash bucket
    exceeds every split threshold (or a sort-merge join disabled by AQE
    constraints) still hot-spots. Cost: the dim side shuffles n_salts x
    its size — only worth it for dimension tables well under the fact's
    hot-key mass. `how` supports inner/left (the salted dim is a pure
    replication, so multiplicity is preserved exactly).

    Equivalence to the plain join is test-checked for every `how`."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    fact_cols = [c for c in facts.columns]
    sc = _free_col("_salt", facts, dim)
    salt = F.pmod(F.hash(*[F.col(c) for c in fact_cols]), F.lit(n_salts))
    f = facts.withColumn(sc, salt)
    d = dim.crossJoin(
        F.broadcast(
            facts.sparkSession.range(n_salts).select(
                F.col("id").cast("int").alias(sc)
            )
        )
    )
    out = f.join(d, [key, sc], how)
    return out.drop(sc)


def salted_anti_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str | list[str],
    n_salts: int = 16,
    how: str = "left_anti",
) -> DataFrame:
    """Skew-spread LEFT ANTI / LEFT SEMI join — the shape AQE cannot fix.

    tests/test_skew.py empirically pins (this Spark build) that
    OptimizeSkewedJoin does NOT split anti/semi joins, and the reference's
    J1 popularity lookup (suspicious-ID filtering on a possibly-viral
    bundle key) is exactly an anti join on a potentially hot key. When
    the lookup side outgrows broadcast capacity AND the key is hot, this
    operator is the documented fallback (SURVEY.md §4): fact rows get a
    deterministic whole-row-hash salt, the lookup side's KEYS replicate
    once per salt, and the join keys on (key, salt) — so within every
    salt the lookup side holds the FULL key set, membership semantics are
    exact, and the hot key's fact rows spread over ``n_salts`` reducers.

    Left multiplicity is preserved exactly (anti/semi never duplicate
    left rows); lookup-side duplicates are harmless (membership is
    idempotent). Cost: the lookup side shuffles n_salts x its KEY COLUMN
    only (projected before replication — the narrow relation is what
    replicates, never the full dim row). Equivalence to the plain
    anti/semi join is law-tested on the zipf fixture."""
    if how not in ("left_anti", "left_semi"):
        raise ValueError("salted_anti_join supports left_anti/left_semi")
    keys = [key] if isinstance(key, str) else list(key)
    fact_cols = [c for c in facts.columns]
    sc = _free_col("_salt", facts)
    salt = F.pmod(F.hash(*[F.col(c) for c in fact_cols]), F.lit(n_salts))
    f = facts.withColumn(sc, salt)
    d = dim.select(*keys).crossJoin(
        F.broadcast(
            facts.sparkSession.range(n_salts).select(
                F.col("id").cast("int").alias(sc)
            )
        )
    )
    return f.join(d, [*keys, sc], how).drop(sc)


@dataclass(frozen=True)
class AntiJoinRouting:
    """Capacity/skew thresholds for ``routed_anti_join`` (SURVEY.md §4
    ladder; reference shape: the J1 popularity side input,
    D/transforms/SuspiciousIDs.java:65-75).

    ``broadcast_max_keys``: lookup-side distinct-key budget for the
    broadcast rung. Default 4M keys ≈ 100 MB at ~25 B/key row — sized to
    a driver/executor broadcast budget, not to sf0.01 (where every real
    lookup side is thousands of keys and rung 1 always wins).
    ``skew_factor``: hottest-fact-key load vs the mean key's load
    (exact, from the post-map-side-combine histogram) above which the
    anti shape is rewritten to the salted formulation. 8.0: well above
    benign zipf noise, well below the 15x fixture that measurably
    hot-spots a reducer (tests/test_skew.py).
    """

    broadcast_max_keys: int = 4_000_000
    skew_factor: float = 8.0
    n_salts: int = 16


def routed_anti_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str | list[str],
    how: str = "left_anti",
    routing: AntiJoinRouting = AntiJoinRouting(),
    report: dict | None = None,
) -> DataFrame:
    """Capacity-probed LEFT ANTI/SEMI join — picks the SURVEY §4 ladder
    rung automatically instead of hard-coding ``F.broadcast``:

      rung 1 ``broadcast``:  lookup side's distinct keys fit the
          broadcast budget → broadcast hash anti/semi join (skew-immune,
          no fact shuffle). This is the engine default and the only rung
          that ever engages on the board fixtures.
      rung 2 ``outer_null``: lookup side too big to broadcast, fact key
          not hot → LEFT OUTER on the DISTINCT key set + null/not-null
          filter. Row-identical to the anti/semi join (distinct keys ⇒
          multiplicity preserved) but expressed as a plain equi-join so
          AQE's OptimizeSkewedJoin CAN split oversized partitions — it
          refuses to split anti/semi shapes (empirically pinned in
          tests/test_skew.py).
      rung 3 ``salted``:     lookup side too big to broadcast AND the
          fact key is hot (max/mean ≥ skew_factor) → ``salted_anti_join``
          (exact membership, hot key spread over n_salts reducers).

    Probe cost, by design: rung 1 needs ONE count on the lookup side's
    key projection (the dimension, never the fact — cheap even at
    100 TB, and free when the lookup derives from an already-held
    aggregate). The fact-side histogram probe (one hash agg whose
    shuffle carries one row per distinct key after map-side combine)
    only runs when the lookup has already outgrown broadcast capacity.

    ``report`` (optional dict) receives {"rung", "n_keys", "skew"} so
    callers/tests can assert the routing decision. Output is
    CORRECTNESS-identical across all three rungs (law-tested)."""
    if how not in ("left_anti", "left_semi"):
        raise ValueError("routed_anti_join supports left_anti/left_semi")
    keys = [key] if isinstance(key, str) else list(key)

    from ..functions._cache import hold

    # held: the chosen rung's join reads the key set back from cache
    # instead of recomputing the lookup plan
    kdim = hold(dim.select(*keys).distinct())
    n_keys = kdim.count()
    if n_keys <= routing.broadcast_max_keys:
        if report is not None:
            report.update({"rung": "broadcast", "n_keys": n_keys, "skew": None})
        return facts.join(F.broadcast(kdim), keys, how)
    hist = facts.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    mx, mean = hist.agg(F.max("_n"), F.avg("_n")).first()
    skew = float(mx) / float(mean) if mean else 0.0
    if skew >= routing.skew_factor:
        if report is not None:
            report.update({"rung": "salted", "n_keys": n_keys, "skew": skew})
        return salted_anti_join(facts, kdim, keys, routing.n_salts, how)
    if report is not None:
        report.update({"rung": "outer_null", "n_keys": n_keys, "skew": skew})
    hc = _free_col("_hit", facts)
    hit = kdim.withColumn(hc, F.lit(1))
    joined = facts.join(hit, keys, "left_outer")
    cond = F.col(hc).isNull() if how == "left_anti" else F.col(hc).isNotNull()
    return joined.filter(cond).drop(hc)


def skew_report(
    df: DataFrame, key_cols: list[str], top_n: int = 5
) -> DataFrame:
    """Hot-key diagnosis — the report you run BEFORE choosing a salting
    or AQE strategy for a 100 TB join/aggregation: the top-N heaviest
    keys with their row share and their load factor versus a perfectly
    uniform key distribution.

    Output (rank, key, n_rows, share_ppm, skew_vs_mean_r6):
      - share_ppm: exact integer floor of rows*1e6/total;
      - skew_vs_mean_r6: n_rows / (total / n_keys) — "this key carries
        Nx the average key's load". Computed as double(n_rows) * n_keys
        / total: the int->double conversions are exact below 2^53 and
        the multiply+divide is the same two-IEEE-op sequence in both
        engines (an int64 product would overflow at ~1e9 keys x 1e9
        rows).

    Scale shape: one hash aggregation keyed on the (possibly skewed!)
    key — safe because count is algebraic, partial-aggregated map-side;
    the top-N is TakeOrdered (limit + sort pushed into a per-partition
    heap, no global sort shuffle); totals ride a broadcast 1-row
    aggregate. Rows with a NULL key component are excluded."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    rows = df
    for c in key_cols:
        rows = rows.filter(F.col(c).isNotNull())
    counts = rows.select(key.alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    from ..functions._cache import hold

    counts = hold(counts)
    totals = counts.agg(
        F.sum("n_rows").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(F.col("n_rows").desc(), "key").limit(top_n)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("n_rows").desc(), "key")
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.row_number().over(w).alias("rank"),
            "key",
            "n_rows",
            F.expr("(n_rows * 1000000) div total").alias("share_ppm"),
            F.round(
                F.col("n_rows").cast("double")
                * F.col("n_keys")
                / F.col("total"),
                6,
            ).alias("skew_vs_mean_r6"),
        )
    )
