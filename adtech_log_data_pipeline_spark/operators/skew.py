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


# session-scoped probe memos; never cross JVMs, so a fresh session always
# re-probes. Two tiers:
#   exact — semanticHash + sameSemantics-confirmed: reuses the count (a
#     confirmed-equal plan IS the same key set) and holds the caller's
#     plan, which the CacheManager serves from any still-cached equal one;
#   fingerprint — md5 of the normalized plan's JSON expression tree with
#     ExprId nodes erased: Spark does NOT normalize attr IDs inside
#     CTE-bearing plans (CTERelationRef), so two identical constructions
#     of the bid-log CTE chain never compare sameSemantics-equal. The
#     fingerprint tier reuses ONLY the probe COUNT (a routing hint): a
#     collision could at worst pick a suboptimal rung — every rung is
#     row-identical by law — never serve a wrong key set, because the
#     join always builds from the caller's own dim plan.
# BOTH tiers fold in the scanned source files' size/mtime fingerprint
# (the _fixture_key discipline), so an in-place rewrite of the lookup's
# files within a session invalidates the memo instead of serving a stale
# held frame or count (round-11 ADVICE).
_PROBE_MEMO: dict[tuple[int, str], tuple[DataFrame, int]] = {}
_PROBE_FP_MEMO: dict[str, int] = {}


def _plan_fingerprint(df: DataFrame) -> str:
    """md5 of the normalized plan's JSON tree with the two
    session-global counters erased: every structured ExprId node
    ({"id": N, "jvmId": ...}) is replaced wholesale, and every
    NamedLambdaVariable's counter-suffixed name (pyspark's Python-side
    lambda binder names ``x_1``, ``x_2``, … — a fresh counter value per
    CONSTRUCTION, verified on Spark 4.1.2) is stripped to its base
    name. Without the latter, identical lookup plans containing
    higher-order functions (transform/filter with Python lambdas)
    never fingerprint-equal and the memo tier silently never hits
    (round-12 ADVICE). Binder names are alpha-equivalent, so
    suffix-stripping is semantically sound; the residual
    nested-shadowing collision (same base name at two depths) is
    covered by the tier's contract — a collision can only mis-route a
    rung, never serve wrong rows.

    The JSON form — unlike toString(), where the attribute ref
    `tag#1` and the string literal 'tag#1' render identically — keeps
    data literals in a distinct "value" field, so two lookups
    differing only in a literal can never collide under ID
    normalization (round-11 ADVICE)."""
    import hashlib
    import json
    import re

    s = df._jdf.queryExecution().normalized().prettyJson()
    if "LocalRelation" in s or "LogicalRDD" in s or "ExistingRDD" in s:
        # a driver-local/RDD-backed relation renders WITHOUT its data, so
        # two different literal key sets would collide — no fingerprint
        # tier for those (they are test/driver constructs; real lookups
        # scan files, whose paths the plan JSON carries)
        return ""

    def norm(o):
        if isinstance(o, dict):
            if o.get("product-class", "").endswith(".ExprId"):
                return "EID"
            if o.get("class", "").endswith(".NamedLambdaVariable"):
                o = {
                    **o,
                    "name": re.sub(r"_\d+$", "", o.get("name", "")),
                }
            return {k: norm(v) for k, v in o.items()}
        if isinstance(o, list):
            return [norm(v) for v in o]
        return o

    canon = json.dumps(norm(json.loads(s)), sort_keys=True)
    return hashlib.md5(canon.encode()).hexdigest()


def _source_files_key(df: DataFrame) -> str:
    """(path, size, mtime_ns) fingerprint of the plan's scanned files —
    folded into both probe-memo tiers so a within-session in-place
    rewrite of the lookup's source files changes the key and forces a
    fresh probe. Listing leaf files is far cheaper than the count the
    memo avoids; a non-local/statless path degrades to path-only (still
    distinct per file set, just not rewrite-sensitive there).

    Files come from the ANALYZED plan's leaves, NOT DataFrame.inputFiles:
    inputFiles reads the plan AFTER cache substitution, so once the first
    probe holds the key frame, an identical second lookup resolves to the
    InMemoryRelation and reports ZERO files — the key would flip and the
    memo would never hit again for any file-backed lookup (caught by
    tests/test_skew.py::test_probe_memo_invalidates_on_source_rewrite).
    The analyzed plan keeps the file relation either way."""
    import hashlib
    import os
    from urllib.parse import urlparse

    files: list[str] = []
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            try:
                arr = leaf.relation().location().inputFiles()
            except Exception:
                continue  # non-file leaf (local relation, RDD, view)
            files.extend(arr[j] for j in range(len(arr)))
    except Exception:
        return "nofiles"
    if not files:
        return "nofiles"
    parts = []
    for f in sorted(files):
        p = urlparse(f).path or f
        try:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(p)
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:16]


def _probed_key_count(dim_keys: DataFrame) -> tuple[DataFrame, int, str]:
    """The routed-join capacity probe: materialize the distinct key
    projection once (held — the chosen rung's join reads it back from
    cache instead of recomputing the lookup plan) and count it, memoized
    per session (see the memo-tier note above). Returns
    (held keys, count, "fresh"|"memo")."""
    from ..functions._cache import hold

    src = _source_files_key(dim_keys)
    h = (dim_keys.semanticHash(), src)
    hit = _PROBE_MEMO.get(h)
    if hit is not None and dim_keys.sameSemantics(hit[0]):
        # hold the CALLER's plan, not the memoized frame: the memoized
        # plan may carry an earlier job's Observation, and joining it into
        # this one would name that metric twice (DUPLICATED_METRICS_NAME).
        # The CacheManager's sameResult lookup still serves cached keys.
        return hold(dim_keys), hit[1], "memo"
    # a fresh probe supersedes any entries for the SAME plan over OLDER
    # source files: without eviction each fixture rewrite in a long
    # session leaks a retained DataFrame handle plus its stale count
    # (round-12 ADVICE)
    for k in [k for k in _PROBE_MEMO if k[0] == h[0] and k[1] != src]:
        del _PROBE_MEMO[k]
    fp = _plan_fingerprint(dim_keys)
    if fp:
        for k in [
            k
            for k in _PROBE_FP_MEMO
            if k.startswith(f"{fp}:") and k != f"{fp}:{src}"
        ]:
            del _PROBE_FP_MEMO[k]
        fp = f"{fp}:{src}"
    kdim = hold(dim_keys)
    if fp:
        n_fp = _PROBE_FP_MEMO.get(fp)
        if n_fp is not None:
            return kdim, n_fp, "memo"
    n_keys = kdim.count()
    _PROBE_MEMO[h] = (kdim, n_keys)
    if fp:
        _PROBE_FP_MEMO[fp] = n_keys
    return kdim, n_keys, "fresh"


def probe_memo_clear() -> None:
    """Drop every memoized probe (tests / explicit fixture rewrite)."""
    _PROBE_MEMO.clear()
    _PROBE_FP_MEMO.clear()


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

    Probe reuse WITHIN a session: the key-count probe is memoized keyed
    by the lookup plan's semantic fingerprint (``semanticHash`` +
    ``sameSemantics`` confirm — the same discipline
    graph_reachability_indexed applies to its on-disk artifact), so a
    board run whose parity queries share the popular/blacklist key sets
    pays each probe once per JVM instead of once per query. The memo
    never crosses sessions — a fresh JVM re-probes, so the
    probe-is-the-contract rule holds where it matters; a caller-supplied
    precomputed ``report`` bypass is deliberately NOT offered.

    ``report`` (optional dict) receives {"rung", "n_keys", "skew",
    "probe"} ("fresh"/"memo") so callers/tests can assert the routing
    decision. Output is CORRECTNESS-identical across all three rungs
    (law-tested)."""
    if how not in ("left_anti", "left_semi"):
        raise ValueError("routed_anti_join supports left_anti/left_semi")
    keys = [key] if isinstance(key, str) else list(key)

    kdim, n_keys, probe_src = _probed_key_count(dim.select(*keys).distinct())
    if n_keys <= routing.broadcast_max_keys:
        if report is not None:
            report.update(
                {
                    "rung": "broadcast",
                    "n_keys": n_keys,
                    "skew": None,
                    "probe": probe_src,
                }
            )
        return facts.join(F.broadcast(kdim), keys, how)
    hist = facts.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    mx, mean = hist.agg(F.max("_n"), F.avg("_n")).first()
    skew = float(mx) / float(mean) if mean else 0.0
    if skew >= routing.skew_factor:
        if report is not None:
            report.update(
                {"rung": "salted", "n_keys": n_keys, "skew": skew, "probe": probe_src}
            )
        return salted_anti_join(facts, kdim, keys, routing.n_salts, how)
    if report is not None:
        report.update(
            {"rung": "outer_null", "n_keys": n_keys, "skew": skew, "probe": probe_src}
        )
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
