"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and the
matching ``oracle_sql()`` on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified). Queries with no
oracle get a rows-only check. Usage:

    python tools/compare.py [--vanilla] [--exec-hash] [sf_dir] [query ...]

A query whose result has 0 rows on both sides prints ``PASS-EMPTY``
instead of ``PASS``: the match is vacuous, and the summary counts these
lines (the exit status counts failures only). Every verdict line
carries the matched value hash (``hash=<md5>``; the
oracle's hash is identical by construction when the line says PASS), so
a log scraped into LOCALGATE is self-certifying. ``--exec-hash``
switches to an executor-side commutative multiset hash — the Spark
result never collects to the driver, letting a bare 1 GiB session gate
the full sf0.1 board in one session (the sorted-md5 default remains the
submission-grade check).

``--vanilla`` builds a PLAIN SparkSession (no engine configs at all) —
the driver's documented environment. Round 4's only red row
(stream_attribution_outer) passed locally under ``get_spark()`` (Arrow
on) but crashed on the driver's vanilla session; this mode reproduces
config-dependent failures before submission.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    # Mirror the driver's canonicalizer: sort the RAW values before
    # stringifying.  An array/list-typed column is unsortable there
    # (pandas raises "unhashable type: 'list'") and must fail here too —
    # round 3's image_embed ERR only reached the scoreboard because the
    # old local order (stringify, then sort) masked the shape bug.
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(
        by=list(df.columns), kind="mergesort"
    ).reset_index(drop=True)
    out = pd.DataFrame()
    for c in df.columns:
        out[c] = df[c].map(_cell)
    return out


def _cell(v):
    import numpy as np

    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<null>"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, float):
        # exact — a 1-ulp engine difference must FAIL here (the driver's
        # hash may be exact; masking differences locally would be worse)
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    canon = _canon(df)
    h = hashlib.md5()
    for row in canon.itertuples(index=False):
        h.update(("\x1f".join(map(str, row)) + "\x1e").encode())
    return h.hexdigest()


# --- executor-side multiset hash (--exec-hash mode) ------------------------

#: Mersenne prime 2^61-1 — the commutative row-hash accumulator's modulus
_MHASH_MOD = (1 << 61) - 1


def _cell_int(v):
    """Integer-typed cell per the SPARK SCHEMA: pandas promotes a nullable
    int64 column to float64 — but only in frames/batches that actually
    contain a null, so the same bigint value renders "58" in one Arrow
    batch and "58.0" in another (and in the oracle's fetchdf). Schema-
    driven integer rendering makes the multiset hash batch-invariant.

    Only EXACTLY-integral values get the int render: a genuinely
    fractional oracle value (58.9 vs engine 58) must fall through to
    repr so the multiset hash FAILS instead of truncate-matching; and
    above 2^53 a float64 can't represent the bigint exactly, so repr
    there too rather than minting invented digits from int(v)."""
    if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NA:
        return "<null>"
    if isinstance(v, float):
        if v.is_integer() and abs(v) <= 2.0**53:
            return str(int(v))
        return repr(v)
    return str(int(v))


def _row_hashes(
    pdf: pd.DataFrame, cols: list[str], int_cols: frozenset[str]
) -> list[int]:
    """Per-row 64-bit md5 prefixes of the canonical cell strings (shared
    _cell; integer-typed columns schema-normalized), order-free."""
    c = pdf.reindex(cols, axis=1)
    canon = pd.DataFrame(
        {k: c[k].map(_cell_int if k in int_cols else _cell) for k in cols}
    )
    return [
        int.from_bytes(
            hashlib.md5(("\x1f".join(map(str, row)) + "\x1e").encode()).digest()[:8],
            "big",
        )
        for row in canon.itertuples(index=False)
    ]


def multiset_hash_pandas(
    df: pd.DataFrame, int_cols: frozenset[str] = frozenset()
) -> tuple[int, int]:
    """(row count, commutative multiset hash) of a pandas frame."""
    hs = _row_hashes(df, sorted(df.columns), int_cols)
    return len(hs), sum(hs) % _MHASH_MOD


def spark_int_cols(sdf) -> frozenset[str]:
    """The integer-typed columns per the Spark schema — the canonical
    typing applied to BOTH sides of an --exec-hash compare."""
    return frozenset(
        f.name
        for f in sdf.schema.fields
        if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
    )


def multiset_hash_spark(sdf) -> tuple[int, int]:
    """(row count, commutative multiset hash) computed EXECUTOR-SIDE: each
    Arrow batch maps to one (n, sum-of-row-hashes) row, the driver folds
    the per-batch rows — the full result never collects, so a
    memory-constrained session (the bare 1 GiB driver) can gate queries
    whose results are large. Equal multisets of canonical rows give equal
    sums regardless of partitioning/order; the 61-bit modular sum is
    weaker than the sorted-md5 transcript, which is why this is an
    opt-in mode, not the default."""
    cols = sorted(sdf.columns)
    int_cols = spark_int_cols(sdf)

    def fold(batches):
        for pdf in batches:
            hs = _row_hashes(pdf, cols, int_cols)
            yield pd.DataFrame({"n": [len(hs)], "h": [sum(hs) % _MHASH_MOD]})

    parts = sdf.mapInPandas(fold, "n long, h long").collect()
    return (
        sum(r["n"] for r in parts),
        sum(r["h"] for r in parts) % _MHASH_MOD,
    )


def main() -> int:
    argv = sys.argv[1:]
    vanilla = "--vanilla" in argv
    if vanilla:
        argv = [a for a in argv if a != "--vanilla"]
    # --exec-hash: compare via the executor-side multiset hash — results
    # never collect to the driver, so the full board fits a bare 1 GiB
    # session (the LOCALGATE_r10 chunking cause was compare.py's OWN
    # collect pressure, not the engine's)
    exec_hash = "--exec-hash" in argv
    if exec_hash:
        argv = [a for a in argv if a != "--exec-hash"]
    # repeatable --conf k=v: extra engine-session configs, for conf-matrix
    # sweeps (e.g. --conf spark.sql.codegen.wholeStage=false); ignored
    # with --vanilla (that session is deliberately config-free)
    extra_conf: dict[str, str] = {}
    while "--conf" in argv:
        i = argv.index("--conf")
        k, _, v = argv[i + 1].partition("=")
        extra_conf[k] = v
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod

    if vanilla:
        # the driver's environment: a bare builder, zero engine configs —
        # no Arrow, no AQE overrides, no timezone pin, default memory
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[*]")
            .appName("oracle-compare-vanilla")
            .getOrCreate()
        )
    else:
        from adtech_log_data_pipeline_spark.session import get_spark

        spark = get_spark("oracle-compare", extra_conf=extra_conf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    from adtech_log_data_pipeline_spark.functions._cache import release_cached

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    empty = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if exec_hash:
            try:
                res = fn(spark, sf_dir)
                s_cols = sorted(res.columns)
                n_s, h_s = multiset_hash_spark(res)
                release_cached()
            except Exception as e:
                print(f"FAIL {name}: spark error: {e}")
                failures.append(name)
                continue
            t_spark = time.time() - t0
            htxt = f"xsum:{h_s:016x}"
            if name not in oracles:
                print(
                    f"ok?  {name}: rows-only check, {n_s} rows"
                    f" [{t_spark:.1f}s] hash={htxt}"
                )
                continue
            try:
                odf = con.execute(oracles[name]).fetchdf()
            except Exception as e:
                print(f"FAIL {name}: oracle error: {e}")
                failures.append(name)
                continue
            n_o, h_o = multiset_hash_pandas(odf, spark_int_cols(res))
            problems = []
            if n_s != n_o:
                problems.append(f"rows {n_s} vs {n_o}")
            if s_cols != sorted(odf.columns):
                problems.append(f"cols {s_cols} vs {sorted(odf.columns)}")
            if not problems and h_s != h_o:
                problems.append("multiset-hash mismatch")
            if problems:
                print(f"FAIL {name}: {'; '.join(problems)} [{t_spark:.1f}s]")
                failures.append(name)
            else:
                verdict = "PASS-EMPTY" if n_s == 0 else "PASS"
                empty += n_s == 0
                print(f"{verdict} {name}: {n_s} rows [{t_spark:.1f}s] hash={htxt}")
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            release_cached()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(
                f"ok?  {name}: rows-only check, {len(sdf)} rows"
                f" [{t_spark:.1f}s] hash={value_hash(sdf)}"
            )
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            continue
        problems = []
        hs = None
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                a, b = _canon(sdf), _canon(odf)
                neq = (a != b).any(axis=1)
                print(a[neq].head(5))
                print(b[neq].head(5))
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{t_spark:.1f}s]")
            failures.append(name)
        else:
            verdict = "PASS-EMPTY" if len(sdf) == 0 else "PASS"
            empty += len(sdf) == 0
            print(f"{verdict} {name}: {len(sdf)} rows [{t_spark:.1f}s] hash={hs}")

    # an empty result on both sides passes vacuously: it checks the
    # columns and nothing else, so it is counted apart
    print(f"\n{empty} vacuous passes (PASS-EMPTY: 0 rows on both sides)")
    print(f"{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
