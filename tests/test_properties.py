"""Property-based tests (hypothesis) for the core aggregation laws — the
reference's mergeDps is an associative/commutative monoid fold
(DeviceProfileUtils.java:186-240); in Spark that translates to: the result
must be invariant to input order and physical partitioning, and duplicating
the input must exactly double the counts while fixing the bounds."""

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from adtech_log_data_pipeline_spark.operators import device_profiles, valid_bid_logs
from tests.conftest import bid_log, bid_logs_df

UUIDS = [f"{i:08d}-1111-2222-3333-444444444444" for i in range(3)]

row_strategy = st.fixed_dictionaries(
    {
        "device_ifa": st.sampled_from(UUIDS + [u.lower() for u in UUIDS]),
        "device_os": st.sampled_from(["android", "Android", "ios", "IOS"]),
        "app_bundle": st.sampled_from(["a.app", "b.app", "A.app"]),
        "exchange": st.sampled_from([1, 5, 21]),
        "received_at": st.integers(min_value=1, max_value=10_000),
        "geo_country": st.sampled_from(["USA", "usa", "CAN"]),
        "geo_region": st.sampled_from(["r1", "r2"]),
    }
)


def canon(df):
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        d["apps"] = sorted(
            (a["bundle"], a["first_at"], a["last_at"], tuple(sorted(a["count_per_exchange"].items())))
            for a in d["apps"]
        )
        d["geos"] = sorted((g["country"], g["region"]) for g in d["geos"])
        out.append(tuple(sorted(d.items())))
    return sorted(out)


def build(spark, rows, n_parts=1):
    base = [bid_log(bid_id=str(i), processed_at=r["received_at"] + 1, **r) for i, r in enumerate(rows)]
    df = bid_logs_df(spark, base).repartition(n_parts)
    return device_profiles(valid_bid_logs(df))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(row_strategy, min_size=1, max_size=30))
def test_partitioning_and_order_invariance(spark, rows):
    one = canon(build(spark, rows, n_parts=1))
    many = canon(build(spark, list(reversed(rows)), n_parts=7))
    assert one == many


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(row_strategy, min_size=1, max_size=15))
def test_duplication_doubles_counts_fixes_bounds(spark, rows):
    doubled = canon(build(spark, rows + rows, n_parts=3))
    base = canon(build(spark, rows))
    assert len(doubled) == len(base)
    for b, d in zip(base, doubled):
        db, dd = dict(b), dict(d)
        assert db["os"] == dd["os"] and db["uuid"] == dd["uuid"]
        assert db["first_at"] == dd["first_at"] and db["last_at"] == dd["last_at"]
        assert db["geos"] == dd["geos"]
        for (ab, af, al, ac), (bb, bf, bl, bc) in zip(db["apps"], dd["apps"]):
            assert (ab, af, al) == (bb, bf, bl)
            assert {k: 2 * v for k, v in ac} == dict(bc)


# ---------------------------------------------------------------------------
# sessionize interval-merge laws (streaming/sessionize.py::_merge_points)


from adtech_log_data_pipeline_spark.streaming.sessionize import (  # noqa: E402
    SESSION_GAP_MS,
    _merge_points,
)

_ts_strategy = st.lists(
    st.integers(min_value=0, max_value=10 * SESSION_GAP_MS),
    min_size=1,
    max_size=40,
)


def _batch_sessionize(points):
    """The batch reference: sort, split on gap > SESSION_GAP_MS."""
    out = []
    start = end = None
    n = 0
    for t in sorted(points):
        if start is None:
            start, end, n = t, t, 1
        elif t - end > SESSION_GAP_MS:
            out.append((start, end, n))
            start, end, n = t, t, 1
        else:
            end, n = max(end, t), n + 1
    out.append((start, end, n))
    return sorted(out)


@given(points=_ts_strategy, cuts=st.lists(st.integers(0, 39), max_size=4))
@settings(max_examples=300, deadline=None)
def test_merge_points_batch_slicing_invariant(points, cuts):
    """Folding the same points through _merge_points in ANY batch slicing
    and ANY within-slice order yields exactly the batch sessionization —
    the invariant that makes the streaming operator micro-batch-safe."""
    bounds = sorted({c for c in cuts if c < len(points)})
    slices, prev = [], 0
    for b in bounds + [len(points)]:
        if b > prev:
            slices.append(points[prev:b])
            prev = b
    sessions = []
    for s in slices:
        sessions = _merge_points(sessions, s, SESSION_GAP_MS)
    assert sorted(sessions) == _batch_sessionize(points)


@given(points=_ts_strategy)
@settings(max_examples=200, deadline=None)
def test_merge_points_conserves_events_and_order(points):
    sessions = _merge_points([], points, SESSION_GAP_MS)
    assert sum(n for _, _, n in sessions) == len(points)
    # sessions are disjoint, ordered, and separated by more than the gap
    for (s1, e1, _), (s2, _, _) in zip(sessions, sessions[1:]):
        assert s1 <= e1 < s2
        assert s2 - e1 > SESSION_GAP_MS


# --- round-4 curation operator laws ----------------------------------------

_corpus_strategy = st.lists(
    st.tuples(
        st.sampled_from(["srcA", "srcB", "srcC"]),
        st.lists(
            st.sampled_from(["w%d" % i for i in range(12)]),
            min_size=1,
            max_size=8,
        ),
    ),
    min_size=1,
    max_size=25,
)


def _corpus_df(spark, rows):
    return spark.createDataFrame(
        [(i, " ".join(ws), src) for i, (src, ws) in enumerate(rows)],
        "doc_id long, text string, source string",
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_corpus_strategy)
def test_token_budget_mixture_nesting_law(spark, rows):
    """For ANY corpus: per source, the kept set at a smaller budget is a
    subset of the kept set at a larger budget (hash-threshold nesting),
    and every rate is in (0, 1e6]."""
    from adtech_log_data_pipeline_spark.functions.text import token_budget_mixture

    docs = _corpus_df(spark, rows)
    by_rate = {}
    for pct in (20, 80):
        out = token_budget_mixture(docs, budget_pct=pct).collect()
        kept = {}
        for r in out:
            assert 0 < r["rate_ppm"] <= 1_000_000
            kept.setdefault(r["source"], set()).add(r["doc_id"])
        by_rate[pct] = kept
    for src, small in by_rate[20].items():
        assert small <= by_rate[80].get(src, set())


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_corpus_strategy)
def test_shingle_dup_rate_duplication_law(spark, rows):
    """Appending an exact copy of every document forces dup_ppm to 1e6 on
    ALL rows (every distinct shingle now appears in >= 2 docs), and
    dup_ppm is always within [0, 1e6]."""
    from adtech_log_data_pipeline_spark.functions.text import shingle_dup_rate

    docs = _corpus_df(spark, rows)
    base = shingle_dup_rate(docs).collect()
    assert all(0 <= r["dup_ppm"] <= 1_000_000 for r in base)

    doubled_rows = [
        (i, " ".join(ws), src) for i, (src, ws) in enumerate(rows)
    ]
    doubled_rows += [
        (1000 + i, t, s) for (i, t, s) in doubled_rows
    ]
    doubled = spark.createDataFrame(
        doubled_rows, "doc_id long, text string, source string"
    )
    out = shingle_dup_rate(doubled).collect()
    assert all(r["dup_ppm"] == 1_000_000 for r in out)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_corpus_strategy, chunk=st.integers(3, 10), overlap=st.integers(0, 2))
def test_doc_chunks_coverage_law(spark, rows, chunk, overlap):
    """For ANY corpus and any (chunk, overlap) with stride > 0: chunk
    token counts tile the document exactly — sum(n_chunk_tokens) equals
    n + overlap * (k - 1) — chunk_starts advance by the stride, and the
    final chunk reaches the last token."""
    from adtech_log_data_pipeline_spark.functions.text import doc_chunks, tokens_col

    docs = _corpus_df(spark, rows)
    import pyspark.sql.functions as F

    n_by_doc = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(tokens_col()).alias("n")).collect()
    }
    stride = chunk - overlap
    out = {}
    for r in doc_chunks(docs, chunk_tokens=chunk, overlap=overlap).collect():
        out.setdefault(r["doc_id"], []).append(r)
    assert set(out) == set(n_by_doc)
    for doc_id, chunks in out.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        n = n_by_doc[doc_id]
        k = len(chunks)
        assert [c["chunk_start"] for c in chunks] == [i * stride for i in range(k)]
        assert sum(c["n_chunk_tokens"] for c in chunks) == n + overlap * (k - 1)
        last = chunks[-1]
        assert last["chunk_start"] + last["n_chunk_tokens"] == n
        # no chunk fully contained in its predecessor
        assert all(c["n_chunk_tokens"] > overlap for c in chunks[:-1]) or k == 1


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1.0, 1.0, allow_nan=False, width=32), min_size=3, max_size=3
        ),
        min_size=2,
        max_size=12,
    ),
    seed=st.integers(0, 3),
)
def test_semantic_dedup_partitioning_invariance(spark, vecs, seed):
    """kept/cid assignments are identical under any input partitioning
    (integer-micro distances + r6 cosine leave no room for shuffle-order
    effects)."""
    from adtech_log_data_pipeline_spark.functions.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    n = len(vecs)
    a = {
        r["vec_id"]: (r["cid"], r["kept"])
        for r in semantic_dedup(emb, k=2, iters=2, total=n).collect()
    }
    b = {
        r["vec_id"]: (r["cid"], r["kept"])
        for r in semantic_dedup(
            emb.repartition(3 + seed), k=2, iters=2, total=n
        ).collect()
    }
    assert a == b and len(a) == n


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_corpus_strategy)
def test_temperature_mix_budget_nesting_law(spark, rows):
    """Like the token-budget law: per source, the kept set at a smaller
    temperature budget nests inside the larger one (target tokens are
    monotone in the budget; hash thresholds preserve monotonicity)."""
    from adtech_log_data_pipeline_spark.functions.text import temperature_mix

    docs = _corpus_df(spark, rows)
    kept = {}
    for pct in (20, 80):
        by_src = {}
        for r in temperature_mix(docs, budget_pct=pct).collect():
            assert 0 < r["rate_ppm"] <= 1_000_000
            by_src.setdefault(r["source"], set()).add(r["doc_id"])
        kept[pct] = by_src
    for src, small in kept[20].items():
        assert small <= kept[80].get(src, set())


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_corpus_strategy)
def test_dedup_incoming_verdict_laws(spark, rows):
    """For ANY corpus: every incoming doc (id%10==7) emits exactly one
    verdict row; a dup's match is always an EXISTING doc with jaccard at
    or above the threshold; fresh docs carry NULL match columns."""
    from adtech_log_data_pipeline_spark.functions.dedup import (
        INCOMING_DUP_THRESHOLD,
        dedup_incoming,
    )

    docs = _corpus_df(spark, rows)
    incoming = {r[0] for r in docs.select("doc_id").collect() if r[0] % 10 == 7}
    out = dedup_incoming(docs).collect()
    assert {r["doc_id"] for r in out} == incoming and len(out) == len(incoming)
    for r in out:
        if r["is_dup"]:
            assert r["match_doc"] % 10 != 7
            assert r["jaccard"] >= INCOMING_DUP_THRESHOLD
        else:
            assert r["match_doc"] is None and r["jaccard"] is None


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(
            st.integers(-1000, 1000) | st.none(),
            st.text(max_size=6) | st.none(),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_table_profile_matches_python_truth(spark, vals):
    """Profile metrics equal the Python-computed truth for any frame."""
    from adtech_log_data_pipeline_spark.functions.profile import table_profile

    df = spark.createDataFrame(vals, "n long, s string")
    out = {r["col"]: r for r in table_profile(df).collect()}
    ns = [v for v, _ in vals if v is not None]
    ss = [s for _, s in vals if s is not None]
    assert out["n"]["n_rows"] == len(vals)
    assert out["n"]["n_nulls"] == len(vals) - len(ns)
    assert out["n"]["n_distinct"] == len(set(ns))
    assert out["n"]["min_val"] == (min(ns) if ns else None)
    assert out["n"]["max_val"] == (max(ns) if ns else None)
    assert out["s"]["n_nulls"] == len(vals) - len(ss)
    assert out["s"]["n_distinct"] == len(set(ss))
    assert out["s"]["min_val"] == (min(len(s) for s in ss) if ss else None)
    assert out["s"]["max_val"] == (max(len(s) for s in ss) if ss else None)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["UNKNOWN_OS_TYPE", "ANDROID", "IOS"]),
            st.text(max_size=12),  # incl. newlines, quotes, unicode
        ),
        min_size=1,
        max_size=12,
    )
)
def test_b64_codec_roundtrip_law(spark, rows, tmp_path_factory):
    """Base64 DeviceId lines written as BidLogJob's b64 sink writes them
    read back through decode_b64_proto as the identity for ANY rows
    except default instances (UNKNOWN_OS_TYPE with an empty uuid, which
    encode to an empty line and are dropped, the documented F7
    semantics) — newlines and quotes in text values must survive the
    line-oriented sink."""
    from collections import Counter

    from adtech_log_data_pipeline_spark.jobs.bidlog_job import _device_id
    from adtech_log_data_pipeline_spark.sources.protowire import (
        DEVICE_ID,
        OS_TO_NAME,
        decode_b64_proto,
        encode_b64_proto,
    )

    d = str(tmp_path_factory.mktemp("b64rt"))
    df = spark.createDataFrame(rows, "os string, uuid string")
    encode_b64_proto(df, DEVICE_ID, _device_id).write.mode("overwrite").text(d)
    back = decode_b64_proto(
        spark.read.text(d),
        DEVICE_ID,
        "os string, uuid string",
        lambda m: {"os": OS_TO_NAME[m["os"]], "uuid": m["uuid"]},
    )
    got = Counter((r["os"], r["uuid"]) for r in back.collect())
    want = Counter(r for r in rows if r != ("UNKNOWN_OS_TYPE", ""))
    assert got == want


# --- band_cap_audit conservation laws (round 6: the "no silent caps" rule) --

_doc_text = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]),
    min_size=1,
    max_size=8,
).map(" ".join)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_doc_text, min_size=1, max_size=12),
    cap=st.integers(min_value=1, max_value=6),
)
def test_band_cap_audit_conservation(spark, texts, cap):
    """For ANY corpus and cap: members partition into kept + dropped
    (capped index row count == n_members - n_dropped, per scheme);
    pressure flags agree (n_capped_buckets == 0 iff n_dropped == 0);
    max_bucket never exceeds the member count."""
    from adtech_log_data_pipeline_spark.functions._cache import release_cached
    from adtech_log_data_pipeline_spark.functions.dedup import (
        band_cap_audit,
        minhash_band_rows,
        _simhash_piece_rows_raw,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    rows = band_cap_audit(docs, bucket_cap=cap).collect()
    by_scheme: dict[str, list] = {}
    for r in rows:
        by_scheme.setdefault(r["scheme"], []).append(r)
        assert r["max_bucket"] <= r["n_members"]
        assert (r["n_capped_buckets"] == 0) == (r["n_dropped"] == 0)
        assert 0 <= r["n_dropped"] <= r["n_members"]
    assert set(by_scheme) == {"minhash_band", "simhash_piece"}

    mh_audit = {r["band"]: r for r in by_scheme["minhash_band"]}
    kept_rows = minhash_band_rows(docs, bucket_cap=cap)
    per_band_kept = {
        r["band"]: r["n"]
        for r in kept_rows.groupBy("band").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for band, audit in mh_audit.items():
        assert per_band_kept.get(band, 0) == audit["n_members"] - audit["n_dropped"]

    sh_audit = {r["band"]: r for r in by_scheme["simhash_piece"]}
    w = Window.partitionBy("piece", "pval").orderBy("doc_id")
    sh_kept = (
        _simhash_piece_rows_raw(docs)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in sh_kept:
        audit = sh_audit[r["piece"]]
        assert r["n"] == audit["n_members"] - audit["n_dropped"]
    release_cached()


# --- exact-substring span dedup laws (functions/dedup.py::dup_spans) -------

corpus_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=30),
    min_size=1,
    max_size=8,
)


def _expected_spans(token_docs, k):
    """Python reference: count every k-gram across the corpus, mark hit
    positions (count >= 2), merge overlapping/adjacent [pos, pos+k)."""
    from collections import Counter

    grams = Counter()
    for toks in token_docs:
        for i in range(len(toks) - k + 1):
            grams[tuple(toks[i : i + k])] += 1
    spans = {}
    for doc_id, toks in enumerate(token_docs):
        hits = [
            i
            for i in range(len(toks) - k + 1)
            if grams[tuple(toks[i : i + k])] >= 2
        ]
        merged = []
        for pos in hits:
            if merged and pos <= merged[-1][1]:  # overlap/adjacent: extend
                merged[-1][1] = max(merged[-1][1], pos + k)
            else:
                merged.append([pos, pos + k])
        spans[doc_id] = [tuple(m) for m in merged]
    return spans


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus_strategy)
def test_dup_spans_match_python_reference_and_removal_reconciles(spark, docs):
    """Laws under random 3-symbol corpora (k=5 so dups are common):
    the distributed spans equal the brute-force python merge exactly;
    per-doc spans are sorted, disjoint with >= 1 uncovered token between
    (adjacency merged); and n_tokens_kept == n_tokens - dup_tokens across
    the detection/removal pair."""
    from adtech_log_data_pipeline_spark.functions.dedup import (
        dup_span_stats,
        dup_spans,
        remove_dup_spans,
    )

    k = 5
    rows = [(i, " ".join(t), "en", "s", len(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    want = _expected_spans([t for t in docs], k)
    got = {}
    for r in dup_spans(df, k=k).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for d in got:
        got[d].sort()
    assert got == {d: s for d, s in want.items() if s}
    for spans in got.values():
        for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
            assert s1 > e0  # disjoint with a gap (adjacent windows merged)
    stats = {r["doc_id"]: r for r in dup_span_stats(df, k=k).collect()}
    clean = {r["doc_id"]: r for r in remove_dup_spans(df, k=k).collect()}
    for d in stats:
        assert (
            clean[d]["n_tokens_kept"]
            == stats[d]["n_tokens"] - stats[d]["dup_tokens"]
        )


# --- bloom semi-join reduction laws (operators/bloom.py) -------------------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=0, max_size=60),
    st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=200),
)
def test_bloom_laws_under_random_keys(spark, dim_keys, fact_keys):
    """Fuzzed invariants: the bitmap NEVER false-negatives a build key
    (including negatives and duplicates), and the pruned join equals the
    plain inner join row-for-row on arbitrary key sets."""
    from pyspark.sql import functions as F

    from adtech_log_data_pipeline_spark.operators.bloom import (
        bloom_might_contain,
        bloom_build,
        bloom_pruned_join,
    )

    dim = spark.createDataFrame([(k,) for k in set(dim_keys)] or [(0,)], "k long")
    facts = spark.createDataFrame([(k,) for k in fact_keys], "k long")
    words = bloom_build(dim, "k", n_words=32)
    assert dim.filter(~bloom_might_contain(F.col("k"), words)).count() == 0
    got = sorted(r["k"] for r in bloom_pruned_join(facts, dim, "k", n_words=32).collect())
    want = sorted(r["k"] for r in facts.join(dim, "k").collect())
    assert got == want


# --- round-6 operator laws ---------------------------------------------------

_weights_strategy = st.lists(st.integers(0, 50), min_size=1, max_size=40)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(weights=_weights_strategy, n_picks=st.integers(1, 12),
       span=st.integers(1, 7))
def test_weighted_sample_equals_naive_scan_any_bucketing(
    spark, weights, n_picks, span
):
    """The two-phase prefix scan must equal the textbook single-pass
    definition for ANY weights, quota and bucket span — and realize the
    exact quota total_weight div step."""
    from adtech_log_data_pipeline_spark.functions.text import (
        weighted_systematic_sample,
    )
    from adtech_log_data_pipeline_spark.functions._cache import release_cached

    docs = spark.createDataFrame(
        [(i, "t", "en", "web", w) for i, w in enumerate(weights)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["weight"], r["cum_chars"], r["n_hits"])
        for r in weighted_systematic_sample(
            docs, n_picks=n_picks, bucket_span=span
        ).collect()
    }
    release_cached()
    total = sum(weights)
    step = max(total // n_picks, 1)
    cum, expected = 0, {}
    for i, w in enumerate(weights):
        prev, cum = cum, cum + w
        hits = cum // step - prev // step
        if hits > 0:
            expected[i] = (w, cum, hits)
    assert got == expected
    assert sum(h for _, _, h in got.values()) == total // step


_sig_strategy = st.lists(
    st.lists(st.sampled_from("abcdef"), min_size=1, max_size=5),
    min_size=2,
    max_size=10,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(sigs=_sig_strategy)
def test_token_set_near_dup_equals_brute_force(spark, sigs):
    """Deletion-neighborhood banding finds EXACTLY the pairs with
    |A ∩ B| >= max(|A|,|B|) - 1 — cross-checked against the quadratic
    definition on arbitrary small corpora (no false positives, no false
    negatives)."""
    from adtech_log_data_pipeline_spark.functions.dedup import (
        token_set_near_dup,
    )

    rows = [(i, " ".join(tokens)) for i, tokens in enumerate(sigs)]
    df = spark.createDataFrame(rows, "id long, sig string")
    got = {
        (r["id_1"], r["id_2"]) for r in token_set_near_dup(df, "id", "sig").collect()
    }
    sets = [set(t) for t in sigs]
    want = {
        (i, j)
        for i in range(len(sets))
        for j in range(i + 1, len(sets))
        if len(sets[i] & sets[j]) >= max(len(sets[i]), len(sets[j])) - 1
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from("xyzw"), min_size=0, max_size=8).map(
            lambda t: " ".join(t)
        ),
        min_size=1,
        max_size=8,
    )
)
def test_bigram_lm_score_equals_reference_model(spark, texts):
    """The distributed scorer must equal a transparent pure-Python
    add-one bigram model on arbitrary corpora."""
    from collections import Counter

    from adtech_log_data_pipeline_spark.functions.text import bigram_lm_score
    from adtech_log_data_pipeline_spark.functions._cache import release_cached

    docs = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_bits"], r["ppl_milli"])
        for r in bigram_lm_score(docs).collect()
    }
    release_cached()
    import re

    # the engine's tokenizer convention: split the trimmed-lower text on
    # whitespace ("" yields [""])
    toks = {i: re.split(r"\s+", t.strip().lower()) for i, t in enumerate(texts)}
    bgs = {i: list(zip(tt, tt[1:])) for i, tt in toks.items() if len(tt) >= 2}
    c12 = Counter(b for bb in bgs.values() for b in bb)
    c1 = Counter(b[0] for bb in bgs.values() for b in bb)
    v = len(c1)
    want = {}
    for i, bb in bgs.items():
        if not bb:
            continue
        bits = sum(
            len(bin((c1[b[0]] + v) // (c12[b] + 1))) - 2 for b in bb
        )
        want[i] = (len(bb), bits, bits * 1000 // len(bb))
    assert got == want
