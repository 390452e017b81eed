"""Sketch accuracy: approx_percentile within tolerance of the exact
percentiles; approx_count_distinct within standard-error bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawlingbigdatavisionaid_spark.plans import query_map
from crawlingbigdatavisionaid_spark.sources import load_table


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    q = query_map()
    exact = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in q["value_percentiles_by_type"](spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in q["approx_value_percentiles"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for et, (p50, p95) in exact.items():
        a50, a95 = approx[et]
        assert abs(a50 - p50) / max(abs(p50), 1.0) < 0.1, (et, a50, p50)
        assert abs(a95 - p95) / max(abs(p95), 1.0) < 0.1, (et, a95, p95)


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    exact = ev.select(F.countDistinct("user_id")).first()[0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.05)).first()[0]
    assert abs(approx - exact) / exact < 0.15


def test_stratified_sample_proportions(spark, sf_dir):
    from crawlingbigdatavisionaid_spark.plans import query_map

    docs = load_table(spark, sf_dir, "documents")
    full = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    fractions = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0}
    sampled = {
        r["lang"]: r["cnt"]
        for r in docs.sampleBy("lang", fractions, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # non-downsampled strata survive whole; 'en' lands near 50%
    for lang, n in full.items():
        if lang == "en":
            assert 0.3 <= sampled[lang] / n <= 0.7, (sampled[lang], n)
        else:
            assert sampled[lang] == n
    # and the registered query's per-stratum verdict is all-TRUE
    verdicts = {
        r["lang"]: r["sampled_ok"]
        for r in query_map()["stratified_sample_by_lang"](spark, sf_dir).collect()
    }
    assert verdicts == {lang: True for lang in full}


def test_stratified_sample_is_deterministic(spark, sf_dir):
    from crawlingbigdatavisionaid_spark.plans import query_map

    fn = query_map()["stratified_sample_by_lang"]
    a = sorted(map(tuple, fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Bloom / count-min / winnowing / trigram-backoff / incremental-MV operators


def test_bloom_probe_confusion_invariants(spark, sf_dir):
    row = query_map()["bloom_dedup_probe"](spark, sf_dir).first()
    # a Bloom filter never lies about absence
    assert row["false_neg"] == 0
    # every batch key is classified exactly once
    assert row["maybe_dup"] + row["definite_new"] == row["n_batch"]
    # with zero false negatives, maybe = all true dups + false positives
    assert row["maybe_dup"] == row["n_true_dup"] + row["false_pos"]


def test_cms_never_undercounts(spark, sf_dir):
    rows = query_map()["cms_heavy_hitters"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"], r
        assert r["overcount"] == r["cms_est"] - r["exact_cnt"]


def test_trigram_backoff_level_counters_partition(spark, sf_dir):
    rows = query_map()["lm_trigram_backoff"](spark, sf_dir).collect()
    assert rows, "held-out decile produced no scored docs"
    for r in rows:
        assert (
            r["n_hit3"] + r["n_back2"] + r["n_back1"] + r["n_unk"]
            == r["n_trigrams"]
        ), r
        # log-scores are negative everywhere, so mean NLL is positive
        assert r["nll_mean"] > 0, r


def test_winnow_detects_planted_shared_substring(spark, tmp_path):
    """Winnowing guarantee: a shared substring of length >= k + w - 1
    must yield shared fingerprints — a planted 200-char quote embedded
    in an otherwise different doc must surface as a candidate pair."""
    import random

    rng = random.Random(7)
    word = lambda: "".join(  # noqa: E731
        rng.choice("abcdefghijklmnopqrstuvwxyz")
        for _ in range(rng.randint(3, 9))
    )
    quote = " ".join(word() for _ in range(40))[:200]
    doc_a = " ".join(word() for _ in range(60)) + " " + quote
    doc_b = quote + " " + " ".join(word() for _ in range(60))
    doc_c = " ".join(word() for _ in range(100))
    df = spark.createDataFrame(
        [(0, doc_a, "en", "s", len(doc_a)),
         (1, doc_b, "en", "s", len(doc_b)),
         (2, doc_c, "en", "s", len(doc_c))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    df.write.parquet(f"{d}/documents.parquet")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in query_map()["winnow_fingerprint_pairs"](spark, d).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 5
    assert all(a == 0 and b == 1 for a, b in pairs)


def test_incremental_mv_equals_direct_recompute(spark, sf_dir):
    got = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in query_map()["incremental_mv_daily"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    want = {
        (r["day"], r["event_type"]): (r["n"], r["s"])
        for r in ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k, (n, s) in want.items():
        gn, gs = got[k]
        assert gn == n, k
        assert abs(gs - s) < 1e-6, k


def test_hll_partial_merge_verdicts_all_true(spark, sf_dir):
    rows = query_map()["hll_partial_merge"](spark, sf_dir).collect()
    assert rows
    assert all(r["merge_consistent"] and r["within_2pct"] for r in rows)


def test_vocab_growth_cumulative_consistency(spark, sf_dir):
    rows = sorted(
        query_map()["vocab_growth_deciles"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert rows, "no deciles"
    cum = 0
    for r in rows:
        cum += r["new_types"]
        assert r["cum_types"] == cum, r
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.regexp_extract_all(
            F.lower("text"), F.lit("[a-z]+"), 0)).alias("w"))
        .agg(F.countDistinct("w"))
        .first()[0]
    )
    assert cum == vocab


def test_lang_confusion_rows_sum_to_one(spark, sf_dir):
    from collections import defaultdict

    rows = query_map()["lang_id_confusion"](spark, sf_dir).collect()
    by_true = defaultdict(float)
    for r in rows:
        by_true[r["true_lang"]] += r["row_frac"]
    assert by_true
    for lang, s in by_true.items():
        assert abs(s - 1.0) < 0.01, (lang, s)


def test_bigram_pmi_sorted_and_supported(spark, sf_dir):
    rows = query_map()["bigram_pmi_topk"](spark, sf_dir).collect()
    assert len(rows) == 25
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert all(r["n12"] >= 5 for r in rows)


def test_winnow_short_doc_emits_no_fingerprints(spark):
    """Docs shorter than the k-gram must produce ZERO fingerprints:
    Spark's sequence(1, 0) is the descending [1, 0], and without the
    size guard a short doc emitted a phantom fingerprint the DuckDB
    oracle (empty generate_series) does not. A NULL text emits none
    either, rather than failing the task."""
    from crawlingbigdatavisionaid_spark.plans.sketches import winnow_doc_fps

    df = spark.createDataFrame(
        [
            (0, "ab cd"),
            (1, ""),
            (2, "exactly8"),
            (3, "longer than eight"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in winnow_doc_fps(df).collect()}
    assert 0 not in got and 1 not in got  # < 8 normalized chars
    assert 4 not in got  # NULL text
    assert 2 in got and 3 in got


def test_winnow_numpy_fold_matches_positional_definition(spark):
    """Pin for the r14 Arrow-numpy fingerprint path: the vectorized
    k-gram fold / window min / per-doc dedup must reproduce the
    positional definition (the old HOF form and the DuckDB oracle)
    EXACTLY, on adversarial shapes — sub-k docs, exactly-k docs, the
    0 < #hashes <= w-1 single-min branch, repeated chars (dedup), and
    mixed-case/punctuation normalization."""
    from crawlingbigdatavisionaid_spark.plans.sketches import (
        _P,
        _WIN_DF,
        _WIN_K,
        _WIN_W,
        winnow_doc_fps,
    )

    texts = [
        (0, "ab"),                      # < k after normalization
        (1, "Exactly8"),                # exactly k -> one hash, one fp
        (2, "nine ch4rs"),              # k < n <= k + w - 2 -> min(h)
        (3, "aaaaaaaaaaaaaaaa"),        # repeats -> heavy dedup
        (4, "The quick brown fox; jumps OVER 13 lazy dogs!!"),
        (5, "the quick brown fox, jumps over 13 lazy dogs??"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")

    import re
    from collections import Counter

    def positional(txt: str) -> set[int]:
        s = re.sub(r"[^a-z0-9]", "", txt.lower())
        if len(s) < _WIN_K:
            return set()
        h = []
        for i in range(len(s) - _WIN_K + 1):
            acc = 0
            for ch in s[i : i + _WIN_K]:
                acc = (acc * 31 + ord(ch)) % _P
            h.append(acc)
        if len(h) <= _WIN_W - 1:
            return {min(h)}
        return {
            min(h[j : j + _WIN_W]) for j in range(len(h) - _WIN_W + 1)
        }

    per_doc = {d: positional(t) for d, t in texts}
    dfc = Counter(fp for fps in per_doc.values() for fp in fps)
    expected = {
        (d, fp)
        for d, fps in per_doc.items()
        for fp in fps
        if dfc[fp] <= _WIN_DF
    }
    got = {(r.doc_id, r.fp) for r in winnow_doc_fps(df).collect()}
    assert got == expected
    assert any(d == 4 for d, _ in got)  # normalization really ran


def test_kmv_accuracy_and_mergeability(spark, sf_dir):
    """KMV estimate within ~3/sqrt(k) of exact when full (exact when
    not full), and merging per-batch sketches (k smallest of the
    per-part k-smallest) reproduces the direct sketch estimate."""
    from crawlingbigdatavisionaid_spark.plans.sketches import (
        _KMV_K,
        _poly_fold_sql,
    )
    from crawlingbigdatavisionaid_spark.sources import load_table

    rows = query_map()["kmv_distinct_sketch"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["n_exact"] < _KMV_K:
            assert r["kmv_est"] == r["n_exact"], r
        else:
            assert (
                abs(r["kmv_est"] - r["n_exact"])
                <= 3 * r["n_exact"] / (_KMV_K ** 0.5)
            ), r

    # mergeability: 3-way split, per-part k-smallest, merged k-smallest
    ev = load_table(spark, sf_dir, "events")
    hashed = (
        ev.select(
            F.concat_ws(":", F.col("user_id"), F.col("props")).alias("k"),
            (F.col("event_id") % 3).alias("part"),
        )
        .withColumn("h", F.expr(_poly_fold_sql("k")))
        .select("part", "h")
        .distinct()
    )
    direct = sorted(
        {r.h for r in hashed.select("h").distinct().collect()}
    )[:_KMV_K]
    per_part = [
        sorted({r.h for r in hashed.where(F.col("part") == i).collect()})[
            :_KMV_K
        ]
        for i in range(3)
    ]
    merged = sorted(set().union(*[set(p) for p in per_part]))[:_KMV_K]
    assert merged == direct


def test_funnel_is_monotone(spark, sf_dir):
    [r] = query_map()["event_funnel_counts"](spark, sf_dir).collect()
    assert (
        r["n_users"]
        >= r["step_view"]
        >= r["step_click"]
        >= r["step_purchase"]
        >= 0
    )


def test_anomaly_flags_match_float_zscore(spark, sf_dir):
    """The integer form must agree with the plain float z-score away
    from boundaries (the integer rewrite exists to avoid boundary
    flips, not to change the test)."""
    import statistics
    from collections import defaultdict

    rows = query_map()["daily_anomaly_days"](spark, sf_dir).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r)
    for et, rs in by_type.items():
        cnts = [r["cnt"] for r in rs]
        mu = statistics.mean(cnts)
        sd = statistics.pstdev(cnts)
        for r in rs:
            z2 = ((r["cnt"] - mu) / sd) ** 2 if sd else 0.0
            if abs(z2 - 4) > 1e-9:
                assert r["is_spike"] == (z2 > 4), (et, r, z2)


def test_cms_screening_never_misses(spark, sf_dir):
    [r] = query_map()["cms_screening_verdict"](spark, sf_dir).collect()
    assert r["missed"] == 0
    assert r["n_candidates"] >= r["n_true"] >= 0


def test_kmv_key_is_null_safe_and_engine_identical(spark):
    """r8 self-review: Spark concat() propagates NULL while DuckDB
    concat() skips it — a NULL key hash would poison the min-k from
    opposite ends of the two engines' sort orders. The shared
    _KMV_KEY_SQL/_KMV_KEY_DUCK pair must hash a NULL-props row to the
    SAME non-null value in both engines."""
    import duckdb

    from crawlingbigdatavisionaid_spark.plans.sketches import (
        _KMV_KEY_DUCK,
        _KMV_KEY_SQL,
        _poly_fold_duck,
        _poly_fold_sql,
    )

    df = spark.createDataFrame(
        [(7, None), (7, "x=1")], "user_id long, props string"
    )
    got = sorted(
        r.h
        for r in df.select(
            F.expr(_poly_fold_sql(_KMV_KEY_SQL)).alias("h")
        ).collect()
    )
    assert all(h is not None for h in got)
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT {_poly_fold_duck(f'({_KMV_KEY_DUCK})')} FROM (VALUES "
            "(7, NULL), (7, 'x=1')) AS t(user_id, props)"
        ).fetchall()
    )
    assert got == want


def test_join_size_cms_never_underestimates(spark):
    """The AGMS/CMS inner-product join-size estimate: exact value must
    equal the materialized join's COUNT(*), and the estimate's
    one-sided bound must hold (collisions only ADD nonnegative cross
    terms)."""
    from crawlingbigdatavisionaid_spark.plans import registry

    registry._load_all()
    sf = "/root/testdata/sf0.001"
    [row] = registry.QUERIES["join_size_cms_estimate"].fn(spark, sf).collect()
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    true_join = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert row["exact_join_rows"] == true_join
    assert row["never_underestimates"]
    assert row["cms_est_rows"] >= row["exact_join_rows"]
    assert row["ratio_permille"] >= 1000


def test_ewma_spike_matches_python_replica(spark):
    """EWMA control chart: the integer fraction num/den must equal the
    closed-form sum over the trailing 16 real days, per day."""
    from collections import Counter

    from crawlingbigdatavisionaid_spark.plans import registry

    registry._load_all()
    sf = "/root/testdata/sf0.001"
    rows = registry.QUERIES["ewma_spike_days"].fn(spark, sf).collect()
    ev = spark.read.parquet(f"{sf}/events.parquet").selectExpr(
        "cast(ts as date) AS d"
    ).where("d is not null").collect()
    daily = Counter(r["d"] for r in ev)
    for r in rows:
        num = den = 0
        for lag in range(1, 17):
            src = r["day"] - __import__("datetime").timedelta(days=lag)
            if src in daily:
                w = 1 << (16 - lag)
                num += daily[src] * w
                den += w
        assert den > 0 and (r["ewma_num"], r["ewma_den"]) == (num, den), r
        assert r["spike"] == (r["n_events"] * den > 2 * num)
    assert {r["day"] for r in rows} == {
        d for d in daily if any(
            d - __import__("datetime").timedelta(days=s) in daily
            for s in range(1, 17)
        )
    }


def test_char_bigram_stream_matches_positional_definition(spark):
    """The MG demo stream's regex bigram extraction (``(?=(..)).`` —
    r13 optimization round) must emit EXACTLY the per-position
    ``substring(t, i, 2)`` multiset the oracle's generate_series form
    counts, including the degenerate shapes: 0/1-char tokens emit
    nothing, repeated chars emit repeated bigrams (multiset, not set),
    and overlapping windows all appear."""
    from collections import Counter

    from crawlingbigdatavisionaid_spark.plans.sketches import (
        _char_bigram_stream,
    )

    texts = [
        "a",  # 1-char token: no bigram
        "ab",  # exactly one
        "aaaa bb c",  # repeats: aa x3 (multiset), bb x1
        "abcabc xyz",  # overlaps: ab bc ca ab bc / xy yz
        None,  # null text row is filtered by the caller contract
        "",  # tokenless
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).where(F.col("text").isNotNull())
    got = Counter(
        r["w"] for r in _char_bigram_stream(docs).collect()
    )
    want: Counter = Counter()
    import re

    for t in texts:
        if t is None:
            continue
        for tok in re.findall("[a-z]+", t.lower()):
            for i in range(len(tok) - 1):
                want[tok[i : i + 2]] += 1
    assert got == want and got["aa"] == 3 and got["ab"] == 3


def test_mg_partial_summaries_keep_misra_gries_contract(spark):
    """The per-partition Misra-Gries partials behind
    ``mg_screening_verdict``: with several Arrow batches folding into
    each of 2 partitions, every partition emits at most m rows, no
    summed ``c_adj`` exceeds the word's true count, and every word's
    summed ``c_adj`` (0 if absent) is at least its true count minus
    N/(m+1). The registered query's oracle only sees the threshold and
    the guaranteed population, so a fold that never trims, or trims
    wrongly, would pass it; these bounds would not.

    Each partition's stream is MG's hard order: m "resident" bigrams
    fill the summary first, then a heavy bigram arrives that must win
    its place by decrementing them (a fold that just kept the m largest
    counts would evict it in every batch)."""
    from collections import Counter

    from crawlingbigdatavisionaid_spark.plans.sketches import (
        _MG_M,
        _char_bigram_stream,
        _mg_partial_summaries,
    )

    side = int(_MG_M**0.5)
    assert side * side == _MG_M and side <= 25
    letters = "abcdefghijklmnopqrstuvwxy"[:side]
    residents = " ".join(a + b for a in letters for b in letters)
    part = [residents] * 600 + ["zz " * 50] * 40
    # parallelize slices the list in order: one copy of ``part`` each
    docs = spark.sparkContext.parallelize(
        list(enumerate(part + part)), 2
    ).toDF("doc_id long, text string")
    true = Counter(r["w"] for r in _char_bigram_stream(docs).collect())
    n = sum(true.values())
    assert len(true) == _MG_M + 1 and true["zz"] > n / (_MG_M + 1)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")  # ~80 batches per partition
    try:
        partials = (
            _mg_partial_summaries(_char_bigram_stream(docs))
            .withColumn("p", F.spark_partition_id())
            .collect()
        )
    finally:
        spark.conf.set(key, old)

    per_part = Counter(r["p"] for r in partials)
    assert len(per_part) == 2 and max(per_part.values()) <= _MG_M
    summed: Counter = Counter()
    for r in partials:
        summed[r["w"]] += r["c_adj"]
    assert all(summed[w] <= true[w] for w in summed)
    assert all(summed[w] >= c - n / (_MG_M + 1) for w, c in true.items())
