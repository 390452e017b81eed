"""Quality/parity tests for the approximate (rows-only) operators: the
driver only checks these ran, so pytest carries the correctness burden —
MinHash and LSH outputs are validated against their exact counterparts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlingbigdatavisionaid_spark.operators import neardup as ND, similarity as S
from crawlingbigdatavisionaid_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_subset_of_exact_with_high_recall(docs):
    exact = _pairs(ND.jaccard_pairs(docs, threshold_tenths=8))
    approx = _pairs(ND.minhash_pairs(docs, k=16, bands=4, threshold_tenths=8))
    # precision 1.0: every verified candidate is a true >=0.8 pair
    assert approx <= exact
    # recall: the 4x4 banding must catch nearly all planted ~0.99 dups
    assert len(approx) >= 0.85 * len(exact), (len(approx), len(exact))


def test_simhash_catches_planted_neardups(docs):
    exact = _pairs(ND.jaccard_pairs(docs, threshold_tenths=9))
    sim = _pairs(
        ND.simhash_pairs(docs, bits=48, maxd=3).select("doc_a", "doc_b")
    )
    if exact:
        hit = len(exact & sim) / len(exact)
        assert hit >= 0.5, f"simhash recall on >=0.9 jaccard pairs: {hit}"


def test_simhash_banding_equals_naive_hamming(docs):
    """Banding must not lose pairs within the distance bound (pigeonhole)."""
    sigs = ND.simhash(docs.limit(100), bits=48).collect()
    naive = set()
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            x, y = sorted((a.doc_id, b.doc_id))
            if bin(a.simhash ^ b.simhash).count("1") <= 3:
                naive.add((x, y))
    banded = _pairs(
        ND.simhash_pairs(docs.limit(100), bits=48, maxd=3).select("doc_a", "doc_b")
    )
    assert banded == naive


def test_lsh_topk_recall_vs_brute_force(emb):
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_topk(emb, queries, k=10, n_tables=8, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall@10 = {recall}"


def test_lsh_ranks_are_contiguous_per_query(emb):
    queries = emb.where(F.col("vec_id") < 10)
    rows = S.lsh_topk(emb, queries, k=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_topk_recall_vs_brute_force(emb):
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(emb, queries, k=10, n_cells=10, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # the test embeddings have 10 planted label clusters; probing 4 of 10
    # KMeans cells must recover most exact neighbors
    assert recall >= 0.65, f"IVF recall@10 = {recall}"


def test_ivf_is_deterministic_across_runs(emb):
    queries = emb.where(F.col("vec_id") < 3)
    a = sorted(map(tuple, S.ivf_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple, S.ivf_topk(emb, queries, k=5).collect()))
    assert a == b


def test_df_cap_preserves_planted_pairs(docs):
    """The document-frequency cap (hot-shingle pruning before the
    self-join) must not change the detected near-dup pairs on the
    planted-dup fixture — hot shingles only prune non-discriminative
    noise."""
    capped = _pairs(ND.jaccard_pairs(docs, threshold_tenths=8))
    uncapped = _pairs(ND.jaccard_pairs(docs, threshold_tenths=8, df_max=None))
    assert capped == uncapped


def test_df_cap_drops_stop_phrase_bucket(spark):
    """Synthetic skew: a boilerplate phrase shared by every doc plus one
    planted near-dup pair.  With a tight cap the boilerplate shingles are
    pruned (bounded bucket), yet the planted pair must survive."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{base} unique{i} filler{i} token{i}") for i in range(50)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta iota"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta theta kappa"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = _pairs(ND.jaccard_pairs(docs, threshold_tenths=7, df_max=10))
    assert (100, 101) in pairs
    # boilerplate docs must not pair up once their shared (hot) shingles
    # are pruned: remaining shingles are unique per doc
    assert all(a == 100 and b == 101 for a, b in pairs)


def test_lsh_numpy_signatures_match_expression_form(emb):
    """The batched-numpy LSH signatures must bit-for-bit match the pure
    JVM expression form (operators.similarity.signature) on the same
    plane matrix — guards the matmul/bitpack against the fold semantics."""
    from crawlingbigdatavisionaid_spark.functions import vectors as V
    from crawlingbigdatavisionaid_spark.operators.similarity import (
        _plane_literals,
        signature,
    )

    n_tables, n_planes, dim = 8, 4, 64
    planes = _plane_literals(n_tables, n_planes, dim)
    want = {
        (r["vec_id"], t, r[f"s{t}"])
        for r in emb.select(
            "vec_id",
            *[
                signature(V.as_double(F.col("embedding")), planes[t]).alias(
                    f"s{t}"
                )
                for t in range(n_tables)
            ],
        ).collect()
        for t in range(n_tables)
    }
    # the numpy path, via the public operator's banded corpus side:
    # recompute with the same planes through lsh_topk's sigs_udf by
    # reaching the partial banding — simplest faithful probe is to
    # re-derive signatures with numpy directly
    import numpy as np

    pm = np.array(planes, dtype=np.float64).reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    got = set()
    for r in emb.select("vec_id", "embedding").collect():
        v = np.array(list(r["embedding"]), dtype=np.float64)
        bits = (v @ pm.T >= 0.0).reshape(n_tables, n_planes)
        sigs = (bits * weights).sum(axis=1)
        for t in range(n_tables):
            got.add((r["vec_id"], t, int(sigs[t])))
    assert got == want


def test_ann_partial_topk_is_tie_aware(spark, emb):
    """Duplicate vectors (a dedup corpus!) create equal-cosine ties; the
    partial per-batch/per-cell top-k must keep the same rows the exact
    (-cos, neighbor_id) total order keeps. 5 copies of each vector ->
    every variant must return the exact result set."""
    from pyspark.sql import functions as F

    copies = None
    for i in range(5):
        p = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10000))
        copies = p if copies is None else copies.unionByName(p)
    copies = copies.localCheckpoint()
    queries = copies.where(F.col("vec_id") < 5)
    want = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in S.brute_force_topk(copies, queries, k=10).collect()
    }
    got_np = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in S.brute_force_topk_np(copies, queries, k=10).collect()
    }
    assert got_np == want
    got_ivf = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in S.ivf_topk(copies, queries, k=10, n_cells=8, nprobe=8).collect()
    }
    # nprobe = n_cells: IVF scans everything -> must equal exact
    assert got_ivf == want


def test_containment_catches_subsets_jaccard_misses(spark):
    """A page embedding a full earlier article plus lots of new text:
    high containment, low Jaccard. The containment operator must flag
    it; the Jaccard operator at 0.8 must not."""
    article = " ".join(f"tok{i}" for i in range(40))
    page = article + " " + " ".join(f"extra{i}" for i in range(200))
    other = " ".join(f"unrel{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, article), (2, page), (3, other)], "doc_id long, text string"
    )
    cont = {(r.doc_a, r.doc_b) for r in ND.containment_pairs(docs, 9).collect()}
    jac = {(r.doc_a, r.doc_b) for r in ND.jaccard_pairs(docs, 8).collect()}
    assert (1, 2) in cont
    assert (1, 2) not in jac
    assert not any(3 in p for p in cont)


def test_empty_query_set_returns_empty_not_crash(emb):
    """np.array([]) is 1-D; the numpy paths must short-circuit an empty
    query set (or empty corpus) instead of raising AxisError (ADVICE r3)."""
    none = emb.where(F.col("vec_id") < 0)
    out = S.brute_force_topk_np(emb, none, k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "rank", "neighbor_id"]
    # ivf_topk: empty CORPUS means an empty kmeans sample collect
    out2 = S.ivf_topk(none, emb.where(F.col("vec_id") < 3), k=5)
    assert out2.count() == 0
    assert out2.columns == ["query_id", "rank", "neighbor_id"]


def test_multimodal_attach_sanitizes_non_ascii(spark):
    """Payload geometry is declared in CHARACTERS but encoded as UTF-8
    BYTES: non-ASCII text (e.g. zh documents) must be folded to ASCII so
    the declared size equals the byte length and the decoders round-trip
    (ADVICE r3 medium)."""
    from crawlingbigdatavisionaid_spark.multimodal import binary as MM

    docs = spark.createDataFrame(
        [(0, "宽字符文本 with mixed ascii"), (1, "日本語テキスト"), (2, "plain")],
        "doc_id long, text string",
    )
    img = MM.decode_image_features(MM.attach_ppm(docs)).collect()
    assert {r.doc_id for r in img} == {0, 1, 2}
    for r in img:
        assert r.n_pixels == r.width * r.height
    wav = MM.decode_audio_features(MM.attach_wav(docs)).collect()
    assert {r.doc_id for r in wav} == {0, 1, 2}
    for r in wav:
        assert r.n_samples == MM.WAV_SAMPLES
    vid = MM.decode_video_features(MM.attach_y4m(docs)).collect()
    assert {r.doc_id for r in vid} == {0, 1, 2}
    for r in vid:
        assert r.n_frames == 1 + r.doc_id % 4


def test_recall_verdicts_true_at_driver_sf(spark):
    """The three tolerance-verdict queries must emit all-TRUE at sf0.01 —
    the scale the driver's correctness gate actually runs them at (their
    oracles pin TRUE; a threshold drifting past measured recall would
    fail the gate, so catch it here first)."""
    from crawlingbigdatavisionaid_spark.plans import query_map

    q = query_map()
    sf = "/root/testdata/sf0.01"
    row = q["dedup_minhash_recall"](spark, sf).collect()[0]
    assert row.precision_ok and row.recall_ok, row
    assert q["ann_lsh_recall"](spark, sf).collect()[0].recall_ok
    assert q["ann_ivf_recall"](spark, sf).collect()[0].recall_ok


def test_incremental_jaccard_cross_side_only(spark):
    # batch doc 109 duplicates base doc 1; batch docs 209/309 duplicate
    # EACH OTHER but no base doc — incremental must report only the
    # cross-side pair, never batch-batch or base-base pairs.
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    batch_dup = "red orange yellow green blue indigo violet pink brown grey"
    rows = [
        (1, dup), (2, other),                 # base (doc_id % 10 != 9)
        (109, dup), (209, batch_dup), (309, batch_dup),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    decile = F.col("doc_id") % 10
    got = ND.jaccard_pairs_incremental(
        docs.where(decile == 9), docs.where(decile != 9),
        threshold_tenths=8, n=3, df_max=None,
    ).collect()
    assert {(r.doc_new, r.doc_base) for r in got} == {(109, 1)}


def test_incremental_minhash_matches_incremental_jaccard(spark, docs):
    decile = F.col("doc_id") % 10
    batch, base = docs.where(decile == 9), docs.where(decile != 9)
    exact = {
        (r.doc_new, r.doc_base)
        for r in ND.jaccard_pairs_incremental(batch, base).collect()
    }
    approx = {
        (r.doc_new, r.doc_base)
        for r in ND.minhash_pairs_incremental(batch, base).collect()
    }
    assert approx <= exact  # precision 1: candidates are exact-verified
    if exact:
        assert len(approx) / len(exact) >= 0.8


def test_bucket_cap_planted_clique_is_linear_not_quadratic(spark):
    """A planted identical-doc clique puts every member in the SAME band
    bucket in all 4 bands; all-pairs enumeration there is quadratic (the
    layer the shingle df cap doesn't reach — judge r5 #4). With the
    bucket cap, oversized buckets emit a STAR over the representative:
    O(f) verified pairs, and transitive connectivity (what CC dedup
    consumes) is preserved."""
    f = 600
    docs = spark.range(f).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the quick brown fox jumps over the lazy dog again and again "
            "while the crawler records every repeated boilerplate phrase"
        ).alias("text"),
    )
    capped = ND.minhash_pairs(docs, bucket_max=64)
    got = _pairs(capped)
    # star over the clique: every doc pairs with the representative only
    assert len(got) == f - 1, len(got)
    rep = min(min(a, b) for a, b in got)
    assert all(a == rep for a, _ in got)
    # every pair is a verified exact duplicate (precision still 1.0)
    assert capped.where(10 * F.col("inter") < 8 * F.col("union_size")).count() == 0
    # connectivity preserved: the star spans all f docs
    nodes = {rep} | {b for _, b in got}
    assert len(nodes) == f


def test_bucket_cap_inactive_on_small_buckets(docs):
    """With every bucket under the cap the pair set is EXACTLY the
    uncapped one (the *_recall verdicts' regime)."""
    capped = _pairs(ND.minhash_pairs(docs, bucket_max=256))
    uncapped = _pairs(ND.minhash_pairs(docs, bucket_max=None))
    assert capped == uncapped


def test_bucket_cap_probe_collapses_oversized_corpus_bucket(spark):
    """Probing a corpus containing an identical-doc clique: with the cap,
    each new doc verifies against the clique REPRESENTATIVE only (the
    dup decision survives; the enumeration collapses from O(clique) to
    O(1) per probing doc)."""
    text = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the crawler records every repeated boilerplate phrase"
    )
    base = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    batch = spark.range(200, 203).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    bk, sh = ND.minhash_index(base)
    got = ND.minhash_probe_index(batch, bk, sh, bucket_max=64).collect()
    # one pair per probing doc, all against the representative (min id)
    assert sorted((r.doc_new, r.doc_base) for r in got) == [
        (200, 0), (201, 0), (202, 0)
    ]
    uncapped = ND.minhash_probe_index(batch, bk, sh, bucket_max=None)
    assert uncapped.count() == 3 * 200


def test_containment_probe_catches_subsets_minhash_misses(spark):
    """The bottom-k one-sided probe must flag a planted quote/subset
    pair (every sampled shingle of the subset lives in the superset),
    while plain MinHash-LSH misses it (the superset's minima come from
    its own bulk, so the signatures disagree). Probe pairs must equal
    the exact containment operator's pairs on the same corpus
    (precision 1 by construction, recall 1 on the plant)."""
    article = " ".join(f"tok{i}" for i in range(40))
    page = article + " " + " ".join(f"extra{i}" for i in range(400))
    other = " ".join(f"unrel{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, article), (2, page), (3, other)], "doc_id long, text string"
    )
    probe = _pairs(ND.containment_probe_pairs(docs, 9))
    exact = _pairs(ND.containment_pairs(docs, 9))
    lsh = _pairs(ND.minhash_pairs(docs, threshold_tenths=8))
    assert (1, 2) in probe
    assert probe == exact
    assert (1, 2) not in lsh


def test_containment_probe_survives_hot_sample_capping(spark):
    """Review regression: a quote whose bottom-k samples are MAJORITY
    corpus-hot (boilerplate) must still be found — the prefilter's
    sample count k_src must be computed over the same hot-capped sample
    set as the matched count m, or the ratio deflates and the pair is
    silently dropped."""
    boiler = " ".join(f"boil{i}" for i in range(60))
    article = boiler + " " + " ".join(f"uniq{i}" for i in range(10))
    page = article + " " + " ".join(f"extra{i}" for i in range(120))
    rows = [(1, article), (2, page)] + [
        (10 + i, boiler + f" filler{i}") for i in range(150)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _pairs(ND.containment_probe_pairs(docs, 9))
    assert (1, 2) in got


def test_pq_refined_topk_recall_vs_brute_force(emb):
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=10).collect()
    }
    refined = {
        (r.query_id, r.neighbor_id)
        for r in S.pq_refined_topk(emb, queries, k=10, m=16, ksub=16).collect()
    }
    recall = len(exact & refined) / len(exact)
    # ADC top-80 shortlist holds ~96% of the exact top-10 on these
    # embeddings; the exact re-rank converts that into final ranks
    assert recall >= 0.75, f"PQ refined recall@10 = {recall}"


def test_pq_identical_vectors_share_codes_and_rank_first(spark):
    """A duplicate vector quantizes to the IDENTICAL code word, so ADC
    ranks it at the query's own score — the dedup-relevant guarantee."""
    import random

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    rows = [(i, [float(v) for v in vec]) for i, vec in enumerate(base)]
    rows.append((100, rows[0][1]))  # exact duplicate of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    built = S.pq_index(df, m=16, ksub=8)
    books_df, codes_df = built
    codes = {r.neighbor_id: tuple(r.codes) for r in codes_df.collect()}
    assert codes[0] == codes[100]
    q = df.where(F.col("vec_id") == 0)
    top = S.pq_probe_index(q, books_df, codes_df, k=3).collect()
    first = [r.neighbor_id for r in top if r.rank == 1]
    assert first == [100]


def test_pq_empty_corpus_and_empty_queries(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert S.pq_index(df) is None
    assert S.pq_topk(df, df, k=5).count() == 0
    some = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id long, embedding array<float>"
    )
    built = S.pq_index(some)
    assert built is not None
    assert S.pq_probe_index(df, built[0], built[1], k=5).count() == 0


def _write_docs(spark, path, texts):
    rows = [
        (i, t, "en", "src", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{path}/documents.parquet")


def test_chunk_dedup_rebuild_identity_when_no_duplicates(spark, tmp_path):
    """A corpus with globally unique chunks must pass through intact:
    every chunk kept, rebuilt fingerprint == fingerprint of the
    original tokenized text."""
    from pyspark.sql import functions as F

    from crawlingbigdatavisionaid_spark.functions.text import char_fingerprint, tokens
    from crawlingbigdatavisionaid_spark.plans.registry import query_map

    letters = "abcdefghijklmnopqrstuvwxyz"
    texts = [  # 45 letter-only tokens -> 3 chunks each, all distinct
        " ".join(f"w{letters[i]}{letters[j // 26]}{letters[j % 26]}" for j in range(45))
        for i in range(4)
    ]
    _write_docs(spark, str(tmp_path), texts)
    out = {
        r.doc_id: r
        for r in query_map()["chunk_dedup_rebuild"](spark, str(tmp_path)).collect()
    }
    want_fp = {
        r.doc_id: r.fp
        for r in spark.read.parquet(f"{tmp_path}/documents.parquet")
        .select(
            "doc_id",
            F.concat_ws(" ", tokens("text")).alias("joined"),
        )
        .select("doc_id", char_fingerprint("joined").alias("fp"))
        .collect()
    }
    for i in range(4):
        assert out[i].n_chunks == 3 and out[i].kept_chunks == 3
        assert out[i].rebuilt_fp == want_fp[i]


def test_chunk_dedup_rebuild_drops_repeated_chunk_keeps_first(spark, tmp_path):
    """A doc repeating an earlier doc's chunk loses exactly that chunk;
    a doc that is ENTIRELY earlier chunks is consumed to the -1
    sentinel."""
    from crawlingbigdatavisionaid_spark.plans.registry import query_map

    letters = "abcdefghijklmnopqrstuvwxyz"
    a = " ".join(f"qa{letters[j]}" for j in range(20))  # doc0 chunk 0
    b = " ".join(f"qb{letters[j]}" for j in range(20))
    c = " ".join(f"qc{letters[j]}" for j in range(20))
    texts = [a + " " + b, c + " " + a, a]  # doc1 repeats a; doc2 IS a
    _write_docs(spark, str(tmp_path), texts)
    out = {
        r.doc_id: r
        for r in query_map()["chunk_dedup_rebuild"](spark, str(tmp_path)).collect()
    }
    assert (out[0].n_chunks, out[0].kept_chunks) == (2, 2)
    assert (out[1].n_chunks, out[1].kept_chunks) == (2, 1)  # kept c, lost a
    assert (out[2].n_chunks, out[2].kept_chunks) == (1, 0)
    assert out[2].rebuilt_fp == -1


def test_ivfpq_full_probe_equals_plain_pq(spark, sf_dir):
    """IVF-PQ with nprobe == n_cells degenerates to plain PQ: every
    query probes every cell, so the cell mask admits the whole code
    table and the ADC ranking must equal pq_probe_index's EXACTLY
    (same codebooks, same fixed-order LUT sums). Pins that the cell
    restriction is the ONLY thing ivfpq adds — no scoring drift."""
    from crawlingbigdatavisionaid_spark.operators import similarity as S
    from crawlingbigdatavisionaid_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb.vec_id < 5)
    built = S.ivfpq_index(emb, n_cells=8, m=16, ksub=16)
    assert built is not None
    cent_df, books_df, coded = built
    full = S.ivfpq_probe_index(
        queries, cent_df, books_df, coded, k=10, nprobe=8
    )
    plain = S.pq_probe_index(
        queries, books_df, coded.select("neighbor_id", "codes"), k=10
    )
    a = {(r.query_id, r.rank, r.neighbor_id) for r in full.collect()}
    b = {(r.query_id, r.rank, r.neighbor_id) for r in plain.collect()}
    assert a == b and len(a) == 5 * 10


def test_ivfpq_probe_prefix_property(spark, sf_dir):
    """probe(k) must be EXACTLY the rank <= k prefix of probe(8k): the
    probe ranks by the total order (-cos, neighbor_id) with tie-aware
    per-partition partials, so a deeper k only extends the ranking —
    the property ``ann_ivfpq_recall`` relies on to serve its in-flight
    result and its refine shortlist from ONE ADC pass (r13
    optimization round)."""
    from crawlingbigdatavisionaid_spark.operators import similarity as S
    from crawlingbigdatavisionaid_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb.vec_id < 5)
    built = S.ivfpq_index(emb, n_cells=8, m=16, ksub=16)
    assert built is not None
    cent_df, books_df, coded = built
    k = 10
    deep = S.ivfpq_probe_index(
        queries, cent_df, books_df, coded, k=k * 8, nprobe=4
    )
    shallow = S.ivfpq_probe_index(
        queries, cent_df, books_df, coded, k=k, nprobe=4
    )
    a = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in deep.where(deep.rank <= k).collect()
    }
    b = {(r.query_id, r.rank, r.neighbor_id) for r in shallow.collect()}
    assert a == b and len(b) == 5 * k


def test_prefix_dim_degenerate_equals_brute_force(spark):
    """prefix_dim_topk with shortlist >= corpus must return EXACTLY the
    brute-force top-k pair set (stage 1 filters nothing, stage 2 is the
    exact ranking)."""
    from pyspark.sql import functions as F

    from crawlingbigdatavisionaid_spark.operators import similarity as S
    from crawlingbigdatavisionaid_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    n = emb.count()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk_np(emb, q, k=10).collect()
    }
    degen = {
        (r["query_id"], r["neighbor_id"])
        for r in S.prefix_dim_topk(
            emb, q, k=10, prefix_dims=32, shortlist=n
        ).collect()
    }
    assert degen == exact


@pytest.mark.parametrize(
    "vectors",
    [
        # lengths 3 and 5: 8 values reshape to (2, 4) unless rows are checked
        pytest.param([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0, 1.0]], id="ragged"),
        # 4 values over 4 rows: without a null check, a (4, 1) matrix
        pytest.param([[1.0, 0.0], [0.0, 1.0], None, None], id="null-row"),
    ],
)
@pytest.mark.parametrize(
    "run",
    [
        pytest.param(
            lambda df: S.brute_force_topk_np(df, df.where("vec_id = 0"), k=2),
            id="brute_force_topk_np",
        ),
        pytest.param(lambda df: S.semdedup_keep(df, 0.9), id="semdedup_keep"),
        pytest.param(
            lambda df: S.blocked_cosine_pairs(df, 0.5, n_blocks=1),
            id="blocked_cosine_pairs",
        ),
    ],
)
def test_vector_kernels_reject_ragged_and_null_rows(spark, run, vectors):
    """A malformed embedding column makes the kernel raise instead of
    returning rows computed from a mis-sliced matrix. One partition, so
    every row reaches the same Arrow batch."""
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<double>, label int",
    ).coalesce(1)
    with pytest.raises(Exception, match="null row|ragged vector column"):
        run(df).collect()
