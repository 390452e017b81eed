"""Training-data SELECTION & CURATION queries — the decision layer that
sits between the cleaning operators (plans/text.py, plans/dedup.py) and
the training corpus: which documents to keep, how to weight sources, and
where duplicated byte-ranges live inside kept documents.

All four text queries re-use the one shared tokenization
(functions/text.py ``tokens``), so at 100 TB they pipeline over the same
scan shape as word_topk; outputs follow the registry determinism rules
(integer digests + at most one rounded IEEE division per column).

Methods re-expressed here (public papers, Spark-first plans):
- DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169) —
  ``dsir_target_affinity``.
- Exact duplicated-substring spans (Lee et al. 2021, arXiv:2107.06499,
  the suffix-array dedup; approximated as shingle-run merging) —
  ``duplicate_spans``.
- SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — cluster-scoped
  embedding cosine pruning — ``semdedup_prune``.
- Source-mixture reweighting (uniform-token target; the DoReMi-style
  static mixing baseline, Xie et al. 2023, arXiv:2305.10429) —
  ``domain_mix_weights``.
- Per-domain politeness scheduling for the crawl frontier (the
  distributed form of the reference's serial 6-hourly loop,
  /root/reference/crawl.py:78,155-162) — ``crawl_frontier_schedule``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import text as T
from ..operators import similarity as S
from ..sources import load_table
from .registry import register

_SQL_TOKENS = f"regexp_extract_all(lower(text), '{T.TOKEN_PATTERN}')"

from ._sql import SQL_COS as _SQL_COS  # shared oracle cosine fragment


@register(
    "dsir_target_affinity",
    bench="text",
    ops=("OP-X-TXT-04", "OP-FLT-01"),
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS w FROM documents
        ), vocab AS (
            SELECT w,
                   CAST(COUNT(*) AS BIGINT) AS cnt_raw,
                   CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS cnt_tgt
            FROM tok GROUP BY w
        )
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(v.cnt_tgt) AS BIGINT) AS tgt_mass,
               CAST(SUM(v.cnt_raw) AS BIGINT) AS raw_mass,
               ROUND(SUM(v.cnt_tgt) * 1.0 / SUM(v.cnt_raw), 4)
                   AS target_affinity
        FROM tok t JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id
    """,
)
def dsir_target_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance score for data selection (Xie et al. 2023,
    arXiv:2302.03169): score each document by how much its token mass
    comes from a target distribution (here the ``lang='en'`` stratum)
    relative to the raw corpus. DSIR's hashed-ngram log-ratio becomes an
    integer-exact linear ratio — sum of per-token target counts over sum
    of per-token corpus counts — because cross-engine ``ln()`` is not
    bit-stable (the token_rarity_score rationale). Plan shape: one
    tokenize+explode, a vocab-sized aggregate joined back onto the
    token stream, one per-doc hash aggregate. The vocab side carries NO
    broadcast hint: a hint would bypass the size threshold and fail
    outright at web scale where the distinct-token table is GBs — AQE
    converts the join to broadcast at runtime when the vocab actually
    fits (it does at every test sf), and degrades to a shuffle join
    with skew handling when it doesn't. Selection = ORDER BY
    target_affinity DESC LIMIT budget."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(T.tokens("text")).alias("w")
    )
    vocab = tok.groupBy("w").agg(
        F.count(F.lit(1)).alias("cnt_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("cnt_tgt"),
    )
    return (
        tok.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt_tgt").alias("tgt_mass"),
            F.sum("cnt_raw").alias("raw_mass"),
            F.round(
                F.sum("cnt_tgt") * F.lit(1.0) / F.sum("cnt_raw"), 4
            ).alias("target_affinity"),
        )
    )


@register(
    "domain_mix_weights",
    bench="text",
    ops=("OP-AGG-01", "OP-AGG-02"),
    oracle=f"""
        WITH per AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_sources
            FROM per
        )
        SELECT p.source, p.n_docs, p.n_tokens,
               ROUND(p.n_tokens * 1.0 / NULLIF(t.total_tokens, 0), 6)
                   AS token_share,
               ROUND(t.total_tokens * 1.0
                     / NULLIF(t.n_sources * p.n_tokens, 0), 6)
                   AS uniform_weight
        FROM per p CROSS JOIN tot t
    """,
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture reweighting for training (the static-mixing
    baseline of DoReMi, arXiv:2305.10429): per-source token mass and the
    sampling weight that equalizes token contribution across sources
    (``uniform_weight > 1`` = upsample, ``< 1`` = downsample). Token
    counts come from ``size(tokens)`` on the scan — no explode — so the
    whole query is one source-keyed hash aggregate plus a broadcast
    1-row totals join. Each float column is a single rounded division
    over exact integers; denominators are NULLIF-guarded on both sides
    (a source whose documents all tokenize empty yields NULL weights,
    identically in Spark and DuckDB — the span_dedup_stats pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(T.tokens("text")).cast("bigint")).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens")
            * F.lit(1.0)
            / F.nullif(F.col("total_tokens"), F.lit(0)),
            6,
        ).alias("token_share"),
        F.round(
            F.col("total_tokens")
            * F.lit(1.0)
            / F.nullif(F.col("n_sources") * F.col("n_tokens"), F.lit(0)),
            6,
        ).alias("uniform_weight"),
    )


_SPAN_K = 5  # shingle width (tokens); spans are maximal runs of dup shingles

# Shared oracle CTE chain for the span family: tokenization → positional
# shingles → corpus dup set → islands run-merge. Ends with ``spans``
# (doc_id, span_start, span_end, n_shingles); ``t`` (doc_id, toks) is
# also visible to downstream consumers. ONE definition so
# duplicate_spans and span_dedup_stats can never drift apart.
_SQL_SPAN_CTES = f"""
        WITH t AS (
            SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
        ), sh AS (
            SELECT doc_id,
                   CAST(unnest(generate_series(1, len(toks) - {_SPAN_K - 1}))
                        AS BIGINT) AS pos,
                   toks
            FROM t WHERE len(toks) >= {_SPAN_K}
        ), s2 AS (
            SELECT doc_id, pos,
                   array_to_string(toks[pos:pos + {_SPAN_K - 1}], ' ')
                       AS shingle
            FROM sh
        ), dup AS (
            SELECT shingle FROM s2
            GROUP BY shingle HAVING COUNT(DISTINCT doc_id) > 1
        ), hits AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM s2 SEMI JOIN dup USING (shingle)
        ), spans AS (
            SELECT doc_id,
                   MIN(pos) AS span_start,
                   MAX(pos) + {_SPAN_K - 1} AS span_end,
                   COUNT(*) AS n_shingles
            FROM hits GROUP BY doc_id, grp
        )
"""


@register(
    "duplicate_spans",
    bench="dedup",
    ops=("OP-X-DEDUP-02",),
    oracle=_SQL_SPAN_CTES
    + """
        SELECT doc_id, span_start, span_end, n_shingles FROM spans
    """,
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring spans inside documents — the deduplicate-
    training-data operator of Lee et al. 2021 (arXiv:2107.06499), whose
    suffix-array "all substrings of length >= 50 that repeat" becomes,
    in shingle space, every maximal run of {K}-token shingles that occur
    in more than one document. Consumers cut ``[span_start, span_end]``
    (1-based token positions, inclusive) out of the kept text instead of
    dropping whole near-dup docs. Plan: positional shingles from one
    tokenization (no self-join), keyed by xxhash64 of the shingle text
    (a 16x smaller shuffle payload than the 5-word strings; the 2^-64
    birthday risk of a false dup is the MinHash-family tradeoff, and
    the ORACLE stays string-exact so a collision would surface as a
    hash-red, not silently), materialized ONCE (localCheckpoint, the
    dedup-family pattern) so the dup-set aggregate and the probe side
    share one computation. "Seen in >1 distinct doc" is min(doc_id) <>
    max(doc_id) — no count-distinct dedup structure, plain min/max
    map-side combine that absorbs Zipf-hot shingles. A semi-join pulls
    dup positions (kept distributed — a per-shingle position list would
    concentrate a viral shingle's occurrences in one reducer), then
    per-doc run-merging with ONE window (pos - row_number islands
    trick) keyed by doc_id, so it scales with documents, not corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", T.tokens("text").alias("toks")).where(
        F.size("toks") >= _SPAN_K
    )
    s2 = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_SPAN_K - 1}),"
                f" i -> struct(CAST(i AS BIGINT) AS pos,"
                f" xxhash64(concat_ws(' ', slice(toks, i, {_SPAN_K}))) AS sh))"
            )
        ).alias("ps"),
    ).select(
        "doc_id", F.col("ps.pos").alias("pos"), F.col("ps.sh").alias("sh")
    ).localCheckpoint(eager=False)
    dup = (
        s2.groupBy("sh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .where(F.col("d0") != F.col("d1"))
        .select("sh")
    )
    hits = s2.join(dup, "sh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(_SPAN_K - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .select("doc_id", "span_start", "span_end", "n_shingles")
    )


_SEM_TAU = 0.38  # within-cluster cosine above which the later doc is pruned


@register(
    "semdedup_prune",
    bench="ann",
    ops=("OP-X-DEDUP-02", "OP-X-SIM-01"),
    oracle=f"""
        SELECT a.vec_id, a.label
        FROM embeddings a
        WHERE NOT EXISTS (
            SELECT 1 FROM embeddings b
            WHERE b.label = a.label AND b.vec_id < a.vec_id
              AND {_SQL_COS.format(a="a.embedding", b="b.embedding")}
                  >= {_SEM_TAU}
        )
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication scoped to embedding clusters — here the ``label``
    column plays the k-means cluster id (plans/similarity.py ivf_topk
    owns the quantizer). Within each cluster, a document is pruned when
    an earlier-id cluster-mate sits within cosine >= {tau} — the STRICT
    variant of the paper's rule: similarity chains over-prune
    transitively (a~b, b~c drops both b and c even when a is not within
    tau of c), a documented deviation chosen because this form is
    SQL-expressible and therefore oracle-checkable; the paper-faithful
    greedy keep-against-kept-set rule is ``semdedup_keep(greedy=True)``,
    audited by ``semdedup_greedy_audit``. One shuffle keyed on
    the cluster id, so the quadratic term is bounded per cluster (the
    whole point of clustering first); dense math runs as a per-cluster
    blockwise BLAS gram matrix (operators/similarity.semdedup_keep) —
    the interpreted-HOF pair-join form measured ~4.8 s warm at sf0.1 vs
    sub-second for the Arrow/numpy form, the same ~1000x per-dot gap
    the ANN family showed. Cosine margins at tau dwarf BLAS-vs-DuckDB
    fold-order divergence (the ann_brute_force_topk_np determinism
    argument). Output: the KEPT rows, ids only."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semdedup_keep(emb, _SEM_TAU)


@register(
    "semdedup_greedy_audit",
    bench="ann",
    ops=("OP-X-DEDUP-02", "OP-X-SIM-01"),
    # n_strict_kept is fully SQL-expressible (the NOT EXISTS form);
    # the greedy kept-set is sequential by definition (no SQL twin), so
    # its CORRECTNESS is pinned relationally: strict-kept must be a
    # subset of greedy-kept (greedy only ever retains more — the
    # chain-rescue property), booleans the oracle pins to TRUE. The
    # pytest property suite checks greedy against a pure-Python
    # reference; this query gives the driver the same guarantee.
    oracle=f"""
        SELECT (SELECT COUNT(*) FROM embeddings a
                WHERE NOT EXISTS (
                    SELECT 1 FROM embeddings b
                    WHERE b.label = a.label AND b.vec_id < a.vec_id
                      AND {_SQL_COS.format(a="a.embedding", b="b.embedding")}
                          >= {_SEM_TAU})) AS n_strict_kept,
               TRUE AS greedy_keeps_at_least_strict,
               TRUE AS strict_subset_of_greedy
    """,
)
def semdedup_greedy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the paper-faithful GREEDY SemDeDup rule (keep a row
    unless an earlier KEPT cluster-mate is within tau) against the
    registered strict rule: emits the strict kept-count (oracle-checked
    exactly) plus two relational invariants — greedy keeps a superset
    of strict (chains rescue later members), both pinned TRUE. Runs
    both rules through the same per-cluster slab sweep, so the audit
    exercises the sequential greedy path end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    strict = S.semdedup_keep(emb, _SEM_TAU).select("vec_id")
    greedy = S.semdedup_keep(emb, _SEM_TAU, greedy=True).select("vec_id")
    n_strict = strict.agg(F.count(F.lit(1)).alias("n_strict_kept"))
    n_greedy = greedy.agg(F.count(F.lit(1)).alias("n_greedy"))
    n_common = strict.join(greedy, "vec_id").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return (
        n_strict.crossJoin(F.broadcast(n_greedy))
        .crossJoin(F.broadcast(n_common))
        .select(
            "n_strict_kept",
            (F.col("n_greedy") >= F.col("n_strict_kept")).alias(
                "greedy_keeps_at_least_strict"
            ),
            (F.col("n_common") == F.col("n_strict_kept")).alias(
                "strict_subset_of_greedy"
            ),
        )
    )


_POLITE_DELAY_S = 6  # per-domain seconds between fetches


@register(
    "crawl_frontier_schedule",
    bench="windows",
    ops=("OP-SRC-01", "OP-TOPK-02"),
    oracle=f"""
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                    - 1 AS BIGINT) AS slot,
               CAST((ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                    - 1) * {_POLITE_DELAY_S} AS BIGINT) AS scheduled_offset_s
        FROM documents
    """,
)
def crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling for a distributed crawl frontier. The
    reference fetches serially and re-runs every 6 hours
    (/root/reference/crawl.py:78,155-162) — serial order IS its
    politeness. Distributed, that becomes: per-domain (``source``)
    deterministic slots, each offset {delay}s from the last, domains
    fanned out in parallel. Slot numbering (ROW_NUMBER - 1 == the
    exclusive running count) runs as a chunked prefix sum
    (operators/prefix.py) so a mega-domain's slot assignment doesn't
    serialize one window task at 100 TB — its FETCHES are still
    serialized by design (that's politeness: crawl/pipeline's fetch
    pass gives each domain one thread that fetches serially, see
    scheduled_fetch_stage), but computing the schedule shouldn't be."""
    from ..operators.prefix import chunked_cumsum

    docs = load_table(spark, sf_dir, "documents")
    slotted = chunked_cumsum(
        docs.select("doc_id", "source"), ["source"], "doc_id", F.lit(1), "rn"
    )
    slot = (F.col("rn") - F.lit(1)).cast("bigint")
    return slotted.select(
        "doc_id",
        "source",
        slot.alias("slot"),
        (slot * F.lit(_POLITE_DELAY_S)).cast("bigint").alias(
            "scheduled_offset_s"
        ),
    )


@register(
    "lang_temperature_weights",
    bench="text",
    ops=("OP-AGG-01", "OP-AGG-02"),
    oracle=f"""
        WITH per AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per
        )
        SELECT p.lang, p.n_docs, p.n_tokens,
               ROUND(p.n_tokens * 1.0 / t.total_tokens, 6) AS token_share,
               ROUND(sqrt(p.n_tokens * 1.0 / t.total_tokens), 6)
                   AS tempered_share
        FROM per p CROSS JOIN tot t
    """,
)
def lang_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (the multilingual-pretraining
    standard: sample language l with probability proportional to
    p_l^alpha, alpha < 1, so low-resource languages are upsampled —
    XLM/XLM-R, arXiv:1911.02116 §3). alpha is pinned at 0.5 because
    p^0.5 = sqrt(p) is a SINGLE IEEE-deterministic operation — a general
    pow() is not bit-stable across engines (the token_rarity_score
    ln() rationale). ``tempered_share`` is the unnormalized weight;
    consumers renormalize by the sum (kept out of the query so every
    float column stays one-rounded-op-deep). Same one-aggregate +
    broadcast-totals shape as domain_mix_weights."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(T.tokens("text")).cast("bigint")).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    share = F.col("n_tokens") * F.lit(1.0) / F.col("total_tokens")
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(F.sqrt(share), 6).alias("tempered_share"),
    )


@register(
    "span_dedup_stats",
    bench="dedup",
    ops=("OP-X-DEDUP-02", "OP-AGG-01"),
    oracle=_SQL_SPAN_CTES
    + """
        , clipped AS (
            SELECT doc_id,
                   GREATEST(0, span_end - GREATEST(span_start,
                       COALESCE(MAX(span_end) OVER (
                           PARTITION BY doc_id ORDER BY span_start
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) + 1) + 1)
                       AS covered
            FROM spans
        ), per_doc AS (
            SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS n_dup_tokens
            FROM clipped GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               COALESCE(p.n_dup_tokens, 0) AS n_dup_tokens,
               CAST(len(t.toks) AS BIGINT) - COALESCE(p.n_dup_tokens, 0)
                   AS kept_tokens,
               ROUND(COALESCE(p.n_dup_tokens, 0) * 1.0
                     / NULLIF(len(t.toks), 0), 4) AS dup_frac
        FROM t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    """,
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting for span-cutting (the consumer side of
    ``duplicate_spans``): per document, how many tokens sit inside SOME
    duplicated span — the exact volume Lee et al.'s dedup removes —
    against the doc's total. Spans from the same doc can OVERLAP in
    token range (runs are maximal in position space, not token space),
    so coverage is an interval union: each span is clipped at the
    running max of preceding span ends (one window over the tiny span
    set, keyed by doc). Every doc gets a row (zeros when clean), so the
    output drives both the cut itself and corpus-level dup-rate
    dashboards. Adds one doc-keyed window + one left join over the
    duplicate_spans plan; all costs stay document-keyed."""
    spans = duplicate_spans(spark, sf_dir)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("span_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    clipped = spans.select(
        "doc_id",
        F.greatest(
            F.lit(0),
            F.col("span_end")
            - F.greatest(
                F.col("span_start"),
                F.coalesce(F.max("span_end").over(w), F.lit(0)) + F.lit(1),
            )
            + F.lit(1),
        ).alias("covered"),
    )
    per_doc = clipped.groupBy("doc_id").agg(
        F.sum("covered").alias("n_dup_tokens")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens("text")).cast("bigint").alias("n_tokens")
    )
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        (F.col("n_tokens") - F.coalesce("n_dup_tokens", F.lit(0))).alias(
            "kept_tokens"
        ),
        F.round(
            F.coalesce("n_dup_tokens", F.lit(0))
            * F.lit(1.0)
            / F.nullif(F.col("n_tokens"), F.lit(0)),
            4,
        ).alias("dup_frac"),
    )


@register(
    "weighted_sample_aes",
    bench="text",
    ops=("OP-FLT-03", "OP-TOPK-01"),
    oracle="""
        WITH w AS (
            SELECT doc_id, lang,
                   len(regexp_extract_all(lower(text), '[a-z]+')) AS wt
            FROM documents
        ), keyed AS (
            SELECT doc_id, lang, wt,
                   CAST(ROUND(LN(
                       (list_reduce(list_prepend(CAST(0 AS BIGINT),
                            list_transform(
                                string_split(CAST(doc_id AS VARCHAR), ''),
                                c -> CAST(ascii(c) AS BIGINT))),
                            (a, b) -> (a*31 + b) % 1000000007) + 1.0)
                       / 1000000008.0) * 1000000.0, 0) AS BIGINT)
                       AS ln_u_e6
            FROM w WHERE wt > 0
        )
        SELECT doc_id, lang, wt, ln_u_e6
        FROM keyed
        ORDER BY CAST(ln_u_e6 AS DOUBLE) / wt DESC, doc_id LIMIT 50
    """,
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-
    Spirakis A-ES one-pass scheme (Efraimidis & Spirakis 2006): each
    doc draws u from a stable hash of its id and ranks by
    u^(1/weight) — equivalently ln(u)/weight, monotone and
    overflow-free — and the global top-50 IS a weighted sample without
    replacement, here with weight = token count (longer docs
    proportionally likelier, the upsampling rule curation mixes use).
    Unlike ``rand()``-based sampling this is engine-exact and
    re-run-reproducible (the ``hash_sample_by_lang`` rule), and
    unlike sequential reservoir algorithms A-ES is embarrassingly
    distributable: keys are per-row expressions and selection is a
    distributed top-k — the one-pass weighted reservoir over a 100 TB
    corpus with NO stateful scan.

    Determinism: u = (polyhash(doc_id)+1)/(P+1) is an exact-integer
    division; ln is scaled to an INTEGER (round(ln(u)*1e6) — the only
    emitted float-derived column is a BIGINT, so the value hash has no
    float-tolerance edge at all), and the ordering key ln_u_e6/wt is a
    single IEEE division of two exact integers — bit-identical in both
    engines; ties break on doc_id. Plan: one scan, keys in codegen,
    TakeOrderedAndProject — no global sort, no window."""
    docs = load_table(spark, sf_dir, "documents")
    from .sketches import _P, _poly_fold_sql

    wt = F.size(T.tokens("text")).cast("bigint")
    keyed = (
        docs.select("doc_id", "lang", wt.alias("wt"))
        .where(F.col("wt") > 0)
        .withColumn(
            "ln_u_e6",
            F.round(
                F.log(
                    (
                        F.expr(_poly_fold_sql("cast(doc_id as string)"))
                        + F.lit(1.0)
                    )
                    / F.lit(float(_P + 1))
                )
                * F.lit(1000000.0),
                0,
            ).cast("bigint"),
        )
    )
    return keyed.orderBy(
        (F.col("ln_u_e6").cast("double") / F.col("wt")).desc(), "doc_id"
    ).limit(50)


@register(
    "deterministic_negative_samples",
    bench="text",
    ops=("OP-X-SIM-01", "OP-PRJ-01"),
    oracle="""
        WITH d AS (
            SELECT doc_id, lang FROM documents
        ), n AS (
            SELECT COUNT(*) AS n FROM d
        ), r AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (ORDER BY doc_id) AS rnk
            FROM d
        ), a AS (
            SELECT d.doc_id, d.lang, js.j
            FROM d, (VALUES (1), (2), (3)) AS js(j)
        ), t AS (
            SELECT a.doc_id, a.lang, a.j,
                   (('0x' || substr(md5(a.doc_id || ':' || a.j), 1, 8))
                        ::BIGINT % (SELECT n FROM n)) + 1 AS trank
            FROM a
        )
        SELECT t.doc_id, t.j, r.doc_id AS neg_doc_id,
               (r.lang <> t.lang) AS cross_lang,
               (r.doc_id = t.doc_id) AS is_self
        FROM t JOIN r ON r.rnk = t.trank
        ORDER BY t.doc_id, t.j
    """,
)
def deterministic_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    every document draws 3 pseudo-random negatives by HASH-TO-RANK
    lookup — target_rank = md5(doc_id ':' j) mod N — so a re-run, a
    different engine, or a different partitioning selects the SAME
    negatives (the ``hash_sample_by_lang`` reproducibility rule applied
    to pair GENERATION instead of row selection). Emits the mapping
    plus cross-language and self-collision flags; training consumers
    drop/resample flagged rows, and the flags make the collision rate
    auditable instead of silent.

    Plan shape: the corpus gets an exact dense rank (1..N) from
    ``operators/rank.global_rank`` (range-repartition + broadcast
    offsets — no single-task window, and N rides along as a column so
    the modulus needs no separate count job); anchors explode x3; the
    negative lookup is then ONE hash equi-join on rank. At 100 TB this
    is the standard random-access-without-RNG shape: no sort beyond the
    rank build, no skew (md5 is uniform), and the join keys are dense
    integers. DuckDB mirrors rank and hash exactly (md5 hex prefix →
    32-bit integer is engine-neutral arithmetic)."""
    from ..operators.rank import global_rank

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ranked = global_rank(d, ["doc_id"], alias="rnk", total_alias="n")
    anchors = ranked.select(
        "doc_id", "lang", "n", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    )
    hash32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("j").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    targets = anchors.select(
        "doc_id", "lang", "j", (F.pmod(hash32, F.col("n")) + 1).alias("trank")
    )
    neg = ranked.select(
        F.col("doc_id").alias("neg_doc_id"),
        F.col("lang").alias("neg_lang"),
        F.col("rnk").alias("trank"),
    )
    return (
        targets.join(neg, "trank")
        .select(
            "doc_id",
            "j",
            "neg_doc_id",
            (F.col("neg_lang") != F.col("lang")).alias("cross_lang"),
            (F.col("neg_doc_id") == F.col("doc_id")).alias("is_self"),
        )
        .orderBy("doc_id", "j")
    )
