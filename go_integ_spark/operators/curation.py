"""Dataset-curation operators for training-data pipelines (no
counterpart in the reference — part of the beyond-reference analytics
layer, SURVEY.md §7 step 8):

- deterministic stratified sampling  content-hash bucket per stratum
- train/test contamination check     n-gram overlap against a held-out
                                     split
- corpus token statistics            per-stratum token distributions
- per-domain caps                    bound any one source's share
- quality-percentile filtering      two-pass cutoff + broadcast filter
- sequence packing                   token-budget bins for training
- weighted (importance) sampling     length-weighted keep probability

Scale design:

- Sampling (stratified and weighted) is a pure row-local filter on a
  hash bucket — no shuffle, no RNG state, reproducible across runs/
  engines/cluster sizes, and it composes with partition pruning (the
  filter reaches the scan). This is how you cut a 100 TB corpus to a
  fixed-rate sample without materializing anything.
- The contamination join exchanges only 8-byte shingle IDs, never
  text; the train side is deduplicated to distinct IDs before the
  join, so the shuffle is bounded by vocabulary, not corpus size.
- Token stats use exact percentiles (oracle-matched); the 100 TB path
  swaps in ``percentile_approx`` (t-digest, mergeable map-side) —
  same note as ``agg_percentiles``.
- The quality filter is the two-pass broadcast-cutoff pattern (like
  window_spend_quartiles): tiny per-stratum thresholds move, the
  corpus never does.
- Packing partitions by (lang, shard) so no window ever sees more
  than one shard of one language — shard count scales with the
  cluster, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_integ_spark.operators.dedup import (
    SHINGLE_K,
    SUBSTR_STRIDE,
    SUBSTR_W,
    _SHINGLE_EXPR,
    _cached_doc_sets,
    emb_probe_count,
)
from go_integ_spark.registry import register
from go_integ_spark.tables import load_table

from go_integ_spark.functions.cache import cached_persist as _cached_persist

# Per-language sampling rate (percent): downsample the dominant
# language, keep the tail — the standard re-balancing move for
# multilingual training corpora.
SAMPLE_RATES = {"en": 20}
DEFAULT_RATE = 60


def hash_bucket(col: F.Column) -> F.Column:
    """Deterministic [0, 100) bucket from the shared engine-portable
    60-bit md5 slice (functions/hashing.py — DuckDB computes the
    identical bucket, see the oracles below)."""
    from go_integ_spark.functions.hashing import h60

    return h60(col) % 100


@register(
    "sample_stratified",
    tags=("curation", "sampling"),
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
      < CASE WHEN lang = 'en' THEN {SAMPLE_RATES["en"]} ELSE {DEFAULT_RATE} END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sample: keep a doc iff its id-hash
    bucket falls under its language's rate. Row-local filter, zero
    shuffles, same sample on any cluster layout — unlike
    ``df.sample()``, whose output depends on partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(SAMPLE_RATES["en"])).otherwise(
        F.lit(DEFAULT_RATE)
    )
    return docs.filter(
        hash_bucket(F.col("doc_id").cast("string")) < rate
    ).select("doc_id", "lang")


# Shared CTE prefix: distinct word-k-gram shingles per doc (string
# form for DuckDB; Spark uses xxhash64 IDs — counts agree because the
# final output carries only counts, same collision-freeness assumption
# as the dedup oracles). The shingle SQL itself is imported from
# dedup so the two files cannot drift (one source of truth for the
# chr(31) separator and gram construction).
_SH_CTE = f"""
WITH words AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
), pos AS (
    SELECT doc_id, w, unnest(generate_series(1, len(w) - {SHINGLE_K - 1})) AS i
    FROM words WHERE len(w) >= {SHINGLE_K}
), sh AS (
    SELECT DISTINCT doc_id, {_SHINGLE_EXPR} AS shingle FROM pos
)
"""


@register(
    "contamination_ngram_overlap",
    tags=("curation", "contamination", "join"),
    oracle=_SH_CTE
    + """
, test_sh AS (
    SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0
), train_sids AS (
    SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(tr.shingle) AS BIGINT) AS n_contaminated,
       round(count(tr.shingle)::DOUBLE / count(*), 4) AS contamination_rate
FROM test_sh t
LEFT JOIN train_sids tr ON t.shingle = tr.shingle
GROUP BY t.doc_id
""",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination: for each held-out doc (doc_id % 10 ==
    0), the fraction of its distinct 5-gram shingles that appear
    anywhere in the train split. Reuses the session's cached shingle
    sets (built once per corpus, operators/dedup.py); the join ships
    8-byte shingle IDs against a distinct-deduplicated train
    vocabulary — corpus text never crosses the wire.
    """
    docs = load_table(spark, sf_dir, "documents")
    sets_ = _cached_doc_sets(docs)
    sh = sets_.select("doc_id", F.explode("sids").alias("sid"))
    test_sh = sh.filter(F.col("doc_id") % 10 == 0)
    train_sids = (
        sh.filter(F.col("doc_id") % 10 != 0).select("sid").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        test_sh.join(train_sids, "sid", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).alias(
                "contamination_rate"
            ),
        )
    )


@register(
    "corpus_token_stats",
    tags=("curation", "agg", "percentile"),
    oracle=r"""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
           AS total_tokens,
       round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens,
       round(quantile_cont(len(regexp_extract_all(text, '\S+')), 0.5), 4)
           AS p50_tokens,
       round(quantile_cont(len(regexp_extract_all(text, '\S+')), 0.95), 4)
           AS p95_tokens
FROM documents
GROUP BY lang, source
""",
)
def corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: doc and token counts plus token-
    count percentiles per (lang, source) stratum — the table you cut
    sampling rates from. One map-side-combined aggregation; token
    counting is row-local regexp (JVM, codegen).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    return (
        docs.select("lang", "source", n_tokens.alias("nt"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.round(F.avg("nt"), 4).alias("avg_tokens"),
            F.round(F.percentile("nt", F.lit(0.5)), 4).alias("p50_tokens"),
            F.round(F.percentile("nt", F.lit(0.95)), 4).alias("p95_tokens"),
        )
    )


DOMAIN_CAP = 15  # max docs kept per source


@register(
    "curation_domain_cap",
    tags=("curation", "window"),
    oracle=f"""
SELECT doc_id, source, CAST(rn AS INT) AS rn
FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn <= {DOMAIN_CAP}
""",
)
def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: keep at most DOMAIN_CAP docs per source (by
    doc_id order) — the standard guard against any one domain
    dominating a training mix.

    Scale: one shuffle on source; source cardinality grows with the
    corpus so partitions stay balanced. A mega-domain (single source
    holding a measurable corpus fraction) would skew its partition —
    for that regime, pre-filter with a deterministic hash sample down
    to ~cap-size before the exact window (same output for any source
    where the sample keeps >= cap rows).
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= DOMAIN_CAP)
        .select("doc_id", "source", F.col("rn").cast("int").alias("rn"))
    )


QUALITY_CUT_PCT = 0.25  # drop the bottom quartile per language


@register(
    "curation_quality_filter",
    tags=("curation", "quality", "two_pass"),
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang,
           length(regexp_replace(text, '[^a-z]', '', 'g'))
               / greatest(length(text), 1) AS alpha_density
    FROM documents
), cuts AS (
    SELECT lang, quantile_cont(alpha_density, {QUALITY_CUT_PCT}) AS cut
    FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, round(s.alpha_density, 6) AS score
FROM scored s JOIN cuts c ON s.lang = c.lang
WHERE s.alpha_density >= c.cut
""",
)
def curation_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering by per-language percentile: drop the bottom
    quartile of alpha-density within each language.

    The two-pass shape survives 100 TB: pass 1 reduces the corpus to
    5 (lang, cutoff) rows; pass 2 re-scans with a broadcast join +
    row-local filter. The corpus is never sorted or windowed. Exact
    percentile holds per-lang score lists at cutoff time — at extreme
    scale swap ``percentile`` for ``percentile_approx`` (t-digest);
    the filter plan is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    density = F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    scored = docs.select("doc_id", "lang", density.alias("alpha_density"))
    cuts = scored.groupBy("lang").agg(
        F.percentile("alpha_density", F.lit(QUALITY_CUT_PCT)).alias("cut")
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .filter(F.col("alpha_density") >= F.col("cut"))
        .select("doc_id", "lang", F.round("alpha_density", 6).alias("score"))
    )


PACK_BUDGET = 256  # whitespace tokens per packed training sequence
PACK_SHARDS = 8  # independent packing shards per language


@register(
    "curation_pack_sequences",
    tags=("curation", "packing", "window"),
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
           len(regexp_extract_all(text, '\\S+')) AS nt
    FROM documents
), packed AS (
    SELECT lang, shard, nt,
           CAST(floor((sum(nt) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - nt) / {PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM toks
)
SELECT lang, shard, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT)  AS total_tokens
FROM packed
GROUP BY lang, shard, bin_id
""",
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign docs (in deterministic
    doc_id order) to consecutive token-budget bins of PACK_BUDGET
    whitespace tokens — the batch-shaping step before tokenized
    training shards are written.

    Bin id = floor(preceding-cumulative-tokens / budget): the
    streaming-chunking form of packing (a doc may straddle a bin
    boundary; exact next-fit packing is sequentially dependent and
    not parallelizable). Partitioned by (lang, doc_id % shards): each
    window sees 1/shards of one language, so the sort is distributed
    — shard count scales with the cluster.
    """
    docs = load_table(spark, sf_dir, "documents")
    nt = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    toks = docs.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        nt.alias("nt"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin_id",
        # bigint: an int bin_id wraps once one (lang, shard)
        # partition passes PACK_BUDGET * 2^31 cumulative tokens
        # (~5.5e11 — the 100TB class this plans for; r7 review)
        F.floor((F.sum("nt").over(w) - F.col("nt")) / PACK_BUDGET).cast("bigint"),
    )
    return packed.groupBy("lang", "shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
    )


@register(
    "curation_weighted_sample",
    tags=("curation", "sampling"),
    oracle="""
SELECT doc_id, lang,
       CAST(least(95, greatest(5, 100 * n_chars // 400)) AS BIGINT)
           AS keep_pct
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
      < least(95, greatest(5, 100 * n_chars // 400))
""",
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with a deterministic coin: keep probability
    proportional to document length (clamped to [5%, 95%]) — the
    up-weight-long-documents move in data-mixing pipelines, with the
    same engine-portable md5 bucket as ``sample_stratified`` so the
    sample is reproducible on any cluster layout and in the oracle.
    Row-local filter; composes with partition pruning.
    """
    docs = load_table(spark, sf_dir, "documents")
    keep_pct = F.least(
        F.lit(95),
        F.greatest(F.lit(5), F.floor((F.lit(100) * F.col("n_chars")) / 400)),
    ).cast("bigint")
    return (
        docs.withColumn("keep_pct", keep_pct)
        .filter(hash_bucket(F.col("doc_id").cast("string")) < F.col("keep_pct"))
        .select("doc_id", "lang", "keep_pct")
    )


# -- end-to-end curation funnel --------------------------------------------

FUNNEL_LANGS = ("en", "es", "de", "fr")  # "supported" languages
FUNNEL_MIN_CHARS = 100
FUNNEL_SAMPLE_PCT = 50


@register(
    "curation_pipeline_funnel",
    tags=("curation", "pipeline", "dedup", "sampling"),
    oracle=f"""
WITH s2 AS (
    SELECT doc_id, text FROM documents
    WHERE lang IN {FUNNEL_LANGS!r}
      AND n_chars >= {FUNNEL_MIN_CHARS}
), keep_exact AS (
    SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(text)
), s3 AS (
    SELECT s2.* FROM s2 JOIN keep_exact USING (doc_id)
), wins AS (
    SELECT doc_id,
           md5(substr(text, CAST(t.i AS INT), {SUBSTR_W})) AS chunk_hash
    FROM s3, unnest(generate_series(1, len(text) - {SUBSTR_W - 1},
                                    {SUBSTR_STRIDE})) AS t(i)
    WHERE len(text) >= {SUBSTR_W}
), dup_b AS (
    SELECT DISTINCT b.doc_id
    FROM wins a JOIN wins b
      ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
), s4 AS (
    SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM dup_b)
), s5 AS (
    SELECT * FROM s4
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
          < {FUNNEL_SAMPLE_PCT}
)
SELECT 'input' AS stage, CAST(0 AS INT) AS stage_idx,
       CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
UNION ALL SELECT 'lang_quality', 1, (SELECT count(*) FROM s2)
UNION ALL SELECT 'exact_dedup', 2, (SELECT count(*) FROM s3)
UNION ALL SELECT 'near_dedup', 3, (SELECT count(*) FROM s4)
UNION ALL SELECT 'sample', 4, (SELECT count(*) FROM s5)
""",
)
def curation_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as one composed query — the shape a
    training-data run actually executes: language/quality gate ->
    exact dedup (min doc per content hash) -> near-dup removal (any
    doc sharing a 40-char window hash with a smaller surviving doc is
    dropped) -> deterministic 50% hash sample. Output is the funnel:
    one row per stage with the surviving document count.

    Every stage is shuffle-lean on its own (content-hash group-by,
    16-byte chunk-hash self-join, row-local hash sample), and the
    whole funnel executes ONCE: rather than counting five separate
    survivor frames (five DAG branches recomputing shared lineage),
    each doc carries per-stage survival flags and a single aggregate
    sums them — one pass over the pipeline, then stack() unpivots the
    5-counter row. At 100 TB the flags frame is also what you'd
    persist for auditing (why a doc was dropped, and at which stage).
    """
    from go_integ_spark.operators.dedup import chunk_window_hashes

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    d2 = docs.withColumn(
        "f2",
        F.col("lang").isin(*FUNNEL_LANGS)
        & (F.col("n_chars") >= FUNNEL_MIN_CHARS),
    )
    s2 = d2.filter(F.col("f2"))
    keep_exact = (
        s2.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("keep"))
    )
    d3 = d2.join(keep_exact, "doc_id", "left").withColumn(
        "f3", F.col("f2") & F.coalesce(F.col("keep"), F.lit(False))
    )
    wins = chunk_window_hashes(d3.filter(F.col("f3")))
    # "b shares a chunk hash with some smaller doc a" == "b is not
    # the minimum doc_id of at least one of its chunk groups", so one
    # shuffle on chunk_hash replaces the r12 self-join. That join (a)
    # recomputed the whole wins lineage — scan, exact-dedup join,
    # window extraction — once per side, and (b) was quadratic per
    # hot chunk (k docs sharing a boilerplate chunk -> k^2/2 join
    # rows): guide §2.3 aggregate-before-shuffle + §3 exploding-join
    # avoidance. The r13 form aggregated with collect_set, which put a
    # k-element array in ONE aggregation buffer per hot chunk (a 10M-
    # doc boilerplate chunk at 100 TB is an ~80 MB single buffer —
    # VERDICT r13 item 2); the window min over the same partitioning
    # needs no array at all: same single exchange, sort-based and
    # spillable, O(1) state per row.
    from pyspark.sql import Window

    dup_b = (
        wins.withColumn(
            "mn", F.min("doc_id").over(Window.partitionBy("chunk_hash"))
        )
        .filter(F.col("doc_id") != F.col("mn"))
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(True).alias("dup"))
    )
    d4 = d3.join(dup_b, "doc_id", "left").withColumn(
        "f4", F.col("f3") & F.col("dup").isNull()
    )
    d5 = d4.withColumn(
        "f5",
        F.col("f4")
        & (hash_bucket(F.col("doc_id").cast("string")) < FUNNEL_SAMPLE_PCT),
    )
    counters = d5.agg(
        F.count(F.lit(1)).alias("n0"),
        *[
            F.sum(F.col(f).cast("long")).alias(f"n{i}")
            for i, f in ((1, "f2"), (2, "f3"), (3, "f4"), (4, "f5"))
        ],
    )
    return counters.select(
        F.expr(
            "stack(5,"
            " 'input', 0, n0,"
            " 'lang_quality', 1, n1,"
            " 'exact_dedup', 2, n2,"
            " 'near_dedup', 3, n3,"
            " 'sample', 4, n4) AS (stage, stage_idx, n_docs)"
        )
    ).select("stage", F.col("stage_idx").cast("int"), "n_docs")


# C4-style boilerplate detection, adapted to this corpus: C4 removes
# lines repeated across >= 3 pages; these documents are single-line,
# so the repeated unit is the word trigram within a source (the
# domain analog). A trigram present in >= BOILER_MIN_DOCS distinct
# documents of the same source is boilerplate; each document is
# scored by the fraction of its distinct trigrams that are
# boilerplate and kept below BOILER_KEEP_RATIO.
BOILER_NGRAM = 3
BOILER_MIN_DOCS = 3
BOILER_KEEP_RATIO = 0.2

_BOILER_GRAM_SQL = " || ' ' || ".join(
    f"w[i + {j}]" for j in range(BOILER_NGRAM)
)


@register(
    "curation_boilerplate_ngrams",
    tags=("curation", "text", "dedup"),
    oracle=f"""
WITH words AS (
    SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), pos AS (
    SELECT doc_id, source, w,
           unnest(generate_series(1, len(w) - {BOILER_NGRAM - 1})) AS i
    FROM words WHERE len(w) >= {BOILER_NGRAM}
), g AS (
    SELECT DISTINCT doc_id, source, {_BOILER_GRAM_SQL} AS gram FROM pos
), boiler AS (
    SELECT source, gram FROM g
    GROUP BY source, gram
    HAVING count(*) >= {BOILER_MIN_DOCS}
), per_doc AS (
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(b.gram) AS n_boiler
    FROM g LEFT JOIN boiler b
      ON b.source = g.source AND b.gram = g.gram
    GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_boiler,
       round(n_boiler * 1.0 / n_grams, 4) AS boiler_ratio,
       n_boiler * 1.0 / n_grams < {BOILER_KEEP_RATIO} AS keep
FROM per_doc
""",
)
def curation_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate scoring (C4 §2.2's repeated-line
    filter, re-expressed for single-line docs as repeated per-source
    trigrams).

    Scale design: per-doc distinct trigrams are built ROW-LOCALLY
    (transform over the word array + array_distinct — zero shuffles,
    same property as doc_shingle_sets); the document-frequency count
    and the membership join both exchange (source, gram) keys, and
    AQE reuses the same hash partitioning for the join that the
    count's groupBy established. The final per-doc agg shuffles
    doc_id + two longs. Gram text (not a hash) is the key because
    the boilerplate *report* is the product — a pipeline that only
    needs the filter would swap in xxhash64 gram IDs for 8-byte
    shuffle keys like the dedup operators.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # gram term list derived from BOILER_NGRAM (kept in lockstep with
    # the oracle's _BOILER_GRAM_SQL — a hardcoded 3-term lambda here
    # would silently diverge from the oracle if the constant changed)
    gram_terms = ", ".join(f"w[i - 1 + {j}]" for j in range(BOILER_NGRAM))
    grams_arr = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(w) - {BOILER_NGRAM - 1}),"
            f" i -> concat_ws(' ', {gram_terms}))"
        )
    )
    g = (
        docs.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= BOILER_NGRAM)
        .select("doc_id", "source", F.explode(grams_arr).alias("gram"))
    )
    boiler = (
        g.groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DOCS)
        .select("source", "gram", F.lit(True).alias("is_boiler"))
    )
    per_doc = (
        g.join(boiler, ["source", "gram"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("is_boiler").alias("n_boiler"),
        )
    )
    ratio = F.col("n_boiler") / F.col("n_grams")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        F.round(ratio, 4).alias("boiler_ratio"),
        (ratio < BOILER_KEEP_RATIO).alias("keep"),
    )


# Data mixing: per-source sampling weights that pull the corpus
# toward a target token distribution (uniform across sources here —
# deterministic and oracle-friendly; swap the target map for the
# DoReMi/hand-tuned shares a real run uses). Weights are capped so a
# tiny source cannot explode its repetition factor.
MIX_MAX_WEIGHT = 3.0


@register(
    "curation_mix_weights",
    tags=("curation", "sampling", "two_pass"),
    oracle=f"""
WITH per_source AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
), shared AS (
    SELECT *,
           sum(n_tokens) OVER () AS total_tokens,
           count(*) OVER () AS n_sources
    FROM per_source
)
SELECT source, n_docs, n_tokens,
       round(n_tokens * 1.0 / total_tokens, 6) AS actual_share,
       round(least((1.0 / n_sources) / (n_tokens * 1.0 / total_tokens),
                   {MIX_MAX_WEIGHT}), 4) AS mix_weight
FROM shared
""",
)
def curation_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture weights: weight = target_share /
    actual_token_share, capped at MIX_MAX_WEIGHT (a source repeated
    more than ~3x overfits before it balances).

    Scale shape: one corpus-wide aggregation shuffle produces the
    per-source token counts; the share/weight math is a window over
    THAT tiny frame (one row per source), so the unpartitioned window
    — normally a scale bug — is bounded by source cardinality, never
    corpus size. The output is the sampling-weight manifest consumed
    by the same weighted sampler as dedup_soft_weights.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    target = F.lit(1.0) / F.count(F.lit(1)).over(w)
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("actual_share"),
        F.round(F.least(target / share, F.lit(MIX_MAX_WEIGHT)), 4).alias(
            "mix_weight"
        ),
    )


# Deterministic corpus shuffle-sharding: the write-side layout step
# between curation and training.
N_SHUFFLE_SHARDS = 8
SHUFFLE_SALT = "epoch0"


@register(
    "curation_shuffle_shards",
    tags=("curation", "sharding"),
    oracle=f"""
SELECT doc_id,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            % {N_SHUFFLE_SHARDS} AS INT) AS shard,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SALT}'),
        1, 15))::BIGINT AS sort_key,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
FROM documents
""",
)
def curation_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding manifest: every doc gets
    a shard (h60(doc_id) mod N) and an independent salted sort key
    (h60(doc_id:salt)) — reproducible pseudo-random training order,
    re-shuffleable per epoch by changing the salt, no RNG state.

    The query itself is a pure map-side Project (zero shuffles —
    pinned in tests/test_curation.py). The 100 TB write is
    ``df.repartition(N, "shard").sortWithinPartitions("sort_key")``:
    local sorts inside each shard partition, NO global rank — a
    row_number over shard (8 groups) would put corpus/8 rows in one
    window task, which is exactly the skew this layout avoids. Readers
    stream shards in sort_key order and the concatenation is the
    deterministic shuffled corpus.
    """
    from go_integ_spark.functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    return docs.select(
        "doc_id",
        (h60(did) % N_SHUFFLE_SHARDS).cast("int").alias("shard"),
        h60(F.concat(did, F.lit(f":{SHUFFLE_SALT}"))).alias("sort_key"),
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
    )


# Embedding-level decontamination settings: eval split = every 10th
# vector; similarity bar and probe rule match dedup_embedding_cosine's
# verified recall-1.0 operating point (probes scale with the cell
# count — see emb_probe_count's comment for the fixed-count recall
# regression the sf0.1 sweep caught).
CONTAM_EMB_THRESHOLD = 0.45


@register(
    "contamination_embedding",
    tags=("curation", "contamination", "vector"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), ev AS (
    SELECT * FROM v WHERE vec_id % 10 = 0
), tr AS (
    SELECT * FROM v WHERE vec_id % 10 <> 0
), best AS (
    SELECT eval_id, train_id, s FROM (
        SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
               list_cosine_similarity(ev.e, tr.e) AS s,
               row_number() OVER (
                   PARTITION BY ev.vec_id
                   ORDER BY list_cosine_similarity(ev.e, tr.e) DESC, tr.vec_id
               ) AS rn
        FROM ev JOIN tr
          ON list_cosine_similarity(ev.e, tr.e) >= {CONTAM_EMB_THRESHOLD}
    ) WHERE rn = 1
)
SELECT ev.vec_id AS eval_id,
       (b.eval_id IS NOT NULL) AS contaminated,
       b.train_id AS best_train_id,
       round(b.s, 4) AS best_cos
FROM ev LEFT JOIN best b ON b.eval_id = ev.vec_id
""",
)
def contamination_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level train/eval decontamination — the semantic twin
    of ``contamination_ngram_overlap``: an eval item is contaminated
    when any training item sits above cosine 0.45 (paraphrases and
    near-translations that n-gram overlap misses). Output: one row
    per eval vector with the verdict and its closest training match.

    Scale shape mirrors dedup_embedding_cosine (shared IVF cells, no
    cross join): both splits probe their ``emb_probe_count(k)``
    nearest cells (coverage-preserving, scales with the cell count),
    candidates come from one cell equi-join, exact cosine verifies,
    and the per-eval best is a bounded window. The
    brute-force oracle re-asserts candidate recall 1.0 at this
    operating point every gate run. At 100 TB the train side is
    written partitioned by cell_id, so each eval batch reads only its
    probed cells.
    """
    from go_integ_spark.functions.vector import fold_cosine_block, with_norm
    from go_integ_spark.operators.similarity import IVF_K, ivf_centroids, nearest_cells_pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # sqrt(N) cells, like dedup_embedding_cosine: dense block scoring
    # with a FIXED cell count would grow each cogroup's sim matrix
    # quadratically with the corpus (recall 1.0 re-measured at both
    # gate scales under this rule before the switch).
    k_cells = max(IVF_K, int(emb.count() ** 0.5))
    v = with_norm(emb)
    (crow,) = ivf_centroids(v, k_cells).collect()
    # Per-cell BLOCK scoring (the dedup_embedding_cosine /
    # embedding_knn_graph shape): each probed split ships its vectors
    # to a cell ONCE, the eval x train block is a fold-exact blocked
    # matmul, and only above-threshold pairs leave the kernel — a
    # row-per-pair join would push ~1 KB of vectors per candidate
    # pair through the Arrow boundary.
    import numpy as np
    import pandas as pd

    # Persist the probed frame ONCE and derive both split sides from
    # the cached scan (ADVICE r12): the O(N*K*d) nearest-cells kernel
    # lives in `probed`'s lineage, and persisting ev/tr separately
    # (the r12 slot arrangement) materialized that kernel once per
    # side. The kNN path's `pe` precedent: one persisted pass, cheap
    # filtered reads downstream, and the scheduler's cell sizes come
    # from one aggregate over the same cached frame (zero sizing jobs
    # in the grid helper).
    probed = v.select(
        "vec_id",
        "e",
        "e_norm",
        F.explode(nearest_cells_pd(crow, emb_probe_count(k_cells))).alias(
            "cell_id"
        ),
    )
    probed = _cached_persist("contam_emb_probed", probed, lambda p=probed: p)
    ev_side = probed.filter(F.col("vec_id") % 10 == 0)
    tr_side = probed.filter(F.col("vec_id") % 10 != 0)
    cell_rows = (
        probed.groupBy("cell_id")
        .agg(
            F.count_if(F.col("vec_id") % 10 != 0).alias("n_m"),
            F.count_if(F.col("vec_id") % 10 == 0).alias("n_p"),
        )
        .collect()
    )

    def _contam_pairs(ev_pdf, tr_pdf):
        m, n = len(ev_pdf), len(tr_pdf)
        empty = pd.DataFrame(
            {
                "eval_id": pd.Series([], dtype="int64"),
                "train_id": pd.Series([], dtype="int64"),
                "s": pd.Series([], dtype="float64"),
            }
        )
        if m == 0 or n == 0:
            return empty
        eids = ev_pdf["vec_id"].to_numpy(dtype=np.int64)
        tids = tr_pdf["vec_id"].to_numpy(dtype=np.int64)
        sim = fold_cosine_block(
            ev_pdf["e"], ev_pdf["e_norm"], tr_pdf["e"], tr_pdf["e_norm"]
        )
        ii, jj = np.where(sim >= CONTAM_EMB_THRESHOLD)
        if len(ii) == 0:
            return empty
        return pd.DataFrame(
            {"eval_id": eids[ii], "train_id": tids[jj], "s": sim[ii, jj]}
        )

    # 2-D capped grid + cost-binned exchange (the unified scheduler,
    # functions/blocks.py — r12, VERDICT r11 item 6): the corpus is
    # CLUSTERED (hot cells), so one-task-per-cell leaves a hot cell's
    # |eval block| x |train block| as a single task while AQE
    # byte-coalescing would stack several. Sub-splitting is
    # result-safe: the kernel emits EVERY pair >= threshold (no
    # per-block top-k), so the union over sub-blocks is the identical
    # pair set and the trailing .distinct() / top-1 window contracts
    # are untouched. Cell sizes come from the one aggregate over the
    # persisted `probed` frame above, so the helper runs zero sizing
    # jobs and reads only cheap cached scans.
    from go_integ_spark.functions.blocks import grid_block_cogroup
    from go_integ_spark.operators.similarity import KNN_CELL_CAP

    tr_aliased = tr_side.select(
        F.col("vec_id").alias("tv_id"),
        F.col("e").alias("te"),
        F.col("e_norm").alias("tn"),
        "cell_id",
    )

    def _contam_grid(ev_pdf, tr_pdf):
        return _contam_pairs(
            ev_pdf,
            tr_pdf.rename(
                columns={"tv_id": "vec_id", "te": "e", "tn": "e_norm"}
            ),
        )

    scored = grid_block_cogroup(
        ev_side,
        tr_aliased,
        ["cell_id"],
        "vec_id",
        "tv_id",
        _contam_grid,
        "eval_id bigint, train_id bigint, s double",
        KNN_CELL_CAP,
        cell_sizes=[
            ((r["cell_id"],), r["n_m"], r["n_p"]) for r in cell_rows
        ],
    ).distinct()  # a pair sharing several cells scores identically
    w = Window.partitionBy("eval_id").orderBy(F.col("s").desc(), "train_id")
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("eval_id", "train_id", "s")
    )
    evals = v.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("eval_id")
    )
    return evals.join(best, "eval_id", "left").select(
        "eval_id",
        F.col("train_id").isNotNull().alias("contaminated"),
        F.col("train_id").alias("best_train_id"),
        F.round(F.col("s"), 4).alias("best_cos"),
    )


from go_integ_spark.operators.dedup import (  # noqa: E402
    DEDUP_EMB_STRICT_PROBES as _STRICT_PROBES_SQL,
)
from go_integ_spark.operators.similarity import IVF_K as _IVF_K_SQL  # noqa: E402

# Production-shaped decontamination operating point (r13, VERDICT
# r12 item 7): the 0.45 noise-floor form above exists to re-assert
# recall 1.0 against the brute-force oracle, but its cells/4 probe
# rule is ~N^2/4 pair work BY DESIGN — the scale path is the strict
# (>= 0.8) threshold with a FIXED nprobe, the faiss search shape and
# the dedup_embedding_cosine_strict precedent (N^1.5 total pair
# work at sqrt(N) cells).
CONTAM_EMB_STRICT = 0.8


@register(
    "contamination_embedding_strict",
    tags=("curation", "contamination", "vector", "llm_pipeline"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT cent_id, ce FROM (
        SELECT vec_id AS cent_id, e AS ce,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS crn,
               count(*) OVER () AS n
        FROM v
    ) WHERE crn <= greatest({_IVF_K_SQL},
                            CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT))
), ranked AS (
    SELECT v.vec_id, c.cent_id AS cell_id,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
           ) AS prn
    FROM v CROSS JOIN cent c
), ev_probes AS (
    SELECT vec_id, cell_id FROM ranked
    WHERE prn <= {_STRICT_PROBES_SQL} AND vec_id % 10 = 0
), tr_assigned AS (
    SELECT vec_id, cell_id FROM ranked
    WHERE prn = 1 AND vec_id % 10 <> 0
), cand AS (
    SELECT DISTINCT p.vec_id AS eval_id, a.vec_id AS train_id
    FROM ev_probes p JOIN tr_assigned a ON a.cell_id = p.cell_id
), best AS (
    SELECT eval_id, train_id, s FROM (
        SELECT cand.eval_id, cand.train_id,
               list_cosine_similarity(x.e, y.e) AS s,
               row_number() OVER (
                   PARTITION BY cand.eval_id
                   ORDER BY list_cosine_similarity(x.e, y.e) DESC,
                            cand.train_id
               ) AS rn
        FROM cand
        JOIN v x ON x.vec_id = cand.eval_id
        JOIN v y ON y.vec_id = cand.train_id
        WHERE list_cosine_similarity(x.e, y.e) >= {CONTAM_EMB_STRICT}
    ) WHERE rn = 1
)
SELECT ev.vec_id AS eval_id,
       (b.eval_id IS NOT NULL) AS contaminated,
       b.train_id AS best_train_id,
       round(b.s, 4) AS best_cos
FROM (SELECT vec_id FROM v WHERE vec_id % 10 = 0) ev
LEFT JOIN best b ON b.eval_id = ev.vec_id
""",
)
def contamination_embedding_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``contamination_embedding`` at its PRODUCTION operating point:
    an eval item is contaminated when a training item sits above
    cosine {CONTAM_EMB_STRICT} — the near-duplicate bar real
    decontamination pipelines run, vs the 0.45 noise-floor form whose
    job is the recall-1.0 oracle re-assertion.

    Shape is the real IVF search (the dedup_embedding_cosine_strict
    precedent): the TRAIN side sits as a member of its ONE assigned
    cell — at 100 TB the train corpus is written partitioned by
    cell_id once — and each EVAL item probes its
    {DEDUP_EMB_STRICT_PROBES} nearest cells, so each eval batch reads
    only its probed cells. Total pair work is
    ~N_eval * nprobe * (N/K) = ~N^1.5 at sqrt(N) cells, never the
    cells/4 coverage rule's ~N^2/4. One task per cell
    (REPARTITION_BY_NUM): at >= 0.8 the near-isotropic bulk fills
    cells uniformly, so per-cell tasks are balanced and the 2-D grid
    would only add member replication (the measured strict-miner A/B:
    279 s per-cell vs 876 s grid at the 1000x sparse probe).

    The oracle replays the SAME algorithm in SQL — deterministic md5
    centroid pick, prn<=nprobe eval probes vs prn=1 train assignment
    — so the value contract is EXACT at any corpus, not
    recall-dependent. On the gate corpora no eval-train pair reaches
    0.8 (both engines honestly return all-false verdicts);
    non-vacuous correctness is pinned in tests/test_curation.py on
    a planted near-dup corpus.
    """
    import numpy as np
    import pandas as pd

    from go_integ_spark.functions.blocks import repartition_for_blocks
    from go_integ_spark.functions.vector import fold_cosine_block, with_norm
    from go_integ_spark.operators.dedup import DEDUP_EMB_STRICT_PROBES
    from go_integ_spark.operators.similarity import (
        IVF_K,
        ivf_centroids,
        nearest_cells_pd,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k_cells = max(IVF_K, int(emb.count() ** 0.5))
    v = with_norm(emb)
    (crow,) = ivf_centroids(v, k_cells).collect()
    ev_probes = v.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id",
        "e",
        "e_norm",
        F.explode(nearest_cells_pd(crow, DEDUP_EMB_STRICT_PROBES)).alias(
            "cell_id"
        ),
    )
    tr_members = v.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id",
        "e",
        "e_norm",
        F.element_at(nearest_cells_pd(crow, 1), 1).alias("cell_id"),
    )

    def _pairs(ev_pdf: pd.DataFrame, tr_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(ev_pdf) == 0 or len(tr_pdf) == 0:
            return pd.DataFrame(
                {
                    "eval_id": pd.Series([], dtype="int64"),
                    "train_id": pd.Series([], dtype="int64"),
                    "s": pd.Series([], dtype="float64"),
                }
            )
        sim = fold_cosine_block(
            ev_pdf["e"], ev_pdf["e_norm"], tr_pdf["e"], tr_pdf["e_norm"]
        )
        ii, jj = np.where(sim >= CONTAM_EMB_STRICT)
        return pd.DataFrame(
            {
                "eval_id": ev_pdf["vec_id"].to_numpy(dtype=np.int64)[ii],
                "train_id": tr_pdf["vec_id"].to_numpy(dtype=np.int64)[jj],
                "s": sim[ii, jj],
            }
        )

    ev_probes = repartition_for_blocks(ev_probes, ["cell_id"], k_cells)
    tr_members = repartition_for_blocks(tr_members, ["cell_id"], k_cells)
    # train sits in exactly ONE cell and the eval probe list is
    # distinct cells, so each (eval, train) pair meets at most once —
    # no .distinct() needed (unlike the symmetric co-probe form)
    scored = (
        ev_probes.groupBy("cell_id")
        .cogroup(tr_members.groupBy("cell_id"))
        .applyInPandas(_pairs, "eval_id bigint, train_id bigint, s double")
    )
    w = Window.partitionBy("eval_id").orderBy(F.col("s").desc(), "train_id")
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("eval_id", "train_id", "s")
    )
    evals = v.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("eval_id")
    )
    return evals.join(best, "eval_id", "left").select(
        "eval_id",
        F.col("train_id").isNotNull().alias("contaminated"),
        F.col("train_id").alias("best_train_id"),
        F.round(F.col("s"), 4).alias("best_cos"),
    )


DIVERSITY_PER_CELL = 2


@register(
    "curation_diversity_sample",
    tags=("curation", "sampling", "vector"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT 16
), assigned AS (
    SELECT vec_id, cent_id AS cell_id FROM (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS arn
        FROM v CROSS JOIN cent c
    ) WHERE arn = 1
), picked AS (
    SELECT vec_id, cell_id, CAST(rn AS INT) AS pick_rank FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (
                   PARTITION BY cell_id
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rn
        FROM assigned
    ) WHERE rn <= {DIVERSITY_PER_CELL}
)
SELECT p.vec_id AS doc_id, p.cell_id, p.pick_rank, d.lang
FROM picked p JOIN documents d ON d.doc_id = p.vec_id
""",
)
def curation_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware curation sampling: instead of uniform or
    per-language strata (``sample_stratified``), pick a fixed quota
    per EMBEDDING-SPACE cell — the cheap MMR stand-in that guarantees
    the sample spans content space rather than oversampling the dense
    head. Strata come from the shared IVF cell assignment; the
    in-cell pick is a deterministic md5 rank (the engine-portable
    randomness convention), joined back to the documents table for
    its metadata.

    Scale shape: assignment is the Arrow-batched map
    (``nearest_cells_pd``); the per-cell pick is a window over K
    bounded groups of hash ranks — only (vec_id, cell_id, rank) rows
    move, and the documents join is id-equi (broadcastable at quota
    scale: output is K * quota rows).
    """
    from go_integ_spark.functions.vector import with_norm
    from go_integ_spark.operators.similarity import ivf_centroids, nearest_cells_pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    (crow,) = ivf_centroids(v).collect()
    assigned = v.select(
        "vec_id", F.element_at(nearest_cells_pd(crow, 1), 1).alias("cell_id")
    )
    w = Window.partitionBy("cell_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    picked = (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= DIVERSITY_PER_CELL)
        .select(
            F.col("vec_id").alias("doc_id"),
            "cell_id",
            F.col("rn").cast("int").alias("pick_rank"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return picked.join(docs, "doc_id").select(
        "doc_id", "cell_id", "pick_rank", "lang"
    )


# Per-language token budget for the greedy budget selection. At the
# gate SFs every language is only partially selected (en alone has
# ~12k whitespace tokens at sf0.01), so the boundary-group logic is
# exercised, not just the keep-everything fast path.
TOKEN_BUDGET_PER_LANG = 2_000


def greedy_budget_plan(
    groups: list[tuple[str, int, int, int]], budget: int
) -> tuple[list[tuple[str, int]], dict[str, tuple[int, int]]]:
    """Pure driver-side half of the token-budget selection: walk each
    language's (tok, n_docs, sum_tok) groups in tok-DESC order and
    return (fully-kept (lang, tok) groups, per-language boundary
    (tok*, m)). Because the running sum is monotone along the
    (tok DESC, doc_id) selection order, this reconstructs EXACTLY the
    greedy prefix a direct window running sum keeps within budget —
    fuzz-pinned against that reference in tests/test_properties.py.
    Input rows: (lang, tok, n_docs, sum_tok)."""
    by_lang: dict[str, list[tuple[int, int, int]]] = {}
    for lang, tok, n_docs, sum_tok in groups:
        by_lang.setdefault(lang, []).append((tok, n_docs, sum_tok))
    full_keep: list[tuple[str, int]] = []
    boundary: dict[str, tuple[int, int]] = {}
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: -r[0])
        remaining = budget
        for tok, _n, sum_tok in rows:
            if sum_tok <= remaining:
                full_keep.append((lang, tok))
                remaining -= sum_tok
            else:
                m = remaining // tok if tok > 0 else 0
                if m > 0:
                    boundary[lang] = (tok, int(m))
                break  # running sum is monotone: nothing later fits
    return full_keep, boundary


@register(
    "curation_token_budget_select",
    tags=("curation", "sampling", "two_pass"),
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok
    FROM documents
), c AS (
    SELECT doc_id, lang, tok,
           sum(tok) OVER (
               PARTITION BY lang ORDER BY tok DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT doc_id, lang, tok FROM c WHERE cum <= {TOKEN_BUDGET_PER_LANG}
""",
)
def curation_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection: per language, keep documents in
    (tokens DESC, doc_id) order while the running token total stays
    within the budget — the "fill each language's training quota with
    the longest documents first" curation pass.

    The oracle spells it as the obvious per-language window running
    sum. The Spark plan deliberately does NOT: a per-language global
    sort puts an entire language on one reducer, which is exactly the
    single-key skew a 100 TB corpus cannot afford. Instead the greedy
    prefix is reconstructed in two bounded passes — valid because the
    running sum is monotone along the selection order, so the kept
    set is always (all docs of the fully-fitting token-count groups)
    + (a doc_id-prefix of the single boundary group):

    1. aggregate (lang, tok) -> (n_docs, sum_tok) — a few hundred
       rows total (token counts are small integers), collected;
       the driver walks each language's groups in tok-DESC order to
       find the boundary token count and the per-language remaining
       budget — O(distinct token values) driver work. On a corpus
       whose token counts span millions of distinct values, first
       quantize tok to a log-spaced grid for this pass (grid cells
       are fully ordered, so only the single boundary CELL needs the
       exact per-value walk — the same one-level refinement the
       boundary group already gets), keeping the collect bounded by
       the grid, not the token range;
    2. full groups become a row-local broadcast-filter on
       (lang, tok); the boundary group — one token value per
       language — gets a doc_id row_number window over only its own
       docs (~1/|distinct tok| of the corpus), keeping
       floor(remaining / tok*) docs.

    Both constructions select the identical set (the pytest pin and
    the oracle assert it), but the Spark one shuffles counts, not
    corpora.
    """
    tok = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    ).cast("bigint")
    # docs feeds the collected (lang, tok) aggregate AND both kept
    # branches of the returned union -> persist (single-slot cache)
    # so the corpus tokenization runs once, not three times.
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tok.alias("tok")
    )
    docs = _cached_persist("budget_docs", base, lambda: base)
    groups = (
        docs.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("sum_tok"))
        .collect()
    )
    full_keep, boundary = greedy_budget_plan(
        [(r["lang"], r["tok"], r["n_docs"], r["sum_tok"]) for r in groups],
        TOKEN_BUDGET_PER_LANG,
    )
    spark_s = docs.sparkSession
    full_df = spark_s.createDataFrame(
        full_keep or [("", -1)], "lang string, tok bigint"
    )
    kept_full = docs.join(F.broadcast(full_df), ["lang", "tok"])
    bnd_df = spark_s.createDataFrame(
        [(lang, t, m) for lang, (t, m) in boundary.items()] or [("", -1, 0)],
        "lang string, tok bigint, m int",
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    kept_bnd = (
        docs.join(F.broadcast(bnd_df), ["lang", "tok"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("m"))
        .drop("rn", "m")
    )
    return kept_full.unionByName(kept_bnd).select("doc_id", "lang", "tok")


@register(
    "curation_ngram_novelty",
    tags=("curation", "quality", "dedup"),
    oracle=_SH_CTE
    + """
, first AS (
    SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS novelty
FROM sh s JOIN first f USING (shingle)
GROUP BY s.doc_id
""",
)
def curation_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word-k-gram shingles whose FIRST occurrence (by doc_id order) is
    this doc — the standard "how much of this document is new text"
    signal used to down-weight boilerplate/recycled content before
    training (complement of the dedup family: scores every doc
    instead of emitting pairs).

    Scale shape: reuses the session-cached per-doc shingle-ID sets
    (row-local build, 8-byte xxhash64 IDs — same collision-freeness
    contract as the dedup oracles); one vocabulary-scaled groupBy
    computes each shingle's first doc, and the join back is on the
    same shingle key, so only ids ever shuffle — text never moves,
    and nothing is corpus-pair-scaled.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _cached_doc_sets(docs).select(
        "doc_id", F.explode("sids").alias("sid")
    )
    first = sh.groupBy("sid").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(first, "sid")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel") / F.col("n_grams").cast("double"), 4
            ).alias("novelty"),
        )
    )


# DSIR (Xie et al. 2023, "Data Selection for Language Models via
# Importance Resampling", NeurIPS) constants: hashed word-bigram
# features, Laplace-smoothed bucket distributions, log importance
# weight per document. 256 buckets keeps the model table broadcast-
# trivially-small while still separating the synthetic vocabulary.
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"
# log-ratio fixed-point scale: micro-nats. floor() (not round) so a
# shared-double input can never straddle a half-way tie rule.
#
# Residual cross-engine hazard, measured and accepted: unlike sqrt
# (correctly rounded, the temperature-sampling contract), libm ln is
# only faithful to ~1 ulp and JVM Math.log vs DuckDB ln DO differ in
# the last bit on ~7% of DSIR-shaped ratios. A flip of floor(ln(r) *
# 1e6) needs that ~2e-16 divergence to straddle a 1e-6 grid line —
# P ~ 2e-10 per bucket, ~5e-8 per corpus — and
# tests/test_round6b_ops.py::test_dsir_log_ratios_clear_floor_boundaries
# asserts every actual gate-corpus bucket clears its boundary by
# orders of magnitude more than the libm divergence, so the gate
# cannot flip on the corpora it runs on.
DSIR_SCALE = 1_000_000


def _dsir_oracle() -> str:
    from go_integ_spark.functions.hashing import h60_sql

    bucket = h60_sql("w1 || ' ' || w2") + f" % {DSIR_BUCKETS}"
    return f"""
WITH docs AS (
    SELECT doc_id, lang, string_split(text, ' ') AS ws
    FROM documents WHERE length(text) > 0
), grams AS (
    SELECT doc_id, lang, ws[t.i] AS w1, ws[t.i + 1] AS w2
    FROM docs, unnest(generate_series(1, len(ws) - 1)) AS t(i)
), feat AS (
    SELECT doc_id, lang, {bucket} AS bucket FROM grams
), model AS (
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS c_r,
           CAST(count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS BIGINT) AS c_t
    FROM feat GROUP BY bucket
), tot AS (
    SELECT CAST(sum(c_r) AS BIGINT) AS n_r, CAST(sum(c_t) AS BIGINT) AS n_t
    FROM model
), lr AS (
    SELECT m.bucket,
           CAST(floor(ln(
               (CAST(m.c_t + 1 AS DOUBLE) * CAST(t.n_r + {DSIR_BUCKETS} AS DOUBLE))
               / (CAST(m.c_r + 1 AS DOUBLE) * CAST(t.n_t + {DSIR_BUCKETS} AS DOUBLE))
           ) * {DSIR_SCALE}.0) AS BIGINT) AS lr_u
    FROM model m CROSS JOIN tot t
)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(l.lr_u) AS BIGINT) AS logw_u
FROM feat f JOIN lr l USING (bucket)
GROUP BY f.doc_id
"""


@register(
    "curation_dsir_weights",
    tags=("curation", "dsir", "llm_pipeline"),
    oracle=_dsir_oracle(),
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: score every raw document by how much
    it resembles a target distribution (here: the '{TARGET}' slice),
    using hashed word-bigram features — the published recipe for
    selecting pretraining data that matches a trusted corpus.
    ``logw = sum over gram instances of ln(p_target[b] / p_raw[b])``
    with Laplace smoothing, emitted in integer micro-nats
    (``floor(ln(..) * 1e6)`` per BUCKET, summed as int64) so the
    per-document sum is order-free and engine-exact. Resampling then
    keeps documents with Gumbel-perturbed top weights; the weight
    table is the expensive, corpus-scaled part implemented here.

    Scale shape: featurize is a row-local explode to 8-byte
    (doc_id, bucket) pairs; the bucket model is ONE map-side-combined
    aggregation to {B} rows (both counts in one pass via a
    conditional count); the per-document sum joins the {B}-row
    log-ratio table via broadcast and aggregates back to one row per
    document — two corpus-scaled exchanges total (model build + final
    doc group-by), both carrying integers only, text never shuffles.
    """
    from go_integ_spark.functions.hashing import h60

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "lang", F.split("text", " ").alias("ws"))
        # single-word docs have no bigram: sequence(1, 0) would
        # otherwise build a DESCENDING [1, 0] and the transform's
        # element_at(ws, 0) throws under ANSI mode (the oracle's
        # generate_series(1, 0) is simply empty)
        .filter(F.size("ws") >= 2)
    )
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), i ->"
                " concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("g"),
    )
    feat = grams.select(
        "doc_id",
        "lang",
        F.pmod(h60("g"), F.lit(DSIR_BUCKETS)).alias("bucket"),
    )
    model = feat.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("c_t"),
    )
    tot = model.agg(
        F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
    )
    lr = model.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            F.log(
                ((F.col("c_t") + 1).cast("double")
                 * (F.col("n_r") + DSIR_BUCKETS).cast("double"))
                / ((F.col("c_r") + 1).cast("double")
                   * (F.col("n_t") + DSIR_BUCKETS).cast("double"))
            )
            * F.lit(float(DSIR_SCALE))
        ).cast("bigint").alias("lr_u"),
    )
    return (
        feat.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr_u").alias("logw_u"),
        )
    )


if curation_dsir_weights.__doc__:  # absent under PYTHONOPTIMIZE=2
    curation_dsir_weights.__doc__ = curation_dsir_weights.__doc__.replace(
        "{TARGET}", DSIR_TARGET_LANG
    ).replace("{B}", str(DSIR_BUCKETS))


# --- Temperature (alpha) sampling over languages ----------------------

# UNIMAX/mT5-style temperature sampling with alpha = 0.5: sampling
# probability p_l proportional to tokens_l^alpha. alpha is pinned at
# 1/2 because IEEE sqrt is CORRECTLY ROUNDED (unlike pow, whose libm
# results may differ across engines), so floor(sqrt(n)*1e6 + 0.5)
# is the one quantizing step both engines perform bit-identically;
# every ratio after it is exact int64 arithmetic.
TEMP_SCALE = 1_000_000
TEMP_TOKEN_BUDGET = 100_000  # training-token budget the epoch count
# is quoted against


@register(
    "curation_temperature_sampling",
    tags=("curation", "mixing", "llm_pipeline"),
    oracle=f"""
WITH per_lang AS (
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
), s AS (
    SELECT *,
           CAST(floor(sqrt(n_tokens::DOUBLE) * {TEMP_SCALE}.0 + 0.5)
                AS BIGINT) AS s_u
    FROM per_lang
), tot AS (
    SELECT *, sum(s_u) OVER () AS s_tot,
           sum(n_tokens) OVER () AS t_tot
    FROM s
)
SELECT lang, n_docs, n_tokens,
       round(n_tokens::DOUBLE / t_tot, 6) AS token_share,
       round(s_u::DOUBLE / s_tot, 6) AS sample_p,
       round((s_u::DOUBLE * t_tot::DOUBLE)
             / (s_tot::DOUBLE * n_tokens::DOUBLE), 6) AS up_weight,
       round(({TEMP_TOKEN_BUDGET}.0 * s_u::DOUBLE)
             / (s_tot::DOUBLE * n_tokens::DOUBLE), 4) AS epochs
FROM tot
""",
)
def curation_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language sampling weights (the mT5/UNIMAX
    recipe): p_l proportional to tokens_l^0.5, plus the up-weight vs
    the natural token share and the number of epochs each language
    runs through under ``TEMP_TOKEN_BUDGET`` training tokens — the
    over-sampling / repetition schedule low-resource languages get.

    Engine-exactness: tokens_l^alpha is irrational, so the kernel
    quantizes ONCE — s_u = floor(sqrt(n)*1e6 + 0.5), bit-identical
    across engines because IEEE sqrt is correctly rounded. The cross
    products (s_u*t_tot etc.) are computed in DOUBLE on both engines:
    each OPERAND is an exact int64 that converts exactly while below
    2^53, so the product is ONE correctly-rounded IEEE op — identical
    everywhere — and the envelope extends to ~9e15 total tokens
    (int64 products would wrap silently past ~4e8 tokens, the
    round-7 review's finding; at gate scale the double products are
    below 2^53 and therefore still exact).

    Scale shape: one corpus aggregation shuffle to per-language token
    counts; the temperature math is a window over the tiny per-language
    frame (cardinality = languages, never corpus).
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    s_u = F.floor(
        F.sqrt(F.col("n_tokens").cast("double")) * TEMP_SCALE + F.lit(0.5)
    ).cast("bigint")
    w = Window.partitionBy()
    stot = F.sum(s_u).over(w)
    ttot = F.sum("n_tokens").over(w)
    return per_lang.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / ttot, 6).alias(
            "token_share"
        ),
        F.round(s_u.cast("double") / stot, 6).alias("sample_p"),
        F.round(
            (s_u.cast("double") * ttot.cast("double"))
            / (stot.cast("double") * F.col("n_tokens").cast("double")),
            6,
        ).alias("up_weight"),
        F.round(
            (F.lit(float(TEMP_TOKEN_BUDGET)) * s_u.cast("double"))
            / (stot.cast("double") * F.col("n_tokens").cast("double")),
            4,
        ).alias("epochs"),
    )


# --- Inter-labeler agreement (Cohen's kappa) --------------------------

# Two deterministic document labelers whose agreement the pipeline
# audits: A = length gate (word count), B = vocabulary gate (distinct
# word count). Thresholds sit near the corpus medians so all four
# contingency cells are populated at gate scale.
KAPPA_MIN_WORDS = 50
KAPPA_MIN_DISTINCT = 25


@register(
    "curation_annotation_agreement",
    tags=("curation", "eval", "llm_pipeline"),
    oracle=f"""
WITH m AS (
    SELECT (len(string_split(text, ' ')) >= {KAPPA_MIN_WORDS}) AS a,
           (len(list_distinct(string_split(text, ' ')))
                >= {KAPPA_MIN_DISTINCT}) AS b
    FROM documents
), t AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum((a AND b)::INT) AS BIGINT) AS n11,
           CAST(sum((a AND NOT b)::INT) AS BIGINT) AS n10,
           CAST(sum((NOT a AND b)::INT) AS BIGINT) AS n01,
           CAST(sum((NOT a AND NOT b)::INT) AS BIGINT) AS n00
    FROM m
)
SELECT n, n11, n10, n01, n00,
       round((n11 + n00)::DOUBLE / nullif(n, 0), 6) AS po,
       round(((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
              + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
             / nullif(n::DOUBLE * n::DOUBLE, 0), 6) AS pe,
       round((n::DOUBLE * (n11 + n00)::DOUBLE
              - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                 + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE))
             / nullif(n::DOUBLE * n::DOUBLE
                - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                   + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE), 0),
             6) AS kappa
FROM t
""",
)
def curation_annotation_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic labelers — the
    label-QA measurement a pipeline runs before trusting any
    annotator (human or model): chance-corrected agreement over the
    2x2 contingency table. Labeler A gates on word count, labeler B
    on distinct-word count.

    Engine-exactness: the table cells are exact integer counts;
    kappa's marginal products are DOUBLE products of those exact
    counts (one correctly-rounded IEEE op each — identical across
    engines, exact while cells stay below 2^53 — where int64 products
    wrapped silently past ~3e9 docs), so the 6dp rounding is
    bit-identical across engines at any corpus size.

    Scale shape: labels are row-local projections, so the whole query
    is ONE map-side-combined aggregation to a single row — no
    shuffle carries more than partial counters. Swapping a real
    annotation table for the synthetic labelers keeps the same plan:
    join annotations on doc_id, aggregate the four conditional
    counters.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = F.split("text", " ")
    a = F.size(words) >= KAPPA_MIN_WORDS
    b = F.size(F.array_distinct(words)) >= KAPPA_MIN_DISTINCT
    cell = lambda p: F.sum(p.cast("int")).cast("bigint")  # noqa: E731
    t = docs.agg(
        F.count(F.lit(1)).alias("n"),
        cell(a & b).alias("n11"),
        cell(a & ~b).alias("n10"),
        cell(~a & b).alias("n01"),
        cell(~a & ~b).alias("n00"),
    )
    n, n11, n10, n01, n00 = [F.col(c) for c in ("n", "n11", "n10", "n01", "n00")]
    # The marginal products are computed in DOUBLE (each cell is an
    # exact int64 that converts exactly below 2^53, each product one
    # correctly-rounded IEEE op — engine-identical): int64 products
    # wrapped silently past n ~ 3e9 docs (round-7 review); at gate
    # scale the doubles are below 2^53, so values are unchanged.
    d = lambda c: c.cast("double")  # noqa: E731
    smp = d(n11 + n10) * d(n11 + n01) + d(n01 + n00) * d(n10 + n00)
    # NULL guards: an empty corpus zeroes n, and a corpus where one
    # cell holds every document makes pe = 1 (kappa mathematically
    # undefined) — under ANSI an unguarded division would throw
    # DIVIDE_BY_ZERO and kill the gate query instead of emitting NULL.
    return t.select(
        n.alias("n"),
        n11.alias("n11"),
        n10.alias("n10"),
        n01.alias("n01"),
        n00.alias("n00"),
        F.round(
            (n11 + n00).cast("double") / F.nullif(n.cast("double"), F.lit(0.0)),
            6,
        ).alias("po"),
        F.round(
            smp / F.nullif(d(n) * d(n), F.lit(0.0)),
            6,
        ).alias("pe"),
        F.round(
            (d(n) * d(n11 + n00) - smp)
            / F.nullif(d(n) * d(n) - smp, F.lit(0.0)),
            6,
        ).alias("kappa"),
    )


# --- Data-constrained epoch scheduling -------------------------------

EPOCH_BUDGET_MULT = 2  # training budget = MULT x total corpus tokens
EPOCH_CAP = 4  # repeat-value cliff: tokens past ~4 epochs are ~worthless
# (data-constrained scaling, Muennighoff et al. 2023 — repeated data
# holds near-full value for ~4 epochs, then decays rapidly; the cap is
# the integer planning rule that paper's R* curve motivates)

_EPOCH_ORACLE = f"""
WITH avail AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
    FROM documents GROUP BY source
), tot AS (
    SELECT CAST(sum(avail_tokens) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_src
    FROM avail
)
SELECT a.source,
       a.avail_tokens,
       CAST(({EPOCH_BUDGET_MULT} * t.total) // t.n_src AS BIGINT)
           AS demand_tokens,
       CAST((({EPOCH_BUDGET_MULT} * t.total) // t.n_src * 100)
                // a.avail_tokens AS BIGINT) AS epochs_centi,
       CAST(least(({EPOCH_BUDGET_MULT} * t.total) // t.n_src,
                  {EPOCH_CAP} * a.avail_tokens) AS BIGINT)
           AS effective_tokens,
       CAST(({EPOCH_BUDGET_MULT} * t.total) // t.n_src
            - least(({EPOCH_BUDGET_MULT} * t.total) // t.n_src,
                    {EPOCH_CAP} * a.avail_tokens) AS BIGINT)
           AS deficit_tokens
FROM avail a CROSS JOIN tot t
"""


@register(
    "curation_epoch_schedule",
    tags=("curation", "agg"),
    oracle=_EPOCH_ORACLE,
)
def curation_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition plan for a data-constrained training run: given a
    token budget (EPOCH_BUDGET_MULT x the corpus) split uniformly
    across sources, report per source how many epochs of its data the
    demand implies, how many tokens retain value under the ~4-epoch
    repeat cliff (data-constrained scaling), and the unfillable
    deficit a mixture re-balance would need to absorb.

    All integer arithmetic (centi-epochs, truncating div), so the
    oracle is exact. Scale shape: ONE corpus scan into a map-side-
    combined aggregation (per-source token sums); the total/source
    count come from a single-partition window over the |sources|-scale
    result, so the corpus is never scanned or shuffled twice.
    Every source has >= 1 doc and split() yields >= 1 token per doc,
    so the epoch division is never by zero.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy()
    avail = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("avail_tokens")
    ).select(
        "source",
        "avail_tokens",
        F.sum("avail_tokens").over(w).cast("bigint").alias("total"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_src"),
    )
    demand = F.expr(f"({EPOCH_BUDGET_MULT} * total) div n_src")
    effective = F.least(demand, F.lit(EPOCH_CAP) * F.col("avail_tokens"))
    return avail.select(
        "source",
        "avail_tokens",
        demand.cast("bigint").alias("demand_tokens"),
        F.expr(
            f"(({EPOCH_BUDGET_MULT} * total) div n_src * 100) div avail_tokens"
        ).cast("bigint").alias("epochs_centi"),
        effective.cast("bigint").alias("effective_tokens"),
        (demand - effective).cast("bigint").alias("deficit_tokens"),
    )


# --- Mirror-farm blocklist from the duplication graph ----------------
#
# The policy half of graph_pagerank_sources: a source whose documents
# keep near-duplicating OTHER sources' documents is a mirror/SEO farm,
# and web-scale pipelines blocklist the whole host rather than chase
# its documents one by one (the C4/RefinedWeb host-filter pattern).
# The signal here is the same cross-source near-dup edge list the
# PageRank query aggregates; the policy is a simple degree threshold,
# which is the form production blocklists actually take (explainable,
# monotone, re-computable per crawl snapshot).

MIRROR_DUP_THRESHOLD = 4  # cross-source near-dup pairs incident


def _mirror_blocklist_oracle() -> str:
    from go_integ_spark.operators.dedup import (
        _JACCARD_PREFIX,
        JACCARD_THRESHOLD,
    )

    return f"""{_JACCARD_PREFIX}, jp AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE c / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
), und AS (
    SELECT least(da.source, db.source) AS u,
           greatest(da.source, db.source) AS v,
           count(*) AS w
    FROM jp
    JOIN documents da ON da.doc_id = jp.doc_a
    JOIN documents db ON db.doc_id = jp.doc_b
    WHERE da.source <> db.source
    GROUP BY 1, 2
), dw AS (
    SELECT src, CAST(sum(w) AS BIGINT) AS dup_weight FROM (
        SELECT u AS src, w FROM und
        UNION ALL SELECT v AS src, w FROM und
    ) GROUP BY src
), per_src AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
    GROUP BY source
)
SELECT p.source,
       p.n_docs,
       CAST(coalesce(d.dup_weight, 0) AS BIGINT) AS dup_weight,
       coalesce(d.dup_weight, 0) >= {MIRROR_DUP_THRESHOLD} AS blocked,
       CAST(CASE WHEN coalesce(d.dup_weight, 0) >= {MIRROR_DUP_THRESHOLD}
                 THEN p.n_docs ELSE 0 END AS BIGINT) AS n_docs_dropped
FROM per_src p LEFT JOIN dw d ON d.src = p.source
"""


@register(
    "curation_mirror_blocklist",
    tags=("curation", "graph", "dedup", "llm_pipeline"),
    oracle=_mirror_blocklist_oracle(),
)
def curation_mirror_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level blocklist from cross-source duplication: per source,
    the incident cross-source near-dup pair weight, whether it
    crosses the blocklist threshold, and how many documents the
    block would drop.

    Scale shape: the LSH pair path is corpus-scale but shared (same
    verified candidates as ``dedup_minhash_lsh``); everything after
    the pairs→source collapse is |sources|-scale — two tiny
    aggregations and one left join. At 100 TB the blocklist itself
    is the broadcast-side of the subsequent document filter (a
    |sources|-row frame), so applying the policy costs one
    broadcast-hash anti-join over the corpus scan.
    """
    from go_integ_spark.operators.dedup import dedup_minhash_lsh

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    und = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("u"),
            F.greatest("sa", "sb").alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    dw = (
        und.select(F.col("u").alias("src"), "w")
        .unionAll(und.select(F.col("v").alias("src"), "w"))
        .groupBy("src")
        .agg(F.sum("w").cast("bigint").alias("dup_weight"))
    )
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    joined = per_src.join(dw, per_src["source"] == dw["src"], "left").select(
        "source",
        "n_docs",
        F.coalesce("dup_weight", F.lit(0)).cast("bigint").alias("dup_weight"),
    )
    blocked = F.col("dup_weight") >= MIRROR_DUP_THRESHOLD
    return joined.select(
        "source",
        "n_docs",
        "dup_weight",
        blocked.alias("blocked"),
        F.when(blocked, F.col("n_docs")).otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_docs_dropped"),
    )


# --- Deterministic train/val/test holdout split ----------------------
#
# Every training corpus needs a leakage-free split, and the standard
# production form is HASH-BASED assignment: split(doc) is a pure
# function of the document id, so re-running the pipeline (or adding
# new documents) never moves an old document across splits — the
# property random sampling does not have. The engine-portable md5
# slice (functions/hashing.py) makes the assignment value-checkable
# across engines.

SPLIT_MOD = 100
SPLIT_TRAIN_LT = 90  # buckets [0, 90) -> train
SPLIT_VAL_LT = 95  # buckets [90, 95) -> val; [95, 100) -> test


def _holdout_split_oracle() -> str:
    from go_integ_spark.functions.hashing import h60_sql

    b = f"({h60_sql('CAST(doc_id AS VARCHAR)')} % {SPLIT_MOD})"
    return rf"""
SELECT source,
       CASE WHEN {b} < {SPLIT_TRAIN_LT} THEN 'train'
            WHEN {b} < {SPLIT_VAL_LT} THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
           AS total_tokens
FROM documents
GROUP BY 1, 2
"""


@register(
    "curation_holdout_split",
    tags=("curation", "llm_pipeline"),
    oracle=_holdout_split_oracle(),
)
def curation_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by hashed
    doc_id, reported per (source, split) with document and token
    counts — the audit table that shows every source is represented
    in every split before training starts.

    Scale shape: assignment is a row-local hash expression (JVM
    codegen, no shuffle); the only exchange is the map-side-combined
    (source, split) aggregate carrying two int64 counters. Because
    the split is a pure function of doc_id, incremental corpus
    updates re-derive identical assignments — no stored split table
    to keep consistent at 100 TB.
    """
    from go_integ_spark.functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents")
    bucket = h60(F.col("doc_id").cast("string")) % SPLIT_MOD
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    n_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    return (
        docs.select("source", split.alias("split"), n_tokens.alias("nt"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
        )
    )


# --- Split-leakage audit: holdout shingles found in train ------------
#
# The companion audit to curation_holdout_split: before an eval split
# is trusted, measure how much of its n-gram content already appears
# in train — hash-based assignment prevents ASSIGNMENT drift, but it
# cannot prevent CONTENT leakage through near-duplicate documents
# landing on opposite sides of the split. Same shingle machinery as
# contamination_ngram_overlap, with the split predicate swapped from
# the modulo stand-in to the real hashed 90/5/5 assignment, and
# aggregated to the per-split audit row a release gate consumes.


def _split_leakage_oracle() -> str:
    from go_integ_spark.functions.hashing import h60_sql

    b = f"({h60_sql('CAST(doc_id AS VARCHAR)')} % {SPLIT_MOD})"
    return f"""{_SH_CTE}
, eval_sh AS (
    SELECT doc_id,
           CASE WHEN {b} < {SPLIT_VAL_LT} THEN 'val' ELSE 'test' END AS split,
           shingle
    FROM sh WHERE {b} >= {SPLIT_TRAIN_LT}
), train_sh AS (
    SELECT DISTINCT shingle FROM sh WHERE {b} < {SPLIT_TRAIN_LT}
), per_doc AS (
    SELECT e.split, e.doc_id,
           count(*) AS n_grams,
           count(t.shingle) AS n_hit
    FROM eval_sh e
    LEFT JOIN train_sh t ON t.shingle = e.shingle
    GROUP BY e.split, e.doc_id
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS n_grams,
       CAST(sum(n_hit) AS BIGINT) AS n_hit,
       CAST((sum(n_hit)::HUGEINT * 10000) // sum(n_grams) AS BIGINT) AS leak_bp,
       CAST(count(*) FILTER (n_hit * 2 >= n_grams) AS BIGINT)
           AS n_docs_majority_leaked
FROM per_doc
GROUP BY split
"""


@register(
    "curation_split_leakage",
    tags=("curation", "contamination", "llm_pipeline"),
    oracle=_split_leakage_oracle(),
)
def curation_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split leakage audit over the hashed holdout assignment:
    for val and test, the fraction of distinct eval-doc shingles that
    already occur in any train document (exact basis points), plus
    the count of eval docs that are majority-leaked — the number a
    release gate thresholds before trusting an eval set.

    Scale shape: reuses the session-cached per-doc shingle-ID sets
    (built once per corpus); the probe ships 8-byte shingle IDs
    against the distinct-deduplicated train vocabulary — text never
    crosses the wire, and the eval side is 10% of the corpus by
    construction. One id-scale join, two map-side-combined
    aggregations.
    """
    from go_integ_spark.functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents")
    sets_ = _cached_doc_sets(docs)
    bucket = h60(F.col("doc_id").cast("string")) % SPLIT_MOD
    sh = sets_.select("doc_id", bucket.alias("b"), F.explode("sids").alias("sid"))
    eval_sh = sh.filter(F.col("b") >= SPLIT_TRAIN_LT).select(
        "doc_id",
        F.when(F.col("b") < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "sid",
    )
    train_sh = (
        sh.filter(F.col("b") < SPLIT_TRAIN_LT)
        .select("sid")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        eval_sh.join(train_sh, "sid", "left")
        .groupBy("split", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_hit"),
        )
    )
    return per_doc.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("n_grams"),
        F.sum("n_hit").cast("bigint").alias("n_hit"),
        F.expr(
            "cast(cast(sum(n_hit) as decimal(38,0)) * 10000"
            " div sum(n_grams) as bigint)"
        ).alias(
            "leak_bp"
        ),
        F.sum(
            F.when(F.col("n_hit") * 2 >= F.col("n_grams"), 1).otherwise(0)
        ).cast("bigint").alias("n_docs_majority_leaked"),
    )


# --- per-source distribution drift -----------------------------------

_SOURCE_DIVERGENCE_ORACLE = """
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
), cells AS (
    SELECT source, word, CAST(count(*) AS BIGINT) AS c_sw
    FROM toks GROUP BY 1, 2
), totals AS (
    SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM cells GROUP BY 1
), ns AS (
    SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM cells GROUP BY 1
), nt AS (
    SELECT CAST(sum(c_w) AS BIGINT) AS n_tot FROM totals
), terms AS (
    -- HUGEINT cross products: BIGINT c_sw*n_tot would overflow (and
    -- DuckDB would throw) once N_s*N passes ~9.2e18 — far below the
    -- 100TB-class corpora this monitors (r7 review); the int128
    -- products stay exact to ~1e16 total tokens
    SELECT c.source, c.word, c.c_sw, t.c_w, s.n_s, nt.n_tot,
           c.c_sw::HUGEINT * nt.n_tot - t.c_w::HUGEINT * s.n_s AS diff
    FROM cells c
    JOIN totals t USING (word)
    JOIN ns s USING (source)
    CROSS JOIN nt
), top AS (
    SELECT source, word, diff FROM (
        SELECT source, word, diff,
               row_number() OVER (
                   PARTITION BY source ORDER BY diff DESC, word
               ) AS rn
        FROM terms
    ) WHERE rn = 1
)
SELECT a.source,
       CAST(min(a.n_s) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_vocab,
       CAST((sum(abs(a.diff)) + (min(a.n_tot)::HUGEINT - sum(a.c_w))
                * min(a.n_s))
            * 10000 // (2 * min(a.n_s)::HUGEINT * min(a.n_tot)) AS BIGINT)
           AS tv_bp,
       min(tp.word) AS top_over_word,
       CAST(min(tp.diff) * 10000 // (min(a.n_s)::HUGEINT * min(a.n_tot))
            AS BIGINT) AS top_over_bp
FROM terms a JOIN top tp ON tp.source = a.source
GROUP BY a.source
"""


@register(
    "corpus_source_divergence",
    tags=("curation", "drift"),
    oracle=_SOURCE_DIVERGENCE_ORACLE,
)
def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram distribution drift vs the whole corpus:
    exact total-variation distance in basis points plus each source's
    most over-represented token — the distribution-shift monitor a
    multi-source ingest runs before adjusting mix weights (a source
    whose TV suddenly jumps changed its content, its scraper broke,
    or it started serving boilerplate).

    Exactness: TV = sum_w |c_sw/N_s - c_w/N| / 2 is a sum of
    rationals, so every term is kept as the integer cross product
    |c_sw*N - c_w*N_s| and divided ONCE at the end — no float ever
    crosses the engine boundary. Words absent from a source
    contribute c_w*N_s each; their total is (N - sum_present(c_w))
    * N_s, folded in closed form so the plan never materializes the
    source x vocabulary complement. The cross products are
    decimal(38,0) on the Spark side and HUGEINT in the oracle (the
    r7 review showed int64 terms wrap near a 10^9-token corpus —
    far below the scale this monitors): exact to ~1e16 total
    tokens, with the bp quotients back in int64 via exact integer
    division.

    Scale shape: tokens collapse to (source, word) cells in one
    map-side-combined exchange; word totals re-aggregate the CELLS
    (vocabulary-scaled, never the token stream again) and join back
    on the same word key; N_s and N are a |sources|-row broadcast
    and a 1-row cross join. The argmax rides the final per-source
    aggregation via min_by — no second pass, no window over the
    vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    # cells feeds the term join AND both total re-aggregations;
    # persist (single-slot cache) so the token-stream exchange runs
    # once, not three times (Catalyst does not share subplans across
    # DataFrame references).
    cells = _cached_persist(
        "divergence_cells",
        docs,
        lambda: toks.groupBy("source", "word").agg(
            F.count(F.lit(1)).cast("bigint").alias("c_sw")
        ),
    )
    totals = cells.groupBy("word").agg(F.sum("c_sw").cast("bigint").alias("c_w"))
    ns = cells.groupBy("source").agg(F.sum("c_sw").cast("bigint").alias("n_s"))
    nt = totals.agg(F.sum("c_w").cast("bigint").alias("n_tot"))
    terms = (
        cells.join(totals, "word")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nt))
        # decimal(38,0) cross products (DuckDB twin: HUGEINT): int64
        # would wrap once N_s*N passes ~9.2e18, far below the
        # 100TB-class corpora this monitors (r7 review); exact to
        # ~1e16 total tokens
        .withColumn(
            "diff",
            F.col("c_sw").cast("decimal(38,0)") * F.col("n_tot")
            - F.col("c_w").cast("decimal(38,0)") * F.col("n_s"),
        )
    )
    agg = terms.groupBy("source").agg(
        F.min("n_s").alias("n_s"),
        F.min("n_tot").alias("n_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.sum(F.abs(F.col("diff"))).alias("abs_sum"),
        F.sum("c_w").alias("present_cw"),
        F.min_by(
            F.struct(F.col("word").alias("word"), F.col("diff").alias("diff")),
            F.struct((-F.col("diff")).alias("neg_diff"), F.col("word").alias("word")),
        ).alias("top"),
    )
    return agg.select(
        "source",
        F.col("n_s").alias("n_tokens"),
        "n_vocab",
        # decimal(38,0) numerators/divisors; the quotient is bp-sized
        # so Spark's exact decimal `div` + bigint cast is lossless
        F.expr(
            "cast((abs_sum + cast(n_tot - present_cw as decimal(38,0)) * n_s)"
            " * 10000 div (2 * cast(n_s as decimal(38,0)) * n_tot) as bigint)"
        ).alias("tv_bp"),
        F.col("top.word").alias("top_over_word"),
        F.expr(
            "cast(top.diff * 10000"
            " div (cast(n_s as decimal(38,0)) * n_tot) as bigint)"
        ).alias("top_over_bp"),
    )


# --- dedup impact accounting ------------------------------------------


def _dedup_impact_oracle() -> str:
    from go_integ_spark.operators.dedup import PARA_TOKENS

    p = PARA_TOKENS
    return f"""
WITH w AS (
    SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
), p AS (
    SELECT doc_id, source, t.i AS para_id,
           ('0x' || substr(md5(array_to_string(
               ws[t.i * {p} + 1 : t.i * {p} + {p}], ' ')), 1, 15))::BIGINT AS ph,
           len(ws[t.i * {p} + 1 : t.i * {p} + {p}]) AS plen
    FROM w, unnest(generate_series(0, (len(ws) - 1) // {p})) AS t(i)
), r AS (
    SELECT doc_id, source, plen,
           row_number() OVER (PARTITION BY ph ORDER BY doc_id, para_id) AS rn
    FROM p
), d AS (
    SELECT source, doc_id,
           count(*) AS n_paras,
           sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_dup,
           sum(plen) AS toks,
           sum(CASE WHEN rn > 1 THEN plen ELSE 0 END) AS dup_toks
    FROM r GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN 2 * n_dup > n_paras THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_dropped,
       CAST(sum(n_paras) AS BIGINT) AS n_paras,
       CAST(sum(n_dup) AS BIGINT) AS n_dup_paras,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       CAST(sum(dup_toks) AS BIGINT) AS n_dup_tokens,
       CAST(sum(dup_toks)::HUGEINT * 10000 // sum(toks) AS BIGINT) AS dup_token_bp
FROM d GROUP BY source
"""


@register(
    "curation_dedup_impact",
    tags=("curation", "dedup", "llm_pipeline"),
    oracle=_dedup_impact_oracle(),
)
def curation_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What paragraph dedup costs each source: docs dropped, duplicate
    paragraphs and TOKENS removed, and the exact basis-point token
    loss — the accounting table a curation review reads before
    shipping a dedup config, because a source losing half its tokens
    to cross-source duplication is a mirror, while one losing 2% is
    organic (graph_pagerank_sources ranks the suspects; this query
    prices them). The doc-drop rule is the integer-exact twin of
    ``dedup_paragraph``'s (2*dup > total == dup_frac > 0.5 wherever
    the double rounds faithfully).

    Scale shape: shares dedup_paragraph's structure — paragraph units
    are row-local (split + transform + explode), the first-occurrence
    ranking shuffles only (ph, ids, plen), and the per-doc then
    per-source rollups carry counters. Paragraph text never crosses a
    shuffle; per-paragraph token lengths tile the document exactly,
    so n_tokens equals the corpus token count and the bp loss is
    directly comparable across sources. Envelope: the
    first-occurrence ranking is a row_number (IntegerType) over each
    paragraph hash's occurrences, so a SINGLE paragraph duplicated
    more than 2^31 times (a cookie banner on a ~1e10-doc crawl)
    overflows the rank — past that, replace the window with a
    groupBy(ph).min(struct(doc_id, para_id)) + join, which has no
    per-hash counter (same verdict, one extra shuffle).
    """
    from go_integ_spark.functions.hashing import h60
    from go_integ_spark.operators.dedup import PARA_TOKENS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    paras = (
        docs.withColumn("ws", F.split("text", " "))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, (size(ws) - 1) div {PARA_TOKENS}),"
                    f" i -> struct(i AS para_id,"
                    f" slice(ws, i * {PARA_TOKENS} + 1, {PARA_TOKENS}) AS parr))"
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            "source",
            F.col("p.para_id").alias("para_id"),
            h60(F.array_join(F.col("p.parr"), " ")).alias("ph"),
            F.size("p.parr").alias("plen"),
        )
    )
    first = Window.partitionBy("ph").orderBy("doc_id", "para_id")
    ranked = paras.withColumn("rn", F.row_number().over(first))
    per_doc = ranked.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum((F.col("rn") > 1).cast("bigint")).alias("n_dup"),
        F.sum("plen").alias("toks"),
        F.sum(F.when(F.col("rn") > 1, F.col("plen")).otherwise(0)).alias(
            "dup_toks"
        ),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_dup") * 2 > F.col("n_paras")).cast("bigint"))
        .cast("bigint")
        .alias("n_docs_dropped"),
        F.sum("n_paras").cast("bigint").alias("n_paras"),
        F.sum("n_dup").cast("bigint").alias("n_dup_paras"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.sum("dup_toks").cast("bigint").alias("n_dup_tokens"),
        # decimal numerator: sum(dup_toks)*10000 wraps int64 once one
        # source carries ~9.2e14 duplicate tokens (r7 review) — the
        # mirror-heavy sources this table exists to price
        F.expr(
            "cast(cast(sum(dup_toks) as decimal(38,0)) * 10000"
            " div sum(toks) as bigint)"
        ).alias("dup_token_bp"),
    )


# --- write-side partition planning ------------------------------------

# Target bytes per output file. 16 KiB exercises multi-file partitions
# on the synthetic corpus; a production lake uses 128 MiB - 1 GiB and
# nothing else changes (the plan is algebra over per-partition sums).
SINK_TARGET_FILE_BYTES = 16384
SINK_HOT_FACTOR = 2  # hot = partition holds > 2x the mean share


@register(
    "sink_partition_plan",
    tags=("sink", "write", "plan"),
    oracle=f"""
WITH p AS (
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS bytes
    FROM documents GROUP BY 1, 2
), tot AS (
    SELECT CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM p
)
SELECT p.lang, p.source, p.n_docs, p.bytes,
       CAST((p.bytes + {SINK_TARGET_FILE_BYTES - 1})
            // {SINK_TARGET_FILE_BYTES} AS BIGINT) AS n_files,
       CAST(p.bytes::HUGEINT * 10000 // t.total_bytes AS BIGINT) AS share_bp,
       -- HUGEINT: bytes*n_parts wraps int64 right around the 100TB
       -- class this plans for, flipping hot=false for exactly the
       -- hottest partitions (r7 review)
       p.bytes::HUGEINT * t.n_parts > {SINK_HOT_FACTOR}::HUGEINT * t.total_bytes AS hot
FROM p CROSS JOIN tot t
""",
)
def sink_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side layout plan for a partitioned corpus sink: per
    (lang, source) partition — docs, exact bytes, files needed at the
    target file size (ceil division), basis-point share of the total
    write, and a hot flag when one partition holds more than
    {SINK_HOT_FACTOR}x the mean share. This is the sizing pass run
    BEFORE `df.write.partitionBy(...)` at 100 TB: hot partitions get
    an extra bucket column (or the salted shard key
    curation_shuffle_shards provides), empty-ish ones coalesce, and
    the file count drives `maxRecordsPerFile` so the lake neither
    fragments into tiny files nor writes unsplittable monsters.

    Scale shape: ONE map-side-combined aggregation over the corpus
    scan (counts and byte sums only — text never moves), then
    a 1-row total via CROSS JOIN broadcast; output is bounded by the
    partition-key cardinality. All arithmetic is exact integer
    (decimal(38,0)/HUGEINT where products pass int64).
    """
    docs = load_table(spark, sf_dir, "documents")
    p = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.octet_length("text")).cast("bigint").alias("bytes"),
    )
    tot = p.agg(
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
    )
    return p.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "bytes",
        F.expr(
            f"cast((bytes + {SINK_TARGET_FILE_BYTES - 1})"
            f" div {SINK_TARGET_FILE_BYTES} as bigint)"
        ).alias("n_files"),
        F.expr(
            "cast(cast(bytes as decimal(38,0)) * 10000"
            " div total_bytes as bigint)"
        ).alias("share_bp"),
        # decimal products (oracle twin: HUGEINT): int64 bytes*n_parts
        # wraps right around the 100TB class this plans for, flipping
        # hot=false for exactly the hottest partitions (r7 review)
        (
            F.col("bytes").cast("decimal(38,0)") * F.col("n_parts")
            > F.lit(SINK_HOT_FACTOR) * F.col("total_bytes").cast("decimal(38,0)")
        ).alias("hot"),
    )


if sink_partition_plan.__doc__:  # absent under PYTHONOPTIMIZE=2
    sink_partition_plan.__doc__ = sink_partition_plan.__doc__.replace(
        "{SINK_HOT_FACTOR}", str(SINK_HOT_FACTOR)
    )


# --- quality-filter calibration against length --------------------------


def _quality_calibration_oracle() -> str:
    # curation loads before text in load_all(); importing the text
    # module here runs its registrations first, so the committed
    # classifier oracle is available to compose.
    from go_integ_spark.operators import text as _text  # noqa: F401
    from go_integ_spark.registry import REGISTRY

    clf = REGISTRY["text_classifier_score"].oracle
    return f"""
WITH clf AS ({clf}), d AS (
    SELECT c.doc_id, c.score_u, c.keep, doc.n_chars,
           ntile(10) OVER (ORDER BY doc.n_chars, c.doc_id) AS decile
    FROM clf c JOIN documents doc ON doc.doc_id = c.doc_id
)
SELECT CAST(decile AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars,
       CAST(sum(score_u + 1000) // count(*) - 1000 AS BIGINT) AS mean_score_u,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
           AS keep_bp
FROM d GROUP BY decile
"""


@register(
    "curation_quality_calibration",
    tags=("curation", "quality", "eval"),
    oracle=_quality_calibration_oracle(),
)
def curation_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter calibration against document length: docs
    bucketed into length deciles, each reporting its mean classifier
    score and keep rate in exact basis points — the diagnostic for
    the best-known failure mode of model-based quality filters
    (fastText-style scorers quietly learning to be length filters).
    A keep rate that climbs monotonically with the decile means the
    "quality" signal is a length proxy and the filter is reshaping
    the length distribution, not the quality distribution. The
    hash-weight stand-in scores flat-by-construction here; a trained
    model plugged into text_classifier_score inherits this
    calibration check unchanged.

    Exactness: scores are offset by +1000 (the weight center) before
    the mean's floor division so every operand stays non-negative
    and Spark's truncating ``div`` equals DuckDB's flooring ``//``;
    the deterministic ntile (ORDER BY n_chars, doc_id) is identical
    in both engines. Composes the REGISTERED classifier query and
    its committed oracle as a CTE, so calibration can never drift
    from the production scorer.

    Scale shape: scoring is scan-bound (see text_classifier_score);
    the global ntile is a single-axis rank over (n_chars, doc_id) —
    at 100 TB this becomes the two-pass histogram-threshold decile
    (the window_spend_quartiles / text_perplexity_buckets pattern);
    the rollup is 10 counter rows.
    """
    from go_integ_spark.operators.text import text_classifier_score

    scores = text_classifier_score(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = scores.join(docs, "doc_id").withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy("n_chars", "doc_id")),
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("cast(sum(n_chars) div count(1) as bigint)").alias("avg_chars"),
        F.expr("cast(sum(score_u + 1000) div count(1) - 1000 as bigint)").alias(
            "mean_score_u"
        ),
        F.expr(
            "cast(sum(case when keep then 1 else 0 end) * 10000"
            " div count(1) as bigint)"
        ).alias("keep_bp"),
    ).select(
        F.col("decile").cast("int").alias("decile"),
        "n_docs",
        "avg_chars",
        "mean_score_u",
        "keep_bp",
    )


# --- directed duplication flow between sources --------------------------


def _dup_flow_oracle() -> str:
    from go_integ_spark.operators.dedup import PARA_TOKENS

    p = PARA_TOKENS
    return f"""
WITH w AS (
    SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
), p AS (
    SELECT doc_id, source, t.i AS para_id,
           ('0x' || substr(md5(array_to_string(
               ws[t.i * {p} + 1 : t.i * {p} + {p}], ' ')), 1, 15))::BIGINT AS ph
    FROM w, unnest(generate_series(0, (len(ws) - 1) // {p})) AS t(i)
), r AS (
    SELECT source,
           first_value(source) OVER win AS origin_source,
           row_number() OVER win AS rn
    FROM p
    WINDOW win AS (PARTITION BY ph ORDER BY doc_id, para_id)
)
SELECT origin_source, source AS dup_source,
       CAST(count(*) AS BIGINT) AS n_paras,
       origin_source <> source AS cross_source
FROM r WHERE rn > 1
GROUP BY origin_source, source
"""


@register(
    "graph_dup_flow",
    tags=("graph", "dedup", "curation"),
    oracle=_dup_flow_oracle(),
)
def graph_dup_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed duplication flow between sources: for every duplicate
    paragraph occurrence, an edge from the source that FIRST
    published the paragraph (the origin, by the same global
    first-occurrence rule dedup_paragraph keeps) to the source
    holding the duplicate — who copies whom. The diagonal
    (cross_source = false) is internal duplication; heavy off-diagonal
    rows name mirror/scraper relationships directionally, which the
    undirected LSH weights behind curation_mirror_blocklist and
    graph_pagerank_sources cannot: a wire service REPUBLISHED
    everywhere looks identical to a scraper in an undirected graph,
    but opposite in this one.

    Scale shape: one window pass over the paragraph hashes assigns
    every occurrence its rank AND its partition's first source
    (first_value shares the ranking window — no self-join back to
    the keeper); the rollup is bounded by |sources|^2 rows. Hash-only
    shuffles; paragraph text never moves.
    """
    from go_integ_spark.functions.hashing import h60
    from go_integ_spark.operators.dedup import PARA_TOKENS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    paras = (
        docs.withColumn("ws", F.split("text", " "))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, (size(ws) - 1) div {PARA_TOKENS}),"
                    f" i -> struct(i AS para_id, array_join(slice(ws,"
                    f" i * {PARA_TOKENS} + 1, {PARA_TOKENS}), ' ') AS ptxt))"
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            "source",
            F.col("p.para_id").alias("para_id"),
            h60(F.col("p.ptxt")).alias("ph"),
        )
    )
    win = Window.partitionBy("ph").orderBy("doc_id", "para_id")
    r = paras.select(
        "source",
        F.first("source").over(win).alias("origin_source"),
        F.row_number().over(win).alias("rn"),
    ).filter(F.col("rn") > 1)
    return r.groupBy("origin_source", F.col("source").alias("dup_source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paras"),
    ).withColumn(
        "cross_source", F.col("origin_source") != F.col("dup_source")
    )


# --- term-blocklist filter ----------------------------------------------

# Stand-in blocklist: neutral corpus tokens chosen so the gate
# exercises both a hitting term ('dup', ~5% of docs) and an absent
# one ('forbidden'). A deployment swaps in its real word list (C4's
# badwords file, a policy list) — semantics and plan are unchanged;
# word-boundary matching, not substring.
BLOCKLIST_TERMS = ["dup", "forbidden"]


def _blocklist_oracle() -> str:
    pads = []
    for t in BLOCKLIST_TERMS:
        hit = f"(length(p) - length(replace(p, ' {t} ', ''))) // {len(t) + 2}"
        pads.append(f"CAST({hit} AS BIGINT)")
    n_hits = " + ".join(pads)
    n_terms = " + ".join(
        f"CASE WHEN contains(p, ' {t} ') THEN 1 ELSE 0 END"
        for t in BLOCKLIST_TERMS
    )
    return f"""
WITH d AS (
    SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS p
    FROM documents
)
SELECT doc_id,
       CAST({n_terms} AS BIGINT) AS n_blocked_terms,
       CAST({n_hits} AS BIGINT) AS n_hits,
       ({n_hits}) = 0 AS keep
FROM d
"""


@register(
    "curation_blocklist_filter",
    tags=("curation", "quality", "filter"),
    oracle=_blocklist_oracle(),
)
def curation_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist gate — the C4 "bad words" filter class: drop
    any document containing a blocklisted WORD (boundary-matched, not
    substring), reporting how many listed terms appear and the total
    occurrence count so policy reviews can distinguish a single
    incidental hit from saturated pages. The committed list holds
    neutral stand-in tokens (one hitting ~5% of the corpus, one
    absent); a deployment swaps in its real list and nothing else
    changes.

    Exactness: occurrence counting is the doubled-space length-delta
    replace (the BM25 trick — adjacent repeats never share a
    delimiter), pure integer arithmetic.

    Scale shape: scan-bound row-local JVM replaces, zero shuffles,
    zero UDFs — the filter composes with partition pruning and costs
    one pass no matter how long the list grows (each term adds one
    replace to the same projection).
    """
    docs = load_table(spark, sf_dir, "documents")
    p = F.concat(F.lit(" "), F.regexp_replace("text", " ", "  "), F.lit(" "))
    d = docs.select("doc_id", p.alias("p"))
    n_hits = None
    n_terms = None
    for t in BLOCKLIST_TERMS:
        needle = f" {t} "
        cnt = (
            (F.length("p") - F.length(F.replace(F.col("p"), F.lit(needle), F.lit(""))))
            / F.lit(len(needle))
        ).cast("bigint")
        present = F.contains(F.col("p"), F.lit(needle)).cast("bigint")
        n_hits = cnt if n_hits is None else n_hits + cnt
        n_terms = present if n_terms is None else n_terms + present
    return d.select(
        "doc_id",
        n_terms.cast("bigint").alias("n_blocked_terms"),
        n_hits.cast("bigint").alias("n_hits"),
        (n_hits == 0).alias("keep"),
    )
