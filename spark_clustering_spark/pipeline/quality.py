"""Corpus-quality and representation operators for training pipelines.

Three passes a pretraining data pipeline runs between raw documents
and the tokenizer that the rest of ``pipeline/`` doesn't yet cover:

- **Repetition scoring** — the duplicate-n-gram fractions used as a
  quality gate (highly repetitive docs are generation artifacts).
- **Mixture resampling** — deterministic per-source downsampling to a
  target mixture, via a portable-hash keep threshold (no sort, no
  window: a constant-time filter per row, the only pattern that holds
  at 100 TB).
- **Embedding quantization** — int8 per-vector quantization with a
  reconstruction-error report, the storage/serving compression step
  for the ANN index.

All JVM built-ins (split / transform / zip_with / aggregate), no
Python in the hot path, each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.functions.detagg import dround, sql_dround
from spark_clustering_spark.functions.porthash import md5_int32, sql_hex_int
from spark_clustering_spark.io import table
from spark_clustering_spark.registry import query


@query(
    "q_text_repetition",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
               AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS gram
      FROM t WHERE len(ws) >= 2
    ),
    c AS (
      SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           sum(n)::BIGINT AS n_grams,
           count(*)::BIGINT AS n_distinct,
           {sql_dround('(sum(n) - count(*)) / sum(n)')} AS dup_frac,
           {sql_dround('max(n) / sum(n)')} AS top_frac
    FROM c GROUP BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals per document: total and distinct word
    2-grams, the fraction of 2-gram occurrences that are repeats
    (dup_frac = 1 - distinct/total) and the share of the single most
    frequent 2-gram (top_frac) — the standard repetitive-content gate
    applied before pretraining (docs with dup_frac near 1 are boiler-
    plate or generation loops).

    Scale: one shuffle of (doc_id, gram) to count within-doc repeats,
    then a per-doc rollup on the same key — document text itself never
    moves, and both aggregations combine map-side. The ratio math is
    integer-derived so the 4-dp decimal round is stable cross-engine."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 2)),
    )
    from spark_clustering_spark.io import spread

    c = (
        spread(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n")
    return c.groupBy("doc_id").agg(
        total.cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        dround((total - F.count(F.lit(1))) / total).alias("dup_frac"),
        dround(F.max("n") / total).alias("top_frac"),
    )


@query(
    "q_sample_mixture",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             md5(concat('mix', doc_id)) AS hx,
             (1 + (CAST(substr(source, 4) AS BIGINT) % 4)) / 4.0 AS rate
      FROM documents
    )
    SELECT doc_id, source, {sql_dround('rate')} AS keep_rate
    FROM w
    WHERE {sql_hex_int('hx')} < floor(rate * 4294967296)::BIGINT
    """,
)
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling: each source is downsampled to a target rate
    (here a deterministic per-source schedule of 25/50/75/100%) by
    keeping documents whose portable 32-bit hash falls below
    rate·2^32 — how a pretraining pipeline rebalances web/code/books
    shares without materializing per-source sorts.

    Scale: this is THE scale-correct sampling pattern — a stateless
    per-row predicate (hash compare), no shuffle, no per-source window
    or count pass; the sample is reproducible (seeded hash of doc_id),
    stable under reruns and insertions, and composable with the
    train/test splitter (`q_split_train_test` uses a disjoint hash
    domain). Rates here come from a literal schedule; a production run
    joins a tiny broadcast (source → rate) table instead — same plan."""
    d = table(spark, sf_dir, "documents")
    rate = (
        1 + F.pmod(F.substring("source", 4, 10).cast("bigint"), F.lit(4))
    ) / 4.0
    h = md5_int32(F.concat(F.lit("mix"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "source", rate.alias("rate"))
        .filter(h < F.floor(F.col("rate") * 4294967296).cast("bigint"))
        .select("doc_id", "source", dround("rate").alias("keep_rate"))
    )


@query(
    "q_vec_quantize",
    oracle=f"""
    WITH t AS (
      SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e,
             greatest(list_max([abs(x) for x in e]), 1e-12) / 127 AS scale
      FROM t
    ),
    q AS (
      SELECT vec_id, scale, e,
             [round(x / scale)::BIGINT for x in e] AS qv
      FROM s
    )
    SELECT vec_id,
           list_sum([qv[i] * i for i in range(1, len(qv) + 1)])::BIGINT
             AS q_checksum,
           list_max([abs(x) for x in qv])::BIGINT AS q_max,
           {sql_dround('scale', 6)} AS scale,
           {sql_dround('sqrt(list_sum([(e[i] - qv[i]*scale)*(e[i] - qv[i]*scale) for i in range(1, len(e) + 1)]))')}
             AS l2_err
    FROM q
    """,
)
def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization: per-vector scale =
    max|x|/127, q_i = round(x_i/scale) ∈ [-127, 127], reported as a
    position-weighted integer checksum (exact cross-engine), the max
    magnitude (must be ≤ 127), and the L2 reconstruction error — the
    4× compression step an ANN serving index applies to embeddings.

    Scale: pure per-row array math (transform/zip_with/aggregate), no
    shuffle, whole-stage codegen end to end; at 100 TB this runs at
    scan speed and writes 1/4 the bytes. The checksum is integer-exact;
    scale and l2_err go through the 4-dp decimal pivot which absorbs
    sub-ulp fold-order differences between engines."""
    d = table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    t = d.select("vec_id", e.alias("e"))
    scale = F.greatest(
        F.array_max(F.transform("e", F.abs)), F.lit(1e-12)
    ) / 127
    s = t.select("vec_id", "e", scale.alias("scale"))
    qv = F.transform(
        "e", lambda x: F.round(x / F.col("scale")).cast("long")
    )
    q = s.select("vec_id", "scale", "e", qv.alias("qv"))
    checksum = F.aggregate(
        F.zip_with("qv", F.sequence(F.lit(1), F.size("qv")), lambda v, i: v * i),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sq_err = F.aggregate(
        F.zip_with(
            "e",
            "qv",
            lambda x, v: (x - v * F.col("scale")) * (x - v * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Two selects on purpose: aliasing the rounded scale back to the
    # name "scale" in the SAME select as sq_err would make the lambda's
    # F.col("scale") resolve to the lateral column alias (the rounded
    # value) under Spark's implicit lateral-alias resolution — the
    # reconstruction error must use the exact scale.
    out = q.select(
        "vec_id",
        checksum.alias("q_checksum"),
        F.array_max(F.transform("qv", F.abs)).alias("q_max"),
        "scale",
        F.sqrt(sq_err).alias("raw_l2"),
    )
    return out.select(
        "vec_id",
        "q_checksum",
        "q_max",
        dround("scale", 6).alias("scale"),
        dround("raw_l2").alias("l2_err"),
    )


# Gopher quality-rule bounds (Rae et al. 2021, arXiv:2112.11446 §A1.1),
# integer-exact so the threshold compares cannot float-flip:
#   word count in [GOPHER_MIN_WORDS, GOPHER_MAX_WORDS]
#   mean word length in [3, 10]        -> 3n <= sum_chars <= 10n
#   alphabetic-word fraction >= 0.8    -> 5*n_alpha >= 4*n_words
#   distinct stopwords >= 2
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
_GOPHER_STOP = ("the", "a", "of", "and", "to")  # textstats.STOPWORDS


@query(
    "q_text_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             cast(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
                  AS BIGINT) AS sum_chars,
             len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
             len(list_distinct(list_filter(ws, x -> x IN {_GOPHER_STOP})))
               AS n_stop_distinct
      FROM t
    )
    SELECT doc_id, n_words::BIGINT AS n_words, sum_chars,
           n_alpha::BIGINT AS n_alpha, n_stop_distinct::BIGINT AS n_stop_distinct,
           (CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                 THEN 1 ELSE 0 END)::INT AS gate_word_count,
           (CASE WHEN 3 * n_words <= sum_chars AND sum_chars <= 10 * n_words
                 THEN 1 ELSE 0 END)::INT AS gate_word_len,
           (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)::INT
             AS gate_alpha,
           (CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END)::INT AS gate_stop,
           (CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                  AND 3 * n_words <= sum_chars AND sum_chars <= 10 * n_words
                  AND 5 * n_alpha >= 4 * n_words
                  AND n_stop_distinct >= 2
                 THEN 1 ELSE 0 END)::INT AS keep
    FROM m
    """,
)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, arXiv:2112.11446
    §A1.1): word-count bounds, mean-word-length bounds, minimum
    alphabetic-word fraction, and minimum distinct-stopword presence,
    emitted as individual gates plus the conjunctive keep flag — the
    rule-based pre-filter that runs before any model-based quality
    scoring (q_text_quality / q_text_score_udf are the next stages).

    Every threshold is evaluated in INTEGER arithmetic (mean word
    length 3 <= s/n <= 10 becomes 3n <= s <= 10n; fraction >= 0.8
    becomes 5a >= 4n), so the gates are exact — no float compare can
    flip between engines or runs.

    Scale: one narrow projection per document — no shuffle, no join;
    the split/filter/transform chain stays in whole-stage codegen and
    pushes only (doc_id, text) out of the scan."""
    d = table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    m = d.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_words"),
        F.coalesce(
            F.aggregate(
                F.transform(ws, lambda x: F.length(x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ),
            F.lit(0),
        ).alias("sum_chars"),
        F.size(F.filter(ws, lambda x: x.rlike("[a-z]")))
        .cast("bigint")
        .alias("n_alpha"),
        F.size(
            F.array_distinct(F.filter(ws, lambda x: x.isin(*_GOPHER_STOP)))
        )
        .cast("bigint")
        .alias("n_stop_distinct"),
    )
    n, s = F.col("n_words"), F.col("sum_chars")
    a, st = F.col("n_alpha"), F.col("n_stop_distinct")
    g_wc = n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    g_wl = (3 * n <= s) & (s <= 10 * n)
    g_al = 5 * a >= 4 * n
    g_st = st >= 2
    as_int = lambda c: F.when(c, F.lit(1)).otherwise(F.lit(0)).cast("int")  # noqa: E731
    return m.select(
        "doc_id", "n_words", "sum_chars", "n_alpha", "n_stop_distinct",
        as_int(g_wc).alias("gate_word_count"),
        as_int(g_wl).alias("gate_word_len"),
        as_int(g_al).alias("gate_alpha"),
        as_int(g_st).alias("gate_stop"),
        as_int(g_wc & g_wl & g_al & g_st).alias("keep"),
    )


@query(
    "q_text_ccnet_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    dtf AS (
      SELECT doc_id, tok, count(*) AS c
      FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    g AS (SELECT tok, sum(c) AS gc FROM dtf GROUP BY tok),
    t AS (SELECT sum(c) AS total FROM dtf),
    lp AS (
      SELECT d.doc_id,
             CAST(sum(d.c) AS BIGINT) AS n_toks,
             cast(cast(round(sum(cast(d.c * ln(cast(g.gc AS DOUBLE) / t.total)
                  AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS sum_lp
      FROM dtf d JOIN g USING (tok) CROSS JOIN t
      GROUP BY d.doc_id
    ),
    ranked AS (
      SELECT s.source, l.doc_id, l.n_toks, l.sum_lp,
             row_number() OVER (PARTITION BY s.source
               ORDER BY l.sum_lp / l.n_toks DESC, l.doc_id) AS rn,
             count(*) OVER (PARTITION BY s.source) AS n_src
      FROM lp l JOIN documents s USING (doc_id)
    )
    SELECT source, doc_id,
           cast(cast(round(cast(cast((sum_lp / n_toks) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS mean_lp,
           CASE WHEN 3 * rn <= n_src THEN 'head'
                WHEN 3 * rn <= 2 * n_src THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
)
def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score every document by its mean per-token
    log-probability under the corpus unigram LM (the perplexity proxy
    q_text_unigram_logprob emits), then split EACH SOURCE into
    head / middle / tail thirds by rank — the standard "keep head,
    maybe middle, drop tail" curation knob, computed per source so a
    fluent-but-small source isn't crowded out by a large noisy one.

    Bucket cuts are integer (3·rank vs n), and the ordering key is the
    same IEEE division of identical decimal-rounded inputs in both
    engines with a doc_id tie-break — fully deterministic.

    Scale: LM scoring is the one (doc_id, tok) shuffle of
    q_text_unigram_logprob; ranking is a window PARTITIONED BY source
    (each source streams independently — no global sort). At 100 TB
    replace the exact per-source rank with the q_window_ntile_scalable
    literal-cut slice plan; cuts and semantics are unchanged."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    dtf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    g = dtf.groupBy("tok").agg(F.sum("c").alias("gc"))
    t = dtf.agg(F.sum("c").alias("total"))
    term = F.col("c") * F.log(F.col("gc").cast("double") / F.col("total"))
    lp = (
        dtf.join(F.broadcast(g), "tok")
        .crossJoin(F.broadcast(t))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_toks"),
            F.round(F.sum(term.cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("sum_lp"),
        )
    )
    from pyspark.sql.window import Window

    mean = F.col("sum_lp") / F.col("n_toks")
    w = Window.partitionBy("source").orderBy(mean.desc(), F.col("doc_id"))
    ranked = (
        lp.join(d.select("doc_id", "source"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_src", F.count(F.lit(1)).over(Window.partitionBy("source")))
    )
    return ranked.select(
        "source",
        "doc_id",
        dround(mean).alias("mean_lp"),
        F.when(3 * F.col("rn") <= F.col("n_src"), F.lit("head"))
        .when(3 * F.col("rn") <= 2 * F.col("n_src"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@query(
    "q_pipeline_quality_funnel",
    # the funnel restates each gate in integer-exact arithmetic so the
    # stage counts cannot float-flip; stage predicates are cumulative
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id, text,
             len(ws) AS n_words,
             cast(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
                  AS BIGINT) AS sum_chars,
             len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
             len(list_distinct(list_filter(ws, x -> x IN {_GOPHER_STOP})))
               AS n_stop,
             len([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])
               AS n_grams,
             len(list_distinct([ws[i] || ' ' || ws[i+1]
                                for i in range(1, len(ws))])) AS n_dgrams
      FROM t
    ),
    gated AS (
      SELECT doc_id, text,
             (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
              AND 3 * n_words <= sum_chars AND sum_chars <= 10 * n_words
              AND 5 * n_alpha >= 4 * n_words
              AND n_stop >= 2) AS g_gopher,
             (n_grams >= 1 AND 2 * n_dgrams >= n_grams) AS g_rep
      FROM m
    ),
    keepers AS (
      SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents
      GROUP BY md5(text)
    )
    SELECT count(*) AS n_total,
           count(*) FILTER (g_gopher) AS n_gopher,
           count(*) FILTER (g_gopher AND g_rep) AS n_low_repetition,
           count(*) FILTER (g_gopher AND g_rep AND k.keep_id = gated.doc_id)
             AS n_unique_kept
    FROM gated LEFT JOIN keepers k ON k.keep_id = gated.doc_id
    """,
)
def q_pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation funnel in ONE row: documents surviving each
    cumulative stage — Gopher rule gates (integer-exact,
    q_text_gopher_rules), then the duplicate-bigram repetition gate
    (dup_frac <= 1/2, expressed as 2·distinct >= total so it cannot
    float-flip), then exact-dedup survivorship (doc is its content
    group's keeper). The one-line audit a data curator reads after
    every pipeline run — each stage's drop is the knob to investigate
    (q_pipeline_corpus is the row-level sibling that EMITS the
    surviving corpus; this is its dashboard).

    Composes the REGISTERED gate queries (q_text_gopher_rules /
    q_text_repetition, integer columns only — no rounded-float
    thresholds) rather than re-deriving their expression forests: the
    first cut re-stated every gate inline and re-split each document's
    text per output column, benching ~9 s; composition runs ~2 s.

    Scale: the component passes' own shuffles plus one doc-keyed join;
    the funnel aggregate is a single-row conditional count."""
    gop = q_text_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gg")
    )
    rep = q_text_repetition(spark, sf_dir).select(
        "doc_id",
        ((F.col("n_grams") >= 1)
         & (2 * F.col("n_distinct") >= F.col("n_grams"))).alias("gr"),
    )
    d = table(spark, sf_dir, "documents")
    keepers = (
        d.select(F.md5(F.col("text").cast("binary")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    gated = gop.join(rep, "doc_id", "left").select(
        "doc_id", "gg", F.coalesce("gr", F.lit(False)).alias("gr")
    )
    joined = gated.join(
        keepers, gated["doc_id"] == keepers["keep_id"], "left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("gg") == 1, 1)).alias("n_gopher"),
        F.count(F.when((F.col("gg") == 1) & F.col("gr"), 1)).alias(
            "n_low_repetition"
        ),
        F.count(
            F.when(
                (F.col("gg") == 1) & F.col("gr") & F.col("keep_id").isNotNull(),
                1,
            )
        ).alias("n_unique_kept"),
    )


@query(
    "q_pipeline_dataset_card",
    oracle="""
    WITH m AS (
      SELECT lang, source,
             md5(text) AS h,
             len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> ''))::BIGINT AS toks,
             n_chars
      FROM documents
    )
    SELECT lang, source,
           cast(count(*) AS BIGINT) AS n_docs,
           cast(sum(toks) AS BIGINT) AS n_tokens,
           cast(sum(n_chars) AS BIGINT) AS n_chars,
           cast(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
           cast(cast(round(cast(cast(
             (1.0 - cast(count(DISTINCT h) AS DOUBLE) / count(*))
             AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE)
             AS dup_rate
    FROM m
    GROUP BY ROLLUP (lang, source)
    """,
)
def q_pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one query: per (lang, source), per lang, and
    corpus-total rows (ROLLUP) with the numbers every data release
    publishes — document count, whitespace-token count (the same split
    as q_text_token_count so the card agrees with the per-doc table),
    character volume, distinct-content count, and exact-duplicate rate.
    The summary a curator checks before and after every pipeline
    change, and the shape Spark's grouping-sets Expand was built for.

    Scale: the Expand triples the stream, but only AFTER the per-doc
    projection narrows it to (lang, source, 16-byte digest, 2 ints) —
    text itself never enters the shuffle (same digest-only discipline
    as q_text_dedup_paragraph). The distinct-count per rollup level is
    exact by (group, digest) hash aggregation; at 100 TB swap
    count_distinct for the already-declared KMV sketch family
    (q_agg_kmv_shard_merge) if an approximate card is acceptable.
    dup_rate is the one float: both engines derive it from identical
    integers and round through the decimal pivot."""
    d = table(spark, sf_dir, "documents")
    m = d.select(
        "lang",
        "source",
        F.md5("text").alias("h"),
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("bigint")
        .alias("toks"),
        "n_chars",
    )
    n_docs = F.count(F.lit(1)).cast("bigint")
    n_unique = F.count_distinct(F.col("h")).cast("bigint")
    return m.rollup("lang", "source").agg(
        n_docs.alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        n_unique.alias("n_unique_texts"),
        dround(
            F.lit(1.0) - n_unique.cast("double") / n_docs.cast("double")
        ).alias("dup_rate"),
    )


def _dataset_card_kmv_oracle() -> str:
    from spark_clustering_spark.operators.aggregates import KMV_K

    h_int = sql_hex_int("hx", 1, 8)
    k = KMV_K
    est = (
        f"CASE WHEN hk IS NOT NULL THEN ({k} - 1) * 4294967296.0 / hk "
        f"ELSE cast(nk AS DOUBLE) END"
    )
    lvl = []
    for keys, sk in (("lang, source", "sk2"), ("lang", "sk1"), ("", "sk0")):
        kb = f"GROUP BY {keys}" if keys else ""
        sel_lang = "lang" if "lang" in keys else "cast(NULL AS VARCHAR) AS lang"
        sel_src = (
            "source" if "source" in keys
            else "cast(NULL AS VARCHAR) AS source"
        )
        join_on = (
            " AND ".join(f"e.{c.strip()} = v.{c.strip()}"
                         for c in keys.split(",") if c.strip())
            or "TRUE"
        )
        lvl.append(f"""
    SELECT {('v.' + ', v.'.join(c.strip() for c in keys.split(',') if c.strip()) + ',') if keys else 'cast(NULL AS VARCHAR) AS lang, cast(NULL AS VARCHAR) AS source,'}
           {('cast(NULL AS VARCHAR) AS source,' if keys == 'lang' else '')}
           v.n_docs, v.n_tokens, v.n_chars,
           cast(e.nk AS BIGINT) AS n_sketch,
           {sql_dround(est, 4)} AS kmv_unique_est
    FROM (SELECT {sel_lang}, {sel_src},
                 max(CASE WHEN rn = {k} THEN h END) AS hk,
                 count(*) AS nk
          FROM {sk} {kb}) e
    JOIN (SELECT {sel_lang}, {sel_src},
                 cast(count(*) AS BIGINT) AS n_docs,
                 cast(sum(toks) AS BIGINT) AS n_tokens,
                 cast(sum(n_chars) AS BIGINT) AS n_chars
          FROM b {kb}) v ON {join_on}""")
    return f"""
    WITH b AS (
      SELECT lang, source, md5(text) AS hx,
             len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> ''))::BIGINT AS toks,
             n_chars
      FROM documents
    ),
    mem AS (SELECT DISTINCT lang, source, hx FROM b),
    hv AS (SELECT lang, source, hx, {h_int} AS h FROM mem),
    sk2 AS (
      SELECT lang, source, hx, h,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY h, hx) AS rn
      FROM hv QUALIFY rn <= {k}
    ),
    m1 AS (SELECT DISTINCT lang, hx, h FROM sk2),
    sk1 AS (
      SELECT lang, hx, h,
             row_number() OVER (PARTITION BY lang ORDER BY h, hx) AS rn
      FROM m1 QUALIFY rn <= {k}
    ),
    m0 AS (SELECT DISTINCT hx, h FROM sk1),
    sk0 AS (
      SELECT hx, h, row_number() OVER (ORDER BY h, hx) AS rn
      FROM m0 QUALIFY rn <= {k}
    )
    {" UNION ALL ".join(lvl)}
    """


@query("q_pipeline_dataset_card_kmv", oracle=_dataset_card_kmv_oracle())
def q_pipeline_dataset_card_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card at its declared 100 TB design point:
    q_pipeline_dataset_card's exact count_distinct swapped for the KMV
    sketch family (the swap that card's docstring names), emitted at
    the same three rollup levels — per (lang, source), per lang, and
    corpus total. The unique-text count becomes the portable-hash
    K-minimum-values estimate (Bar-Yossef et al. 2002), and the HIGHER
    levels are built by MERGING the leaf sketches (union members,
    re-take K smallest — the q_agg_kmv_shard_merge property), so no
    level ever recounts the corpus: exactly how a 100 TB card is
    assembled from per-shard sketches without a global distinct.

    Determinism: members are the distinct text digests; the sketch
    order is (h, hx) — h is the digest's own leading 8 hex chars as an
    integer, hx the full digest, so ranking is a total order on
    identical values in both engines, and the estimate hash-matches
    the DuckDB replay bit-for-bit like the other KMV keys. Groups with
    fewer than K distinct texts fall back to the sketch cardinality,
    which is their exact count.

    Scale: volume sums are plain map-side-combined aggregates; the
    sketch input is the digest-narrowed distinct stream (text never
    shuffles); each merge level ranks at most (child groups)·K rows.
    The global window at the top level sees ≤ n_langs·K rows —
    bounded state, not a corpus sort."""
    from pyspark.sql.window import Window

    from spark_clustering_spark.operators.aggregates import KMV_K

    d = table(spark, sf_dir, "documents")
    b = d.select(
        "lang",
        "source",
        F.md5(F.col("text").cast("binary")).alias("hx"),
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("bigint")
        .alias("toks"),
        "n_chars",
    )
    hv = b.select("lang", "source", "hx").distinct().withColumn(
        "h", F.conv(F.substring("hx", 1, 8), 16, 10).cast("bigint")
    )
    w2 = Window.partitionBy("lang", "source").orderBy("h", "hx")
    sk2 = (
        hv.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= KMV_K)
    )
    m1 = sk2.select("lang", "hx", "h").distinct()
    w1 = Window.partitionBy("lang").orderBy("h", "hx")
    sk1 = m1.withColumn("rn", F.row_number().over(w1)).filter(
        F.col("rn") <= KMV_K
    )
    m0 = sk1.select("hx", "h").distinct()
    w0 = Window.partitionBy().orderBy("h", "hx")  # ≤ n_langs·K rows
    sk0 = m0.withColumn("rn", F.row_number().over(w0)).filter(
        F.col("rn") <= KMV_K
    )

    def est_cols():
        hk = F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("hk")
        nk = F.count(F.lit(1)).alias("nk")
        return hk, nk

    def est_expr():
        return F.when(
            F.col("hk").isNotNull(),
            (KMV_K - 1) * F.lit(4294967296.0) / F.col("hk"),
        ).otherwise(F.col("nk").cast("double"))

    def vol(keys):
        g = b.groupBy(*keys) if keys else b.groupBy()
        return g.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )

    hk, nk = est_cols()
    e2 = sk2.groupBy("lang", "source").agg(hk, nk)
    e1 = sk1.groupBy("lang").agg(hk, nk)
    e0 = sk0.groupBy().agg(hk, nk)
    nul = F.lit(None).cast("string")

    def finish(v, e, keys):
        j = v.join(F.broadcast(e), keys) if keys else v.crossJoin(e)
        sel = [
            F.col("lang") if "lang" in keys else nul.alias("lang"),
            F.col("source") if "source" in keys else nul.alias("source"),
            "n_docs", "n_tokens", "n_chars",
            F.col("nk").cast("bigint").alias("n_sketch"),
            dround(est_expr()).alias("kmv_unique_est"),
        ]
        return j.select(*sel)

    return (
        finish(vol(["lang", "source"]), e2, ["lang", "source"])
        .unionByName(finish(vol(["lang"]), e1, ["lang"]))
        .unionByName(finish(vol([]), e0, []))
    )
