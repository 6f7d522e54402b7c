"""Deterministic sampling / splitting — training-data pipeline staples.

Spark's sample()/sampleBy() draw from engine-internal RNG streams
(seed-stable but not portable); these operators use the shared integer
LCG (functions/rng.py) so the selection is reproducible in ANY engine —
the property that makes a 100 TB corpus split auditable: membership of
every row is a pure function of its key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import dround, sql_dround
from spark_clustering_spark.functions.porthash import sql_hex_int
from spark_clustering_spark.functions.rng import lcg_uniform, sql_lcg_uniform
from spark_clustering_spark.io import spread, table
from spark_clustering_spark.registry import query

_FRACTIONS = {"en": 0.5, "de": 0.8, "es": 0.8, "fr": 0.8, "zh": 1.0}


@query(
    "q_sample_stratified",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, lang, {sql_lcg_uniform('doc_id', seed=11)} AS u
      FROM documents
    )
    SELECT doc_id, lang FROM tagged
    WHERE u < CASE lang
        WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.8 WHEN 'es' THEN 0.8
        WHEN 'fr' THEN 0.8 WHEN 'zh' THEN 1.0 ELSE 0.0 END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified downsampling (e.g. rebalance an
    English-heavy corpus): keep a row iff its key-derived uniform falls
    under the stratum's fraction. Pure projection+filter — no shuffle,
    pushdown-eligible, trivially parallel at any scale."""
    d = table(spark, sf_dir, "documents")
    frac = F.create_map(
        *[x for k, v in _FRACTIONS.items() for x in (F.lit(k), F.lit(v))]
    )
    return d.withColumn("u", lcg_uniform("doc_id", seed=11)).filter(
        F.col("u") < F.coalesce(frac[F.col("lang")], F.lit(0.0))
    ).select("doc_id", "lang")


@query(
    "q_split_train_test",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, {sql_lcg_uniform('doc_id', seed=23)} AS u
      FROM documents
    )
    SELECT CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM tagged GROUP BY 1
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split keyed on doc_id —
    any engine (or a later rerun over a grown corpus) assigns every
    existing document to the same split."""
    d = table(spark, sf_dir, "documents")
    u = lcg_uniform("doc_id", seed=23)
    split = (
        F.when(u < 0.8, "train").when(u < 0.9, "valid").otherwise("test")
    )
    return d.select("doc_id", split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "q_text_clean",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS clean_text,
           length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                      ' +', ' ', 'g')))::BIGINT AS clean_len
    FROM documents
    """,
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization for training corpora: lowercase, strip
    non-alphanumerics, collapse whitespace — all JVM-side regexp ops."""
    d = table(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).cast("bigint").alias("clean_len"),
    )


@query(
    "q_pipeline_corpus",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, lang,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS ct
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang, ct, length(ct) AS clean_len
      FROM c WHERE length(ct) >= 100
    ),
    keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(ct)),
    kept AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
    tagged AS (
      SELECT *, {sql_lcg_uniform('doc_id', seed=23)} AS u FROM kept
    )
    SELECT CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'valid'
                ELSE 'test' END AS split,
           lang, count(*) AS n_docs, sum(clean_len)::BIGINT AS total_len
    FROM tagged GROUP BY 1, 2
    """,
)
def q_pipeline_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation, composed from the individually
    verified stages: normalize text → quality gate (≥100 clean chars) →
    exact dedup on the cleaned content (keep lowest doc_id per digest)
    → deterministic 80/10/10 split → per-(split, lang) summary. The
    whole chain is one declarative plan: Catalyst pipelines the
    projection/filter stages into the scan, the dedup is the only
    content shuffle (keyed on the digest, text never moves), and the
    split is a pure key function — the same plan at 100 TB."""
    d = table(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    c = d.select("doc_id", "lang", clean.alias("ct"), F.length(clean).alias("clean_len"))
    q = c.filter(F.col("clean_len") >= 100)
    keep = q.groupBy(F.md5(F.col("ct").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    kept = q.join(keep, "doc_id")
    u = lcg_uniform("doc_id", seed=23)
    split = F.when(u < 0.8, "train").when(u < 0.9, "valid").otherwise("test")
    return (
        kept.select(split.alias("split"), "lang", "clean_len")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("clean_len").cast("bigint").alias("total_len"),
        )
    )


@query(
    "q_sample_per_group",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, source, md5(concat('pg', doc_id)) AS hx
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY {sql_hex_int('hx')}, doc_id
             ) AS rn
      FROM h
    )
    SELECT doc_id, lang, source, rn::INT AS pick
    FROM r WHERE rn <= 2
    """,
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (k=2 per (lang, source)): rank
    group members by a seeded portable hash and keep the first k — the
    'few exemplars per stratum' draw used for eval slices and manual
    inspection sets. Reproducible across runs and engines (the hash
    order IS the sample), unlike sampleBy's RNG-dependent draw.

    Scale: one shuffle of (doc_id, lang, source, hash32); text never
    moves. Per-group row_number is safe because each stratum streams
    through a single task ordered by hash — for k << group size the
    window short-circuits nothing, so an even bigger-data variant would
    swap in a per-partition bounded heap (the q_topk_per_group plan);
    the semantics and output stay identical."""
    from spark_clustering_spark.functions.porthash import md5_int32
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    h = md5_int32(F.concat(F.lit("pg"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang", "source").orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "lang", "source")
        .withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 2)
    )


@query(
    "q_sample_temperature",
    oracle="""
    WITH src AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_docs) AS total,
                   cast(cast(sum(cast(pow(cast(n_docs AS DOUBLE), 0.7)
                     AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS z
            FROM src)
    SELECT s.source, s.n_docs,
           cast(cast(round(cast(cast((pow(cast(s.n_docs AS DOUBLE), 0.7) / t.z) AS VARCHAR)
             AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS weight,
           cast(cast(round(cast(cast((pow(cast(s.n_docs AS DOUBLE), 0.7) / t.z * t.total)
             AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS expected_docs
    FROM src s CROSS JOIN tot t
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (T=0.7): sampling weight
    w_s ∝ n_s^0.7 — the standard rebalancing that upsamples small
    sources (low-resource languages, rare domains) without letting any
    single giant source dominate an epoch. Emits each source's weight
    and expected document count at corpus size.

    Scale: one source-cardinality aggregate + a 1-row broadcast cross
    join; the per-doc keep/repeat decision that consumes these weights
    is the zero-shuffle hash filter q_sample_mixture already
    implements."""
    from spark_clustering_spark.functions.detagg import dround

    d = table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    pw = F.pow(F.col("n_docs").cast("double"), F.lit(0.7))
    # z accumulates in DECIMAL(38,8) (each pow() double rounded
    # identically in both engines first) so the normalizer is
    # accumulation-order-proof — the detagg discipline
    tot = src.agg(
        F.sum("n_docs").alias("total"),
        F.sum(
            F.pow(F.col("n_docs").cast("double"), F.lit(0.7)).cast(
                "decimal(38,8)"
            )
        )
        .cast("double")
        .alias("z"),
    )
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        dround(pw / F.col("z")).alias("weight"),
        dround(pw / F.col("z") * F.col("total")).alias("expected_docs"),
    )


DSIR_TARGET = ("src0", "src1")  # the "target domain" slice the LM is fit on


@query(
    "q_sample_dsir",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    dtf AS (
      SELECT doc_id, tok, count(*) AS c
      FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    raw AS (SELECT tok, sum(c) AS gc FROM dtf GROUP BY tok),
    tgt AS (
      SELECT tok, count(*) AS gt FROM toks
      WHERE tok <> '' AND source IN {DSIR_TARGET!r} GROUP BY tok
    ),
    tot AS (
      SELECT (SELECT sum(gc) FROM raw) AS total_raw,
             (SELECT count(*) FROM raw) AS vocab,
             (SELECT coalesce(sum(gt), 0) FROM tgt) AS total_tgt
    )
    SELECT d.doc_id,
           CAST(sum(d.c) AS BIGINT) AS n_toks,
           cast(cast(round(sum(cast(d.c * (
               ln((coalesce(g.gt, 0) + 1.0) / (t.total_tgt + t.vocab))
             - ln((r.gc + 1.0) / (t.total_raw + t.vocab))
           ) AS DECIMAL(38,8))), 4) AS VARCHAR) AS DOUBLE) AS log_ratio
    FROM dtf d
    JOIN raw r USING (tok)
    LEFT JOIN tgt g USING (tok)
    CROSS JOIN tot t
    GROUP BY d.doc_id
    """,
)
def q_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023, arXiv:2302.03169), unigram-LM instantiation: per-document
    importance log-weight log w(x) = Σ_tok c·(ln p_target(tok) −
    ln p_raw(tok)) with add-1 smoothing over the raw vocabulary.
    Documents whose token distribution looks like the target domain
    (here sources {DSIR_TARGET}) score high; resampling ∝ exp(w) tilts
    a raw 100 TB crawl toward the target distribution. Emitted as
    (n_toks, log_ratio) — consumers divide or exponentiate.

    Determinism: each c·Δln term is one double expression from
    identical integer inputs, rounded into DECIMAL(38,8) BEFORE the
    order-ambiguous sum (detagg discipline), so the aggregate is
    accumulation-order-proof.

    Scale: identical shape to q_text_unigram_logprob — one
    (doc_id, tok) shuffle; both LMs are vocabulary-sized aggregates
    re-joined as broadcasts; totals are a 1-row cross join. The
    target slice is by definition small (it's the trusted corpus)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    dtf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    raw = dtf.groupBy("tok").agg(F.sum("c").alias("gc"))
    tgt = (
        toks.filter(F.col("source").isin(*DSIR_TARGET))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("gt"))
    )
    tot = raw.agg(
        F.sum("gc").alias("total_raw"), F.count(F.lit(1)).alias("vocab")
    ).crossJoin(tgt.agg(F.coalesce(F.sum("gt"), F.lit(0)).alias("total_tgt")))
    term = F.col("c") * (
        F.log(
            (F.coalesce(F.col("gt"), F.lit(0)) + F.lit(1.0))
            / (F.col("total_tgt") + F.col("vocab"))
        )
        - F.log((F.col("gc") + F.lit(1.0)) / (F.col("total_raw") + F.col("vocab")))
    )
    return (
        dtf.join(F.broadcast(raw), "tok")
        .join(F.broadcast(tgt), "tok", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_toks"),
            F.round(F.sum(term.cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("log_ratio"),
        )
    )


ES_K = 50        # sample size
ES_SEED = 23
_ES_A, _ES_C, _ES_M = 1103515245, 12345, 2**31


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             -ln(((doc_id * {_ES_A} + {_ES_C + ES_SEED}) % {_ES_M} + 0.5)
                 / {float(_ES_M)}) / n_chars AS rawkey
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars,
           cast(cast(round(cast(cast((rawkey) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS ekey
    FROM keyed
    -- order by the RAW key (the alias `ekey` would resolve to the
    -- 6dp-ROUNDED output, whose sf1-scale tie groups select different
    -- rows than Spark's raw-key TakeOrdered — caught by the sf1 sweep)
    ORDER BY rawkey, doc_id LIMIT {ES_K}
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k={ES_K}, weight =
    document length: the Efraimidis–Spirakis exponential race. Each
    row draws its key-derived uniform u and competes with key
    −ln(u)/w — an Exp(w) variate — and the k smallest keys win, which
    is distributionally identical to sequential weighted draws without
    replacement. The workhorse for "sample a training subset biased
    toward long documents" (or toward any quality weight).

    Against naive approaches: per-row keys need NO global weight total
    (unlike CDF inversion, which needs a second pass and breaks under
    streaming appends), and membership is a pure function of the row —
    auditable, rerun-stable, and mergeable across shards.

    Determinism: u comes from the shared integer LCG with a +0.5
    offset so u ∈ (0,1) strictly (ln(0) guarded by construction, not
    by branch); the ln and divide are one double expression on
    identical inputs in both engines (the repo's established libm
    envelope, cf. q_text_tfidf), and the emitted key goes through
    dround(6).

    Scale: keying is a stateless projection (zero shuffle);
    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject — a
    per-partition bounded heap merged on the driver, NOT a global
    sort: at 100 TB each task keeps k rows, the exchange moves
    tasks·k rows, and no reducer ever sees data-proportional input."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        (
            (F.col("doc_id") * F.lit(_ES_A) + F.lit(_ES_C + ES_SEED))
            % F.lit(_ES_M)
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_ES_M))
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (-F.log(u) / F.col("n_chars")).alias("ekey"),
    )
    return (
        keyed.orderBy("ekey", "doc_id")
        .limit(ES_K)
        .select("doc_id", "lang", "n_chars", dround("ekey", 6).alias("ekey"))
    )


TOKEN_BUDGET = 12_000  # whitespace tokens


@query(
    "q_pipeline_token_budget",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               ::BIGINT AS n_tokens,
             len(list_distinct(
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')))::BIGINT AS n_unique
      FROM documents
    ),
    q AS (
      SELECT doc_id, n_tokens,
             cast(cast(round(cast(cast((
               cast(n_unique AS DOUBLE) / n_tokens) AS VARCHAR)
               AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS quality
      FROM scored WHERE n_tokens > 0
    ),
    run AS (
      SELECT doc_id, n_tokens, quality,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM q
    )
    SELECT doc_id, n_tokens, quality, cum_tokens::BIGINT AS cum_tokens
    FROM run WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
)
def q_pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus selection under a hard token budget: score every document
    by lexical diversity (unique-token ratio — the cheap repetition
    penalty), take documents best-first until the cumulative token
    count crosses {TOKEN_BUDGET}. This is the budgeting step every
    pretraining data recipe ends with ("fill 1T tokens from the best
    of the pool"), composed from the repo's token-count and quality
    conventions.

    The cumulative sum over a GLOBAL quality ordering is the classic
    single-reducer trap; it's served by ``global_running_agg`` —
    literal slice cuts on (quality DESC, doc_id), per-slice integer
    partials, driver carry-ins — so no task ever materializes the
    whole ordering (same machinery as q_window_running_global; plan-asserted there).

    Determinism: token counts are integers, the ratio is one double
    division rounded to 6 dp BEFORE ordering (so both engines order on
    identical keys, doc_id breaking ties), and the running sum is an
    integer sum — exact.

    Scale: scoring is a stateless projection; the slice shuffle moves
    (doc_id, 2 ints, 1 double) per row, never text; the budget filter
    prunes everything past the cut. At 100 TB the budget cut can also
    be found by a quantile sketch on quality first, turning the slice
    shuffle into a broadcast-threshold filter — the two-job variant —
    but the carry-in form stays exact under heavy quality ties."""
    from spark_clustering_spark.operators.windows import global_running_agg

    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    utoks = F.array_distinct(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    )
    scored = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(utoks).cast("bigint").alias("n_unique"),
    ).filter(F.col("n_tokens") > 0)
    q = scored.select(
        "doc_id",
        "n_tokens",
        dround(F.col("n_unique").cast("double") / F.col("n_tokens"), 6).alias(
            "quality"
        ),
    )
    run, _tot = global_running_agg(
        q,
        [F.col("quality").desc(), F.col("doc_id")],
        {"cum_tokens": ("sum", "n_tokens")},
    )
    return run.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", "n_tokens", "quality", F.col("cum_tokens").cast("bigint")
        .alias("cum_tokens")
    )


BOOT_B = 32          # bootstrap replicates
BOOT_SEED = 77       # LCG substream for the Poisson draws
# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * sum 1/k!), as
# fixed 10dp literals so both engines take identical branches; weights
# cap at 5 (P(w>5) < 6e-4 — negligible for SE estimation).
_POIS_CUM = (0.3678794412, 0.7357588823, 0.9196986029,
             0.9810118431, 0.9963401532)


@query(
    "q_sample_bootstrap",
    oracle=f"""
    WITH reps AS (SELECT unnest(range({BOOT_B})) AS b),
    draws AS (
      SELECT b, cast(o_totalprice AS DOUBLE) AS x,
             {sql_lcg_uniform(f'(o_orderkey * {BOOT_B} + b)', seed=BOOT_SEED)}
               AS u
      FROM orders CROSS JOIN reps
    ),
    w AS (
      SELECT b, x,
             CASE WHEN u < {_POIS_CUM[0]} THEN 0
                  WHEN u < {_POIS_CUM[1]} THEN 1
                  WHEN u < {_POIS_CUM[2]} THEN 2
                  WHEN u < {_POIS_CUM[3]} THEN 3
                  WHEN u < {_POIS_CUM[4]} THEN 4
                  ELSE 5 END AS wt
      FROM draws
    ),
    rep_means AS (
      SELECT b,
             cast(round(cast(cast(
               cast(cast(sum(cast(wt * x AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
               / cast(sum(wt) AS DOUBLE) AS VARCHAR) AS DECIMAL(38,12)), 4)
               AS DECIMAL(18,4)) AS m
      FROM w GROUP BY b
    ),
    boot AS (
      SELECT count(*) AS nb,
             cast(sum(m) AS DOUBLE) AS sm,
             cast(sum(cast(m AS DECIMAL(19,4))
                      * cast(m AS DECIMAL(19,4))) AS DOUBLE) AS smm
      FROM rep_means
    ),
    base AS (
      SELECT count(*) AS n,
             cast(cast(sum(cast(o_totalprice AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sx,
             cast(cast(sum(cast(
               cast(o_totalprice AS DOUBLE) * cast(o_totalprice AS DOUBLE)
               AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM orders
    )
    SELECT base.n,
           cast(boot.nb AS BIGINT) AS n_replicates,
           {sql_dround("base.sx / base.n", 4)} AS mean,
           {sql_dround(
             "sqrt((boot.smm - boot.sm * boot.sm / boot.nb)"
             " / (boot.nb - 1))", 4)} AS se_boot,
           {sql_dround(
             "sqrt((base.sxx - base.sx * base.sx / base.n)"
             " / (base.n - 1) / base.n)", 4)} AS se_analytic
    FROM boot CROSS JOIN base
    """,
)
def q_sample_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order value: {BOOT_B} replicates,
    each reweighting every order by an independent Poisson(1) draw (the
    streaming-friendly bootstrap — no resampling pass, weights are a
    pure function of (row key, replicate id)), then the standard error
    of the replicate means next to the analytic SE sqrt(s²/n) it should
    approximate. Draws come from the shared cross-engine LCG keyed
    o_orderkey·B+b, so every weight is auditable and rerun-stable.

    Determinism: replicate means quantize to DECIMAL(18,4) before the
    across-replicate moments (sums of 32 doubles would be
    order-ambiguous); all big sums are exact decimals; the final SE
    arithmetic is one fixed-order double expression.

    Scale: the ×{BOOT_B} row amplification happens map-side (explode of
    a literal range — no shuffle of the amplified stream until the
    per-replicate partial aggregation, which combines map-side down to
    B rows per task). Two aggregations total: corpus → B replicate
    means → 1 audit row. A 100 TB bootstrap is exactly this plan."""
    # spread() before the ×B explode: the amplifying map (B×rows LCG
    # draws + weight folds) otherwise runs on the compacted input's
    # single scan task (guide §6 / spread()'s contract).
    o = spread(
        table(spark, sf_dir, "orders").select(
            "o_orderkey", F.col("o_totalprice").cast("double").alias("x")
        )
    )
    draws = o.select(
        "o_orderkey",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).select(
        "b",
        "x",
        lcg_uniform(
            F.col("o_orderkey") * BOOT_B + F.col("b"), seed=BOOT_SEED
        ).alias("u"),
    )
    wt = (
        F.when(F.col("u") < _POIS_CUM[0], 0)
        .when(F.col("u") < _POIS_CUM[1], 1)
        .when(F.col("u") < _POIS_CUM[2], 2)
        .when(F.col("u") < _POIS_CUM[3], 3)
        .when(F.col("u") < _POIS_CUM[4], 4)
        .otherwise(5)
    )
    from spark_clustering_spark.functions.detagg import DEC

    rep_means = (
        draws.select("b", "x", wt.alias("wt"))
        .groupBy("b")
        .agg(
            (
                F.sum((F.col("wt") * F.col("x")).cast(DEC)).cast("double")
                / F.sum("wt").cast("double")
            ).alias("m_raw")
        )
        .select(dround("m_raw", 4).cast("decimal(18,4)").alias("m"))
    )
    boot = rep_means.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("m").cast("double").alias("sm"),
        F.sum(F.col("m") * F.col("m")).cast("double").alias("smm"),
    )
    base = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double").alias("sxx"),
    )
    nb, sm, smm = F.col("nb"), F.col("sm"), F.col("smm")
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    return boot.crossJoin(F.broadcast(base)).select(
        "n",
        nb.cast("bigint").alias("n_replicates"),
        dround(sx / n, 4).alias("mean"),
        dround(F.sqrt((smm - sm * sm / nb) / (nb - 1)), 4).alias("se_boot"),
        dround(F.sqrt((sxx - sx * sx / n) / (n - 1) / n), 4).alias(
            "se_analytic"
        ),
    )


RESERVOIR_K = 500  # fixed-size uniform sample


@query(
    "q_sample_reservoir",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, source, md5(concat('rsv', doc_id)) AS hx
      FROM documents
    ),
    k AS (
      SELECT doc_id, lang, source,
             row_number() OVER (ORDER BY {sql_hex_int('hx')}, doc_id)
               AS draw
      FROM h
    )
    SELECT doc_id, lang, source, draw::INT AS draw
    FROM k WHERE draw <= {RESERVOIR_K}
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform corpus sample (k={RESERVOIR_K}) — the
    deterministic equivalent of reservoir sampling: every row draws a
    seeded portable hash and the k smallest win, which is exactly a
    uniform k-subset (order statistics of a uniform key) but
    rerun-stable and engine-portable, unlike an RNG reservoir whose
    result depends on encounter order.

    Scale: THE textbook distributed top-k — Spark plans orderBy+limit
    as TakeOrderedAndProject: each partition keeps a bounded k-heap,
    the driver merges P·k candidates, no global sort and no full
    shuffle ever materializes. The draw index over the k winners is a
    k-row window (bounded), and text columns never move — only
    (doc_id, lang, source, 8-byte hash)."""
    from spark_clustering_spark.functions.porthash import md5_int32

    d = table(spark, sf_dir, "documents")
    h = md5_int32(F.concat(F.lit("rsv"), F.col("doc_id").cast("string")))
    top = (
        d.select("doc_id", "lang", "source", h.alias("_h"))
        .orderBy(F.col("_h").asc(), F.col("doc_id").asc())
        .limit(RESERVOIR_K)
    )
    w = Window.orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    return top.select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w).cast("int").alias("draw"),
    )


CORESET_M = 80       # coreset size
CORESET_SEED = 31


@query(
    "q_sample_coreset",
    oracle=f"""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    unn AS (
      SELECT vec_id, unnest(vec) AS v, generate_subscripts(vec, 1) AS pos
      FROM ve
    ),
    mu AS (
      SELECT pos,
             cast(cast(sum((CASE WHEN abs(v) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(v AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE)
               / (SELECT count(*) FROM ve) AS m
      FROM unn GROUP BY pos
    ),
    d2 AS (
      SELECT u.vec_id,
             cast(cast(sum((CASE WHEN abs((u.v - mu.m) * (u.v - mu.m)) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast((u.v - mu.m) * (u.v - mu.m) AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS d2raw
      FROM unn u JOIN mu USING (pos) GROUP BY u.vec_id
    ),
    tot AS (
      SELECT cast(cast(sum((CASE WHEN abs(d2raw) < 5e-9 THEN cast(0 AS DECIMAL(38,8)) ELSE cast(cast(d2raw AS VARCHAR) AS DECIMAL(38,8)) END)) AS VARCHAR) AS DOUBLE) AS total,
             count(*) AS n FROM d2
    ),
    keyed AS (
      SELECT d.vec_id, d.d2raw,
             0.5 / t.n + 0.5 * d.d2raw / t.total AS qraw,
             -ln(((d.vec_id * {_ES_A} + {_ES_C + CORESET_SEED}) % {_ES_M} + 0.5)
                 / {float(_ES_M)})
               / (0.5 / t.n + 0.5 * d.d2raw / t.total) AS ekraw
      FROM d2 d CROSS JOIN tot t
    )
    SELECT vec_id,
           {sql_dround('d2raw', 4)} AS d2,
           {sql_dround('qraw', 10)} AS q,
           {sql_dround(f'1.0 / ({float(CORESET_M)} * qraw)', 4)} AS w,
           {sql_dround('ekraw', 6)} AS ekey
    FROM keyed
    -- order by the RAW key, never the rounded alias (14c6aba class)
    ORDER BY ekraw, vec_id LIMIT {CORESET_M}
    """,
)
def q_sample_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lightweight k-means coreset (Bachem, Lucic & Krause 2018):
    sensitivity q(x) = 1/2n + d2(x, mu)/(2 Sum d2) against the ONE
    global mean, then an Efraimidis-Spirakis weighted draw of
    {CORESET_M} points with importance weights w = 1/(M*q) - the
    standard recipe for shrinking a 100 TB corpus to a laptop-sized
    weighted set whose k-means cost approximates the full data's.
    Complements q_sample_weighted (weights given as a column) by
    COMPUTING the weight from the geometry, and q_sample_kcenter
    (coverage-greedy, distance-pass-hungry) with a two-scan
    closed-form alternative.

    Determinism: mu and the normalizer are exact decimal sums (the
    dot_dec envelope, per-term DECIMAL(28,8) folds Spark-side); q and
    the -ln(u)/q race key are fixed-order double expressions on
    identical inputs; the draw u is the shared integer LCG with the
    +0.5 offset (u in (0,1) strictly, ln never sees 0); winners rank
    on the RAW key with vec_id tie-break (oracle-audit compliant).

    Scale: two map-side-combined aggregate passes (per-dim mean, then
    the sensitivity normalizer - d-sized / 1-row driver state, the
    R19 inversion), one stateless scoring projection, and a
    TakeOrderedAndProject bounded heap for the M winners. No
    data-sized shuffle, no window, nothing grows with n."""
    from spark_clustering_spark.functions.detagg import DEC
    from spark_clustering_spark.functions.distance import as_double_array

    ve = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    n = ve.count()
    mu_rows = (
        ve.select(F.posexplode("vec").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum(F.col("v").cast(DEC)).cast("double").alias("s"))
        .orderBy("pos")
        .collect()
    )
    mu = [r["s"] / n for r in mu_rows]

    mu_arr = F.array(*[F.lit(float(m)) for m in mu])
    term = F.zip_with(
        F.col("vec"), mu_arr,
        lambda x, y: ((x - y) * (x - y)).cast("decimal(28,8)"),
    )
    d2 = (
        F.aggregate(
            term,
            F.lit(0).cast("decimal(28,8)"),
            lambda a, v: (a + v).cast("decimal(28,8)"),
        )
        .cast("double")
        .alias("d2raw")
    )
    scored = ve.select("vec_id", d2)
    total = float(
        scored.agg(F.sum(F.col("d2raw").cast(DEC)).cast("double")).head()[0]
    )

    q_col = (
        F.lit(0.5) / F.lit(float(n))
        + F.lit(0.5) * F.col("d2raw") / F.lit(total)
    )
    u = (
        (
            (F.col("vec_id") * F.lit(_ES_A) + F.lit(_ES_C + CORESET_SEED))
            % F.lit(_ES_M)
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_ES_M))
    keyed = scored.select(
        "vec_id",
        "d2raw",
        q_col.alias("qraw"),
        (-F.log(u) / q_col).alias("ekraw"),
    )
    return (
        keyed.orderBy("ekraw", "vec_id")
        .limit(CORESET_M)
        .select(
            "vec_id",
            dround("d2raw", 4).alias("d2"),
            dround("qraw", 10).alias("q"),
            dround(
                F.lit(1.0) / (F.lit(float(CORESET_M)) * F.col("qraw")), 4
            ).alias("w"),
            dround("ekraw", 6).alias("ekey"),
        )
    )
