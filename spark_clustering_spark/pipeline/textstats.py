"""Text-analysis operators for training-data pipelines.

Language ID, quality scoring, token counting, fingerprinting — all
expressed with JVM-side built-ins (split/explode/regexp/aggregate), no
Python in the hot path, each with a DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.detagg import davg, dround, sql_davg, sql_dround
from spark_clustering_spark.functions.rng import sql_lcg_uniform
from spark_clustering_spark.io import table
from spark_clustering_spark.registry import query

STOPWORDS = ("the", "a", "of", "and", "to")


@query(
    "q_text_tokens",
    oracle="""
    SELECT lang, tok, count(*) AS n
    FROM (
      SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    )
    WHERE tok <> ''
    GROUP BY lang, tok
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + per-language token counts."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_text_lang_stats",
    oracle=f"""
    SELECT lang, source,
           count(*) AS n_docs,
           {sql_davg('n_chars', 'avg_chars')},
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def q_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) doc counts and character statistics."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars", "avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q_text_langid",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    profile AS (
      SELECT lang AS p_lang, tok, count(*) AS freq FROM toks
      WHERE tok <> '' GROUP BY lang, tok
      QUALIFY row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) <= 8
    ),
    scores AS (
      SELECT t.doc_id, p.p_lang, count(*) AS overlap
      FROM (SELECT DISTINCT doc_id, tok FROM toks WHERE tok <> '') t
      JOIN profile p ON t.tok = p.tok
      GROUP BY 1, 2
    )
    SELECT doc_id, p_lang AS pred_lang FROM scores
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY overlap DESC, p_lang) = 1
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-profile language ID: build a top-8-token profile per
    language from the corpus, score each doc by distinct-token overlap,
    predict the argmax (ties break lexicographically). The profile is a
    tiny broadcast table; scoring is one explode + broadcast join."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("freq"))
    w_prof = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("tok"))
    profile = (
        freq.select(
            F.col("lang").alias("p_lang"), "tok", F.row_number().over(w_prof).alias("r")
        )
        .filter(F.col("r") <= 8)
        .drop("r")
    )
    doc_toks = toks.select("doc_id", "tok").distinct()
    scores = (
        doc_toks.join(F.broadcast(profile), "tok")
        .groupBy("doc_id", "p_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(F.col("overlap").desc(), F.col("p_lang"))
    return (
        scores.select("doc_id", "p_lang", F.row_number().over(w_best).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("p_lang").alias("pred_lang"))
    )


@query(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(text), '\\s+') AS ws,
             length(text) AS n_ch,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_ch, n_punct,
             len(list_filter(ws, x -> x <> '')) AS n_tokens,
             len(list_filter(ws, x -> x IN {STOPWORDS})) AS n_stop
      FROM t
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           cast(cast(round(cast(cast((cast(n_ch AS DOUBLE) / greatest(n_tokens, 1)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS avg_tok_span,
           cast(cast(round(cast(cast((cast(n_punct AS DOUBLE) / greatest(n_ch, 1)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS punct_ratio,
           cast(cast(round(cast(cast((cast(n_stop AS DOUBLE) / greatest(n_tokens, 1)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS stopword_ratio,
           cast(cast(round(cast(cast((1.0 / (1.0 + exp(-(cast(n_tokens AS DOUBLE) / 64.0
                 + cast(n_stop AS DOUBLE) / greatest(n_tokens, 1) - 1.0))))
                AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS quality_score
    FROM s
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length/punctuation/stopword ratios
    folded through a logistic score."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), r"\s+")
    t = d.select(
        "doc_id",
        F.length("text").alias("n_ch"),
        (
            F.length("text") - F.length(F.regexp_replace("text", "[.,!?;:]", ""))
        ).alias("n_punct"),
        F.size(F.filter(ws, lambda x: x != "")).alias("n_tokens"),
        F.size(
            F.filter(ws, lambda x: x.isin(*STOPWORDS))
        ).alias("n_stop"),
    )
    tokd = F.col("n_tokens").cast("double")
    score = 1.0 / (
        1.0
        + F.exp(
            -(
                tokd / 64.0
                + F.col("n_stop").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
                - 1.0
            )
        )
    )
    return t.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        dround(
            F.col("n_ch").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("avg_tok_span"),
        dround(
            F.col("n_punct").cast("double") / F.greatest(F.col("n_ch"), F.lit(1))
        ).alias("punct_ratio"),
        dround(
            F.col("n_stop").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("stopword_ratio"),
        dround(score).alias("quality_score"),
    )


@query(
    "q_text_token_count",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT
             AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT
             AS n_bpe_tokens
    FROM documents
    """,
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | single other symbol)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("bigint")
        .alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        )
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok, i FROM (
        SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS i
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
              FROM documents)
      )
      WHERE tok <> ''
    )
    SELECT doc_id,
           (sum(i * ascii(tok) + length(tok) * 31) % 2147483647)::BIGINT AS fingerprint
    FROM toks GROUP BY doc_id
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted document fingerprint: sum_i(i * ascii(first
    char) + 31 * len(token)) mod 2^31-1 — an order-sensitive,
    integer-exact content signature (pure int math ⇒ hash-portable)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), r"\s+")).alias("p", "tok")
    ).filter(F.col("tok") != "")
    # DuckDB ordinality is 1-based over the *unfiltered* list; empty
    # tokens only occur at the end (trailing whitespace), so 1-based
    # position of surviving tokens matches posexplode+1.
    term = (F.col("p") + 1) * F.ascii("tok") + F.length("tok") * 31
    return toks.groupBy("doc_id").agg(
        (F.sum(term) % F.lit(2147483647)).alias("fingerprint")
    )


@query(
    "q_text_editdist",
    oracle="""
    WITH d AS (
      SELECT doc_id, substring(text, 1, 80) AS s
      FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.s, b.s)::INT AS edit_dist
    FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
    """,
)
def q_text_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification on a bounded candidate slice
    (adjacent-id pairs, 80-char prefixes): the exact-verify stage a
    near-dup pipeline runs AFTER candidate generation — Levenshtein is
    O(len²) per pair, so it must only ever see a pruned pair list,
    never the n² cross join."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id", F.substring("text", 1, 80).alias("s")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("sa", "sb").alias("edit_dist"),
        )
    )


@query(
    "q_text_score_udf",
    # numpy's exp and DuckDB's exp may differ in the last ulp; the
    # decimal-pivot round to 4 dp absorbs that (values are nowhere near
    # half-way boundaries at this precision)
    oracle="""
    SELECT doc_id,
           cast(cast(round(cast(cast((1.0 / (1.0 + exp(-(length(text) - 200.0) / 100.0))) AS VARCHAR)
             AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS keep_score
    FROM documents
    """,
)
def q_text_score_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar Pandas UDF (Arrow-batched): a logistic
    keep-probability over document length — the idiomatic shape for
    model-based scoring (a real pipeline swaps the closed form for an
    ONNX/sklearn call on the same batch). One Arrow round-trip per
    batch, no per-row Python; the other Python boundaries in this repo
    are mapInPandas/applyInPandas — this exhibit covers the scalar-UDF
    path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def keep_score(n_chars: pd.Series) -> pd.Series:
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(n_chars.astype("float64") - 200.0) / 100.0))

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", dround(keep_score(F.length("text"))).alias("keep_score"))


@query(
    "q_text_redact",
    # the corpus has no natural PII, so both engines inject the same
    # deterministic contact strings first (identical concat expression),
    # then redact — the regexes use the Java-regex ∩ RE2 common subset
    # (character classes, bounded repeats, \b; no lookaround/backrefs)
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             concat(text, ' contact user', doc_id, '@example.com or call 555-',
                    lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0'), ' now') AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::INT AS n_emails,
           len(regexp_extract_all(t, '\b555-[0-9]{4}\b'))::INT AS n_phones,
           md5(regexp_replace(
                 regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                 '\b555-[0-9]{4}\b', '<PHONE>', 'g')) AS redacted_md5,
           len(regexp_replace(
                 regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                 '\b555-[0-9]{4}\b', '<PHONE>', 'g'))::INT AS redacted_len
    FROM seeded
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the standard pre-training privacy pass: find and
    replace email addresses and phone numbers, report match counts and
    a digest of the redacted text. Pure JVM regexp (whole-stage
    codegen); no shuffle at all — a 100 TB redaction is embarrassingly
    parallel map work, which is exactly what this plan is."""
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone = r"\b555-[0-9]{4}\b"
    d = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    red = F.regexp_replace(
        F.regexp_replace(t, F.lit(email), F.lit("<EMAIL>")),
        F.lit(phone),
        F.lit("<PHONE>"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(email)).alias("n_emails"),
        F.regexp_count(t, F.lit(phone)).alias("n_phones"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
        F.length(red).alias("redacted_len"),
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             cast(cast(round(cast(cast((tf * ln(n_docs / df)) AS VARCHAR)
               AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, rnk, tok, tfidf FROM (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, tok)::INT AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword-extraction
    / relevance-weighting pass (tf * ln(N/df), natural log, rounded
    through the decimal pivot before ranking so both engines order
    identically).

    Scale shape: term frequencies shuffle on (doc_id, tok) once;
    document frequencies are an aggregate OF that aggregate (tiny —
    vocabulary-sized, not corpus-sized) and come back as a broadcast
    hash join on tok; the corpus size N joins as a broadcast 1-row
    cross join, never a driver-side collect. The final per-doc top-3 is
    a window over the already-aggregated tf rows, partitioned by
    doc_id — no global sort."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            dround(F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tfidf")
    )


@query(
    "q_text_bigrams",
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest([ws[i] || ' ' || ws[i+1]
                     for i in range(1, greatest(len(ws), 1))]) AS bigram
      FROM docs WHERE len(ws) >= 2
    )
    SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM grams WHERE bigram NOT LIKE '% ' AND bigram NOT LIKE ' %'
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 bigram frequency table (count + document
    frequency, deterministic count-then-lexical tie-break) — the
    building block of n-gram language models, contamination screens,
    and boilerplate detection.

    Scale: per-doc bigram counts aggregate FIRST on (bigram, doc_id) —
    a plain two-level rollup instead of count-distinct's Expand node
    (which would double every exploded row pre-shuffle); the second
    level is vocabulary×doc-frequency sized. The top-50 is a
    TakeOrdered over that aggregate (per-partition heaps + a 50-row
    driver merge), NOT a global sort of the corpus. The explode rides
    ``spread()`` so a compacted input still fans the amplifying map
    across the cluster."""
    from spark_clustering_spark.io import spread

    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
    )
    per_doc = (
        spread(d.select("doc_id", "text"), "doc_id")
        .filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(grams).alias("bigram"))
        .filter(~F.col("bigram").like("% ") & ~F.col("bigram").like(" %"))
        .groupBy("bigram", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_doc.groupBy("bigram")
        .agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )


@query(
    "q_text_unigram_logprob",
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
    t AS (SELECT sum(c) AS total FROM dtf)
    SELECT d.doc_id,
           CAST(sum(d.c) AS BIGINT) AS n_toks,
           cast(cast(round(sum(d.c * cast(round(cast(cast(
                ln(cast(g.gc AS DOUBLE) / t.total)
                AS VARCHAR) AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))), 4) AS VARCHAR) AS DOUBLE) AS sum_logprob
    FROM dtf d JOIN g USING (tok) CROSS JOIN t
    GROUP BY d.doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document total log-probability under the corpus unigram LM
    (the perplexity proxy used as a fluency/quality gate: gibberish and
    rare-token spam score far below fluent text; divide by n_toks for
    the mean). Emitted as (n_toks, sum_logprob) so the engine does the
    order-sensitive work and consumers do one division.

    Determinism: each token's c·ln(p) double is computed from identical
    inputs in both engines, then rounded into DECIMAL(38,8) BEFORE the
    order-ambiguous summation — so the aggregate is exact and
    accumulation-order-proof (the detagg discipline).

    Scale: same shape as TF-IDF — one (doc_id, tok) shuffle; the
    unigram table is an aggregate of that aggregate (vocabulary-sized)
    re-joined as a broadcast; the corpus total is a 1-row cross join."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    dtf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    g = dtf.groupBy("tok").agg(F.sum("c").alias("gc"))
    t = dtf.agg(F.sum("c").alias("total"))
    # quantize each DISTINCT ln(p) to a 6-dp decimal before the exact
    # c-weighted sum: JVM Math.log and libm ln can differ by 1 ulp
    # (the q_ml_naive_bayes sf0.1 lesson)
    lq = F.round(
        F.log(F.col("gc").cast("double") / F.col("total")).cast("decimal(38,12)"),
        6,
    ).cast("decimal(38,6)")
    term = F.col("c") * lq
    return (
        dtf.join(F.broadcast(g), "tok")
        .crossJoin(F.broadcast(t))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_toks"),
            F.round(F.sum(term), 4).cast("double").alias("sum_logprob"),
        )
    )


BOILER_SEG = 20     # tokens per segment
BOILER_MIN_DOCS = 2  # segment must appear in >= this many distinct docs


@query(
    "q_text_boilerplate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
      FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             md5(array_to_string(
               ws[i * {BOILER_SEG} + 1 : i * {BOILER_SEG} + {BOILER_SEG}],
               ' ')) AS seg_md5
      FROM toks CROSS JOIN (SELECT unnest(range(0, 1000)) AS i)
      WHERE len(ws[i * {BOILER_SEG} + 1 : i * {BOILER_SEG} + {BOILER_SEG}])
            = {BOILER_SEG}
    ),
    freq AS (
      SELECT seg_md5, count(DISTINCT doc_id) AS n_docs
      FROM segs GROUP BY seg_md5
      HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
    )
    SELECT s.doc_id, s.seg_idx::INT AS seg_idx, s.seg_md5, f.n_docs
    FROM segs s JOIN freq f ON f.seg_md5 = s.seg_md5
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection — the segment-level dedup pass web corpora
    run after URL/document dedup: headers, footers, and license blocks
    recur across documents that are NOT near-dups overall. Documents
    split into fixed {BOILER_SEG}-token segments; a segment whose md5
    appears in ≥ {BOILER_MIN_DOCS} distinct documents is flagged at
    every site (doc_id, seg_idx) a cleaner would strip.

    Scale: the shuffle carries (seg_md5, doc_id) — 16-byte digests,
    never text; the flagged-segment list is corpus-boilerplate-sized
    (tiny) and broadcasts back, so the instance join is map-side."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), r"\s+")
    toks = d.select("doc_id", ws.alias("ws"))
    n_segs = F.floor((F.size("ws") - 1) / BOILER_SEG) + 1
    segs = (
        toks.select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_idx"),
        )
        .withColumn(
            "seg", F.slice("ws", F.col("seg_idx") * BOILER_SEG + 1, BOILER_SEG)
        )
        .filter(F.size("seg") == BOILER_SEG)
        .select(
            "doc_id",
            F.col("seg_idx").cast("int").alias("seg_idx"),
            F.md5(F.array_join("seg", " ")).alias("seg_md5"),
        )
    )
    freq = (
        segs.groupBy("seg_md5")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
    )
    return segs.join(F.broadcast(freq), "seg_md5").select(
        "doc_id", "seg_idx", "seg_md5", "n_docs"
    )


@query(
    "q_text_bigram_logprob",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    uni AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(ws) AS tok FROM docs) GROUP BY tok
    ),
    tot AS (SELECT sum(c) AS n FROM uni),
    bg AS (
      SELECT doc_id,
             unnest([{'u': ws[i], 'v': ws[i+1]}
                     for i in range(1, greatest(len(ws), 1))]) AS b
      FROM docs WHERE len(ws) >= 2
    ),
    bc AS (SELECT b.u AS u, b.v AS v, count(*) AS cb FROM bg GROUP BY 1, 2)
    SELECT g.doc_id,
           count(*) AS n_bigrams,
           cast(cast(round(sum(cast(round(cast(cast(
             ln(0.7 * bc.cb / cu.c + 0.3 * cw.c / t.n)
           AS VARCHAR) AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))), 4) AS VARCHAR) AS DOUBLE) AS sum_logprob
    FROM bg g
    JOIN bc ON bc.u = g.b.u AND bc.v = g.b.v
    JOIN uni cu ON cu.tok = g.b.u
    JOIN uni cw ON cw.tok = g.b.v
    CROSS JOIN tot t
    GROUP BY g.doc_id
    """,
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document log-probability under an INTERPOLATED bigram LM:
    p(v|u) = 0.7·c(uv)/c(u) + 0.3·c(v)/N (Jelinek-Mercer smoothing
    with literal weights) summed over every bigram occurrence — the
    next step up from q_text_unigram_logprob as a fluency/perplexity
    gate: token-salad that passes unigram frequency checks fails here
    because its TRANSITIONS are improbable.

    Determinism: counts are integers; each occurrence's ln(·) is one
    double expression rounded into DECIMAL(38,8) before the sum
    (detagg); interpolation weights are literal 0.7/0.3 in both
    engines (never 1−λ).

    Scale: one (doc, bigram-occurrence) explode (spread-gated like all
    amplifying text maps); the bigram and unigram tables are
    vocabulary-sized aggregates re-joined as broadcasts — on a corpus
    whose bigram vocabulary outgrows broadcast, the same joins
    co-partition on the bigram key instead (identical semantics)."""
    from spark_clustering_spark.io import spread

    d = table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    docs = spread(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", ws.alias("ws")
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("ws") - 1, F.lit(1))),
        lambda i: F.struct(
            F.element_at("ws", i).alias("u"),
            F.element_at("ws", i + 1).alias("v"),
        ),
    )
    bg = (
        docs.filter(F.size("ws") >= 2)
        .select("doc_id", F.explode(pairs).alias("b"))
        .select("doc_id", F.col("b.u").alias("u"), F.col("b.v").alias("v"))
    )
    uni = (
        docs.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n"))
    bc = bg.groupBy("u", "v").agg(F.count(F.lit(1)).alias("cb"))
    cu = uni.select(F.col("tok").alias("u"), F.col("c").alias("c_u"))
    cw = uni.select(F.col("tok").alias("v"), F.col("c").alias("c_v"))
    # 6-dp decimal quantization of the ln output guards the 1-ulp
    # JVM-vs-libm divergence (the q_ml_naive_bayes sf0.1 lesson)
    term = F.round(
        F.log(
            F.lit(0.7) * F.col("cb") / F.col("c_u")
            + F.lit(0.3) * F.col("c_v") / F.col("n")
        ).cast("decimal(38,12)"),
        6,
    ).cast("decimal(38,6)")
    return (
        bg.join(F.broadcast(bc), ["u", "v"])
        .join(F.broadcast(cu), "u")
        .join(F.broadcast(cw), "v")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(term), 4).cast("double").alias("sum_logprob"),
        )
    )


@query(
    "q_text_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    dtf AS (
      SELECT doc_id, tok, count(*) AS c
      FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_toks,
             count(*) AS n_types,
             cast(cast(sum(cast(c * ln(cast(c AS DOUBLE)) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sum_clnc
      FROM dtf GROUP BY doc_id
    )
    SELECT doc_id, n_toks, CAST(n_types AS BIGINT) AS n_types,
           cast(cast(round(cast(cast((
             ln(cast(n_toks AS DOUBLE)) - sum_clnc / n_toks
           ) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS entropy
    FROM agg
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy, H = ln(n) − (1/n)·Σ c·ln c
    (nats) — the repetitiveness signal orthogonal to the duplicate-
    n-gram gate (q_text_repetition): spam that loops a small
    vocabulary scores near 0, diverse prose near ln(n_types). Emitted
    with token and type counts so consumers can normalize (H/ln(types)
    is the evenness ratio).

    Determinism: each c·ln(c) is one double from an integer, rounded
    into DECIMAL(38,8) before the order-ambiguous sum (detagg); the
    closing expression is a single double form on identical inputs.

    Scale: the one (doc_id, tok) shuffle every token statistic here
    shares; the entropy fold is map-side arithmetic on the counts."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    dtf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    agg = dtf.groupBy("doc_id").agg(
        F.sum("c").alias("n_toks"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(
            (F.col("c") * F.log(F.col("c").cast("double"))).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("sum_clnc"),
    )
    h = F.log(F.col("n_toks").cast("double")) - F.col("sum_clnc") / F.col("n_toks")
    return agg.select("doc_id", "n_toks", "n_types", dround(h).alias("entropy"))


FH_BUCKETS = 16  # hashed feature dimension


def _hashing_features_oracle() -> str:
    from spark_clustering_spark.functions.porthash import sql_hex_int

    h_lo = sql_hex_int("hx", 1, 8)
    h_hi = sql_hex_int("hx", 9, 8)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    hx AS (
      SELECT doc_id, md5('fh' || tok) AS hx
      FROM toks WHERE tok <> ''
    ),
    hb AS (
      SELECT doc_id,
             ({h_lo}) % {FH_BUCKETS} AS bucket,
             CASE WHEN ({h_hi}) % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM hx
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket,
           CAST(sum(sgn) AS BIGINT) AS val
    FROM hb GROUP BY doc_id, bucket
    HAVING sum(sgn) <> 0
    """


@query("q_text_hashing_features", oracle=_hashing_features_oracle())
def q_text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009):
    each token maps to one of {FH_BUCKETS} buckets by portable hash,
    with a second hash bit supplying the ±1 sign that keeps collision
    noise zero-mean — the vocabulary-free bag-of-words featurizer
    (sklearn's HashingVectorizer) that needs NO fitted dictionary, so
    a 100 TB corpus featurizes in one stateless pass. Emitted in
    sparse (doc, bucket, signed count ≠ 0) form.

    Determinism: bucket and sign come from the md5-derived integer
    hash both engines compute bit-identically; values are integer
    sums.

    Scale: one narrow map per token + the (doc, bucket) aggregate —
    no vocabulary table, no broadcast, no second pass; exactly why
    the trick exists."""
    from spark_clustering_spark.functions.porthash import md5_int32

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    key = F.concat(F.lit("fh"), F.col("tok"))
    hb = toks.select(
        "doc_id",
        (md5_int32(key) % FH_BUCKETS).cast("int").alias("bucket"),
        F.when(md5_int32(key, hi=True) % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return (
        hb.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("val"))
        .filter(F.col("val") != 0)
    )


@query(
    "q_text_langid_confusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    ftoks AS (SELECT doc_id, lang, tok FROM toks WHERE tok <> ''),
    freq AS (
      SELECT lang, tok, count(*) AS freq FROM ftoks GROUP BY 1, 2
    ),
    profile AS (
      SELECT lang AS p_lang, tok FROM freq
      QUALIFY row_number() OVER (PARTITION BY lang
        ORDER BY freq DESC, tok) <= 8
    ),
    doc_toks AS (SELECT DISTINCT doc_id, tok FROM ftoks),
    scores AS (
      SELECT d.doc_id, p.p_lang, count(*) AS overlap
      FROM doc_toks d JOIN profile p ON p.tok = d.tok
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT doc_id, p_lang AS pred_lang FROM scores
      QUALIFY row_number() OVER (PARTITION BY doc_id
        ORDER BY overlap DESC, p_lang) = 1
    )
    SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n_docs
    FROM pred p JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """,
)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the n-gram-profile classifier's
    predictions (q_text_langid's exact pipeline) cross-tabulated
    against the labeled lang column — the quality-audit table every
    deployed classifier ships with (per-language precision/recall
    fall out of the row/column sums). Off-diagonal mass localizes
    WHICH languages the profile confuses, which is what tells you
    where to grow the profile.

    Scale: the classifier's own passes (one token shuffle, broadcast
    profile) plus a |lang|²-bounded final aggregate."""
    d = table(spark, sf_dir, "documents")
    pred = q_text_langid(spark, sf_dir)
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_text_zipf",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    tc AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    ranked AS (
      SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS r
      FROM tc
    ),
    sums AS (
      SELECT count(*) AS n,
             cast(sum(c) AS BIGINT) AS n_tokens,
             sum(cast(ln(cast(r AS DOUBLE)) AS DECIMAL(38,8))) AS sx,
             sum(cast(ln(cast(c AS DOUBLE)) AS DECIMAL(38,8))) AS sy,
             sum(cast(ln(cast(r AS DOUBLE)) * ln(cast(c AS DOUBLE))
                      AS DECIMAL(38,8))) AS sxy,
             sum(cast(ln(cast(r AS DOUBLE)) * ln(cast(r AS DOUBLE))
                      AS DECIMAL(38,8))) AS sxx
      FROM ranked
    ),
    top AS (SELECT tok AS top_term, c AS top_count FROM ranked WHERE r = 1)
    SELECT s.n AS n_terms, s.n_tokens, t.top_term, t.top_count,
           {sql_dround(
               "(s.n * cast(s.sxy AS DOUBLE)"
               " - cast(s.sx AS DOUBLE) * cast(s.sy AS DOUBLE))"
               " / (s.n * cast(s.sxx AS DOUBLE)"
               " - cast(s.sx AS DOUBLE) * cast(s.sx AS DOUBLE))"
           )} AS zipf_slope
    FROM sums s CROSS JOIN top t
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus vocabulary: rank every term by
    frequency and fit ln(freq) = a + slope·ln(rank) by least squares —
    natural corpora land near slope ≈ −1, so a corpus whose slope
    drifts far from it (too flat: boilerplate/spam floods; too steep:
    tiny effective vocabulary) fails the health check before training.
    One audit row: vocabulary size, token count, the top term, and the
    fitted slope.

    The global frequency ranking is the scale decision: a vocabulary
    at 100 TB is hundreds of millions of terms, so rank comes from
    ``global_running_agg``'s two-pass carry-in row number (literal
    slice cuts on (freq DESC, term)) — never a single-reducer window.

    Determinism: ranks and counts are integers; each ln(·) and product
    is one double expression on identical integer inputs (libm
    envelope, cf. q_text_tfidf), accumulated in exact DECIMAL(38,8) so
    the regression sums are order-proof; the slope division happens
    once on identical doubles and goes through dround.

    Scale: tokenize → map-side-combined term count (the only
    fact-sized shuffle) → vocab-sized slice shuffle → one scalar
    aggregate. No data-proportional single partition anywhere."""
    from spark_clustering_spark.functions.detagg import DEC
    from spark_clustering_spark.operators.windows import global_running_agg

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("tok")
    )
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked, _tot = global_running_agg(
        tc, [F.col("c").desc(), F.col("tok")], {"r": ("count", None)}
    )
    lr = F.log(F.col("r").cast("double"))
    lc = F.log(F.col("c").cast("double"))
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(lr.cast(DEC)).alias("sx"),
        F.sum(lc.cast(DEC)).alias("sy"),
        F.sum((lr * lc).cast(DEC)).alias("sxy"),
        F.sum((lr * lr).cast(DEC)).alias("sxx"),
    )
    top = ranked.filter(F.col("r") == 1).select(
        F.col("tok").alias("top_term"), F.col("c").alias("top_count")
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.crossJoin(F.broadcast(top)).select(
        F.col("n").alias("n_terms"),
        "n_tokens",
        "top_term",
        "top_count",
        dround(slope).alias("zipf_slope"),
    )


@query(
    "q_ml_naive_bayes",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, tok FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    dt AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    ct AS (
      SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok
    ),
    tot AS (
      SELECT lang, sum(cnt) AS tot, count(*) AS n_tok_types FROM ct GROUP BY lang
    ),
    vocab AS (SELECT count(DISTINCT tok) AS v FROM toks),
    prior AS (
      SELECT lang, count(*) AS nd FROM documents GROUP BY lang
    ),
    ndocs AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT dt.doc_id, t.lang,
             sum(dt.c * cast(round(cast(cast(
                   ln(cast(coalesce(ct.cnt, 0) + 1 AS DOUBLE)
                      / (t.tot + vocab.v))
                 AS VARCHAR) AS DECIMAL(38,12)), 6) AS DECIMAL(38,6)))
               + cast(round(cast(cast(
                   ln(cast(prior.nd AS DOUBLE) / ndocs.n)
                 AS VARCHAR) AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
               AS score
      FROM dt
      CROSS JOIN tot t
      CROSS JOIN vocab
      LEFT JOIN ct ON ct.lang = t.lang AND ct.tok = dt.tok
      JOIN prior ON prior.lang = t.lang
      CROSS JOIN ndocs
      GROUP BY dt.doc_id, t.lang, prior.nd, ndocs.n
    ),
    best AS (
      SELECT doc_id, lang AS pred_lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rn
      FROM scored
    )
    SELECT b.doc_id, b.pred_lang,
           d.lang AS true_lang,
           cast(round(b.score, 4) AS DOUBLE) AS score,
           (b.pred_lang = d.lang)::INT AS correct
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    WHERE b.rn = 1
    """,
)
def q_ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classification trained
    in-engine: add-one-smoothed per-language token likelihoods + log
    priors, scored per document, argmax with a deterministic
    (score DESC, lang) tie-break — the vocabulary-level Bayes twin of
    the heuristic ``q_text_langid``.

    Determinism: JVM Math.log and libm ln disagree by 1 ulp on some
    inputs (caught by the sf0.1 sweep: 3 of 5000 scores flapped at the
    4-dp boundary), so each DISTINCT model log-prob (~|langs|·|vocab|
    values) is quantized to a 6-dp DECIMAL through the VARCHAR pivot
    BEFORE the exact c-weighted sum — a 1-ulp input lands on a 5e-7
    boundary with ~1e-9 probability, and everything after the quantize
    is integer-exact in both engines, argmax included.

    Scale: the model (langs × vocab counts, lang totals, priors) is an
    aggregate of the (doc,tok) shuffle and broadcasts back; scoring is
    one |langs|-way row expansion of the doc-term table followed by a
    per-doc window over |langs| rows. Nothing data-proportional
    crosses the driver."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    ct = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = ct.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    prior = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n"))
    # model tables are vocabulary/lang-cardinality -> broadcast them all
    t_l = tot.withColumnRenamed("lang", "m_lang")
    ct_l = ct.withColumnRenamed("lang", "c_lang").withColumnRenamed("tok", "c_tok")
    lq = F.round(
        F.log(
            (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
            / (F.col("tot") + F.col("v"))
        ).cast("decimal(38,12)"),
        6,
    ).cast("decimal(38,6)")
    term = F.col("c") * lq
    scored = (
        dt.crossJoin(F.broadcast(t_l))
        .crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(ct_l),
            (F.col("c_lang") == F.col("m_lang")) & (F.col("c_tok") == F.col("tok")),
            "left",
        )
        .join(F.broadcast(prior.withColumnRenamed("lang", "p_lang")),
              F.col("p_lang") == F.col("m_lang"))
        .crossJoin(F.broadcast(ndocs))
        .groupBy("doc_id", "m_lang", "nd", "n")
        .agg(F.sum(term).alias("tok_score"))
        .select(
            "doc_id",
            F.col("m_lang").alias("lang"),
            (
                F.col("tok_score")
                + F.round(
                    F.log(F.col("nd").cast("double") / F.col("n")).cast(
                        "decimal(38,12)"
                    ),
                    6,
                ).cast("decimal(38,6)")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(d.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            "true_lang",
            F.round("score", 4).cast("double").alias("score"),
            (F.col("pred_lang") == F.col("true_lang")).cast("int").alias("correct"),
        )
    )


PMI_MIN_COUNT = 5  # bigram support floor (rare pairs have unstable PMI)
PMI_TOPK = 50


@query(
    "q_text_collocations",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    uni AS (
      SELECT unnest(ws) AS w FROM docs
    ),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    tot AS (SELECT count(*) AS t FROM uni),
    grams AS (
      SELECT unnest([ws[i] || ' ' || ws[i+1]
                     for i in range(1, greatest(len(ws), 1))]) AS bigram,
             unnest([ws[i] for i in range(1, greatest(len(ws), 1))]) AS a,
             unnest([ws[i+1] for i in range(1, greatest(len(ws), 1))]) AS b
      FROM docs WHERE len(ws) >= 2
    ),
    bc AS (
      SELECT bigram, a, b, count(*) AS cab
      FROM grams GROUP BY bigram, a, b
      HAVING count(*) >= {PMI_MIN_COUNT}
    ),
    btot AS (SELECT count(*) AS bt FROM grams),
    pmi AS (
      SELECT bc.bigram, bc.cab,
             ln((bc.cab::DOUBLE * tot.t::DOUBLE * tot.t::DOUBLE)
                / (btot.bt::DOUBLE * ca.c::DOUBLE * cb.c::DOUBLE)) AS p
      FROM bc
      JOIN uc ca ON ca.w = bc.a
      JOIN uc cb ON cb.w = bc.b
      CROSS JOIN tot CROSS JOIN btot
    )
    SELECT bigram, cab AS n, {sql_dround("p", 4)} AS pmi
    FROM pmi ORDER BY p DESC, bigram LIMIT {PMI_TOPK}
    """,
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-{PMI_TOPK} bigrams by pointwise
    mutual information ln(p(ab)/(p(a)p(b))) with support ≥
    {PMI_MIN_COUNT} — the classic phrase-discovery pass (Church &
    Hanks) that surfaces multiword expressions a tokenizer or n-gram
    LM should treat as units (complement to q_text_bigrams' raw
    frequency ranking, which favors function-word pairs PMI
    suppresses).

    Determinism: all counts are exact integers; the PMI ratio is
    assembled in ONE fixed-order double expression (products cast to
    double BEFORE the ratio — no intermediate bigint overflow at any
    corpus size) so both engines hand the same double to ln.

    Scale: unigram and bigram counts are map-side-combined aggregates;
    the PMI join attaches vocabulary-cardinality count tables (hash
    joins AQE can broadcast); the two totals ride as one-row cross
    joins; the final top-k is TakeOrderedAndProject, not a global
    sort."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), r"\s+"), lambda x: x != ""
        ).alias("ws"),
    )
    uni = d.select(F.explode("ws").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.count(F.lit(1)).alias("t"))
    pairs = (
        d.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("ws", 1, F.size("ws") - 1),
                    F.slice("ws", 2, F.size("ws") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    btot = pairs.agg(F.count(F.lit(1)).alias("bt"))
    bc = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= PMI_MIN_COUNT)
    )
    ca = uc.select(F.col("w").alias("a"), F.col("c").alias("ca"))
    cb = uc.select(F.col("w").alias("b"), F.col("c").alias("cb"))
    pmi = (
        bc.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            F.col("cab"),
            F.log(
                (
                    F.col("cab").cast("double")
                    * F.col("t").cast("double")
                    * F.col("t").cast("double")
                )
                / (
                    F.col("bt").cast("double")
                    * F.col("ca").cast("double")
                    * F.col("cb").cast("double")
                )
            ).alias("p"),
        )
    )
    return (
        pmi.orderBy(F.desc("p"), "bigram")
        .limit(PMI_TOPK)
        .select("bigram", F.col("cab").alias("n"), dround("p", 4).alias("pmi"))
    )


BURST_TOPW = 50  # report the most frequent words' burstiness


@query(
    "q_text_burstiness",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    nd AS (SELECT count(*) AS n_docs FROM docs),
    wc AS (
      SELECT doc_id, unnest(ws) AS w FROM docs
    ),
    per_doc AS (
      SELECT w, doc_id, count(*) AS c FROM wc GROUP BY w, doc_id
    ),
    stats AS (
      SELECT w,
             sum(c) AS total,
             count(*) AS n_docs_with,
             sum(c * c) AS scc
      FROM per_doc GROUP BY w
    )
    SELECT w AS word, total::BIGINT AS total,
           n_docs_with::BIGINT AS n_docs_with,
           {sql_dround(
             "((scc - total * total / cast(nd.n_docs AS DOUBLE))"
             " / nd.n_docs) / (total / cast(nd.n_docs AS DOUBLE))", 4)}
             AS fano
    FROM stats CROSS JOIN nd
    ORDER BY total DESC, w LIMIT {BURST_TOPW}
    """,
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness: the Fano factor var/mean of per-document
    counts (zeros included — a word absent from a doc counts 0) for
    the {BURST_TOPW} most frequent words. Function words are Poisson-ish
    (fano ≈ 1); topical/content words are bursty (fano ≫ 1) — the
    Church/Gale dispersion diagnostic that tells a quality model which
    frequent words actually carry content.

    Determinism: totals and squared-count sums are exact integers
    (absent docs contribute 0 to both, so the zero-inflated moments
    come from the observed rows alone); the var/mean ratio is one
    fixed-order double expression.

    Scale: per-(word, doc) counts collapse map-side, then
    vocabulary-cardinality rows aggregate once; the doc count rides as
    a one-row cross join; top-k is TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias(
            "ws"
        ),
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        d.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = per_doc.groupBy("w").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_docs_with"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    ndd = F.col("n_docs").cast("double")
    mean = F.col("total") / ndd
    var = (F.col("scc") - F.col("total") * F.col("total") / ndd) / F.col(
        "n_docs"
    )
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("word"),
            F.col("total").cast("bigint").alias("total"),
            F.col("n_docs_with").cast("bigint").alias("n_docs_with"),
            dround(var / mean, 4).alias("fano"),
        )
        .orderBy(F.desc("total"), "word")
        .limit(BURST_TOPW)
    )


CODE_SYM_PATTERN = r"[{}();=\[\]<>]"  # code-ish punctuation class
CODE_SYM_DENSITY = 0.02               # is-code gate: >=2% symbol chars
CODE_INDENT_HITS = 3                  # ... or >=3 indented lines


@query(
    "q_text_code_detect",
    oracle=f"""
    WITH d AS (
      SELECT source, len(text) AS n_chars,
             len(text) - len(regexp_replace(text,
               '{CODE_SYM_PATTERN}', '', 'g')) AS n_sym,
             (len(text) - len(replace(text, chr(10) || '  ', ''))) // 3
               + (len(text) - len(replace(text, chr(10) || chr(9), ''))) // 2
               AS n_indent
      FROM documents WHERE len(text) > 0
    ),
    f AS (
      SELECT source, n_chars, n_sym, n_indent,
             cast(n_sym AS DOUBLE) / n_chars AS sym_density,
             CASE WHEN cast(n_sym AS DOUBLE) / n_chars >= {CODE_SYM_DENSITY}
                    OR n_indent >= {CODE_INDENT_HITS}
                  THEN 1 ELSE 0 END AS is_code
      FROM d
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(is_code)::BIGINT AS n_code,
           cast(cast(round(cast(
             sum(is_code) / cast(count(*) AS DOUBLE)
             AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS code_share,
           cast(cast(round(cast(cast(
             sum(cast(sym_density AS DECIMAL(38,12))) AS DOUBLE) / count(*)
             AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS avg_sym_density
    FROM f GROUP BY source
    """,
)
def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection per source: a document is flagged as
    code when its code-punctuation density ({{}}();=[]<> as a share of
    chars) reaches {CODE_SYM_DENSITY} or it has ≥{CODE_INDENT_HITS}
    indented lines — the cheap structural gate every pretraining
    corpus runs to ROUTE code into a separate mixture bucket (code
    wants different dedup/quality thresholds than prose; see
    q_sample_mixture for the bucket weights it feeds).

    Determinism: symbol and indent counts are exact integers from
    replace-length arithmetic (regexp_replace is all-occurrences in
    both engines — Spark by default, DuckDB via the 'g' flag); the
    density is one double division; per-source density averages
    quantize to decimal before the order-ambiguous sum.

    Scale: stateless per-row expressions (no UDF, whole-stage codegen)
    into one map-side-combined groupBy over |sources| rows."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_chars = F.length("text")
    n_sym = n_chars - F.length(
        F.regexp_replace(F.col("text"), CODE_SYM_PATTERN, "")
    )
    n_indent = (
        (n_chars - F.length(F.regexp_replace(F.col("text"), r"\n  ", "")))
        / F.lit(3)
    ).cast("bigint") + (
        (n_chars - F.length(F.regexp_replace(F.col("text"), r"\n\t", "")))
        / F.lit(2)
    ).cast("bigint")
    sym_density = n_sym.cast("double") / n_chars
    is_code = F.when(
        (sym_density >= CODE_SYM_DENSITY) | (n_indent >= CODE_INDENT_HITS),
        1,
    ).otherwise(0)
    f = d.select(
        "source",
        sym_density.alias("sym_density"),
        is_code.alias("is_code"),
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_code").cast("bigint").alias("n_code"),
        dround(
            F.sum("is_code") / F.count(F.lit(1)).cast("double"), 6
        ).alias("code_share"),
        dround(
            F.sum(F.col("sym_density").cast("decimal(38,12)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("avg_sym_density"),
    )


BPE_TOP = 20  # merge candidates emitted per round


@query(
    "q_text_bpe_merge",
    oracle=f"""
    WITH w AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ),
    wf AS (
      SELECT word, count(*) AS f FROM w WHERE len(word) >= 2
      GROUP BY word
    ),
    pairs AS (
      SELECT substr(word, i, 2) AS pair, f
      FROM wf CROSS JOIN unnest(range(1, len(word))) AS t(i)
    ),
    agg AS (SELECT pair, sum(f) AS cnt FROM pairs GROUP BY pair)
    SELECT pair, cnt::BIGINT AS cnt
    FROM agg ORDER BY cnt DESC, pair LIMIT {BPE_TOP}
    """,
)
def q_text_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round over the corpus: count every adjacent
    character pair inside every word, weighted by word frequency, and
    emit the top-{BPE_TOP} merge candidates — the inner loop of
    byte-pair-encoding tokenizer training (each training round merges
    the argmax pair and recounts; this query IS that round, and the
    production loop re-runs it on the re-segmented vocabulary).

    The key scale trick: pairs are counted over the DISTINCT-WORD
    table weighted by frequency, not over raw tokens — the vocabulary
    is orders of magnitude smaller than the corpus, which is exactly
    how real BPE trainers (and word-level Zipf fits like q_text_zipf)
    avoid corpus-sized inner loops.

    Determinism: pure integer counts; ranking tie-breaks on pair ASC.

    Scale: one corpus pass to word counts (map-side combined), then
    a ≤(maxlen−1)×-row explode of the bounded vocabulary; the top-k is
    TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("word")
    ).filter(F.length("word") >= 2)
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    pairs = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(BPE_TOP)
    )


@query(
    "q_text_readability",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]')), 1)
               AS sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS syllables
      FROM documents WHERE len(text) > 0
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(words)::BIGINT AS n_words,
           {{WPS}} AS words_per_sentence,
           {{SPW}} AS syllables_per_word,
           {{FLESCH}} AS flesch
    FROM d GROUP BY lang
    """.replace(
        "{WPS}",
        sql_dround("cast(sum(words) AS DOUBLE) / sum(sentences)", 6),
    )
    .replace(
        "{SPW}",
        sql_dround("cast(sum(syllables) AS DOUBLE) / sum(words)", 6),
    )
    .replace(
        "{FLESCH}",
        sql_dround(
            "206.835 - 1.015 * (cast(sum(words) AS DOUBLE) / sum(sentences))"
            " - 84.6 * (cast(sum(syllables) AS DOUBLE) / sum(words))",
            4,
        ),
    ),
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language over corpus-level ratios
    (words/sentence from [.!?] terminators, syllables/word from vowel
    groups — the standard cheap approximation): the
    audience-difficulty quality signal Gopher/CCNet-style gates don't
    carry, used to bucket corpora by register (legalese vs chat) before
    mixing.

    Determinism: all three counts are exact integers (split /
    regexp_extract_all lengths agree across engines); the ratios and
    the Flesch formula are fixed-order double expressions on exact
    integer sums (ratio-of-sums, not mean-of-ratios — order-proof by
    construction).

    Scale: stateless per-row counting (whole-stage codegen, no UDF)
    into one |langs|-row map-side-combined aggregate."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    words = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    sentences = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(r"[.!?]"), 0)), F.lit(1)
    )
    syllables = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"[aeiouy]+"), 0)
    )
    g = d.select(
        "lang",
        words.alias("w"),
        sentences.alias("s"),
        syllables.alias("y"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").alias("sw"),
        F.sum("s").alias("ss"),
        F.sum("y").alias("sy"),
    )
    sw, ss, sy = F.col("sw"), F.col("ss"), F.col("sy")
    return g.select(
        "lang",
        "n_docs",
        sw.cast("bigint").alias("n_words"),
        dround(sw.cast("double") / ss, 6).alias("words_per_sentence"),
        dround(sy.cast("double") / sw, 6).alias("syllables_per_word"),
        dround(
            206.835
            - 1.015 * (sw.cast("double") / ss)
            - 84.6 * (sy.cast("double") / sw),
            4,
        ).alias("flesch"),
    )


VOCAB_BUCKETS = 8          # corpus-size resolution for the growth curve
VOCAB_FRACS = (1, 2, 4, 8)  # nested subsets (8 = full corpus)
VOCAB_SEED = 53             # LCG substream for doc bucketing


@query(
    "q_text_vocab_growth",
    oracle=f"""
    WITH d AS (
      SELECT cast(floor({{LCG}} * {VOCAB_BUCKETS}) AS INT) AS bucket,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ),
    w AS (
      SELECT word, min(bucket) AS mb, count(*) AS occ
      FROM d GROUP BY word
    ),
    o AS (
      SELECT bucket, count(*) AS n_tokens FROM d GROUP BY bucket
    ),
    fr AS (
      SELECT t,
             (SELECT sum(CASE WHEN w.mb < t THEN 1 ELSE 0 END) FROM w)
               AS vocab,
             (SELECT sum(CASE WHEN o.bucket < t THEN o.n_tokens
                              ELSE 0 END) FROM o) AS tokens
      FROM unnest([{", ".join(str(t) for t in VOCAB_FRACS)}]) AS u(t)
    )
    SELECT t::INT AS subset_buckets,
           cast(tokens AS BIGINT) AS n_tokens,
           cast(vocab AS BIGINT) AS vocab_size,
           cast(cast(round(cast(cast((
             cast(vocab AS DOUBLE) / tokens
           ) AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE)
             AS type_token_ratio
    FROM fr
    """.replace("{LCG}", sql_lcg_uniform("doc_id", seed=VOCAB_SEED)),
)
def q_text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct word count (and
    type/token ratio) over nested LCG {{1,2,4,8}}/8 document subsets —
    the how-much-new-vocabulary-does-more-data-buy planning curve
    (sublinear growth = diminishing lexical returns; linear growth =
    the corpus is still lexically unsaturated), the text twin of
    q_ml_learning_curve's nested-subset trick.

    The nesting trick: vocab(t) needs only each word's MINIMUM bucket
    — one groupBy(word) collapses the corpus, and every subset's
    vocabulary is then a conditional count over that bounded word
    table (no per-subset distinct pass).

    Determinism: LCG bucketing + pure integer counts; TTR is one
    double division.

    Scale: one tokenize+explode pass into a map-side-combined
    groupBy(word) (vocabulary-sized state); the curve itself is
    |fracs| conditional sums over the word table."""
    from spark_clustering_spark.functions.rng import lcg_uniform

    d = table(spark, sf_dir, "documents").select(
        F.floor(lcg_uniform(F.col("doc_id"), seed=VOCAB_SEED) * VOCAB_BUCKETS)
        .cast("int")
        .alias("bucket"),
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("word"),
    )
    w = d.groupBy("word").agg(
        F.min("bucket").alias("mb"), F.count(F.lit(1)).alias("occ")
    )
    o = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    fr = spark.createDataFrame([(t,) for t in VOCAB_FRACS], "t INT")
    vocab = (
        w.crossJoin(F.broadcast(fr))
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("mb") < F.col("t"), 1).otherwise(0)).alias(
                "vocab"
            )
        )
    )
    tokens = (
        o.crossJoin(F.broadcast(fr))
        .groupBy("t")
        .agg(
            F.sum(
                F.when(F.col("bucket") < F.col("t"), F.col("n_tokens"))
                .otherwise(0)
            ).alias("tokens")
        )
    )
    return (
        vocab.join(tokens, "t")
        .select(
            F.col("t").cast("int").alias("subset_buckets"),
            F.col("tokens").cast("bigint").alias("n_tokens"),
            F.col("vocab").cast("bigint").alias("vocab_size"),
            dround(
                F.col("vocab").cast("double") / F.col("tokens"), 6
            ).alias("type_token_ratio"),
        )
    )
