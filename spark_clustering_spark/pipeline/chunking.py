"""Corpus chunking / packing / decontamination operators.

The three standard shaping passes between a cleaned document table and
a pretraining (or RAG-indexing) job:

- **Chunking** — split each document into fixed-size overlapping token
  windows (the RAG-index / context-window prep step).
- **Sequence packing** — assign documents to fixed token-budget bins by
  position in the concatenated token stream, so downstream training
  batches are dense (the "packed sequences" manifest).
- **Decontamination** — flag training documents that share word n-grams
  with a held-out eval slice (benchmark leakage scan).

All three are pure DataFrame plans over JVM built-ins (split / slice /
sequence / window / broadcast join) — no Python in the hot path — and
each carries a DuckDB oracle. Scale notes are on each operator; none
shuffles document text more than once, and the decontamination probe
broadcasts only the (tiny) eval-side shingle set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_clustering_spark.functions.porthash import sql_hex_int
from spark_clustering_spark.io import pin, table
from spark_clustering_spark.pipeline.dedup import shingles
from spark_clustering_spark.registry import query

CHUNK_TOKENS = 32   # chunk width C
CHUNK_STRIDE = 24   # stride S (overlap = C - S = 8 tokens)
PACK_BUDGET = 512   # tokens per packed bin
PACK_STREAMS = 8    # independent packing streams (see q_pack_sequences)
DECON_N = 3         # decontamination shingle width
DECON_MOD = 23      # eval slice = doc_id % 23 == 0 (~4%)


def _toks(text_col):
    """Whitespace tokens with empties removed (split on \\s+ can emit a
    leading '' when the text starts with whitespace)."""
    return F.filter(F.split(text_col, r"\s+"), lambda x: x != "")


@query(
    "q_text_chunk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1)::INT, {CHUNK_STRIDE})) AS start
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           (start // {CHUNK_STRIDE})::BIGINT AS chunk_id,
           len(list_slice(toks, start + 1, start + {CHUNK_TOKENS}))::BIGINT
             AS n_chunk_toks,
           array_to_string(list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' ')
             AS chunk_text
    FROM s
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking: every document becomes
    ceil(n/S) chunks of up to C={CHUNK_TOKENS} tokens at stride
    S={CHUNK_STRIDE} (8-token overlap) — the RAG-indexing / context-
    window prep pass.

    Scale: narrow per-row transform (split → sequence → slice), no
    shuffle at all — chunks are emitted where the document partition
    lives, so this runs at scan speed on any number of executors. The
    ~C/S output amplification is byte-bounded (each token appears in at
    most ceil(C/S)=2 chunks)."""
    d = table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    return (
        d.select("doc_id", _toks(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
        .select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.size(F.slice("toks", F.col("start") + 1, F.lit(CHUNK_TOKENS)))
            .cast("bigint")
            .alias("n_chunk_toks"),
            F.concat_ws(
                " ", F.slice("toks", F.col("start") + 1, F.lit(CHUNK_TOKENS))
            ).alias("chunk_text"),
        )
    )


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % {PACK_STREAMS} AS stream,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS n_toks
      FROM documents
    ),
    pos AS (
      SELECT stream, doc_id, n_toks,
             coalesce(sum(n_toks) OVER (
               PARTITION BY stream ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT stream, (cum_before // {PACK_BUDGET})::BIGINT AS bin_id,
           count(*) AS n_docs,
           sum(n_toks)::BIGINT AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM pos
    GROUP BY 1, 2
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing manifest: documents are laid out in doc_id order
    along {PACK_STREAMS} independent token streams (stream = doc_id mod
    {PACK_STREAMS}) and assigned to the {PACK_BUDGET}-token bin their
    first token lands in — the dense-batch packing step of a
    pretraining data loader, as a manifest of (stream, bin) → docs.

    Scale: the running sum is windowed PER STREAM, so there is no
    global single-partition sort — at 100 TB you raise PACK_STREAMS to
    O(cluster parallelism) and each stream's prefix sum is an
    independent partition-local scan. One shuffle on the narrow
    (stream, doc_id, n_toks) triple; document text never moves."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.pmod("doc_id", F.lit(PACK_STREAMS)).alias("stream"),
        F.size(_toks(F.col("text"))).cast("bigint").alias("n_toks"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_toks").over(w), F.lit(0))
    )
    return (
        pos.groupBy(
            "stream",
            F.floor(F.col("cum_before") / PACK_BUDGET).alias("bin_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "q_decontaminate",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   for i in range(1, greatest(len(ws) - 1, 1))]))
               AS shingle
      FROM docs
    ),
    ev AS (
      SELECT DISTINCT shingle FROM grams WHERE doc_id % {DECON_MOD} = 0
    )
    SELECT g.doc_id,
           count(*) AS n_shared_shingles
    FROM grams g JOIN ev ON g.shingle = ev.shingle
    WHERE g.doc_id % {DECON_MOD} <> 0
    GROUP BY g.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    {DECON_N}-gram word shingle with a held-out eval slice (doc_id %
    {DECON_MOD} == 0, ~4% of the corpus) — the leakage scan run before
    every pretraining job. Output: contaminated doc → number of shared
    distinct shingles.

    Scale: the eval side is ~4% of docs reduced to DISTINCT shingles,
    small enough to broadcast — so the train side never shuffles: the
    contamination probe is a map-side broadcast semi-join at scan
    speed, then a narrow partial count. If the eval set outgrew
    broadcast range, the same plan falls back to a shuffle hash join on
    the shingle hash."""
    d = table(spark, sf_dir, "documents")
    g = shingles(d, n=DECON_N)
    ev = (
        g.filter(F.pmod("doc_id", F.lit(DECON_MOD)) == 0)
        .select("shingle")
        .distinct()
    )
    return (
        g.filter(F.pmod("doc_id", F.lit(DECON_MOD)) != 0)
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


BLOOM_BITS = 1 << 20   # m: 128 KB of bitset for the eval shingle set
BLOOM_HASHES = 4       # k


def _bloom_pos_sql(key: str, i: int) -> tuple[str, str]:
    """(word, bit) SQL fragments for hash i of column ``key`` — ONE
    generator shared by build and probe, so the hash families cannot
    drift and false negatives are impossible by construction."""
    pos = f"pmod(xxhash64({key}, {i}), {BLOOM_BITS}L)"
    return f"CAST({pos} / 64 AS INT)", f"CAST(pmod({pos}, 64) AS INT)"


def bloom_build(keys: DataFrame, col: str = "shingle") -> DataFrame:
    """Distributed bloom-filter build: each key sets k bits; bits OR
    into ≤ m/64 bitset words (one small groupBy — the shuffle carries
    (word, partial-OR) pairs, never the key strings); the words pack
    into a single-row map. Spark's own ``bloom_filter_agg`` exists but
    is not SQL-registered in 4.1, so the same structure is built from
    first-class relational ops."""
    structs = ", ".join(
        f"struct({w} AS word, {b} AS bit)"
        for w, b in (_bloom_pos_sql(col, i) for i in range(BLOOM_HASHES))
    )
    pos = keys.select(F.expr(f"explode(array({structs}))").alias("p"))
    words = pos.groupBy(F.col("p.word").alias("word")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), p.bit))").alias("bits")
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bloom")
    )


def bloom_might_contain(bloom: str, key: str):
    """AND over the k probed bits; absent words mean bit unset.
    ``bloom``/``key`` are column names resolvable in the frame."""
    conds = []
    for i in range(BLOOM_HASHES):
        w, b = _bloom_pos_sql(key, i)
        conds.append(
            f"(coalesce(element_at({bloom}, {w}), CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), {b})) != 0"
        )
    return F.expr(" AND ".join(conds))


@query(
    "q_decontaminate_bloom",
    # identical declared output to q_decontaminate — the bloom is a
    # prefilter whose false positives the exact verify join removes, so
    # the oracle is the same exact contamination scan
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   for i in range(1, greatest(len(ws) - 1, 1))]))
               AS shingle
      FROM docs
    ),
    ev AS (
      SELECT DISTINCT shingle FROM grams WHERE doc_id % {DECON_MOD} = 0
    )
    SELECT g.doc_id,
           count(*) AS n_shared_shingles
    FROM grams g JOIN ev ON g.shingle = ev.shingle
    WHERE g.doc_id % {DECON_MOD} <> 0
    GROUP BY g.doc_id
    """,
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination — the true 100 TB shape of the
    leakage scan. ``q_decontaminate`` broadcasts the eval set's DISTINCT
    shingle *strings*; at pretraining scale that set outgrows broadcast
    long before the training side does. Here the broadcast is a fixed
    128 KB bloom bitset over shingle hashes (~10 bits/item regardless
    of string length): the training side drops non-candidates at scan
    speed inside codegen — no shuffle, no join — and only the surviving
    sliver pays the exact verify join that removes bloom false
    positives. No false negatives by construction (build and probe
    share the hash family), so the declared output is identical to the
    exact scan and hash-verifies against the same oracle."""
    d = table(spark, sf_dir, "documents")
    g = shingles(d, n=DECON_N)
    # the eval shingle set feeds BOTH the bloom build and the exact
    # verify join; pin it so the eval docs' shingle explode runs once.
    # Scale-honest: the eval set is bounded by design at any corpus
    # size (that is the premise of broadcasting it) — the training
    # side stays streaming, never materialized.
    ev = pin(
        g.filter(F.pmod("doc_id", F.lit(DECON_MOD)) == 0).select("shingle").distinct()
    )
    bf = bloom_build(ev)
    train = g.filter(F.pmod("doc_id", F.lit(DECON_MOD)) != 0)
    candidates = train.crossJoin(F.broadcast(bf)).filter(
        bloom_might_contain("bloom", "shingle")
    ).drop("bloom")
    return (
        candidates.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def bloom_dense(keys: DataFrame, col: str) -> DataFrame:
    """Build the bloom as a DENSE 1-row array<bigint> of all m/64
    words (absent words = 0), via a driver collect of the bounded
    word table.

    Why not the sparse map of ``bloom_build``: Catalyst's element_at
    on a MAP is a linear key scan, so probing a ~16k-entry map 4x per
    fact row is O(k·|map|) per row — measured 6 s/sample on the sf0.1
    bloom-pruned join vs 0.8 s for O(1) array indexing. And
    densifying IN PLAN (transform over sequence + map lookups) runs
    the lambda interpreted and can be inlined per probe site — the
    bounded driver hop is the cheap, predictable route: the word
    table is ≤ m/64 rows ≈ 128 KB BY CONSTRUCTION (same bounded-state
    rule as the k·d centroid collects in ml/kernels.py), independent
    of key count."""
    structs = ", ".join(
        f"struct({w} AS word, {b} AS bit)"
        for w, b in (_bloom_pos_sql(col, i) for i in range(BLOOM_HASHES))
    )
    pos = keys.select(F.expr(f"explode(array({structs}))").alias("p"))
    words = pos.groupBy(F.col("p.word").alias("word")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), p.bit))").alias("bits")
    )
    arr = [0] * (BLOOM_BITS // 64)
    for r in words.collect():
        arr[r["word"]] = r["bits"]
    return keys.sparkSession.createDataFrame(
        [(arr,)], "bloom_arr: array<bigint>"
    )


def bloom_might_contain_dense(arr: str, key: str):
    """O(1)-per-probe twin of ``bloom_might_contain`` over the dense
    word array (1-based element_at)."""
    conds = []
    for i in range(BLOOM_HASHES):
        w, b = _bloom_pos_sql(key, i)
        conds.append(
            f"(element_at({arr}, {w} + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), {b})) != 0"
        )
    return F.expr(" AND ".join(conds))


N_SHARDS = 16        # output shards of the training-set shuffle
SHARD_SEED = 2024    # seed folded into the permutation hash


@query(
    "q_pipeline_shard_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(text, '\\s+'),
                 x -> x <> ''))::BIGINT AS n_tokens,
             {sql_hex_int(f"md5('{SHARD_SEED}:' || doc_id::VARCHAR)")} AS k
      FROM documents
    )
    SELECT (k % {N_SHARDS})::INT AS shard,
           count(*) AS n_docs,
           sum(n_tokens)::BIGINT AS sum_tokens,
           count(DISTINCT source) AS n_sources,
           min(k) AS min_key, max(k) AS max_key
    FROM keyed GROUP BY 1
    """,
)
def q_pipeline_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set shard shuffle — the LAST step of every data
    pipeline: give each document a seeded portable-hash permutation
    key, route it to ``k % N`` shards, and report the per-shard audit
    (doc count, token mass, source diversity, key coverage) that a
    training job reads before consuming the shards. The hash
    permutation IS the global shuffle: within-shard order by (key,
    doc_id) is reproducible bit-identically on any cluster and any
    partitioning, with no global sort ever executed.

    Scale: one stateless projection (md5 of '<seed>:<doc_id>') + one
    partial+final aggregate to N rows; the real shard WRITE at 100 TB
    is ``df.repartition(N, "shard").sortWithinPartitions("k",
    "doc_id").write`` — same keys, zero additional machinery
    (exercised via the audit here; the write itself is
    q_sink_partitioned's layout family)."""
    from spark_clustering_spark.functions.porthash import md5_int32

    d = table(spark, sf_dir, "documents")
    k = md5_int32(
        F.concat(F.lit(f"{SHARD_SEED}:"), F.col("doc_id").cast("string"))
    )
    n_tokens = F.size(
        F.filter(F.split("text", r"\s+"), lambda x: x != "")
    ).cast("bigint")
    keyed = d.select(
        "doc_id", "source", n_tokens.alias("n_tokens"), k.alias("k")
    )
    return (
        keyed.groupBy((F.col("k") % N_SHARDS).cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.countDistinct("source").alias("n_sources"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )
