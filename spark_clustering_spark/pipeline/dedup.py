"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, all shuffle-disciplined for 100 TB:

- exact: one hash-groupBy on md5(text) — the shuffle key is the digest,
  so payload text never shuffles (project the hash first).
- MinHash-LSH: shingle → minhash signature → band buckets → candidate
  pairs via a groupBy on (band, band_hash). Only signatures (fixed
  ~H*8 bytes/doc) shuffle; the O(n²) pair explosion is confined inside
  buckets.
- SimHash: 64-bit fingerprint from token hashes; near-dup candidates by
  matching any of 4 16-bit chunks (hamming ≤ 3 guaranteed recall when
  differing bits spread across ≥1 intact chunk).
- n-gram Jaccard: exact pairwise verification on a bounded candidate
  slice (SQL-oracle-checkable).
- embedding cosine: near-dup pairs above a cosine threshold.

MinHash permutations use fixed LCG coefficient tables (seeded) — no
unseeded randomness anywhere (SURVEY.md Q5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_clustering_spark.functions.detagg import dround, sql_dround
from spark_clustering_spark.functions.porthash import md5_int32, sql_hex_int
from spark_clustering_spark.io import pin, table
from spark_clustering_spark.ml.kernels import cosine_pairs, gemm_tile, unit_rows
from spark_clustering_spark.registry import query

# 16 minhash permutations in 4 bands of 4 rows; coefficients from a
# fixed seeded LCG stream (public-recipe universal hashing: (a*x+b) % p).
_P = 4_294_967_311  # smallest prime > 2^32
_NUM_HASHES = 16
_BAND_ROWS = 4


def _coeffs(seed: int = 42) -> list[tuple[int, int]]:
    # a is capped at 2^30 so a*h stays < 2^62 — no bigint overflow under
    # Spark's ANSI arithmetic.
    out, state = [], seed
    for _ in range(_NUM_HASHES):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (2**30 - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % _P
        out.append((a, b))
    return out


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    Docs with fewer than ``n`` tokens emit no shingles (matching the SQL
    oracle, which generates an empty gram list for them — without the
    guard the sequence() lower bound would emit one partial shingle).

    The input is ``spread()`` first: shingling amplifies each document
    ~token-count-fold before the first shuffle, so its parallelism is
    pinned by the scan's split count, not its cost — a compacted input
    would otherwise run the whole explode on a handful of cores."""
    from spark_clustering_spark.io import spread

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return (
        spread(df, "doc_id")
        .filter(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>[16]) — min over md5_int32(shingle)
    under each of the 16 affine permutations. The base hash is computed
    ONCE per shingle (projected before the aggregation — Catalyst does
    not CSE duplicated expressions across aggregate functions); each
    permutation is then two integer ops. One groupBy(doc_id) shuffle of
    (doc_id, 16×8B) — shingle strings never shuffle. The md5-derived
    base hash is DuckDB-reproducible (functions/porthash.py) so the
    whole LSH pipeline is oracle-checkable; swap in xxhash64 for
    cheaper hashing when cross-engine verification isn't needed."""
    hashed = sh.select("doc_id", md5_int32(F.col("shingle")).alias("h"))
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_P))).alias(f"h{i}")
        for i, (a, b) in enumerate(_coeffs())
    ]
    sig = hashed.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"h{i}" for i in range(_NUM_HASHES)]).alias("sig")
    )


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Banding: docs sharing any band of 4 consecutive minhashes become
    candidate pairs. Returns (doc_a, doc_b, n_bands) with doc_a < doc_b.

    Pairs are generated by ONE groupBy(band, key) bucket aggregation
    followed by an in-bucket pair expansion — not a band self-join.
    That removes a whole pass over the signature pipeline (a self-join
    needs the sig table materialized and shuffles it twice; the bucket
    form has a single consumer, so no checkpoint either). Pair blowup
    is identical — C(bucket, 2) per bucket, density-bounded by the LSH
    design.

    The expansion is TWO chained generators (posexplode the bucket,
    then explode each element's tail slice), never one nested
    array-of-all-pairs value: generators pipeline row-by-row, so a
    pathological hot bucket (b members) streams b rows of O(b) arrays
    through the task instead of materializing one O(b²) struct array
    against the 2 GB single-value limit."""
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", bi * _BAND_ROWS + r + 1).cast("string")
                                for r in range(_BAND_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(_NUM_HASHES // _BAND_ROWS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # ordered combinations of the sorted bucket: posexplode each id
    # with its position, then explode its tail slice (slice tolerates a
    # length past the end) — doc_a < doc_b by construction, and each
    # generator emits incrementally
    heads = buckets.select(
        "ids", F.posexplode("ids").alias("i", "doc_a")
    )
    return (
        heads.select(
            "doc_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
            ).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def _sql_minhash_ctes() -> str:
    """DuckDB CTE chain ``docs → grams → hx → hh → sig → bands → pairs``
    mirroring shingles() → minhash_signatures() → lsh_candidate_pairs()
    byte-for-byte: same 3-gram construction as the q_dedup_ngram_jaccard
    oracle, md5-derived base hash (porthash), identical LCG permutation
    coefficients inlined as integer literals."""
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(_coeffs())
    )
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {bi} AS band, "
        f"concat_ws(',', h{4 * bi}, h{4 * bi + 1}, h{4 * bi + 2}, h{4 * bi + 3}) AS key "
        f"FROM sig"
        for bi in range(_NUM_HASHES // _BAND_ROWS)
    )
    return f"""
    docs AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   for i in range(1, greatest(len(ws) - 1, 1))])) AS shingle
      FROM docs WHERE len(ws) >= 3
    ),
    hx AS (SELECT doc_id, md5(shingle) AS hs FROM grams WHERE len(shingle) > 0),
    hh AS (SELECT doc_id, {sql_hex_int('hs')} AS h FROM hx),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hh GROUP BY doc_id
    ),
    bands AS (
      {bands}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


def _sql_simhash() -> str:
    """DuckDB twin of q_dedup_simhash: 64 per-bit ±1 sums from the two
    md5 32-bit halves, fingerprint with the sign-bit handled in BIGINT
    two's complement, chunk keys re-summed from the bit columns."""

    def bit(i: int) -> str:
        col, sh = ("lo", i) if i < 32 else ("hi", i - 32)
        return f"sum(CASE WHEN ({col} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"

    bits = ",\n             ".join(bit(i) for i in range(64))
    fp_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(63)
    )
    fp = f"CAST({fp_terms} + (CASE WHEN b63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END) AS BIGINT)"
    chunks = ",\n           ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN b{16 * c + j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
        )
        + f" AS BIGINT) AS chunk{c}"
        for c in range(4)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    hx AS (SELECT doc_id, md5(tok) AS hs FROM toks WHERE len(tok) > 0),
    th AS (
      SELECT doc_id, {sql_hex_int('hs')} AS lo, {sql_hex_int('hs', 9, 8)} AS hi
      FROM hx
    ),
    bs AS (
      SELECT doc_id,
             {bits}
      FROM th GROUP BY doc_id
    )
    SELECT doc_id,
           {fp} AS simhash,
           {chunks}
    FROM bs
    """


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the lowest doc_id.
    Only (digest, doc_id) shuffles — never the text payload."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "q_dedup_minhash",
    oracle="WITH " + _sql_minhash_ctes() + "\n    SELECT doc_a, doc_b, n_bands FROM pairs",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (16 hashes, 4 bands × 4 rows)
    over word 3-gram shingles. Deterministic: fixed coefficient table,
    md5-derived base hash — the full shingle→signature→band→pair
    pipeline is reproduced in the DuckDB oracle (hash-verified, not
    rows-only). Invariants additionally tested in tests/test_pipeline.py."""
    d = table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signatures(shingles(d)))


@query("q_dedup_simhash", oracle=_sql_simhash())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc: bit i of the fingerprint is the sign of
    sum(±1 over tokens' bit i). Token bits come from the two md5 32-bit
    halves (functions/porthash.py) so the DuckDB oracle reproduces the
    fingerprint exactly. Emitted with the 4 16-bit chunk keys used for
    banded near-dup search (chunks re-summed from the bit-sign columns —
    identical to slicing the fingerprint, but avoids engine-specific
    unsigned-shift semantics)."""
    from spark_clustering_spark.io import spread

    d = table(spark, sf_dir, "documents")
    # spread before the explode: 2 md5s/token + 64 conditional partial
    # sums make this the most compute-amplified map in the repo — its
    # parallelism must not be pinned to the scan's split count
    toks = spread(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    th = toks.select(
        "doc_id",
        md5_int32(F.col("tok")).alias("lo"),
        md5_int32(F.col("tok"), hi=True).alias("hi"),
    )
    bit_sums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.col("lo" if i < 32 else "hi").bitwiseAND(
                        F.lit(1 << (i if i < 32 else i - 32))
                    )
                    != 0,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    # bit 63 is the sign bit: add -2^63 (two's complement) instead of 2^63,
    # which would overflow bigint under ANSI arithmetic.
    fp = sum(
        [
            F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(63)
        ],
        F.when(F.col("b63") > 0, F.lit(-(2**63))).otherwise(F.lit(0)).cast("bigint"),
    )
    chunks = [
        sum(
            [
                F.when(F.col(f"b{16 * c + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(1, 16)
            ],
            F.when(F.col(f"b{16 * c}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
        ).alias(f"chunk{c}")
        for c in range(4)
    ]
    return bit_sums.select("doc_id", fp.alias("simhash"), *chunks)


def connected_components(
    pairs: DataFrame, max_iter: int = 15, small_graph_threshold: int = 100_000
) -> DataFrame:
    """Min-label propagation over an undirected pair graph:
    every node ends up labeled with the smallest doc_id reachable from
    it — the canonical representative of its near-dup cluster.

    Hybrid execution: candidate-pair graphs are usually tiny relative
    to the corpus (LSH already pruned), so below
    ``small_graph_threshold`` pairs the exact union-find runs on the
    driver — identical result, none of the per-round job overhead.
    Larger graphs use iterative min-label joins (O(diameter) rounds,
    one shuffle each, each round's labels pinned); near-dup clusters are
    near-cliques so this converges in 2-3 rounds. ``pairs``:
    (doc_a, doc_b). Returns (doc_id, component) for every node
    appearing in any pair."""
    spark = pairs.sparkSession
    # one pass decides the path AND feeds the small-graph solver: the
    # limited collect IS the size probe (a separate count() would
    # recompute the candidate-pair pipeline twice). The persist keeps
    # whatever the probe materializes, so on the big-graph path the
    # candidate-pair pipeline is never recomputed for `edges`.
    pairs = pairs.select("doc_a", "doc_b").persist()
    edges = None
    try:
        sample = pairs.limit(small_graph_threshold + 1).collect()
        if len(sample) > small_graph_threshold:
            edges = (
                pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
                .unionByName(
                    pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
                )
                .distinct()
                .persist()
            )
            labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
                "component", F.col("doc_id")
            )
            converged = False
            for _ in range(max_iter):
                neighbor_min = (
                    edges.join(
                        labels.select(
                            F.col("doc_id").alias("dst"),
                            F.col("component").alias("n_comp"),
                        ),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("doc_id"))
                    .agg(F.min("n_comp").alias("neighbor_comp"))
                )
                new_labels = pin(
                    labels.join(neighbor_min, "doc_id", "left").select(
                        "doc_id",
                        F.least(
                            "component", F.coalesce("neighbor_comp", "component")
                        ).alias("component"),
                    )
                )
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "doc_id")
                    .filter(F.col("n.component") != F.col("o.component"))
                    .limit(1)
                    .count()
                )
                labels = new_labels
                if not changed:
                    converged = True
                    break
    finally:
        if edges is not None:
            edges.unpersist()
        pairs.unpersist()
    if edges is None:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in sample:
            a, b = int(r["doc_a"]), int(r["doc_b"])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        rows = [(n, find(n)) for n in sorted(parent)]
        return spark.createDataFrame(rows, "doc_id BIGINT, component BIGINT")
    if not converged:
        # Component chains with diameter > max_iter would silently come
        # back split; make that loud instead.
        import warnings

        warnings.warn(
            f"connected_components: min-label propagation did not reach a "
            f"fixpoint within max_iter={max_iter}; labels may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


@query(
    "q_dedup_clusters",
    oracle="WITH RECURSIVE "
    + _sql_minhash_ctes()
    + """,
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(doc_id, comp) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.s, r.comp FROM edges e JOIN reach r ON e.d = r.doc_id
    )
    SELECT doc_id, min(comp) AS component FROM reach GROUP BY doc_id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH candidate pairs → connected
    components → (doc_id, component-representative). Downstream dedup
    keeps rows where doc_id == component. Spark runs hybrid union-find /
    min-label propagation; the oracle computes the same min-reachable
    label as a DuckDB recursive CTE over the symmetric edge closure —
    so even this iterative fixpoint is hash-verified, not rows-only.
    Invariants (exact-duplicate clustering, idempotence) in
    tests/test_pipeline.py."""
    d = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(shingles(d)))
    return connected_components(pairs.select("doc_a", "doc_b"))


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
      FROM documents WHERE doc_id < 200
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   for i in range(1, greatest(len(ws) - 1, 1))])) AS shingle
      FROM docs
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           cast(cast(round(cast(cast((cast(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE cast(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.01
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity on a bounded doc slice — the
    verification stage behind MinHash candidates (integer set math, so
    fully SQL-oracle-checkable). Slice/threshold chosen so the check
    produces a few hundred pairs at the driver's sf0.01 gate scale
    (doc_id < 60 @ 0.1 matched zero rows there — a vacuous pass)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    g = shingles(d)
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = g.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.01)
        .select("doc_a", "doc_b", dround(jac).alias("jaccard"))
    )


def _broadcast_gemm_pairs(e: DataFrame, threshold: float) -> DataFrame:
    """Small-table GEMM path: collect + broadcast the full normalized
    matrix ONCE, then run one task per ``gemm_tile`` row tile — each
    task scores its tile against the rows from its own first row on
    (the upper half of the tile grid), so every unordered pair is
    scored once. The upstream pipeline of ``e`` is evaluated exactly
    once (the one ``toPandas`` collect); the distributed stage reads
    only the tile offsets of an in-engine range."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    pdf_all = e.toPandas()
    if not len(pdf_all):
        return spark.createDataFrame(
            [], "a_id bigint, b_id bigint, cos_raw double"
        )
    ids_all = pdf_all["vec_id"].to_numpy(dtype=np.int64)
    M = unit_rows(pdf_all["vec"])
    bc = spark.sparkContext.broadcast((ids_all, M))
    cap = gemm_tile(M.shape[1])
    n_tiles = -(-len(ids_all) // cap)
    idx = spark.range(
        0, len(ids_all), cap,
        min(n_tiles, spark.sparkContext.defaultParallelism),
    )

    def gemm(batches):
        ids_full, mat = bc.value
        for pdf in batches:
            for lo in pdf["id"].to_numpy(dtype=np.int64):
                a, b, s = cosine_pairs(
                    ids_full[lo : lo + cap], mat[lo : lo + cap],
                    ids_full[lo:], mat[lo:], threshold, diag=True,
                )
                if len(a):
                    yield pd.DataFrame({"a_id": a, "b_id": b, "cos_raw": s})

    return idx.mapInPandas(gemm, "a_id bigint, b_id bigint, cos_raw double")


def embedding_near_dup_pairs(
    e: DataFrame,
    threshold: float = 0.99,
    n_blocks: int | None = None,
    broadcast_elems: int = 2**24,
) -> DataFrame:
    """Exact all-pairs cosine ≥ ``threshold`` via blocked GEMM.

    Hybrid strategy, mirroring Spark's own broadcast-vs-shuffle join
    choice: when the whole normalized matrix is broadcast-sized
    (n·d ≤ 2^24 elements ≈ 128 MB), every task GEMMs its slice of rows
    against the broadcast matrix in one narrow pass — no replication
    join, no cogroup shuffle, 1 stage. Above that, the scale path:

    Both sides are hash-partitioned into ``n_blocks`` row blocks
    (xxhash64 of vec_id mod B, so congruent-id inputs can't collapse
    into one block); each of the B·(B+1)/2 unordered block pairs is
    cogrouped into one Arrow task that multiplies the two normalized
    blocks (BLAS dgemm) and emits only pairs above threshold. Nothing is
    collected on the driver and no full-table broadcast exists: shuffle
    volume is n·B rows per side. ``n_blocks`` defaults to the
    count-derived grid: blocks = ceil(n / cap), cap = ``gemm_tile(d)``
    — per-task memory is then CONSTANT at any corpus size and the task
    count grows linearly with the pair count (VERDICT r8 task 1 retired
    the fixed n_blocks=8 whose (n/8)² tile was ~8.6 GB right where this
    path first engages). Inside each task ``cosine_pairs`` scores in
    cap×cap tiles, so even a skew-fattened block can't exceed the
    budget; a diagonal block pair scores its one block's upper
    triangle. The per-pair dot product is the same float64 BLAS
    reduction regardless of blocking or tiling, so results are
    identical to a dense matmul (asserted across grids in
    tests/test_scale.py).

    ``e``: (vec_id bigint, vec array<double>). Returns
    (a_id, b_id, cos_raw) with a_id < b_id, cos_raw unrounded.
    """
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    # one combined probe job for the size gate (count + dim together —
    # probing with separate count()/head() calls would recompute an
    # uncached upstream pipeline twice)
    probe = e.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size("vec")).alias("d")
    ).head()
    n_rows, dim = int(probe["n"]), int(probe["d"] or 0)
    if n_rows * max(dim, 1) <= broadcast_elems:
        return _broadcast_gemm_pairs(e, threshold)
    if n_blocks is None:
        n_blocks = max(1, -(-n_rows // gemm_tile(max(dim, 1))))
    # Clamp the grid: the block-pair meta is broadcast to both
    # replicate joins, and B(B+1)/2 pairs stops being broadcast-sized
    # around B~10^4. Above the clamp, blocks grow as n/B instead —
    # per-task SCORE memory stays pinned regardless (cosine_pairs'
    # cap×cap tiles), only the input slabs grow (n/B·d doubles,
    # ~12 MB at n=100M, d=64). Exact all-pairs is O(n²) dot products,
    # so beyond ~10M rows the honest route is the LSH-bucketed
    # q_dedup_semantic path, not a bigger grid (ADVICE r9 retired this
    # docstring's former '100 TB' claim).
    n_blocks = min(n_blocks, 4096)
    # block-pair list generated IN-ENGINE via a range join, never as a
    # driver-side Python list: at B=4096 that list is 8.4M tuples
    # (~1 GB of driver allocation) — ADVICE r9.
    meta = (
        spark.range(n_blocks)
        .select(F.col("id").cast("int").alias("ba"))
        .join(
            spark.range(n_blocks).select(F.col("id").cast("int").alias("bb")),
            F.col("ba") <= F.col("bb"),
        )
    )
    def replicate(side: str, key: str) -> DataFrame:
        # alias both inputs so the two derivations of the same e/meta
        # DataFrames don't trip the ambiguous-self-join analyzer check
        ee, mm = e.alias(f"e_{side}"), meta.alias(f"m_{side}")
        blk = F.pmod(
            F.xxhash64(F.col(f"e_{side}.vec_id")), F.lit(n_blocks)
        ).cast("int")
        return ee.join(F.broadcast(mm), blk == F.col(f"m_{side}.{key}")).select(
            F.col(f"m_{side}.ba").alias("ba"),
            F.col(f"m_{side}.bb").alias("bb"),
            F.col(f"e_{side}.vec_id").alias("vec_id"),
            F.col(f"e_{side}.vec").alias("vec"),
        )

    left = replicate("l", "ba")
    right = replicate("r", "bb")

    def gemm(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if not len(l) or not len(r):
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_raw": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cos_raw": "float64"}
            )
        ids_a = l["vec_id"].to_numpy(dtype=np.int64)
        A = unit_rows(l["vec"])
        if int(l["ba"].iat[0]) == int(l["bb"].iat[0]):
            # both sides hold the same block: score it once
            ab = cosine_pairs(ids_a, A, ids_a, A, threshold, diag=True)
        else:
            ids_b = r["vec_id"].to_numpy(dtype=np.int64)
            ab = cosine_pairs(ids_a, A, ids_b, unit_rows(r["vec"]), threshold, diag=False)
        return pd.DataFrame(dict(zip(("a_id", "b_id", "cos_raw"), ab)))

    return (
        left.groupby("ba", "bb")
        .cogroup(right.groupby("ba", "bb"))
        .applyInPandas(gemm, "a_id bigint, b_id bigint, cos_raw double")
    )


@query(
    "q_dedup_embedding",
    oracle="""
    WITH ve AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           cast(cast(round(cast(cast((list_cosine_similarity(a.vec, b.vec)) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS cos
    FROM ve a JOIN ve b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.vec, b.vec) >= 0.45
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Production near-dup uses a ~0.9+ threshold; the synthetic
    embeddings are i.i.d. random (max pairwise cos ≈ 0.51), so the
    declared query uses 0.45 — 14 pairs at sf0.01, a few hundred at
    sf0.1, with a ≥1e-4 gap around the cut so the float filter can't
    flap between engines — to keep the oracle check non-vacuous.

    Dense all-pairs cosine is a matrix multiply — the one place where
    Spark's array HOFs (interpreted, not codegen'd) lose badly to an
    Arrow-batched Pandas path. The engine path is
    ``embedding_near_dup_pairs``, which picks by size. A corpus of at
    most 2^24 vector elements — every generated scale (sf0.1 is
    2000×64) — is collected once and broadcast, and each task scores
    one row tile against the rows from it on. A larger corpus runs the
    blocked cogroup GEMM with no collect and no full-table
    broadcast; its block grid is count-derived (clamped at 4096) so
    the per-task score tile is pinned at GEMM_TILE_BYTES at any corpus
    size. Exact all-pairs is
    inherently O(n²) dot products, so this path's practical ceiling is
    ~10M rows; beyond that, LSH bucketing
    (pipeline/similarity.py::cosine_lsh_buckets) bounds the candidate
    set and the same GEMM kernel runs per bucket."""
    from spark_clustering_spark.functions.distance import as_double_array

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("vec")
    )
    pairs = embedding_near_dup_pairs(e, threshold=0.45)
    return pairs.select("a_id", "b_id", dround("cos_raw").alias("cos"))


@query(
    "q_dedup_cross_source",
    oracle="""
    WITH hashes AS (
      SELECT doc_id, source,
             md5(array_to_string(
               string_split_regex(lower(text), '\\s+')[1:10], ' ')) AS h
      FROM documents
    ),
    leaky AS (
      SELECT h FROM hashes GROUP BY h HAVING count(DISTINCT source) > 1
    )
    SELECT hs.h, hs.source, min(hs.doc_id) AS first_doc_id,
           count(*) AS n_copies
    FROM hashes hs JOIN leaky USING (h)
    GROUP BY hs.h, hs.source
    """,
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source prefix-duplicate audit: normalized 10-token-prefix
    digests that appear in MORE THAN ONE source, with per-source
    first-seen id and copy count — the boilerplate/contamination screen
    run before mixing corpora (shared headers, templated intros, and
    train/eval leaks all surface as cross-source prefix collisions).

    Scale: only (digest, source, doc_id) ever shuffles — text stays at
    the scan. The leaky-digest set is an aggregate of the digest
    aggregate (duplicate-cardinality, tiny) and comes back as a
    broadcast semi-join probe."""
    d = table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.lower(F.col("text")), r"\s+"), 1, 10)
    )
    hashes = d.select(
        F.md5(prefix.cast("binary")).alias("h"), "source", "doc_id"
    )
    leaky = (
        hashes.groupBy("h")
        .agg(F.countDistinct("source").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("h")
    )
    return (
        hashes.join(F.broadcast(leaky), "h", "left_semi")
        .groupBy("h", "source")
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "q_dedup_containment",
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
      FROM documents WHERE doc_id < 200
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   for i in range(1, greatest(len(ws) - 1, 1))])) AS shingle
      FROM docs
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM grams a JOIN grams b ON a.shingle = b.shingle
                               AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           cast(cast(round(cast(cast((cast(i.n_inter AS DOUBLE) / sa.n) AS VARCHAR) AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    WHERE cast(i.n_inter AS DOUBLE) / sa.n >= 0.2
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment C(a→b) = |Sa ∩ Sb| / |Sa| on a bounded doc
    slice — the ASYMMETRIC near-dup measure: a short document quoted
    inside a long one scores ~1.0 on containment while its Jaccard
    stays low. This is the quote/subset detector that pairs with
    q_dedup_ngram_jaccard's symmetric verification; both directions of
    each pair are emitted because C(a→b) ≠ C(b→a).

    Scale: identical shape to the Jaccard verifier — shingle equi-join
    confined to the candidate slice, integer set math, sizes joined
    back as a broadcast."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    g = shingles(d)
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = g.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cont = F.col("n_inter").cast("double") / F.col("na")
    return (
        inter.join(sa, "doc_a")
        .filter(cont >= 0.2)
        .select("doc_a", "doc_b", dround(cont).alias("containment"))
    )


@query(
    "q_dedup_url",
    # the canonicalization pipeline restated with DuckDB's string ops
    # (regexp_replace needs the 'g' flag there — DuckDB replaces only
    # the first match by default, Spark replaces all)
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             'HTTPS://WWW.' || upper(source) || '.Example.COM:443/articles/'
               || (doc_id % 40)
               || CASE (doc_id % 4)
                    WHEN 0 THEN '?utm_source=feed&utm_id=' || (doc_id % 5)
                    WHEN 1 THEN '/'
                    WHEN 2 THEN '#section-' || (doc_id % 3)
                    ELSE '?id=' || (doc_id % 6) || '&utm_campaign=x'
                  END AS url
      FROM documents
    ),
    stripped AS (
      SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u FROM raw
    ),
    parts AS (
      SELECT doc_id,
             regexp_extract(u, '^([^/]*//[^/]*)', 1) AS prefix,
             regexp_replace(substring(u, length(regexp_extract(u, '^([^/]*//[^/]*)', 1)) + 1),
                            '\\?.*$', '', 'g') AS path,
             regexp_extract(u, '\\?(.*)$', 1) AS q
      FROM stripped
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(lower(prefix), ':(443|80)$', '', 'g')
               || regexp_replace(path, '/+$', '', 'g')
               || CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS canonical_url
      FROM (
        SELECT doc_id, prefix, path,
               array_to_string(
                 list_filter(str_split(q, '&'),
                             p -> p <> '' AND NOT p LIKE 'utm_%'),
                 '&') AS kept
        FROM parts)
    )
    SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_urls
    FROM canon GROUP BY canonical_url
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first dedup pass of every web
    corpus: the same page arrives under scheme/host case variants,
    default ports, tracking params, trailing slashes, and fragments.
    Synthesizes a deterministic messy URL per document (the corpus has
    no URL column), canonicalizes — lowercase scheme+host, strip
    default port, drop the fragment, drop utm_* tracking params but
    KEEP meaningful ones, strip trailing slashes — and groups to one
    keeper per canonical URL.

    Scale: pure narrow string expressions into one hash-aggregate on
    the canonical key (map-side combine); the text column is never
    touched, so the shuffle carries only (url, doc_id)."""
    d = table(spark, sf_dir, "documents")
    mod = F.col("doc_id") % 4
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper("source"),
            F.lit(".Example.COM:443/articles/"),
            (F.col("doc_id") % 40).cast("string"),
            F.when(mod == 0, F.concat(F.lit("?utm_source=feed&utm_id="),
                                      (F.col("doc_id") % 5).cast("string")))
            .when(mod == 1, F.lit("/"))
            .when(mod == 2, F.concat(F.lit("#section-"),
                                     (F.col("doc_id") % 3).cast("string")))
            .otherwise(F.concat(F.lit("?id="), (F.col("doc_id") % 6).cast("string"),
                                F.lit("&utm_campaign=x"))).alias("sfx"),
        ).alias("url"),
    )
    u = F.regexp_replace("url", "#.*$", "")
    prefix = F.regexp_extract(u, "^([^/]*//[^/]*)", 1)
    rest = F.expr(
        "substring(regexp_replace(url, '#.*$', ''), "
        "length(regexp_extract(regexp_replace(url, '#.*$', ''), '^([^/]*//[^/]*)', 1)) + 1)"
    )
    path = F.regexp_replace(rest, r"\?.*$", "")
    q = F.regexp_extract(u, r"\?(.*)$", 1)
    kept = F.array_join(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        ),
        "&",
    )
    canonical = F.concat(
        F.regexp_replace(F.lower(prefix), ":(443|80)$", ""),
        F.regexp_replace(path, "/+$", ""),
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
    return (
        raw.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_urls"))
    )


def _minhash_est_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(_NUM_HASHES)
    )
    return f"""
    WITH {_sql_minhash_ctes()},
    agree AS (
      SELECT p.doc_a, p.doc_b, p.n_bands, ({agree}) AS n_agree
      FROM pairs p
      JOIN sig a ON a.doc_id = p.doc_a
      JOIN sig b ON b.doc_id = p.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS ni
      FROM pairs p
      JOIN grams ga ON ga.doc_id = p.doc_a
      JOIN grams gb ON gb.doc_id = p.doc_b AND gb.shingle = ga.shingle
      GROUP BY 1, 2
    )
    SELECT g.doc_a, g.doc_b, g.n_bands, g.n_agree::INT AS n_agree,
           cast(cast(round(cast(cast((g.n_agree / {_NUM_HASHES}.0) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS est_jaccard,
           cast(cast(round(cast(cast((coalesce(i.ni, 0)
                / cast(sa.n + sb.n - coalesce(i.ni, 0) AS DOUBLE)) AS VARCHAR)
                AS DECIMAL(38,12)), 4) AS VARCHAR) AS DOUBLE) AS exact_jaccard
    FROM agree g
    LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
    JOIN sizes sa ON sa.doc_id = g.doc_a
    JOIN sizes sb ON sb.doc_id = g.doc_b
    """


@query("q_dedup_minhash_est", oracle=_minhash_est_oracle())
def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATION audited against ground truth, per
    LSH candidate pair: the estimate is signature agreement / 16
    (E[agreement fraction] = true Jaccard — Broder 1997), the exact
    value is the shingle-set Jaccard computed only on the LSH-bounded
    candidates. This is the sketch-quality audit a production dedup
    pipeline keeps alongside the dedup itself — per-pair est vs exact
    makes precision/threshold tuning measurable (mean |est − exact|
    asserted ≤ 0.25 in tests; 16 perms is a coarse sketch by design).

    Scale: estimation compares two 16-int signatures per pair —
    constant work after the one signature shuffle the MinHash pipeline
    already does; the exact-Jaccard verify join touches only candidate
    docs' shingles (LSH-bounded), the same verify-slice shape as
    q_dedup_ngram_jaccard."""
    d = table(spark, sf_dir, "documents")
    # the shingle stream feeds FOUR consumers (signatures, per-doc
    # sizes, both sides of the exact-Jaccard verify join) and the
    # signature table THREE (pairs, sig_a, sig_b) — pin both so the
    # explode+md5 pipeline runs once per query, not 4x/3x (the same
    # reuse pinning q_dedup_lsh_tuning applies)
    sh = pin(shingles(d))
    sig = pin(minhash_signatures(sh))
    pairs = lsh_candidate_pairs(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.aggregate(
                F.zip_with(
                    "sig_a",
                    "sig_b",
                    lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            .cast("int")
            .alias("n_agree"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    gb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(ga, "doc_a")
        .join(gb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    ni = F.coalesce("ni", F.lit(0))
    return (
        agree.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            "n_agree",
            dround(F.col("n_agree") / float(_NUM_HASHES)).alias("est_jaccard"),
            dround(
                ni / (F.col("na") + F.col("nb") - ni).cast("double")
            ).alias("exact_jaccard"),
        )
    )


SIMHASH_HAM_MAX = 12  # near-dup acceptance: Hamming distance <= this


@query(
    "q_dedup_simhash_pairs",
    oracle=f"""
    WITH fp AS ({_sql_simhash()}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       AND (a.chunk0 = b.chunk0 OR a.chunk1 = b.chunk1
            OR a.chunk2 = b.chunk2 OR a.chunk3 = b.chunk3)
    )
    SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INT AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAM_MAX}
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS — completes the SimHash family
    (q_dedup_simhash emits fingerprints; this emits the dedup
    decision): candidates are docs sharing ANY of the 4 16-bit chunk
    keys (the pigeonhole guarantee: Hamming <= 3 implies at least one
    identical chunk; wider radii trade recall), verified by exact
    64-bit Hamming distance bit_count(xor) <= {SIMHASH_HAM_MAX}.

    Scale: the chunk-band pair generation is the same bucket groupBy +
    in-bucket expansion as MinHash LSH (one pass, no self-join,
    generators never materialize O(b²) arrays); the Hamming verify is
    two integer ops per candidate on 8-byte fingerprints — strings
    never move after the fingerprint aggregate."""
    fp = q_dedup_simhash(spark, sf_dir).select(
        "doc_id", "simhash", "chunk0", "chunk1", "chunk2", "chunk3"
    )
    # fingerprints feed band expansion AND both pair sides -- pin the
    # doc-cardinality (5 ints/doc) table instead of re-running the
    # most compute-amplified map in the repo three times
    fp = pin(fp)
    bands = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("band"), F.col(f"chunk{c}").alias("key")
                    )
                    for c in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    heads = buckets.select("ids", F.posexplode("ids").alias("i", "doc_a"))
    pairs = (
        heads.select(
            "doc_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
            ).alias("doc_b"),
        )
        .distinct()
    )
    sa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    sb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
    )


EDITDIST_MAX = 3
_ED_BUCKET = EDITDIST_MAX + 1  # length-bucket side ≥ d_max+... ensures ±1 probe


@query(
    "q_dedup_blocked_editdist",
    oracle=f"""
    WITH names AS (
      SELECT p_name, count(*) AS n_rows
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           cast(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           a.n_rows AS n_a, b.n_rows AS n_b
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {EDITDIST_MAX}
    """,
)
def q_dedup_blocked_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by EDIT DISTANCE — the verify-stage complement to
    the hash-sketch family (MinHash/SimHash catch token-level overlap;
    Levenshtein catches typo-level variants like 'cold ring'/'old
    ring'): emit every pair of distinct part names within edit
    distance {EDITDIST_MAX}, with the row counts each name carries.

    Two scale decisions worth stating:

    1. **Dedupe the dictionary, not the rows.** Edit distance runs on
       the DISTINCT value table (a groupBy first) — at 100 TB the
       dictionary is orders of magnitude smaller than the fact table,
       and the row multiplicity rides along as a count.
    2. **Length-grid blocking.** Edit distance ≤ d forces
       |len(a)−len(b)| ≤ d, so names are bucketed by
       floor(len/{_ED_BUCKET}) and one side probes its ±1 neighbour
       buckets — the 1-D analogue of q_join_spatial_grid's cell
       expansion, lossless for this threshold, and it turns the
       dictionary cross join into an equi hash join. (Production
       refinement for huge dictionaries: add a first-character or
       q-gram prefix key to the block.)

    Determinism: levenshtein is an integer DP identical in both
    engines; counts are exact.

    Scale: one fact-sized groupBy builds the dictionary; the blocked
    join is dictionary-sized with bounded per-bucket fan-in. Nothing
    is windowed; the O(len²) DP cost per surviving candidate is the
    irreducible verify cost, bounded by the block filter."""
    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("bkt", F.floor(F.length("p_name") / _ED_BUCKET))
    )
    offs = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    probe = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_rows").alias("n_a"),
        F.col("bkt").alias("bkt0"),
        F.explode(offs).alias("off"),
    ).select(
        "name_a", "n_a", (F.col("bkt0") + F.col("off")).alias("bkt")
    )
    build = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_rows").alias("n_b"),
        "bkt",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        probe.join(build, "bkt")
        .filter((F.col("name_a") < F.col("name_b")) & (dist <= EDITDIST_MAX))
        .select(
            "name_a",
            "name_b",
            dist.cast("bigint").alias("dist"),
            "n_a",
            "n_b",
        )
    )


@query(
    "q_text_ngram_novelty",
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
      FROM docs WHERE len(ws) >= 3
    ),
    g AS (SELECT doc_id, shingle FROM grams WHERE len(shingle) > 0),
    first_seen AS (
      SELECT shingle, min(doc_id) AS first_doc FROM g GROUP BY shingle
    )
    SELECT g.doc_id,
           cast(count(*) AS BIGINT) AS n_shingles,
           cast(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           {sql_dround(
               "1.0 - cast(sum(CASE WHEN f.first_doc < g.doc_id THEN 1"
               " ELSE 0 END) AS DOUBLE) / count(*)", 6
           )} AS novelty
    FROM g JOIN first_seen f ON f.shingle = g.shingle
    GROUP BY g.doc_id
    """,
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against everything ingested before
    it: the fraction of a doc's distinct 3-gram shingles whose first
    corpus occurrence (min doc_id — ingestion order) is its own. The
    training-data signal behind "this document is 90% recycled
    boilerplate" — complements pairwise containment (q_dedup_
    containment: who copied whom) with a corpus-level dup-mass curve,
    and is exactly the statistic RefinedWeb/Gopher-style pipelines
    threshold to drop near-copy tails.

    Determinism: first-occurrence attribution is an integer min per
    shingle; counts are exact; the single emitted ratio goes through
    dround.

    Scale: shingle → groupBy(shingle) min — one fact-sized shuffle —
    then a shingle-keyed join back and a doc-keyed count. The join
    reuses the SAME key as the groupBy, so Catalyst keeps the
    partitioning (no second wide exchange of the gram stream). At
    100 TB, shuffle the md5-derived 64-bit shingle hash instead of the
    string (the minhash discipline) and accept the quantified
    collision envelope; first-occurrence stays exact under any
    partitioning because min is associative."""
    d = table(spark, sf_dir, "documents")
    g = shingles(d)
    first = g.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    dup = F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    return (
        g.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(dup).cast("bigint").alias("n_dup"),
            dround(
                F.lit(1.0)
                - F.sum(dup).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


_TUNE_ROWS = (2, 4, 8)   # rows-per-band configs audited
_TUNE_THRESH = 0.5       # "true near-dup" = exact shingle Jaccard >= this


def _sql_lsh_tuning_oracle() -> str:
    per_cfg = []
    for r in _TUNE_ROWS:
        nb = _NUM_HASHES // r
        bands = " UNION ALL ".join(
            f"SELECT doc_id, {bi} AS band, concat_ws(',', "
            + ", ".join(f"h{r * bi + j}" for j in range(r))
            + ") AS key FROM sig"
            for bi in range(nb)
        )
        per_cfg.append(
            f"""bands_{r} AS ({bands}),
    pairs_{r} AS (
      SELECT {r} AS rpb, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{r} a JOIN bands_{r} b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      GROUP BY 2, 3
    )"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM pairs_{r}" for r in _TUNE_ROWS)
    return f"""
    WITH {_sql_minhash_ctes()},
    {", ".join(per_cfg)},
    allp AS ({union}),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM allp),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS ni
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.doc_a
      JOIN grams gb ON gb.doc_id = c.doc_b AND gb.shingle = ga.shingle
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT c.doc_a, c.doc_b,
             (coalesce(i.ni, 0)
              / cast(sa.n + sb.n - coalesce(i.ni, 0) AS DOUBLE))
               >= {_TUNE_THRESH} AS is_true
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
    ),
    gt AS (SELECT count(*) AS n_union_true FROM truth WHERE is_true),
    cfg AS (
      SELECT p.rpb, count(*) AS n_candidates,
             sum(CASE WHEN t.is_true THEN 1 ELSE 0 END) AS n_true
      FROM allp p JOIN truth t
        ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
      GROUP BY p.rpb
    )
    SELECT rpb::INT AS rows_per_band, ({_NUM_HASHES} // rpb)::INT AS n_bands,
           n_candidates, n_true::BIGINT AS n_true,
           cast(cast(round(cast(cast((cast(n_true AS DOUBLE) / n_candidates)
                AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS precision_,
           cast(cast(round(cast(cast((cast(n_true AS DOUBLE) / g.n_union_true)
                AS VARCHAR) AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS recall_vs_union
    FROM cfg CROSS JOIN gt g
    """


@query("q_dedup_lsh_tuning", oracle=_sql_lsh_tuning_oracle())
def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design audit: for rows-per-band r in {2, 4, 8} over
    the SAME 16-hash MinHash signatures, the candidate-pair count, how
    many candidates are TRUE near-dups (exact shingle Jaccard >= 0.5),
    precision, and recall vs the union ground truth — the measurement
    every dedup pipeline needs before committing a (b, r) operating
    point, since the S-curve threshold (1/b)^(1/r) trades candidate
    volume (cost) against recall at the target similarity.

    Scale: signatures are computed ONCE (pinned) and each
    config re-bands the 16x8-byte sig rows — never the text; the exact
    Jaccard verification runs only on the DEDUPLICATED union of
    candidates (the LSH promise: candidate volume << all pairs), as a
    shingle-keyed hash join."""
    docs = table(spark, sf_dir, "documents")
    # the shingle stream feeds FOUR consumers (signatures, per-doc
    # sizes, both sides of the exact-Jaccard verification join); pin it
    # so the explode runs once per query, not four times
    sh = pin(shingles(docs))
    sig = pin(minhash_signatures(sh))  # reused 3x
    cfgs = []
    for r in _TUNE_ROWS:
        nb = _NUM_HASHES // r
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", r * bi + j + 1).cast("string")
                                    for j in range(r)
                                ],
                            ).alias("key"),
                        )
                        for bi in range(nb)
                    ]
                )
            ).alias("b"),
        ).select("doc_id", "b.band", "b.key")
        buckets = (
            bands.groupBy("band", "key")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        heads = buckets.select("ids", F.posexplode("ids").alias("i", "doc_a"))
        pairs = (
            heads.select(
                "doc_a",
                F.explode(
                    F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
                ).alias("doc_b"),
            )
            .distinct()
            .select(F.lit(r).alias("rpb"), "doc_a", "doc_b")
        )
        cfgs.append(pairs)
    allp = cfgs[0]
    for p in cfgs[1:]:
        allp = allp.unionAll(p)
    allp = pin(allp)  # reused: cand dedup + cfg join
    cand = allp.select("doc_a", "doc_b").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    gb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.coalesce(F.col("ni"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0))).cast(
                    "double"
                )
                >= _TUNE_THRESH
            ).alias("is_true"),
        )
    )
    gt = truth.filter("is_true").agg(F.count(F.lit(1)).alias("n_union_true"))
    cfg = (
        allp.join(truth, ["doc_a", "doc_b"])
        .groupBy("rpb")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.when(F.col("is_true"), 1).otherwise(0)).alias("n_true"),
        )
    )
    return cfg.crossJoin(F.broadcast(gt)).select(
        F.col("rpb").cast("int").alias("rows_per_band"),
        F.floor(F.lit(_NUM_HASHES) / F.col("rpb")).cast("int").alias("n_bands"),
        "n_candidates",
        F.col("n_true").cast("bigint").alias("n_true"),
        dround(F.col("n_true").cast("double") / F.col("n_candidates"), 6).alias(
            "precision_"
        ),
        dround(F.col("n_true").cast("double") / F.col("n_union_true"), 6).alias(
            "recall_vs_union"
        ),
    )


PARA_W = 8  # tokens per non-overlapping "paragraph" segment


@query(
    "q_text_dedup_paragraph",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1)::INT, {PARA_W}))
               AS start
      FROM t WHERE len(toks) > 0
    ),
    seg AS (
      SELECT doc_id, (start // {PARA_W})::BIGINT AS seg_id,
             len(list_slice(toks, start + 1, start + {PARA_W}))::BIGINT
               AS n_toks,
             md5(array_to_string(
               list_slice(toks, start + 1, start + {PARA_W}), ' ')) AS h
      FROM s
    ),
    keep AS (
      SELECT doc_id, seg_id, n_toks,
             CASE WHEN row_number() OVER (
               PARTITION BY h ORDER BY doc_id, seg_id) = 1
             THEN 1 ELSE 0 END AS kept
      FROM seg
    )
    SELECT doc_id,
           count(*) AS n_segs,
           sum(kept)::BIGINT AS n_kept,
           sum(n_toks)::BIGINT AS total_toks,
           coalesce(sum(CASE WHEN kept = 1 THEN n_toks END), 0)::BIGINT
             AS kept_toks,
           {sql_dround(
             "coalesce(sum(CASE WHEN kept = 1 THEN n_toks END), 0)"
             " / cast(sum(n_toks) AS DOUBLE)", 6)} AS retained_frac
    FROM keep
    GROUP BY doc_id
    """,
)
def q_text_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (the C4 / RefinedWeb line-dedup
    pass): split every document into non-overlapping {PARA_W}-token
    segments, keep only the GLOBALLY FIRST occurrence of each distinct
    segment (first = smallest (doc_id, seg_id)), and report the per-
    document retention manifest — segment and token counts before/after
    and the retained token fraction. Unlike q_dedup_exact (whole-doc)
    this removes boilerplate repeated INSIDE otherwise-distinct
    documents.

    Scale: segments carry only their md5 digest into the first-
    occurrence reduction — a groupBy(h) with map-side-combined
    min(struct(doc_id, seg_id)), so a segment duplicated a million
    times collapses to one champion per map task before the shuffle
    (no skewed reducer sees the full copy set, unlike a window
    PARTITION BY h). The winner set joins back on the digest and the
    manifest re-aggregates on doc_id: three narrow shuffles (digest,
    digest, doc_id), text bytes never shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(PARA_W)
    )
    seg = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / PARA_W).cast("bigint").alias("seg_id"),
            F.size(F.slice("toks", F.col("start") + 1, F.lit(PARA_W)))
            .cast("bigint")
            .alias("n_toks"),
            F.md5(
                F.concat_ws(
                    " ", F.slice("toks", F.col("start") + 1, F.lit(PARA_W))
                )
            ).alias("h"),
        )
    )
    firsts = seg.groupBy("h").agg(
        F.min(F.struct("doc_id", "seg_id")).alias("first")
    )
    flagged = seg.join(firsts, "h").select(
        "doc_id",
        "n_toks",
        F.when(
            (F.col("first.doc_id") == F.col("doc_id"))
            & (F.col("first.seg_id") == F.col("seg_id")),
            1,
        )
        .otherwise(0)
        .alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.sum("n_toks").cast("bigint").alias("total_toks"),
        F.coalesce(
            F.sum(F.when(F.col("kept") == 1, F.col("n_toks"))), F.lit(0)
        )
        .cast("bigint")
        .alias("kept_toks"),
        dround(
            F.coalesce(
                F.sum(F.when(F.col("kept") == 1, F.col("n_toks"))), F.lit(0)
            )
            / F.sum("n_toks").cast("double"),
            6,
        ).alias("retained_frac"),
    )


@query(
    "q_dedup_canonical",
    oracle="WITH RECURSIVE "
    + _sql_minhash_ctes()
    + """,
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(doc_id, comp) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.s, r.comp FROM edges e JOIN reach r ON e.d = r.doc_id
    ),
    comp AS (SELECT doc_id, min(comp) AS component FROM reach GROUP BY doc_id),
    labeled AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
             d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    rep AS (
      SELECT component, doc_id AS rep_doc, n_chars AS rep_chars,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM labeled
    )
    SELECT l.component, r.rep_doc, r.rep_chars,
           count(*) AS n_members,
           sum(l.n_chars)::BIGINT AS total_chars
    FROM labeled l JOIN rep r ON r.component = l.component AND r.rn = 1
    GROUP BY l.component, r.rep_doc, r.rep_chars
    """,
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection — the curation step AFTER
    near-dup clustering: every document (singletons included) gets its
    MinHash-LSH component, and each component elects one canonical doc
    (longest n_chars, doc_id tiebreak — "keep the most complete copy",
    the RefinedWeb/FineWeb convention, richer than q_dedup_clusters'
    min-id labeling). Output is the per-component manifest: rep, member
    count, and total chars (the dedup savings ledger).

    Scale: components come from the same bucketed LSH + min-label
    machinery as q_dedup_clusters (signatures shuffle, text doesn't);
    the election is a map-side-combined max_by champion keyed on the
    component — no PARTITION BY component window ranks the members, so
    a million-copy cluster collapses per map task."""
    d = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(shingles(d)))
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    labeled = (
        d.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )
    return labeled.groupBy("component").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
        ).alias("rep_doc"),
        F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid")))
        .getField("n_chars")
        .alias("rep_chars"),
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@query(
    "q_dedup_profile",
    oracle="""
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
    hx AS (SELECT md5(shingle) AS hs FROM grams WHERE len(shingle) > 0),
    g AS (SELECT hs, count(*) AS df FROM hx GROUP BY hs)
    SELECT sum(df)::BIGINT AS n_doc_shingles,
           count(*)::BIGINT AS n_distinct,
           sum(CASE WHEN df >= 2 THEN df ELSE 0 END)::BIGINT
             AS n_duplicated,
           cast(cast(round(cast(
             sum(CASE WHEN df >= 2 THEN df ELSE 0 END)
               / cast(sum(df) AS DOUBLE)
             AS DECIMAL(38,12)), 6) AS VARCHAR) AS DOUBLE) AS dup_share,
           max(df)::BIGINT AS max_doc_freq
    FROM g
    """,
)
def q_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile: over all per-doc-distinct 3-gram
    shingles, the share of (doc, shingle) occurrences whose shingle
    appears in ≥2 documents, plus distinct/duplicated counts and the
    hottest shingle's document frequency — the how-duplicated-is-this-
    corpus scalar every dedup-threshold decision starts from (run it
    BEFORE choosing MinHash bands; re-run it after q_dedup_minhash to
    verify the dedup actually moved the number).

    Determinism: integer counts over exact md5 digests; one double
    division.

    Scale: the only wide payload is the 32-char digest, never shingle
    text (the q_dedup_exact discipline); one map-side-combined groupBy
    on the digest, then a single-row rollup of the bounded
    (digest, df) table. The shingle explode happens on spread()
    partitions so its parallelism tracks the scan."""
    d = table(spark, sf_dir, "documents")
    s = shingles(d)
    g = s.select(
        F.md5(F.col("shingle").cast("binary")).alias("hs")
    ).groupBy("hs").agg(F.count(F.lit(1)).alias("df"))
    df_ = F.col("df")
    return g.agg(
        F.sum(df_).cast("bigint").alias("n_doc_shingles"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.when(df_ >= 2, df_).otherwise(0))
        .cast("bigint")
        .alias("n_duplicated"),
        dround(
            F.sum(F.when(df_ >= 2, df_).otherwise(0))
            / F.sum(df_).cast("double"),
            6,
        ).alias("dup_share"),
        F.max(df_).cast("bigint").alias("max_doc_freq"),
    )


@query(
    "q_pipeline_survivorship",
    oracle="""
    WITH hashes AS (
      SELECT doc_id, source, lang, n_chars,
             md5(array_to_string(
               string_split_regex(lower(text), '\\s+')[1:10], ' ')) AS h
      FROM documents
    ),
    grp AS (
      SELECT h, count(*) AS n_members,
             count(DISTINCT source) AS n_sources,
             min(doc_id) AS canonical_doc_id,
             max(n_chars) AS max_n_chars
      FROM hashes GROUP BY h HAVING count(*) > 1
    ),
    src_pick AS (
      SELECT h, source AS survivor_source FROM (
        SELECT h, source, count(*) AS sc FROM hashes GROUP BY h, source
      ) QUALIFY row_number() OVER (PARTITION BY h
                                   ORDER BY sc DESC, source) = 1
    ),
    lang_pick AS (
      SELECT h, lang AS survivor_lang FROM hashes
      QUALIFY row_number() OVER (PARTITION BY h
                                 ORDER BY n_chars DESC, doc_id) = 1
    )
    SELECT g.h, g.n_members, g.n_sources, g.canonical_doc_id,
           g.max_n_chars, s.survivor_source, l.survivor_lang
    FROM grp g JOIN src_pick s USING (h) JOIN lang_pick l USING (h)
    """,
)
def q_pipeline_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (the master-data-management merge):
    for every duplicate group (normalized 10-token-prefix digest seen
    more than once — the q_dedup_cross_source grouping), merge the
    members into ONE surviving record by per-field rules: canonical id
    = lowest doc_id, survivor source = the group's majority source
    (ties to the lexicographically first), survivor lang = the lang of
    the LONGEST member (the highest-fidelity copy), plus member/source
    counts and the max length. This is the step after dedup DETECTION:
    q_dedup_* find the groups, survivorship decides what the merged
    record keeps — required before the corpus can be joined to
    per-document metadata without fan-out.

    Determinism: every pick is a window with a total order (count
    DESC then source ASC; n_chars DESC then doc_id ASC) — no
    engine-dependent argmax ties.

    Scale: text leaves the plan at the scan (only the 32-hex digest +
    three metadata columns shuffle); the three aggregates/windows all
    partition by the digest; group joins are digest-keyed and
    group-sized. Identical shape to q_dedup_cross_source, which holds
    the same 100 TB contract."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.lower(F.col("text")), r"\s+"), 1, 10)
    )
    hashes = d.select(
        F.md5(prefix.cast("binary")).alias("h"),
        "doc_id", "source", "lang", "n_chars",
    )
    grp = (
        hashes.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("n_chars").alias("max_n_chars"),
        )
        .filter(F.col("n_members") > 1)
    )
    wsrc = Window.partitionBy("h").orderBy(F.desc("sc"), F.asc("source"))
    src_pick = (
        hashes.groupBy("h", "source")
        .agg(F.count(F.lit(1)).alias("sc"))
        .withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") == 1)
        .select("h", F.col("source").alias("survivor_source"))
    )
    wlang = Window.partitionBy("h").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    lang_pick = (
        hashes.withColumn("rn", F.row_number().over(wlang))
        .filter(F.col("rn") == 1)
        .select("h", F.col("lang").alias("survivor_lang"))
    )
    return grp.join(src_pick, "h").join(lang_pick, "h").select(
        "h", "n_members", "n_sources", "canonical_doc_id",
        "max_n_chars", "survivor_source", "survivor_lang",
    )
