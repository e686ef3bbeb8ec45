"""Deduplication & similarity-search operators (north-star surface,
BASELINE.json): exact dedup, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine top-k / near-dup, and an LSH-bucketed ANN scale path.

Design for 100 TB:

* Shingle/token expansion is a flatMap (explode) — no shuffle; the only
  shuffles are the groupBy(doc) signature folds and the candidate-pair joins,
  which are *banded* (LSH) so the join key space is tiny versus an all-pairs
  comparison. Brute-force all-pairs variants exist as correctness baselines
  and are marked as such.
* All hashing is md5-derived and engine-portable (and the ANN hyperplanes
  are md5-seeded doubles embedded as literals in the oracle SQL), so every
  op except the IVF path is fully oracle-checkable in DuckDB with identical
  constants.
* Everything is Catalyst built-ins (explode / higher-order array functions /
  window) — no Python UDF anywhere.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.functions.text import fingerprint, tokens
from wheels_in_motion_analytics_spark.registry import REGISTRY, register
from wheels_in_motion_analytics_spark.tables import table

# ---------------------------------------------------------------------------
# Portable hashing: 60-bit (or n-hex-digit) integers from md5, identical in
# Spark (conv) and DuckDB ('0x…'::BIGINT). Murmur/xxhash would be faster but
# engine-specific; md5 keeps every op differential-testable.
# ---------------------------------------------------------------------------


def hash_hex(col: Column, hex_digits: int = 15) -> Column:
    """First ``hex_digits`` md5 hex chars as a non-negative BIGINT (≤60 bits)."""
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("bigint")


def _oracle_hash(expr: str, hex_digits: int = 15) -> str:
    return f"('0x' || substr(md5({expr}), 1, {hex_digits}))::BIGINT"


# --- word shingles ---------------------------------------------------------

SHINGLE_N = 3

_ORACLE_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

# doc_id + distinct 3-word shingles, as a DuckDB CTE chain.


def oracle_shingles(src: str = "documents") -> str:
    """The shingle CTE chain over any source relation with (doc_id, text)."""
    return f"""
toks AS (SELECT doc_id, {_ORACLE_TOKS} AS ws FROM {src}),
idx AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM toks),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM idx WHERE i + 2 <= len(ws)
)"""


_ORACLE_SHINGLES = oracle_shingles()


def shingles_from_tokens(ws: Column, n: int = SHINGLE_N) -> Column:
    """Distinct n-word shingles from a token-array column.

    ``ws`` MUST be a materialized column reference, not a nested expression:
    expressions inside the transform lambda are re-evaluated per element, so
    an inline tokenize here would cost O(words²) per document.
    """
    cnt = F.size(ws) - (n - 1)
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)]),
        )
    )


def shingles(col: Column, n: int = SHINGLE_N) -> Column:
    """Distinct n-word shingles of a raw text column (small inputs only —
    see shingles_from_tokens for the per-element evaluation caveat)."""
    return shingles_from_tokens(tokens(col), n)


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) exploded — the inverted-index input.

    Two deliberate physical choices: (1) the documents table arrives as one
    parquet file (one input split) and shingling is the expensive part, so
    repartition raw text across all cores first — on a real lake the input
    already has many splits and this drops out; (2) tokenize into a real
    column BEFORE shingling so the token array is computed once per doc,
    not once per shingle element.
    """
    par = spark.sparkContext.defaultParallelism
    return doc_shingles_of(table(spark, sf_dir, "documents").repartition(par))


def doc_shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded from any (doc_id, text) DataFrame."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ws"))
    return toks.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("ws"))).alias("s")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    category="dedup-llm",
    doc="Exact dedup by normalization fingerprint: one hash-groupBy, keep "
    "min(doc_id) as the canonical representative.",
    oracle="""
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact) — baseline the LSH ops are judged against
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.8


@register(
    "dedup_ngram_jaccard",
    category="dedup-llm",
    doc="Exact 3-gram Jaccard near-dup pairs via inverted-index self-join "
    "(shingle explode → join on shingle → |A∩B| / |A∪B| ≥ 0.8). The "
    "correctness baseline for MinHash.",
    oracle=f"""
WITH {_ORACLE_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three consumers (both join sides + the size agg): shingle once.
    sh = doc_shingles(spark, sf_dir).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), F.col("d1") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("d2") == F.col("sb.doc_id"))
        .where(jac >= JACCARD_THRESHOLD)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH — the scale path for fuzzy dedup
# ---------------------------------------------------------------------------

MINHASH_K = 8  # signature length (permutations)
LSH_ROWS = 2  # rows per band
LSH_BANDS = MINHASH_K // LSH_ROWS  # 4 bands → s-curve threshold ≈ 0.5

# Universal-hash permutations: perm_j(s) = (a_j * h28(s) + b_j) mod P, with
# ONE md5 per shingle instead of K. P prime < 2^29 and h < 2^28 keep every
# product < 2^57 — no int64 overflow in either engine. Constants are
# md5-seeded so the DuckDB oracle reproduces them exactly.
MINHASH_P = 536870909  # largest prime < 2^29


def _minhash_coeffs() -> list[tuple[int, int]]:
    coeffs = []
    for j in range(MINHASH_K):
        a = int(hashlib.md5(f"minhash-a:{j}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"minhash-b:{j}".encode()).hexdigest()[:15], 16) % MINHASH_P
        coeffs.append((a, b))
    return coeffs


MINHASH_COEFFS = _minhash_coeffs()


def oracle_minhash_pairs(with_clauses: str) -> str:
    """Full MinHash+LSH pair SQL given the WITH-chain that produces the
    shingle relation ``sh`` (doc_id, s)."""
    return f"""
WITH {with_clauses},
h AS (SELECT doc_id, {_oracle_hash("s", 7)} AS h FROM sh),
sig AS (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * h + {b}) % {MINHASH_P}) AS m{j}" for j, (a, b) in enumerate(MINHASH_COEFFS))}
  FROM h GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band_idx, "
      f"md5(CAST(m{LSH_ROWS * b} AS VARCHAR) || '_' || CAST(m{LSH_ROWS * b + 1} AS VARCHAR)) AS band_key FROM sig"
      for b in range(LSH_BANDS)
  )}
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
"""


@register(
    "dedup_minhash_lsh",
    category="dedup-llm",
    doc=f"MinHash({MINHASH_K}) + LSH({LSH_BANDS} bands × {LSH_ROWS}) candidate "
    "pairs: shingle→minhash signature→band keys→bucket self-join. Join key "
    "space is |bands × buckets|, never all-pairs — the 100 TB fuzzy-dedup "
    "shape. md5-derived permutations keep it oracle-checkable.",
    oracle=oracle_minhash_pairs(_ORACLE_SHINGLES),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = doc_shingles(spark, sf_dir).select("doc_id", hash_hex(F.col("s"), 7).alias("h"))
    return minhash_lsh_pairs(hashed)


def minhash_lsh_pairs(hashed: DataFrame) -> DataFrame:
    """MinHash signature → banded keys → bucket self-join over any
    (doc_id, h) hashed-shingle DataFrame (the reusable core of
    dedup_minhash_lsh — see its doc/oracle for the full story)."""
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{j}")
            for j, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_",
                    F.col(f"m{LSH_ROWS * b}").cast("string"),
                    F.col(f"m{LSH_ROWS * b + 1}").cast("string"),
                )
            )
            for b in range(LSH_BANDS)
        ]
    )
    banded = sig.select(
        "doc_id", F.posexplode(band_keys).alias("band_idx", "band_key")
    ).localCheckpoint()  # self-joined: cut lineage so shingling + the
    # signature agg run once, not once per join side (exchange reuse under
    # AQE is best-effort, and at 16x corpus the recompute dominates).
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


@register(
    "simhash_signature",
    category="dedup-llm",
    doc=f"{SIMHASH_BITS}-bit SimHash per document: token-frequency-weighted "
    "bit votes over md5-derived token hashes. Signature build is one "
    "explode + one groupBy.",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_ORACLE_TOKS}) AS t FROM documents
),
h AS (SELECT doc_id, {_oracle_hash("t", 8)} AS h FROM tok),
votes AS (
  SELECT doc_id, COUNT(*) AS n,
         {", ".join(f"SUM((h >> {i}) & 1) AS s{i}" for i in range(SIMHASH_BITS))}
  FROM h GROUP BY doc_id
)
SELECT doc_id,
       CAST({" + ".join(f"(CASE WHEN 2 * s{i} > n THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS))} AS BIGINT)
         AS simhash
FROM votes
""",
)
def simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .select("doc_id", hash_hex(F.col("t"), 8).alias("h"))
    )
    # shift-sum votes: s_i = #tokens with bit i set; majority ⇔ 2*s_i > n.
    # Identical semantics to the ±1-vote form, ~40% cheaper per aggregate
    # (no CASE branch per token per bit).
    votes = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"s{i}")
            for i in range(SIMHASH_BITS)
        ],
    )
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(2 * F.col(f"s{i}") > F.col("n"), F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("bigint").alias("simhash"))


SIMHASH_BAND_BITS = 8
SIMHASH_HAMMING_MAX = 6


@register(
    "dedup_simhash_pairs",
    category="dedup-llm",
    doc="SimHash near-dup pairs, banded: join on any equal 8-bit chunk "
    "(pigeonhole: hamming ≤ 6 over 4 chunks ⇒ ≥1 equal chunk), then verify "
    "bit_count(xor) ≤ 6. Candidate space is per-chunk buckets, not all-pairs.",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_ORACLE_TOKS}) AS t FROM documents
),
h AS (SELECT doc_id, {_oracle_hash("t", 8)} AS h FROM tok),
votes AS (
  SELECT doc_id, COUNT(*) AS n,
         {", ".join(f"SUM((h >> {i}) & 1) AS s{i}" for i in range(SIMHASH_BITS))}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         CAST({" + ".join(f"(CASE WHEN 2 * s{i} > n THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS))} AS BIGINT)
           AS simhash
  FROM votes
),
chunks AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, simhash, {c} AS chunk_idx, (simhash >> {c * SIMHASH_BAND_BITS}) & 255 AS chunk FROM sig"
      for c in range(SIMHASH_BITS // SIMHASH_BAND_BITS)
  )}
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM chunks a
JOIN chunks b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
            AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = simhash_signature(spark, sf_dir)
    n_chunks = SIMHASH_BITS // SIMHASH_BAND_BITS
    chunked = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * SIMHASH_BAND_BITS).bitwiseAND(F.lit(255))
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    ).localCheckpoint()  # self-joined: tokenize + signature agg run once
    a = chunked.alias("a")
    b = chunked.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(hamming <= SIMHASH_HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product of two array columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


# ---------------------------------------------------------------------------
# Vector-search core: every step the ANN, SemDeDup and PQ queries share,
# written once — normalize, rank the frozen IVF cells, bucket by hyperplane
# sign, re-rank candidate pairs by exact cosine, keep the top k — plus the
# DuckDB renderers of the same constants.
# ---------------------------------------------------------------------------

ANN_TABLES = 8  # L independent hash tables
ANN_BITS = 5  # bits (hyperplanes) per table
ANN_DIM = 64


def _hyperplanes(n_planes: int | None = None) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1], md5-seeded.

    Driver-side constants (tiny), broadcast into the plan as literals — the
    equivalent of shipping a small model artifact with the job.
    """
    planes = []
    for p in range(ANN_TABLES * ANN_BITS if n_planes is None else n_planes):
        row = []
        for d in range(ANN_DIM):
            h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append((h / float(1 << 60)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _norm_vectors_of(vectors: DataFrame) -> DataFrame:
    """(vec_id, e double[], nrm) from any (vec_id, embedding) DataFrame."""
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return vectors.select("vec_id", e.alias("e")).withColumn(
        "nrm", F.sqrt(dot(F.col("e"), F.col("e")))
    )


def _centroid_df(spark: SparkSession) -> DataFrame:
    """The frozen IVF coarse quantizer as a (cell, cvec double[]) relation."""
    from wheels_in_motion_analytics_spark.functions.ivf_artifact import (
        IVF_FROZEN_CENTROIDS,
    )

    return spark.createDataFrame(
        [(c, [float(v) for v in row]) for c, row in enumerate(IVF_FROZEN_CENTROIDS)],
        "cell INT, cvec ARRAY<DOUBLE>",
    )


def cell_ranks(nv: DataFrame, keep: int) -> DataFrame:
    """``nv`` columns plus (cell, sim, rnk): each vector's ``keep`` nearest
    frozen IVF cells. The 16-row centroid relation is broadcast into a
    crossJoin (n × cells rows); the JVM-side sequential-fold dot product
    matches the oracle's list_dot_product, and the cosine is rounded to
    6 dp so ranking ties break portably on the cell id."""
    sim = F.round(dot(F.col("e"), F.col("cvec")) / F.col("nrm"), 6)
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    return (
        nv.crossJoin(F.broadcast(_centroid_df(nv.sparkSession)))
        .withColumn("sim", sim)
        .drop("cvec")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= keep)
    )


def hyperplane_buckets(nv: DataFrame, tables: int, bits: int) -> DataFrame:
    """(vec_id, tbl, bucket): ``tables`` random-hyperplane signatures of
    ``bits`` sign bits per vector of ``nv``, all tables in one numpy matmul
    per Arrow batch against the md5-seeded plane matrix."""
    planes = _hyperplanes(tables * bits)

    def signatures(batches):
        import numpy as np
        import pandas as pd

        pm = np.array(planes, dtype="float64")  # (tables*bits) x dim
        weights = np.array([1 << i for i in range(bits)], dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["e"].to_numpy()).astype("float64")
            sgn = (q @ pm.T >= 0).astype("int64").reshape(len(q), tables, bits)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), tables),
                    "tbl": np.tile(np.arange(tables), len(q)),
                    "bucket": (sgn * weights).sum(axis=2).reshape(-1),
                }
            )

    return nv.select("vec_id", "e").mapInPandas(
        signatures, "vec_id BIGINT, tbl INT, bucket BIGINT"
    )


def _exact_cosine_rerank(nv: DataFrame, pairs: DataFrame) -> DataFrame:
    """``pairs`` (query_id, neighbor_id, any other columns pass through)
    plus their exact 4-dp cosine, WITHOUT any driver-side corpus collect:
    join the pair list back to the normalized relation ``nv`` for both
    sides' vectors. Each join is a plain hash join on vec_id —
    co-partitionable at 100 TB, where the corpus can never be collected or
    broadcast (the round-1 weakness of the gather-from-broadcast-matrix
    re-rank). Locally the optimizer still auto-broadcasts the small vector
    side by size. The dot product is a JVM-side higher-order fold —
    measured faster than an Arrow pandas UDF here, because shipping two
    vectors per candidate pair through Arrow costs more than the fold
    saves."""
    q = nv.select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("q_e"), F.col("nrm").alias("q_nrm")
    )
    n = nv.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("n_e"), F.col("nrm").alias("n_nrm")
    )
    cosine = dot(F.col("q_e"), F.col("n_e")) / (F.col("q_nrm") * F.col("n_nrm"))
    return (
        pairs.join(q, "query_id")
        .join(n, "neighbor_id")
        .select(*pairs.columns, F.round(cosine, 4).alias("cosine"))
    )


def cosine_topk(scored: DataFrame, k: int) -> DataFrame:
    """``scored`` plus ``rnk``, keeping each query's top ``k`` rows under the
    total order (cosine desc, neighbor_id asc)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def oracle_vector_values(name: str, cols: str, rows) -> str:
    """A DuckDB ``VALUES`` CTE ``name (cols)`` over (key..., vector) rows. The
    vectors embed as repr'd double literals, so both engines parse
    bit-identical constants."""
    values = ",\n    ".join(
        f"({''.join(f'{k}, ' for k in keys)}[{', '.join(repr(float(v)) for v in vec)}])"
        for *keys, vec in rows
    )
    return f"{name} ({cols}) AS (\n  SELECT * FROM (VALUES\n    {values}\n  ) AS t({cols})\n)"


def _oracle_cents() -> str:
    """The frozen IVF centroids as the oracle CTE ``cents (cell, cvec)``."""
    from wheels_in_motion_analytics_spark.functions.ivf_artifact import (
        IVF_FROZEN_CENTROIDS,
    )

    return oracle_vector_values("cents", "cell, cvec", enumerate(IVF_FROZEN_CENTROIDS))


def _oracle_hyperplane_buckets(tables: int, bits: int) -> str:
    """DuckDB rendition of :func:`hyperplane_buckets` over the ``nn`` CTE:
    the planes as repr'd double literals, the same >= 0 sign rule."""
    planes = _hyperplanes(tables * bits)
    return "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, ("
        + " + ".join(
            f"(CASE WHEN list_dot_product(e, [{', '.join(repr(v) for v in planes[t * bits + i])}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(bits)
        )
        + ") AS bucket FROM nn"
        for t in range(tables)
    )


BF_BLOCK_TARGET = 512  # vectors per block-matmul chunk (bounds task memory)


def _blocked_pair_scores(vectors: DataFrame, mode: str, topk: int = 3) -> DataFrame:
    """Distributed block-nested-loop exact cosine scorer — the collect-free,
    matmul-speed formulation of all-pairs similarity.

    Both sides are chunked into B = ceil(n / BF_BLOCK_TARGET) blocks
    (collect_list per block → B rows of ≤ BF_BLOCK_TARGET vectors); the B²
    block-pair cells are a crossJoin of two tiny relations, and each cell is
    one numpy matmul inside mapInPandas. Task memory is bounded by two
    chunks (BF_BLOCK_TARGET² score cells), independent of corpus size, and
    no task — and crucially no driver — ever sees the whole corpus. At 100 TB
    the quadratic cell count is the DEFINITION of exact all-pairs; the scale
    path remains LSH (ann_lsh_bucketed), which prunes cells instead.

    mode='topk':   per-cell top-k per query by (rounded cosine desc, id asc);
                   exact because global top-k = top-k of per-cell top-k.
    mode='thresh': pairs with query_id < neighbor_id (each unordered pair
                   scored in exactly one cell), threshold applied by caller.
    """
    import pyspark.sql.types as T

    n = vectors.count()
    blocks = max(1, -(-n // BF_BLOCK_TARGET))

    def side(prefix: str) -> DataFrame:
        # chunk on a HASH of the id, not pmod(id): block sizes must be
        # data-independent — a sparse or strided vec_id space would skew
        # pmod chunks far past BF_BLOCK_TARGET. Block assignment never
        # reaches the output (exact scores, every pair in exactly one
        # cell), so engine-local xxhash64 is fine here.
        return (
            vectors.withColumn(
                "blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(blocks)).cast("int")
            )
            .groupBy("blk")
            .agg(F.collect_list(F.struct("vec_id", "embedding")).alias(f"{prefix}_chunk"))
            .withColumnRenamed("blk", f"{prefix}_blk")
        )

    cells = side("q").crossJoin(side("c"))

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for q_chunk, c_chunk in zip(pdf["q_chunk"], pdf["c_chunk"]):
                q_ids = np.array([r["vec_id"] for r in q_chunk], dtype="int64")
                c_ids = np.array([r["vec_id"] for r in c_chunk], dtype="int64")
                q = np.stack([np.asarray(r["embedding"], dtype="float64") for r in q_chunk])
                c = np.stack([np.asarray(r["embedding"], dtype="float64") for r in c_chunk])
                qn = np.sqrt((q * q).sum(axis=1))
                cn = np.sqrt((c * c).sum(axis=1))
                # rounded to 4 dp so blocked summation agrees with the
                # oracle's sequential sum and ranking ties are portable
                sims = np.round((q @ c.T) / np.outer(qn, cn), 4)
                if mode == "topk":
                    out_q, out_n, out_c = [], [], []
                    for i in range(len(q_ids)):
                        row = sims[i]
                        mask = c_ids != q_ids[i]
                        sel = np.lexsort((c_ids[mask], -row[mask]))[:topk]
                        out_q.extend([q_ids[i]] * len(sel))
                        out_n.extend(c_ids[mask][sel].tolist())
                        out_c.extend(row[mask][sel].tolist())
                    yield pd.DataFrame(
                        {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
                    )
                else:
                    ii, jj = np.nonzero(q_ids[:, None] < c_ids[None, :])
                    yield pd.DataFrame(
                        {
                            "query_id": q_ids[ii],
                            "neighbor_id": c_ids[jj],
                            "cosine": sims[ii, jj],
                        }
                    )

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    return cells.mapInPandas(score, schema)


_ORACLE_NORM = """
n AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), nn AS (
  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM n
)"""

ANN_TOPK = 3


@register(
    "similarity_topk_bruteforce",
    category="similarity",
    doc=f"Brute-force cosine top-{ANN_TOPK} neighbors per vector — the exact "
    "baseline ANN variants are measured against. All-pairs by DEFINITION "
    "(quadratic cell count), but collect-free AND matmul-speed: distributed "
    "block-nested-loop via _blocked_pair_scores (bounded chunks, one numpy "
    "matmul per cell, exact global top-k merge). No driver collect / corpus "
    "broadcast anywhere in the plan. The scale path is ann_lsh_bucketed.",
    oracle=f"""
WITH {_ORACLE_NORM}
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) DESC,
                    b.vec_id ASC
         ) AS rnk
  FROM nn a JOIN nn b ON a.vec_id <> b.vec_id
) WHERE rnk <= {ANN_TOPK}
""",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").localCheckpoint()
    # per-cell top-k candidates (B×k per query), then exact global top-k
    return cosine_topk(_blocked_pair_scores(vectors, mode="topk", topk=ANN_TOPK), ANN_TOPK)


NEAR_DUP_COSINE = 0.4


@register(
    "embedding_near_dup_pairs",
    category="similarity",
    doc=f"Embedding near-duplicate pairs: cosine ≥ {NEAR_DUP_COSINE}, "
    "d1 < d2 (rounded, deterministic).",
    oracle=f"""
WITH {_ORACLE_NORM}
SELECT a.vec_id AS d1, b.vec_id AS d2,
       ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine
FROM nn a JOIN nn b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= {NEAR_DUP_COSINE}
""",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Unordered pairs (d1 < d2): each pair scored in exactly one block cell,
    # no driver collect anywhere in the plan.
    vectors = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").localCheckpoint()
    return (
        _blocked_pair_scores(vectors, mode="thresh")
        .where(F.col("cosine") >= NEAR_DUP_COSINE)
        .select(
            F.col("query_id").alias("d1"),
            F.col("neighbor_id").alias("d2"),
            "cosine",
        )
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN — the scale path
# ---------------------------------------------------------------------------

def lsh_topk(vectors: DataFrame, tables: int = ANN_TABLES, bits: int = ANN_BITS) -> DataFrame:
    """Multi-table random-hyperplane LSH ANN over any (vec_id, embedding)
    DataFrame: per-table bucket hash joins for candidates, join-back exact
    cosine re-rank, top-1 per query. (tables × bits) is the recall/cost
    dial; size 2^bits ≳ corpus/targets-per-bucket so candidate sets stay
    bounded."""
    # Callers may pass a COMPUTED corpus (e.g. the 16x rotation expansion);
    # three downstream consumers re-derive it otherwise (signature matmul,
    # query-side and neighbor-side of the re-rank join). Materialize once.
    nv = _norm_vectors_of(vectors).localCheckpoint()
    # Self-joined below — materialize once so the signature matmul doesn't
    # run for both sides of the join.
    sigged = hyperplane_buckets(nv, tables, bits).localCheckpoint()

    # Candidates = same (table, bucket) — a hash join on the bucket key,
    # never all-pairs. Generated as ORDERED pairs (a < b): cosine is
    # symmetric, so each unordered pair is scored once and mirrored
    # afterwards — half the dedup shuffle and half the re-rank join volume
    # of emitting both directions.
    a = sigged.alias("a")
    b = sigged.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    # Exact cosine via join-back to the vector table — no driver collect,
    # no corpus broadcast (see _exact_cosine_rerank). Mirror the scored
    # pairs so every vector sees its full neighbor set for top-1. The
    # mirror below references `scored` twice; without a lineage cut the
    # whole candidate join + re-rank runs once per branch (exchange reuse is
    # plan-dependent under AQE — make it unconditional).
    scored = _exact_cosine_rerank(nv, cand).localCheckpoint()
    both = scored.unionByName(
        scored.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("query_id").alias("neighbor_id"),
            "cosine",
        )
    )
    return cosine_topk(both, 1).select("query_id", "neighbor_id", "cosine")


def _oracle_lsh_topk(
    tables: int = ANN_TABLES,
    bits_per_table: int = ANN_BITS,
    norm_cte: str | None = None,
) -> str:
    """DuckDB rendition of the full LSH pipeline: the md5-seeded planes are
    embedded as repr'd double literals (bit-identical parse), bucket bits
    from the same >= 0 sign rule, candidates from the same (tbl, bucket)
    ordered-pair join, cosine rounded to 4 decimals with the same
    neighbor_id tiebreak. ``norm_cte`` must end with an ``nn`` CTE exposing
    (vec_id, e double[], nrm); defaults to the raw embeddings table."""
    return f"""
WITH {norm_cte if norm_cte is not None else _ORACLE_NORM},
sig AS (
  {_oracle_hyperplane_buckets(tables, bits_per_table)}
),
cand AS (
  SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
  FROM sig a JOIN sig b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
  SELECT qa AS query_id, qb AS neighbor_id,
         round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 4) AS cosine
  FROM cand JOIN nn x ON qa = x.vec_id JOIN nn y ON qb = y.vec_id
),
mirrored AS (
  SELECT query_id, neighbor_id, cosine FROM scored
  UNION ALL
  SELECT neighbor_id AS query_id, query_id AS neighbor_id, cosine FROM scored
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM mirrored
) WHERE rn = 1
"""


@register(
    "ann_lsh_bucketed",
    category="similarity",
    doc=f"Multi-table random-hyperplane LSH ANN: {ANN_TABLES} tables × "
    f"{ANN_BITS}-bit buckets; candidates = same bucket in ANY table; exact "
    "cosine re-rank via join-back to embeddings (no corpus collect or "
    "broadcast); top-1 per query. The 100 TB path: per-table bucket joins "
    "are hash joins on (table, bucket) and the candidate set is a few "
    "buckets, never the corpus. (tables × bits) is the recall/cost dial — "
    "more tables = higher recall, more candidates. Fully oracle-checked: "
    "the md5-seeded planes embed as double literals in the DuckDB SQL, so "
    "bucketing, candidate join, re-rank and tiebreak are all replicated "
    "(recall vs brute force additionally asserted in "
    "tests/test_similarity.py).",
    oracle=_oracle_lsh_topk(),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_topk(table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))


# ---------------------------------------------------------------------------
# IVF ANN — the other classic scale path (coarse quantizer + cell probe)
# ---------------------------------------------------------------------------

IVF_CELLS = 16
IVF_NPROBE = 3
IVF_KMEANS_ITERS = 5
IVF_TRAIN_SAMPLE = 4096  # bounded training-set size, independent of corpus


def _ivf_centroids(mat, norms):
    """Deterministic k-means coarse quantizer on the unit sphere: init from
    evenly strided training rows, fixed iteration count — same centroids
    every run, every engine."""
    import numpy as np

    unit = mat / norms[:, None]
    stride = max(len(unit) // IVF_CELLS, 1)
    cents = unit[::stride][:IVF_CELLS].copy()
    for _ in range(IVF_KMEANS_ITERS):
        assign = (unit @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = unit[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def _train_ivf_centroids(spark: SparkSession, sf_dir: str):
    """Train the coarse quantizer ONCE, driver-side, on a BOUNDED sample.

    The sample is a deterministic distributed top-K (order by md5 of the id,
    take IVF_TRAIN_SAMPLE rows) — at 100 TB this collects a fixed few MB, not
    the corpus; training IVF on a subset is the standard sketch (the corpus
    itself is never collected or broadcast). Round 1 recomputed centroids
    from a full broadcast corpus matrix inside every task — both the collect
    and the per-task recompute are gone."""
    import numpy as np

    rows = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(IVF_TRAIN_SAMPLE)
        .collect()
    )
    mat = np.array([r.embedding for r in rows], dtype="float64")
    norms = np.sqrt((mat * mat).sum(axis=1))
    return _ivf_centroids(mat, norms)


def _oracle_ivf_topk() -> str:
    """DuckDB rendition of the full IVF pipeline: the frozen centroids embed
    as repr'd double literals (bit-identical parse); cell similarity is
    rounded to 6 dp on both engines so ranking ties break portably on cell
    id; probe(nprobe)⋈assign(rank 1) candidate join, 4-dp re-rank and
    neighbor tiebreak all replicated."""
    return f"""
WITH {_ORACLE_NORM},
{_oracle_cents()},
sims AS (
  SELECT vec_id, cell,
         ROUND(list_dot_product(e, cvec) / nrm, 6) AS sim
  FROM nn CROSS JOIN cents
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rnk
  FROM sims
),
probes AS (SELECT vec_id AS query_id, cell FROM ranked WHERE rnk <= {IVF_NPROBE}),
assign AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE rnk = 1),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM probes JOIN assign USING (cell)
  WHERE query_id <> neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine
  FROM cand JOIN nn a ON cand.query_id = a.vec_id
            JOIN nn b ON cand.neighbor_id = b.vec_id
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


@register(
    "ann_ivf_cells",
    category="similarity",
    doc=f"IVF ANN: {IVF_CELLS}-cell spherical k-means coarse quantizer — a "
    "FROZEN model artifact (functions/ivf_artifact.py, trained once by "
    "tools/gen_ivf_artifact.py on the bounded md5 sample; the production "
    "per-corpus trainer _train_ivf_centroids stays and is pinned equal to "
    f"the artifact in tests). Each query probes its {IVF_NPROBE} nearest "
    "cells; candidates come from a hash join on the cell id and are "
    "exact-ranked via join-back to embeddings — no corpus collect/broadcast "
    "anywhere. The inverted-file counterpart to LSH bucketing. FULLY "
    "oracle-checked: centroids embed as double literals in the DuckDB SQL "
    "(cell ranking, probe/assign join, re-rank, tiebreaks all replicated); "
    "recall vs brute force additionally asserted in tests/test_similarity.py.",
    oracle=_oracle_ivf_topk(),
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _norm_vectors_of(table(spark, sf_dir, "embeddings"))
    # Both sides of the probe⋈assign self-join read the ranking —
    # materialize once so the ranking stage doesn't run twice (same guard
    # as connected_components' lineage cut).
    ranked = cell_ranks(nv, IVF_NPROBE).select("vec_id", "cell", "rnk").localCheckpoint()
    assign = ranked.where(F.col("rnk") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    probes = ranked.select(F.col("vec_id").alias("query_id"), "cell")

    # Relational candidate generation: probe-cells ⋈ cell-assignments — a
    # hash join on the cell id, never all-pairs.
    cand = (
        probes.join(assign, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return cosine_topk(_exact_cosine_rerank(nv, cand), 1).select(
        "query_id", "neighbor_id", "cosine"
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via cluster-bounded pairwise cosine
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4  # within-cell cosine at/above which the later id is pruned


def _oracle_semdedup() -> str:
    """DuckDB rendition of the SemDeDup prune: identical rank-1 centroid
    assignment as the IVF oracle (6-dp rounded cosine, cell-id tiebreak),
    within-cell unordered pairs at 4-dp rounding, drop rule and keeper
    choice replicated exactly."""
    return f"""
WITH {_ORACLE_NORM},
{_oracle_cents()},
sims AS (
  SELECT vec_id, cell,
         ROUND(list_dot_product(e, cvec) / nrm, 6) AS sim
  FROM nn CROSS JOIN cents
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rnk
    FROM sims) WHERE rnk = 1
),
dup_edges AS (
  SELECT a.cell AS cell, a.vec_id AS keeper, b.vec_id AS vec_id,
         ROUND(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 4) AS cosine
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN nn x ON a.vec_id = x.vec_id
  JOIN nn y ON b.vec_id = y.vec_id
  WHERE ROUND(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 4) >= {SEMDEDUP_TAU}
),
dropped AS (
  SELECT cell, vec_id, MIN(keeper) AS kept_by FROM dup_edges
  GROUP BY cell, vec_id
)
SELECT d.cell, d.vec_id, d.kept_by, e.cosine
FROM dropped d JOIN dup_edges e
  ON d.vec_id = e.vec_id AND d.kept_by = e.keeper
"""


@register(
    "semdedup_cluster_prune",
    category="similarity",
    doc=f"SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning "
    "with cluster-bounded pairwise cosine. Vectors are assigned to their "
    f"nearest frozen IVF centroid (the {IVF_CELLS}-cell quantizer artifact "
    "shared with ann_ivf_cells), pairwise cosine runs ONLY within a cell "
    "(a hash self-join on the cell id — never corpus all-pairs; at real "
    "scale k is sized so cells stay ~sqrt(N)), and any vector with a "
    f"cosine-≥{SEMDEDUP_TAU} neighbor of smaller id in its cell is pruned, "
    "recording its keeper (the smallest such neighbor — the deterministic "
    "one-pass 'keep first' variant of the paper's sequential greedy). "
    "FULLY oracle-checked: centroids embed as double literals, 6-dp "
    "assignment and 4-dp pair rounding replicated. The norm and assignment "
    "relations are localCheckpoint'd (each feeds multiple joins).",
    oracle=_oracle_semdedup(),
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _norm_vectors_of(table(spark, sf_dir, "embeddings")).localCheckpoint()
    assign = cell_ranks(nv, 1).select("vec_id", "cell").localCheckpoint()
    # within-cell unordered pairs — the ONLY pair generator, bounded by
    # cell occupancy, then exact cosine via join-back to the norm relation
    left = assign.select(F.col("vec_id").alias("query_id"), "cell")
    right = assign.select(F.col("vec_id").alias("neighbor_id"), F.col("cell").alias("c2"))
    pairs = left.join(
        right, (F.col("cell") == F.col("c2")) & (F.col("query_id") < F.col("neighbor_id"))
    ).select("cell", "query_id", "neighbor_id")
    dup_edges = (
        _exact_cosine_rerank(nv, pairs)
        .where(F.col("cosine") >= SEMDEDUP_TAU)
        .select(
            "cell",
            F.col("query_id").alias("keeper"),
            F.col("neighbor_id").alias("vec_id"),
            "cosine",
        )
        .localCheckpoint()
    )
    dropped = dup_edges.groupBy("cell", "vec_id").agg(F.min("keeper").alias("kept_by"))
    return dropped.join(
        dup_edges.select("vec_id", F.col("keeper").alias("kept_by"), "cosine"),
        ["vec_id", "kept_by"],
    ).select("cell", "vec_id", "kept_by", "cosine")


# ---------------------------------------------------------------------------
# K-means Lloyd update — the TRAINING half of the IVF quantizer
# ---------------------------------------------------------------------------


def _oracle_kmeans_update() -> str:
    """DuckDB rendition of one exact Lloyd iteration from the frozen
    centroids: identical rank-1 assignment (6-dp rounded cosine, cell-id
    tiebreak), per-dim member sums on the 1e6 integer grid (exact,
    order-independent), centroid shift via exact integer numerators
    squared in HUGEINT (BIGINT would overflow at Σ(~4e9)²)."""
    return f"""
WITH {_ORACLE_NORM},
{_oracle_cents()},
sims AS (
  SELECT vec_id, cell,
         ROUND(list_dot_product(e, cvec) / nrm, 6) AS sim
  FROM nn CROSS JOIN cents
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rnk
  FROM sims
),
assign AS (SELECT vec_id, cell FROM ranked WHERE rnk = 1),
member AS (
  SELECT a.cell,
         list_transform(nn.e, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS qe
  FROM assign a JOIN nn USING (vec_id)
),
dims AS (
  SELECT cell, i AS pos, qe[i + 1] AS qv
  FROM member, unnest(range({ANN_DIM})) AS t(i)
),
per_dim AS (
  SELECT cell, pos,
         CAST(SUM(qv) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM dims GROUP BY cell, pos
),
oldq AS (
  SELECT cell, i AS pos,
         CAST(floor(cvec[i + 1] * 1e6 + 0.5) AS BIGINT) AS old_q
  FROM cents, unnest(range({ANN_DIM})) AS t(i)
)
SELECT p.cell,
       CAST(MAX(p.n) AS BIGINT) AS n_members,
       CAST(SUM(abs(p.s)) AS BIGINT) AS shift_digest,
       ROUND(sqrt(CAST(SUM(CAST(p.s - o.old_q * p.n AS HUGEINT)
                           * (p.s - o.old_q * p.n)) AS DOUBLE))
             / (MAX(p.n) * 1e6), 6) AS movement
FROM per_dim p JOIN oldq o USING (cell, pos)
GROUP BY p.cell
"""


@register(
    "kmeans_lloyd_update",
    category="similarity",
    doc="One EXACT Lloyd iteration of the IVF coarse quantizer — the "
    "training half that ann_ivf_cells' frozen artifact comes from, run as "
    "a first-class distributed query: rank-1 cosine assignment against "
    "the frozen centroids (16-row broadcast crossJoin, same 6-dp/cell-id "
    "tiebreak as ann_ivf_cells), per-dim member sums on the 1e6 integer "
    "grid via posexplode+groupBy (exact BIGINT accumulation — no float "
    "summation order anywhere), and the per-cell centroid SHIFT from "
    "exact integer numerators (Σdiff² in DECIMAL(38,0)/HUGEINT; BIGINT "
    "would overflow). At 100 TB each iteration is one broadcast-assign + "
    "one (cell,dim)-grain shuffle of k·d rows — the canonical scalable "
    "k-means step; iterate by re-freezing centroids between passes "
    "(tools/gen_ivf_artifact.py). Output: members, L1 sum digest, and "
    "centroid movement per cell.",
    oracle=_oracle_kmeans_update(),
)
def kmeans_lloyd_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _norm_vectors_of(table(spark, sf_dir, "embeddings"))
    qe = F.transform(F.col("e"), lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("bigint"))
    member = cell_ranks(nv, 1).select("cell", qe.alias("qe"))
    per_dim = (
        member.select("cell", F.posexplode("qe").alias("pos", "qv"))
        .groupBy("cell", "pos")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    oldq = _centroid_df(spark).select(
        "cell", F.posexplode("cvec").alias("pos", "ov")
    ).select(
        "cell", "pos", F.floor(F.col("ov") * 1e6 + F.lit(0.5)).cast("bigint").alias("old_q")
    )
    diff = (F.col("s") - F.col("old_q") * F.col("n")).cast("decimal(38,0)")
    return (
        per_dim.join(F.broadcast(oldq), ["cell", "pos"])
        .groupBy("cell")
        .agg(
            F.max("n").alias("n_members"),
            F.sum(F.abs(F.col("s"))).alias("shift_digest"),
            F.round(
                F.sqrt(F.sum(diff * diff).cast("double"))
                / (F.max("n") * F.lit(1e6)),
                6,
            ).alias("movement"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup clusters — connected components over the near-dup graph
# ---------------------------------------------------------------------------


def connected_components(nodes: DataFrame, edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label propagation to a fixpoint: every node ends with the minimum
    node id of its connected component.

    The driver loop is control flow only — each iteration is one distributed
    join + aggregate, and the loop exits when an iteration changes nothing
    (near-dup components have tiny diameters, so 2-4 iterations in
    practice). ``nodes`` needs column ``id``; ``edges`` columns ``src/dst``
    (undirected edges should be passed in both directions).

    Raises ``RuntimeError`` if ``max_iter`` is exhausted before the fixpoint:
    partial labels would silently diverge from the recursive-CTE oracle for a
    component whose diameter exceeds the budget.
    """
    # The edge relation joins into EVERY propagation round, and both
    # callers pass it as an un-materialized pipeline (shingle self-join /
    # linkage candidate join) — without a lineage cut each round's
    # checkpoint job re-executes that whole pipeline (r10 measurement:
    # the rounds were paying the pair-generation cost 2-4x). One
    # materialization, every round reads the stored blocks.
    edges = edges.localCheckpoint()
    labels = nodes.select("id", F.col("id").alias("label"))
    # Convergence via the label-sum invariant: min-label propagation only
    # ever DECREASES labels, so sum(label) is strictly monotone until the
    # fixpoint — an unchanged sum proves an unchanged labeling. One cheap
    # 1-row aggregate per iteration instead of a join+filter change scan.
    # DECIMAL(38,0): ids may be 60-bit digests (record_linkage_canonicalize),
    # whose BIGINT sum overflows under ANSI at a few thousand nodes.
    def _label_sum(df):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0].s

    prev_sum = _label_sum(labels)
    changed = 1
    for _ in range(max_iter):
        # smallest label among each node's neighbors (and itself)
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            .localCheckpoint()  # cut the growing lineage each round
        )
        new_sum = _label_sum(labels)
        changed = int(new_sum != prev_sum)
        prev_sum = new_sum
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}; "
            "a component with larger diameter exists — raise max_iter"
        )
    return labels


@register(
    "dedup_connected_components",
    category="dedup-llm",
    doc="Duplicate-cluster assignment: connected components (min-label "
    "propagation to fixpoint) over the exact near-dup pair graph — the "
    "iterative-algorithm category; docs sharing any chain of near-dup "
    "pairs collapse to one canonical representative. Oracle: recursive CTE.",
    oracle=f"""
WITH RECURSIVE {_ORACLE_SHINGLES.lstrip()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
),
reach(doc, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc AS doc_id, MIN(lab) AS cluster_rep
FROM reach GROUP BY doc
""",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).unionAll(
        pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    )
    nodes = table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    return connected_components(nodes, edges).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_rep")
    )


@register(
    "source_overlap_matrix",
    category="dedup-llm",
    doc="Cross-source contamination matrix: for every source pair, how many "
    "distinct 3-gram shingles they share — the corpus-level view of "
    "leakage (which crawls/dumps overlap before any pairwise doc check). "
    "Shingle inverted index aggregated to (source, source) — join key "
    "space is shingles, output is |sources|², never doc pairs.",
    oracle="""
WITH toks AS (
  SELECT doc_id, source AS src,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
idx AS (SELECT doc_id, src, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM toks),
sh AS (
  SELECT DISTINCT doc_id, src, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM idx WHERE i + 2 <= len(ws)
),
ss AS (SELECT DISTINCT src, s FROM sh),
pairs AS (
  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS shared_shingles
  FROM ss a JOIN ss b ON a.s = b.s AND a.src < b.src
  GROUP BY 1, 2
)
SELECT src_a, src_b, shared_shingles
FROM pairs
ORDER BY shared_shingles DESC, src_a, src_b
LIMIT 50
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").alias("src"), "text"
    )
    toks = docs.select("doc_id", "src", tokens(F.col("text")).alias("ws"))
    ss = (
        toks.select("src", F.explode(shingles_from_tokens(F.col("ws"))).alias("s"))
        .distinct()
        .localCheckpoint()  # self-joined: shingle + distinct run once
    )
    a = ss.alias("a")
    b = ss.alias("b")
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .orderBy(F.desc("shared_shingles"), F.asc("src_a"), F.asc("src_b"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style, lossless)
# ---------------------------------------------------------------------------


@register(
    "dedup_prefix_filter_jaccard",
    category="dedup-llm",
    doc="Prefix-filtered exact Jaccard join (PPJoin prefix principle): "
    "shingles get a global canonical order (ascending document frequency, "
    "rarest first); each doc indexes ONLY its first n−⌈t·n⌉+1 shingles, and "
    "two docs can pass t=0.8 only if their prefixes share a shingle — so "
    "the inverted-index self-join touches a sliver of the postings instead "
    "of all of them, provably LOSSLESS (candidates are verified with the "
    "exact intersection). Same result set as dedup_ngram_jaccard; the "
    "oracle is therefore the exact formulation. Prefix length uses pure "
    "integer arithmetic (⌈4n/5⌉ = (4n+4)//5), no float rounding.",
    oracle=f"""
WITH {_ORACLE_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
""",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles(spark, sf_dir).localCheckpoint()  # reused 3×
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # canonical order: rarest-first, tie on the shingle text — the order
    # itself is arbitrary for correctness but rarest-first minimizes the
    # candidate volume (frequent shingles never enter short prefixes)
    ranked = (
        sh.join(dfreq, "s")
        .join(sizes, "doc_id")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
    )
    # integer prefix length: n - ceil(0.8*n) + 1 == n - (4n+4)//5 + 1
    prefix = ranked.where(
        F.col("rnk") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    ).select("doc_id", "s")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    # verify candidates with per-pair array intersection: each candidate
    # row carries both docs' shingle sets, so verification is per-row array
    # math bounded by |candidates| x set size — never a posting re-join
    docsets = sh.groupBy("doc_id").agg(F.collect_set("s").alias("ss"))
    inter = (
        cand.join(
            docsets.select(F.col("doc_id").alias("d1"), F.col("ss").alias("ss1")),
            "d1",
        )
        .join(
            docsets.select(F.col("doc_id").alias("d2"), F.col("ss").alias("ss2")),
            "d2",
        )
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("ss1", "ss2")).alias("i"),
        )
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .where(jac >= JACCARD_THRESHOLD)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Cluster-representative selection — the end-to-end dedup decision
# ---------------------------------------------------------------------------


from wheels_in_motion_analytics_spark.functions import text as _text_mod

_CLUSTER_REPS_ORACLE = ("""
WITH RECURSIVE {shingles},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL SELECT d2, d1 FROM pairs
),
reach(doc, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc
),
clusters AS (SELECT doc AS doc_id, MIN(lab) AS cluster_rep FROM reach GROUP BY doc),
tq AS (SELECT doc_id, text, {toks} AS toks FROM documents),
sq AS (
  SELECT doc_id,
         len(toks) AS nt,
         CAST({stop_cnt} AS DOUBLE) / greatest(len(toks), 1) AS swr,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS pr
  FROM tq
),
quality AS (
  SELECT doc_id,
         ROUND(0.5 * least(CAST(nt AS DOUBLE) / 100, 1.0) + 0.3 * least(swr * 5, 1.0)
               + 0.2 * (1.0 - least(pr * 10, 1.0)), 6) AS quality
  FROM sq
),
ranked AS (
  SELECT c.cluster_rep, c.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.cluster_rep
                            ORDER BY q.quality DESC, c.doc_id) AS rn
  FROM clusters c JOIN quality q USING (doc_id)
)
SELECT cluster_rep,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
       MAX(CASE WHEN rn = 1 THEN quality END) AS kept_quality,
       COUNT(*) AS n_members,
       COUNT(*) - 1 AS n_dropped
FROM ranked
GROUP BY cluster_rep
""").format(
    shingles=_ORACLE_SHINGLES.lstrip(),
    toks=_text_mod._ORACLE_TOKS,
    stop_cnt=_text_mod._oracle_count_in(_text_mod.STOPWORDS),
    JACCARD_THRESHOLD=JACCARD_THRESHOLD,
)

@register(
    "dedup_cluster_representatives",
    category="dedup-llm",
    doc="END-TO-END dedup decision: near-dup pair graph → connected "
    "components → per cluster KEEP the highest-quality member (quality "
    "score desc, doc_id asc tiebreak) and count the rest as dropped. "
    "Composes the exact-Jaccard pair graph, the iterative min-label "
    "clustering, and the deterministic quality scorer into the single "
    "keep/drop table a corpus build actually consumes. Oracle: recursive "
    "CTE + the quality formula + a rank window.",
    oracle=_CLUSTER_REPS_ORACLE,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import text_quality_score

    clusters = dedup_connected_components(spark, sf_dir)
    quality = text_quality_score(spark, sf_dir)
    ranked = clusters.join(quality, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_rep").orderBy(
                F.desc("quality"), F.asc("doc_id")
            )
        ),
    )
    return ranked.groupBy("cluster_rep").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc"),
        F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias("kept_quality"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# MinHash estimation-quality audit
# ---------------------------------------------------------------------------

_SIG_CTE = f"""
h AS (SELECT doc_id, {_oracle_hash("s", 7)} AS h FROM sh),
sig AS (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * h + {b}) % {MINHASH_P}) AS m{j}" for j, (a, b) in enumerate(MINHASH_COEFFS))}
  FROM h GROUP BY doc_id
)"""


@register(
    "minhash_jaccard_estimate",
    category="dedup-llm",
    doc=f"Sketch-estimation audit: for every exact-Jaccard≥{JACCARD_THRESHOLD} "
    f"pair, the MinHash({MINHASH_K}) estimate (fraction of agreeing "
    "signature slots — the unbiased Jaccard estimator) next to the true "
    "value and absolute error. The quantified answer to 'how much recall "
    "does the sketch buy at this signature length'; signatures and truth "
    "are both md5-deterministic, so even the estimator itself is "
    "oracle-checked.",
    oracle=f"""
WITH {_ORACLE_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
gold AS (
  SELECT d1, d2,
         ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS true_jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
),
{_SIG_CTE.lstrip()}
SELECT g.d1, g.d2, g.true_jaccard,
       round(({" + ".join(f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END" for j in range(MINHASH_K))})
             / {MINHASH_K}.0, 6) AS est_jaccard,
       round(abs(g.true_jaccard -
             ({" + ".join(f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END" for j in range(MINHASH_K))})
             / {MINHASH_K}.0), 6) AS abs_err
FROM gold g JOIN sig a ON a.doc_id = g.d1 JOIN sig b ON b.doc_id = g.d2
""",
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    gold = dedup_ngram_jaccard(spark, sf_dir).withColumnRenamed(
        "jaccard", "true_jaccard"
    )
    hashed = doc_shingles(spark, sf_dir).select(
        "doc_id", hash_hex(F.col("s"), 7).alias("h")
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{j}")
            for j, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )
    a = sig.select(
        F.col("doc_id").alias("d1"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(MINHASH_K)]
    )
    b = sig.select(
        F.col("doc_id").alias("d2"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(MINHASH_K)]
    )
    agree = None
    for j in range(MINHASH_K):
        t = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    est = F.round(agree / float(MINHASH_K), 6)
    return (
        gold.join(F.broadcast(a), "d1")
        .join(F.broadcast(b), "d2")
        .select(
            "d1",
            "d2",
            "true_jaccard",
            est.alias("est_jaccard"),
            F.round(F.abs(F.col("true_jaccard") - agree / float(MINHASH_K)), 6).alias(
                "abs_err"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Incremental batch dedup — new docs against an existing corpus
# ---------------------------------------------------------------------------

INCR_BATCH_START = 400  # doc_id >= this = the incoming batch


@register(
    "dedup_incremental_batch",
    category="dedup-llm",
    doc="Incremental ingestion dedup: an incoming batch (doc_id ≥ "
    f"{INCR_BATCH_START}) is checked against the existing corpus AND "
    "itself — exact fingerprints first (cheap kill), then the Jaccard "
    "inverted index restricted to batch-side candidates. Corpus↔corpus "
    "pairs are never recomputed (the point of incremental dedup: work is "
    "O(batch × corpus-postings), not O(corpus²)). Emits each batch doc "
    "with its verdict: exact-dup / near-dup (with match) / unique.",
    oracle=f"""
WITH {_ORACLE_SHINGLES},
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM documents
),
batch AS (SELECT doc_id, f FROM fp WHERE doc_id >= {INCR_BATCH_START}),
exact_hit AS (
  SELECT b.doc_id, MIN(o.doc_id) AS match_doc
  FROM batch b JOIN fp o ON b.f = o.f AND o.doc_id < b.doc_id
  GROUP BY b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT b.doc_id AS bd, o.doc_id AS od, COUNT(*) AS i
  FROM sh b JOIN sh o ON b.s = o.s AND o.doc_id < b.doc_id
  WHERE b.doc_id >= {INCR_BATCH_START}
  GROUP BY 1, 2
),
near_hit AS (
  SELECT bd AS doc_id, MIN(od) AS match_doc
  FROM inter
  JOIN sizes sa ON sa.doc_id = bd
  JOIN sizes sb ON sb.doc_id = od
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
  GROUP BY bd
)
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact-dup'
            WHEN n.doc_id IS NOT NULL THEN 'near-dup'
            ELSE 'unique' END AS verdict,
       COALESCE(e.match_doc, n.match_doc, -1) AS match_doc
FROM batch b
LEFT JOIN exact_hit e ON e.doc_id = b.doc_id
LEFT JOIN near_hit n ON n.doc_id = b.doc_id
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # (measured r10: checkpointing fp TOO is net-negative — a second eager
    # materialization job serializes ahead of the main query and costs
    # more than the saved md5 re-scan; the shingle cut below is the win)
    fp = docs.select("doc_id", fingerprint(F.col("text")).alias("f"))
    batch = fp.where(F.col("doc_id") >= INCR_BATCH_START)
    exact_hit = (
        batch.alias("b")
        .join(
            fp.alias("o"),
            (F.col("b.f") == F.col("o.f"))
            & (F.col("o.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min("o.doc_id").alias("e_match"))
    )
    # three consumers (size agg + both postings-join sides): shingle once
    sh = doc_shingles(spark, sf_dir).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # postings join restricted: only batch docs on the left — the inverted
    # index is probed, never self-joined corpus-wide
    inter = (
        sh.where(F.col("doc_id") >= INCR_BATCH_START)
        .alias("b")
        .join(
            sh.alias("o"),
            (F.col("b.s") == F.col("o.s"))
            & (F.col("o.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("b.doc_id").alias("bd"), F.col("o.doc_id").alias("od")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    near_hit = (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("bd"), F.col("n").alias("na"))),
            "bd",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("od"), F.col("n").alias("nb"))),
            "od",
        )
        .where(jac >= JACCARD_THRESHOLD)
        .groupBy(F.col("bd").alias("doc_id"))
        .agg(F.min("od").alias("n_match"))
    )
    verdict = (
        F.when(F.col("e_match").isNotNull(), "exact-dup")
        .when(F.col("n_match").isNotNull(), "near-dup")
        .otherwise("unique")
    )
    return (
        batch.select("doc_id")
        .join(exact_hit, "doc_id", "left")
        .join(near_hit, "doc_id", "left")
        .select(
            "doc_id",
            verdict.alias("verdict"),
            F.coalesce("e_match", "n_match", F.lit(-1)).alias("match_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH — probe Hamming-1 neighbor buckets instead of adding tables
# ---------------------------------------------------------------------------

MP_TABLES = 2
MP_BITS = 10
MP_TOPK = 3
MP_QUERY_MOD = 53  # queries = vec_id % 53 == 0 — a bounded ~2% slice


def _oracle_multiprobe() -> str:
    flips = ", ".join(str(f) for f in [0] + [1 << j for j in range(MP_BITS)])
    return f"""
WITH {_ORACLE_NORM},
sig AS MATERIALIZED (
  {_oracle_hyperplane_buckets(MP_TABLES, MP_BITS)}
),
probes AS (
  SELECT vec_id, tbl, xor(bucket, CAST(f AS BIGINT)) AS bucket
  FROM sig, (SELECT unnest([{flips}]) AS f)
  WHERE vec_id % {MP_QUERY_MOD} = 0
),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, s.vec_id AS neighbor_id
  FROM probes p JOIN sig s
    ON p.tbl = s.tbl AND p.bucket = s.bucket AND s.vec_id <> p.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 4) AS cosine
  FROM cand JOIN nn x ON query_id = x.vec_id JOIN nn y ON neighbor_id = y.vec_id
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {MP_TOPK}
"""


@register(
    "ann_multiprobe_lsh",
    category="similarity",
    doc=f"Multi-probe LSH (Lv et al. 2007): each query probes its exact "
    f"bucket PLUS all {MP_BITS} Hamming-distance-1 buckets per table — "
    "recall comparable to many more tables at a fraction of the index "
    f"size ({MP_TABLES} tables x {MP_BITS} bits here vs ann_lsh_bucketed's "
    "table-heavy dial; probes trade query fan-out for index memory, THE "
    "production knob when the signature store dominates cost). SCALE "
    "SHAPE: corpus signatures come from one Arrow-batched matmul pass, "
    "the bounded query slice's probe set broadcasts onto a hash join on "
    "(table, bucket), and the exact-cosine re-rank joins back to the "
    "norm relation — never corpus all-pairs, no collect. Fully "
    "oracle-checked: planes as literals, XOR probes, 4dp rounding, id "
    "tiebreak.",
    oracle=_oracle_multiprobe(),
)
def ann_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = _norm_vectors_of(table(spark, sf_dir, "embeddings")).localCheckpoint()
    # probed AND joined against — one matmul pass
    sig = hyperplane_buckets(nv, MP_TABLES, MP_BITS).localCheckpoint()
    flips = [0] + [1 << j for j in range(MP_BITS)]
    probes = (
        sig.where(F.col("vec_id") % MP_QUERY_MOD == 0)
        .select(
            "vec_id",
            "tbl",
            F.explode(F.array(*[F.expr(f"bucket ^ {f}") for f in flips])).alias(
                "bucket"
            ),
        )
    )
    cand = (
        sig.join(
            F.broadcast(
                probes.select(
                    F.col("vec_id").alias("query_id"), "tbl", "bucket"
                )
            ),
            ["tbl", "bucket"],
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return cosine_topk(_exact_cosine_rerank(nv, cand), MP_TOPK).drop("rnk")


# ---------------------------------------------------------------------------
# ANN recall evaluation — the eval harness that prices the recall/cost dial
# ---------------------------------------------------------------------------


def _recall_eval_oracle() -> str:
    exact_top1 = f"""
SELECT query_id, neighbor_id FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) DESC,
                    b.vec_id ASC
         ) AS rnk
  FROM nn a JOIN nn b ON a.vec_id <> b.vec_id
) WHERE rnk = 1"""
    return f"""
WITH {_ORACLE_NORM},
exact AS MATERIALIZED ({exact_top1}),
lsh AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM ({_oracle_lsh_topk()}) l
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n_queries,
         CAST(COUNT(l.neighbor_id) AS HUGEINT) AS n_matched
  FROM exact e LEFT JOIN lsh l
    ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
)
SELECT CAST(n_queries AS BIGINT) AS n_queries,
       CAST(n_matched AS BIGINT) AS n_matched,
       CAST((2 * n_matched * 1000000 + n_queries) // (2 * n_queries) AS BIGINT)
         AS recall_ppm
FROM m
"""


@register(
    "ann_recall_at_k_eval",
    category="similarity",
    doc="ANN recall@1 evaluation: the LSH index (ann_lsh_bucketed's exact "
    "pipeline) graded against the brute-force nearest neighbor "
    "(similarity_topk_bruteforce's blocked exact scorer) — the recall "
    "measurement that prices the (tables x bits) dial before deploying an "
    "index. SCALE SHAPE: ground truth comes from the collect-free blocked "
    "matmul (quadratic by DEFINITION — at 100 TB the eval runs on a "
    "bounded probe sample, which is what this relation is at any SF); the "
    "index side is the bucketed LSH path; the comparison is one join on "
    "(query, neighbor) + a single aggregate. recall_ppm is an exact "
    "half-up integer division — no float quotient is hashed.",
    oracle=None,  # assembled below (plane literals)
)
def ann_recall_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = (
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding").localCheckpoint()
    )
    exact = cosine_topk(_blocked_pair_scores(vectors, mode="topk", topk=1), 1).select(
        "query_id", "neighbor_id"
    )
    lsh = lsh_topk(vectors).select(
        F.col("query_id").alias("l_query"), F.col("neighbor_id").alias("l_neighbor")
    )
    m = (
        exact.join(
            lsh,
            (F.col("query_id") == F.col("l_query"))
            & (F.col("neighbor_id") == F.col("l_neighbor")),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("nq"),
            F.count("l_neighbor").cast("decimal(38,0)").alias("nm"),
        )
    )
    return m.select(
        F.col("nq").cast("bigint").alias("n_queries"),
        F.col("nm").cast("bigint").alias("n_matched"),
        F.expr(
            "CAST((2 * nm * CAST(1000000 AS DECIMAL(38,0)) + nq)"
            " DIV (2 * nq) AS BIGINT)"
        ).alias("recall_ppm"),
    )


REGISTRY["ann_recall_at_k_eval"].oracle = _recall_eval_oracle()


# ---------------------------------------------------------------------------
# Simplified silhouette over the frozen IVF cells — clustering quality eval
# ---------------------------------------------------------------------------


def _silhouette_oracle() -> str:
    return f"""
WITH {_ORACLE_NORM},
{_oracle_cents()},
sims AS (
  SELECT vec_id, cell,
         CAST(round(ROUND(list_dot_product(e, cvec) / nrm, 6) * 1000000, 0) AS BIGINT) AS sim_micro
  FROM nn CROSS JOIN cents
),
ranked AS (
  SELECT vec_id, cell, sim_micro,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim_micro DESC, cell ASC) AS rnk
  FROM sims
),
pts AS (
  SELECT o.vec_id, o.cell,
         CAST((2 * (o.sim_micro - s.sim_micro) * 1000000 + (1000000 - s.sim_micro))
              // (2 * (1000000 - s.sim_micro)) AS BIGINT) AS sil_ppm
  FROM (SELECT * FROM ranked WHERE rnk = 1) o
  JOIN (SELECT * FROM ranked WHERE rnk = 2) s USING (vec_id)
  WHERE s.sim_micro < 1000000
)
SELECT cell,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST((2 * CAST(SUM(sil_ppm) AS HUGEINT) + COUNT(*))
            // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS mean_sil_ppm,
       CAST(MIN(sil_ppm) AS BIGINT) AS min_sil_ppm,
       CAST(MAX(sil_ppm) AS BIGINT) AS max_sil_ppm
FROM pts GROUP BY cell
"""


@register(
    "silhouette_simplified_ivf",
    category="similarity",
    doc="Simplified (centroid-based) silhouette over the frozen IVF cells "
    "— the clustering-quality eval an indexing pipeline reads before "
    "trusting a coarse quantizer: per point, a = cosine distance to its "
    "own centroid, b = distance to the nearest OTHER centroid, "
    "s = (b-a)/max(a,b), which on the unit sphere reduces to "
    "(sim1-sim2)/(1-sim2). O(n x cells) — the centroid relation is a "
    "16-row broadcast crossJoin, NEVER pairwise points (full silhouette "
    "is quadratic; the simplified form is the standard at-scale "
    "substitute). All ratios are half-up integer divisions on the 6dp "
    "micro grid; per-cell mean/min/max silhouette ppm. Degenerate "
    "sim2 = 1 points (duplicate of another centroid) are excluded by "
    "definition.",
    oracle=None,  # assembled below (centroid literals)
)
def silhouette_simplified_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sim is already on the 6-dp grid, so its micro-unit image ranks the same
    sim_micro = F.round(F.col("sim") * 1000000, 0).cast("bigint")
    ranked = (
        cell_ranks(_norm_vectors_of(table(spark, sf_dir, "embeddings")), 2)
        .select("vec_id", "cell", sim_micro.alias("sim_micro"), "rnk")
        .localCheckpoint()  # own-cell and runner-up branches share it
    )
    own = ranked.where(F.col("rnk") == 1).select(
        "vec_id", "cell", F.col("sim_micro").alias("s1")
    )
    runner = ranked.where(F.col("rnk") == 2).select(
        "vec_id", F.col("sim_micro").alias("s2")
    )
    pts = (
        own.join(runner, "vec_id")
        .where(F.col("s2") < 1000000)
        .select(
            "cell",
            F.expr(
                "CAST((2 * (s1 - s2) * 1000000 + (1000000 - s2))"
                " DIV (2 * (1000000 - s2)) AS BIGINT)"
            ).alias("sil_ppm"),
        )
    )
    return pts.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.expr(
            "CAST((2 * CAST(SUM(sil_ppm) AS DECIMAL(38,0)) + COUNT(*))"
            " DIV (2 * COUNT(*)) AS BIGINT)"
        ).alias("mean_sil_ppm"),
        F.min("sil_ppm").cast("bigint").alias("min_sil_ppm"),
        F.max("sil_ppm").cast("bigint").alias("max_sil_ppm"),
    )


REGISTRY["silhouette_simplified_ivf"].oracle = _silhouette_oracle()


# ---------------------------------------------------------------------------
# N-gram novelty — how much of each doc's content exists nowhere else?
# ---------------------------------------------------------------------------


@register(
    "doc_ngram_novelty_audit",
    category="dedup-llm",
    doc="Per-document n-gram novelty: the fraction of a doc's distinct "
    f"{SHINGLE_N}-word shingles whose corpus document frequency is 1 "
    "(they appear in NO other document) — the memorization/novelty audit "
    "run before adding a source to a training mix (low novelty = the "
    "source is mostly boilerplate already in the corpus; the flip side "
    "of the dedup family's duplication measures). SCALE SHAPE: one "
    "shingle explode feeding two map-side-combinable groupBys (df keyed "
    "on shingle, novelty keyed on doc) and a postings join-back — the "
    "inverted-index shape; the shingle relation is checkpointed once "
    "for its two consumers (the corpus-expansion lesson). novelty_ppm "
    "is a half-up integer division.",
    oracle=f"""
WITH {_ORACLE_SHINGLES},
df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((CAST(2000000 AS HUGEINT) * SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS novelty_ppm
FROM sh JOIN df USING (s)
GROUP BY sh.doc_id
""",
)
def doc_ngram_novelty_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    sh = doc_shingles(spark, sf_dir).localCheckpoint()  # df agg + join-back
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((c("df") == 1).cast("bigint")).cast("bigint").alias("n_novel"),
            F.expr(
                "CAST((CAST(2000000 AS DECIMAL(38,0))"
                " * sum(CAST(df = 1 AS BIGINT)) + count(*))"
                " DIV (2 * count(*)) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Asymmetric containment — partial-duplicate / quotation detection
# ---------------------------------------------------------------------------

CONTAINMENT_PPM = 800_000  # |A ∩ B| / min(|A|,|B|) >= 0.8


@register(
    "dedup_shingle_containment",
    category="dedup-llm",
    doc="ASYMMETRIC near-duplicate detection: shingle containment "
    "|A∩B| / min(|A|,|B|) — catches a document CONTAINED in a larger "
    "one (quotations, page-plus-boilerplate, partial scrapes) that "
    "symmetric Jaccard misses entirely (a small doc inside a big one "
    "has low Jaccard but containment ~1). Same inverted-index self-join "
    "shape as dedup_ngram_jaccard (shingle explode -> equi-join on "
    "shingle -> pair counts; never all-pairs); emits pairs above "
    "0.8 containment with BOTH directions' ppm (cross-multiplied "
    "integer threshold, half-up ppm values) plus the Jaccard ppm for "
    "contrast.",
    oracle=f"""
WITH {_ORACLE_SHINGLES},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, i AS n_common, sa.n AS n1, sb.n AS n2,
       CAST((2000000 * i + sa.n) // (2 * sa.n) AS BIGINT) AS contain_in_1_ppm,
       CAST((2000000 * i + sb.n) // (2 * sb.n) AS BIGINT) AS contain_in_2_ppm,
       CAST((2000000 * i + (sa.n + sb.n - i)) // (2 * (sa.n + sb.n - i))
            AS BIGINT) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE 1000000 * i >= {CONTAINMENT_PPM} * least(sa.n, sb.n)
""",
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    sh = doc_shingles(spark, sf_dir).localCheckpoint()  # sizes + self-join
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = sh.select(c("doc_id").alias("d1"), "s")
    b = sh.select(c("doc_id").alias("d2"), "s")
    inter = (
        a.join(b, "s")
        .where(c("d1") < c("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sa = sizes.select(c("doc_id").alias("d1"), c("n").alias("n1"))
    sb = sizes.select(c("doc_id").alias("d2"), c("n").alias("n2"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .where(
            F.lit(1_000_000) * c("i")
            >= F.lit(CONTAINMENT_PPM) * F.least(c("n1"), c("n2"))
        )
        .select(
            "d1",
            "d2",
            c("i").alias("n_common"),
            "n1",
            "n2",
            F.expr("CAST((2000000 * i + n1) DIV (2 * n1) AS BIGINT)").alias(
                "contain_in_1_ppm"
            ),
            F.expr("CAST((2000000 * i + n2) DIV (2 * n2) AS BIGINT)").alias(
                "contain_in_2_ppm"
            ),
            F.expr(
                "CAST((2000000 * i + (n1 + n2 - i)) DIV (2 * (n1 + n2 - i))"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
