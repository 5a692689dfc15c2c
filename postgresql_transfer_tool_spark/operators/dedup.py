"""Deduplication operators — X1/X2 (SURVEY.md §2.8) + driver north-star.

Five dedup families over the ``documents`` table, all engine-portable
(every hash is md5-derived so the DuckDB oracle computes bit-identical
values):

- exact dedup (hash groupBy, keep-min-id)
- n-gram Jaccard near-dup (shingle self-join — the exact baseline)
- MinHash + LSH near-dup (16 permutations, 8 bands × 2 rows — the scale
  path: candidates come from band buckets, not an all-pairs join;
  signatures and verification read per-document shingle ARRAYS)
- SimHash near-dup (32-bit signatures, Hamming-distance candidates)
- survivor selection (greedy keep-lowest-id over the near-dup pair set)

Scale notes: the Jaccard self-join is quadratic in documents sharing a
shingle — at 100 TB it exists only as the verification stage *behind*
LSH candidate generation (that is exactly how `dedup_minhash_lsh` is
structured). Super-frequent shingles (boilerplate) would make hot keys;
production would cap document frequency before the join — noted, not
needed at fixture scale.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.memo import CheckpointMemo
from .registry import query
from .text import WINNOW_CTES_SQL, winnow_fp_sets

# ---------------------------------------------------------------------------
# Shared shingling + hashing (identical formulas on both engines).
# ---------------------------------------------------------------------------

#: MinHash permutation constants: h_j(x) = (A[j]*x + B[j]) mod P.
#: P is the smallest prime > 2^32; A/B are arbitrary fixed odd constants
#: < 2^20 so A*x stays well inside int64.
P_MINHASH = 4294967311
A_CONST = [541, 1223, 1987, 2741, 3571, 4409, 5279, 6133,
           7001, 7919, 8831, 9733, 10657, 11587, 12487, 13441]
B_CONST = [9973, 21701, 31259, 40493, 50021, 60257, 70423, 80777,
           90989, 101117, 111323, 121453, 131707, 141917, 152003, 162263]
N_PERM = 16
N_BANDS = 8  # × 2 rows per band

JACCARD_THRESHOLD = 0.8


def shingle_arrays_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) — distinct word-3-gram array per document, for
    an arbitrary (doc_id, text, ...) relation. The corpus-level entry
    point is `_spark_shingle_arrays`; this form exists so the
    cross-batch dedup index (operators/dedup_index.py) can shingle an
    incoming BATCH with bit-identical formulas."""
    return (
        docs.withColumn("toks", F.split(F.trim("text"), r"\s+"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(sequence(0, size(toks)-3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
            ).alias("shingles"),
        )
    )


def _spark_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) — distinct word-3-gram array per document.

    The fixture lands as one small parquet file → one input task; the
    CPU-heavy shingling pipeline is repartitioned first so it
    parallelizes (on a 100 TB corpus the input split count makes this a
    no-op, but a skewed/few-files layout gets the same fix).
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return shingle_arrays_from_docs(docs)


def _spark_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s) — the exploded shingle relation (lineage-preserving;
    prefer `_spark_shingles_materialized` anywhere performance matters,
    see its docstring for the Generate-collapse trap)."""
    return _spark_shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("s")
    )


#: shingle memo, keyed by (applicationId, sf_dir): Jaccard, MinHash-LSH
#: and SimHash all consume the identical shingles — one materialization
#: per session instead of one per query (r2 bench: ~7 s each). An entry
#: is (per-document arrays, exploded rows), both lazy checkpoints;
#: LRU-bounded with unpersist-on-evict (functions/memo.py, VERDICT r6
#: nit #1).
_SHINGLE_CACHE = CheckpointMemo()


def _shingle_memo(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, ...]:
    key = (spark.sparkContext.applicationId, sf_dir)
    entry = _SHINGLE_CACHE.entry(key)
    if entry is None:
        arrays = _spark_shingle_arrays(spark, sf_dir).localCheckpoint(eager=False)
        entry = (
            arrays,
            arrays.select("doc_id", F.explode("shingles").alias("s")).localCheckpoint(
                eager=False
            ),
        )
        _SHINGLE_CACHE.put(key, *entry)
    return entry


def _spark_shingle_arrays_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) arrays, computed once and lineage-cut — all
    the MinHash-LSH chain reads (no step moves one row per shingle)."""
    return _shingle_memo(spark, sf_dir)[0]


def _spark_shingles_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s) exploded shingle rows — read by the n-gram Jaccard
    and SimHash paths — computed once and lineage-cut (localCheckpoint).

    Two distinct wins, both load-bearing:

    1. The explode reads the checkpointed ARRAY relation. Catalyst's
       CollapseProject would otherwise fold the shingle-array
       expression into Generate's child, and the generated code
       re-evaluates that array expression per OUTPUT element — turning
       an O(tokens) HOF into O(tokens × shingles) per document
       (measured 7.2 s → 0.3 s at sf0.1 for the explode alone).
    2. Those pipelines consume the exploded relation from 2-3 plan
       branches (signatures, pair buckets, per-doc counts); the
       post-explode checkpoint stops each branch re-running the scan.

    Both checkpoints are per-partition and distributed (no driver
    collect); the memo only holds plan handles.
    """
    return _shingle_memo(spark, sf_dir)[1]


#: Shingle-hash selector. ``md5`` (default) is the oracle-parity hash —
#: DuckDB computes the identical 32-bit prefix, so the driver gate can
#: verify signatures bit-for-bit. ``xxhash64`` is the production path:
#: BASELINE.md records md5 as the dedup family's dominant per-row cost,
#: and Spark's built-in xxhash64 is a non-cryptographic codegen
#: intrinsic (~5-10× cheaper per shingle). Both yield a uniform 32-bit
#: key feeding the same affine MinHash permutations; the survivor /
#: cluster / verified-pair SETS are asserted equal across the two
#: hashes at sf0.01 and sf0.1 (tests/test_shingle_hash.py) — exact-
#: Jaccard verification makes LSH candidate differences vanish unless
#: recall itself differs, which the test would catch.
SHINGLE_HASH_ENV = "SPARK_GRAFT_SHINGLE_HASH"


def _shingle_hash_method() -> str:
    import os

    m = os.environ.get(SHINGLE_HASH_ENV, "md5")
    if m not in ("md5", "xxhash64"):
        raise ValueError(f"{SHINGLE_HASH_ENV} must be md5 or xxhash64, got {m!r}")
    return m


def _shingle_hash(s: Column) -> Column:
    """Uniform 32-bit hash of a shingle (md5 prefix for oracle parity,
    or xxhash64 — see SHINGLE_HASH_ENV)."""
    if _shingle_hash_method() == "xxhash64":
        return F.xxhash64(s).bitwiseAND(F.lit(4294967295))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def shingle_hash_arrays(arrays: DataFrame) -> DataFrame:
    """(doc_id, hs) from (doc_id, shingles) arrays: each shingle hashed
    once, into the per-document array the MinHash kernel reads."""
    return arrays.select("doc_id", F.transform("shingles", _shingle_hash).alias("hs"))


#: DuckDB CTEs producing the same (doc_id, s) / (doc_id, s, h) relations.
_SQL_SHINGLES = """
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(t)-2),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
    FROM toks WHERE len(t) >= 3) q
),
hashed AS (
  SELECT doc_id, s, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h FROM sh
)
"""

#: Jaccard verification over a candidate pair set `cand(da, db)`:
#: exact |A∩B| / |A∪B| from the shingle sets, integer-exact division.
_SQL_VERIFY = """
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.da
  JOIN sh b ON b.doc_id = c.db AND b.s = a.s
  GROUP BY c.da, c.db
),
verified AS (
  SELECT i.da AS doc_a, i.db AS doc_b,
         CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) AS jaccard
  FROM inter i
  JOIN counts ca ON ca.doc_id = i.da
  JOIN counts cb ON cb.doc_id = i.db
)
"""


def _spark_verify(arrays: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (da, db): each pair
    meets its two documents' distinct-shingle arrays and intersects
    them in-row, moving |A|+|B| shingles and no per-shingle rows."""
    a = arrays.select(F.col("doc_id").alias("da"), F.col("shingles").alias("sa"))
    b = arrays.select(F.col("doc_id").alias("db"), F.col("shingles").alias("sb"))
    inter = cand.join(a, "da").join(b, "db").select(
        "da", "db", "sa", "sb", F.size(F.array_intersect("sa", "sb")).alias("i")
    )
    return inter.select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        (
            F.col("i").cast("double") / (F.size("sa") + F.size("sb") - F.col("i"))
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# X1 — exact dedup: hash-groupBy on content, keep lowest id.
# At 100 TB: one shuffle on a 128-bit content hash (not the full text) —
# group on md5(text), not text, so shuffle rows are ~40 bytes.
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@query(
    "dedup_exact_summary",
    oracle="""
    SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_removed
    FROM documents
    """,
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# X2a — exact n-gram Jaccard near-dup (all-pairs baseline; the oracle for
# everything LSH approximates).
# ---------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.da AS doc_a, i.db AS doc_b,
           CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.da
    JOIN counts cb ON cb.doc_id = i.db
    WHERE CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact Jaccard in ONE shingle self-join: the pair's
    intersection count falls directly out of groupBy(da, db) on the
    join — no separate candidate pass. (Still quadratic in co-shingled
    docs by nature; the scale path is dedup_minhash_lsh.)"""
    sh = _spark_shingles_materialized(spark, sf_dir)
    # Materialized once: the per-doc size relation feeds BOTH attach
    # joins below; without the cut the planner re-aggregated the whole
    # shingle stream per attach side (r13 plan: two identical counts
    # subtrees, no exchange reuse).
    counts = (
        sh.groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    # r14 (guide §2.3/§2.4, the winnowing idiom): ONE shuffle of the
    # (doc_id, s) stream groups each shingle's sorted member multiset;
    # a<b member pairs then expand from the array — the r13 self-join
    # shuffled the raw stream TWICE on s and sorted both sides. The
    # expansion is two chained Generates (posexplode anchor, then
    # explode of the tail slice) so per-row memory stays O(bucket), the
    # same bound the SMJ's buffered right-hand group had — no k² array
    # is ever materialized in one row. Pair multiplicity (dup shingles
    # within a doc) falls out of the position pairs exactly as the join
    # produced it; the strict da<db filter drops same-doc pairs.
    bucket = sh.groupBy("s").agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    anchor = bucket.select("ds", F.posexplode("ds").alias("i", "da"))
    inter = (
        anchor.select(
            "da",
            F.explode(
                F.slice("ds", F.col("i") + 2, F.size("ds") - F.col("i") - 1)
            ).alias("db_r"),
        )
        .filter(F.col("da") < F.col("db_r"))
        .groupBy("da", "db_r")
        .agg(F.count("*").alias("i"))
    )
    ca = counts.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("db_r"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(ca, "da")
        .join(cb, "db_r")
        .select(
            F.col("da").alias("doc_a"),
            F.col("db_r").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# X2b — MinHash + LSH near-dup: the 100 TB path. Signature = 16 minimums
# of affine permutations of the shingle hash; candidates = pairs sharing
# any of 8 two-row bands; candidates are then exact-verified. Fully
# deterministic (fixed A/B/P) and oracle-checked — the DuckDB SQL below
# computes the identical signatures.
# ---------------------------------------------------------------------------


def sql_bands(hashed: str) -> str:
    """CTEs sigs, sigs2 and bands: the DuckDB MinHash signatures and
    (doc_id, band_key) rows of the (doc_id, h) relation ``hashed``."""
    mins = ",\n         ".join(
        f"MIN((h * {a} + {b}) % {P_MINHASH}) AS mh{j}"
        for j, (a, b) in enumerate(zip(A_CONST, B_CONST))
    )
    bands = ",\n      ".join(
        f"(SELECT '{b}_' || CAST(mh{2 * b} AS VARCHAR) || '_' || CAST(mh{2 * b + 1} AS VARCHAR))"
        f" AS band{b}"
        for b in range(N_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, band{b} AS band_key FROM sigs2" for b in range(N_BANDS)
    )
    return f"""sigs AS (
      SELECT doc_id,
         {mins}
      FROM {hashed} GROUP BY doc_id
    ),
    sigs2 AS (
      SELECT doc_id,
      {bands}
      FROM sigs
    ),
    bands AS ({band_rows})"""


def minhash_pairs_cte() -> str:
    """WITH-body producing ``verified(doc_a, doc_b, jaccard)`` — the
    full corpus-wide shingle → MinHash → band-join → exact-Jaccard
    chain (UNFILTERED; consumers apply the threshold). Claims CTE
    names toks/sh/hashed/sigs/sigs2/bands/cand/counts/inter/verified.
    Shared by the minhash oracle and the cross-modal dedup oracle
    (operators/semantic.py)."""
    return f"""{_SQL_SHINGLES},
    {sql_bands("hashed")},
    cand AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    {_SQL_VERIFY}"""


def _minhash_sql() -> str:
    return f"""
    WITH {minhash_pairs_cte()}
    SELECT doc_a, doc_b, jaccard FROM verified
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """


#: verified LSH pair relation memo, keyed by (applicationId, sf_dir) —
#: dedup_minhash_lsh / dedup_clusters / dedup_survivors all consume the
#: same pairs; without the memo each re-runs the _SHINGLE_CACHE arrays →
#: MinHash → band-join → in-array verify chain. localCheckpoint keeps
#: the materialization distributed; the memo only holds plan handles.
_LSH_PAIRS_CACHE = CheckpointMemo()


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyed by hash method too: the verified pair set is hash-dependent
    # in principle (candidate recall), so flag flips must not alias
    key = (spark.sparkContext.applicationId, sf_dir, _shingle_hash_method())
    cached = _LSH_PAIRS_CACHE.get(key)
    if cached is None:
        # eager, not lazy: the pairs plan consumes the _SHINGLE_CACHE
        # checkpoint, and a lazy handle materialized only at first action
        # would become unrecomputable if LRU eviction unpersisted the
        # shingle blocks in between (cross-memo lineage window). Eager
        # materialization happens here, while the shingle entry is
        # guaranteed live (we just derived the plan from it), and every
        # caller consumes the pairs immediately anyway.
        cached = _LSH_PAIRS_CACHE.put(
            key, _compute_minhash_lsh(spark, sf_dir).localCheckpoint(eager=True)
        )
    return cached


@query("dedup_minhash_lsh", oracle=_minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_verified_pairs(spark, sf_dir)


def minhash_bands_from_hashed(hashed: DataFrame) -> DataFrame:
    """(doc_id, band_key) LSH band relation from (doc_id, hs), each
    document's array of shingle hashes — the shared signature/banding
    kernel of the corpus-level `minhash_bands` and the cross-batch
    index (operators/dedup_index.py). Signature = N_PERM affine-
    permutation minimums, each a map-side array_min over ``hs``; band
    key = band index + its 2 signature rows, as DuckDB's ``bands``."""
    mh = [
        F.expr(f"array_min(transform(hs, h -> (h * {a} + {b}) % {P_MINHASH}))")
        for a, b in zip(A_CONST, B_CONST)
    ]
    bands = hashed.select(
        "doc_id",
        *[
            F.concat_ws("_", F.lit(str(b)), mh[2 * b], mh[2 * b + 1]).alias(f"band{b}")
            for b in range(N_BANDS)
        ],
    )
    return bands.select("doc_id", F.explode(F.array(*bands.columns[1:])).alias("band_key"))


def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, band_key) relation candidates bucket on — exposed so
    scale sweeps can measure per-band bucket populations (engine work =
    Σ C(pop, 2)) without re-deriving the signature pipeline."""
    arrays = _spark_shingle_arrays_materialized(spark, sf_dir)
    return minhash_bands_from_hashed(shingle_hash_arrays(arrays))


def band_pairs(bands: DataFrame) -> DataFrame:
    """(da, db), da < db: the distinct document pairs sharing a band key
    of a (doc_id, band_key) relation — the LSH candidates."""
    a = bands.select(F.col("doc_id").alias("da"), "band_key")
    b = bands.select(F.col("doc_id").alias("db"), F.col("band_key").alias("bk2"))
    # the bands relation is O(N_BANDS·n_docs) — UNBOUNDED, so the
    # self-join must never broadcast: at 500k docs (100× sweep) its
    # shuffle-compressed size slips under the AQE auto-broadcast
    # threshold and the driver OOMs deserializing 4M rows into a
    # build-side hashmap. The explicit SHUFFLE_HASH hint pins the
    # scale-safe strategy (partitioned hash join on band_key) at every
    # size; same class of fix as the r5 broadcast-hint sweep, from the
    # opposite direction (AQE choosing broadcast, not a hint forcing it).
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("band_key") == F.col("bk2")) & (F.col("da") < F.col("db")),
        )
        .select("da", "db")
        .distinct()
    )


def _compute_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = band_pairs(minhash_bands(spark, sf_dir))
    arrays = _spark_shingle_arrays_materialized(spark, sf_dir)
    return _spark_verify(arrays, cand).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# X2c — SimHash: 32-bit signature; bit b is the majority vote of shingle-
# hash bit b. Near-dups = pairs within Hamming distance 3. Candidate
# generation is pigeonhole-EXACT: the signature splits into 4 8-bit
# chunks; ≤3 differing bits can dirty at most 3 chunks, so every
# qualifying pair shares ≥1 identical (chunk_pos, chunk_value) — the
# same band-join shape as MinHash-LSH, with zero recall loss. This
# replaces the O(n²) signature cross-join.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
HAMMING_MAX = 3
_N_CHUNKS = 4  # 4 chunks × 8 bits; HAMMING_MAX must stay < _N_CHUNKS


def _simhash_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * SUM((h >> {b}) & 1) > COUNT(*) THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, sim, {c} AS cpos, (sim >> {8 * c}) & 255 AS cval FROM sigs"
        for c in range(_N_CHUNKS)
    )
    return f"""
    WITH {_SQL_SHINGLES},
    sigs AS (
      SELECT doc_id, CAST({bit_terms} AS BIGINT) AS sim
      FROM hashed GROUP BY doc_id
    ),
    chunks AS ({chunk_rows}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sim AS sim_a, b.sim AS sim_b
      FROM chunks a JOIN chunks b
        ON a.cpos = b.cpos AND a.cval = b.cval AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
    """


@query("dedup_simhash", oracle=_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = _spark_shingles_materialized(spark, sf_dir).withColumn(
        "h", _shingle_hash(F.col("s"))
    )
    bit_terms = None
    for b in range(SIMHASH_BITS):
        term = F.when(
            2 * F.sum(F.shiftright(F.col("h"), b) % 2) > F.count("*"), 1 << b
        ).otherwise(0)
        bit_terms = term if bit_terms is None else bit_terms + term
    sigs = hashed.groupBy("doc_id").agg(bit_terms.cast("bigint").alias("sim"))
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("cpos"),
                F.shiftright(F.col("sim"), 8 * c).bitwiseAND(F.lit(255)).alias("cval"),
            )
            for c in range(_N_CHUNKS)
        ]
    )
    chunks = sigs.select(
        "doc_id", "sim", F.explode(chunk_structs).alias("ch")
    ).select("doc_id", "sim", F.col("ch.cpos").alias("cpos"), F.col("ch.cval").alias("cval"))
    # r15 (guide §2.3/§2.4, the winnowing/semantic in-cell idiom): ONE
    # shuffle of the (doc, chunk) stream groups each candidate cell
    # (cpos, cval) into its sorted member list, and the a<b candidate
    # pairs are expanded IN-ARRAY — the r14 shape shuffled the chunk
    # stream twice more for the self-join sides. doc_ids are distinct
    # within a cell (one chunk row per doc per cpos), so the sorted
    # position pairs enumerate exactly the join's doc_a < doc_b matches;
    # the cross-cell DISTINCT (pairs sharing several chunks) is
    # unchanged. Cell population is corpus_size / 2^8 per cpos — the
    # same O(Σ|cell|²) pairing work as the self-join, concentrated in
    # one stage; production simhash grows SIMHASH_BITS/_N_CHUNKS (e.g.
    # 64-bit, 16-bit chunks → 2^16 cells) so cells stay bounded, which
    # bounds the collected member arrays exactly as it bounds the
    # self-join buckets.
    cells = chunks.groupBy("cpos", "cval").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "sim"))).alias("ms")
    )
    pair_expr = F.expr(
        "flatten(transform(ms, (x, i) ->"
        " transform(slice(ms, i + 2, size(ms) - i - 1),"
        " y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
        "             x.sim AS sim_a, y.sim AS sim_b))))"
    )
    cand = (
        cells.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.sim_a", "p.sim_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.filter(ham <= HAMMING_MAX).select(
        "doc_a", "doc_b", ham.cast("bigint").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Cluster formation: connected components over the near-dup pair graph —
# an ITERATIVE algorithm (min-label propagation to fixpoint) showing the
# loop-until-convergence pattern on DataFrames. The oracle is a DuckDB
# recursive CTE computing the same transitive closure, so even the
# iterative operator is exact-checked.
# At 100 TB: label propagation is the standard large-graph CC approach
# (O(diameter) joins, each shuffling only (node, label) pairs);
# lineage is cut per iteration via localCheckpoint.
# ---------------------------------------------------------------------------


def _clusters_sql() -> str:
    lsh = _minhash_sql()
    body = lsh[: lsh.rindex("SELECT doc_a")]  # WITH ... verified AS (...)
    return f"""{body},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
    ),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    """


def _clusters_oracle() -> str:
    return _clusters_sql().replace("WITH", "WITH RECURSIVE", 1)


def _involved_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _counted_cluster_labels(spark, sf_dir)[0]


def _counted_cluster_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """((doc_id, cluster_id), row count) for the documents that appear
    in at least one verified near-dup pair — the ONLY documents whose
    component can contain more than one member. Iterative min-label
    propagation restricted to this involved set (r15, guide §1.2/§2.3): the r14
    shape seeded labels with EVERY document, so each of the O(diameter)
    iterations joined, checkpointed and counted a corpus-sized relation
    to propagate labels that only ever change on the pair-involved
    sliver. At 100 TB the near-dup graph is a small fraction of the
    corpus (LSH bucket caps bound the pair count), so every iteration
    now touches O(|pairs|) rows instead of O(|corpus|); singleton
    documents never enter the loop and are attached label = own id by
    the callers that need them (dedup_clusters' left join). Both counts
    are observed on each iteration's eager checkpoint: no count actions."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = fwd.unionByName(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    ).localCheckpoint(eager=False)

    # both pair directions are in `edges`, so selecting one endpoint
    # column yields every involved node
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(20):  # diameter bound; fixture components are tiny
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        proposed = F.least(
            F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
        )
        # eager checkpoint: one materialization serves the counts and
        # the next iteration (no recompute, lineage cut). Spark keys a
        # pending observation by name, so each one gets a fresh name.
        obs = Observation(f"cc_labels_{uuid.uuid4().hex}")
        labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                proposed.alias("cluster_id"),
                (proposed < F.col("cluster_id")).alias("_changed"),
            )
            .observe(obs, F.count_if("_changed").alias("changed"), F.count("*").alias("n"))
            .localCheckpoint(eager=True)
            .drop("_changed")
        )
        counts = obs.get
        if counts["changed"] == 0:
            break
    return labels, counts["n"]


@query("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component id (= min doc_id in the component) for every
    document, over the MinHash-LSH verified near-dup graph. Iterative
    min-label propagation over the pair-involved documents only
    (_involved_cluster_labels); every other document is its own
    singleton component, attached here as a corpus-sized left join —
    one shuffle-free pass (the involved side is small, AQE broadcasts
    it) instead of dragging the full corpus through every iteration."""
    labels = _involved_cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Survivor selection: greedy keep-lowest-id over the near-dup pair set
# (a document is dropped iff it near-matches a lower-id document).
# ---------------------------------------------------------------------------


#: Broadcast bound for the pair-involved id set (8-byte ids → ~400 MB
#: framed at this row count): under it the survivor-quality semi-join
#: ships ids to the corpus scan; over it the planner falls back to a
#: shuffle join rather than risk executor memory on an O(dup-fraction)
#: broadcast.
_INVOLVED_BROADCAST_ROWS = 50_000_000


def _survivors_quality_oracle() -> str:
    from .relational import dd
    from .text import _sql_list, EN_STOP

    body = _clusters_oracle()
    final = "SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src"
    head = body[: body.rindex(final)].rstrip()
    return f"""{head},
    clusters AS (
      {final}
    ),
    qt AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS qtoks
      FROM documents
    ),
    qscore AS (
      SELECT doc_id,
             CAST(
               CAST(len(list_filter(qtoks, w -> list_contains([{_sql_list(EN_STOP)}], w)))
                    AS DOUBLE) / len(qtoks)
               + CAST(len(list_distinct(qtoks)) AS DOUBLE) / len(qtoks)
               + CAST(CASE WHEN len(qtoks) >= 20 AND len(qtoks) <= 200
                      THEN 1 ELSE 0 END AS DOUBLE)
             AS DECIMAL(14,6)) AS quality
      FROM qt WHERE len(qtoks) > 0
    ),
    members AS (
      SELECT c.cluster_id, c.doc_id, s.quality
      FROM clusters c JOIN qscore s USING (doc_id)
    ),
    ranked AS (
      SELECT cluster_id, doc_id, quality,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM members
    )
    SELECT cluster_id, doc_id AS survivor_id, n_members,
           {dd("quality")} AS survivor_quality
    FROM ranked WHERE rn = 1 AND n_members >= 2
    """


@query("dedup_survivors_by_quality", oracle=_survivors_quality_oracle())
def dedup_survivors_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per duplicate CLUSTER: production
    dedup keeps the BEST-QUALITY member of each near-dup component, not
    the lowest id (the greedy `dedup_survivors` rule) — the kept copy
    is what trains, so quality decides. Composes the iterative
    connected components (`dedup_clusters`) with the Gopher-style
    quality score (`text_quality_score`'s per-doc decimal expression,
    bit-stable cross-engine) and picks argmax(quality, tie → min
    doc_id) per multi-member cluster via a groupBy struct-max — an
    all-partial-aggregable shape with NO per-cluster window (cluster
    ids are data-sized keys; the window form would be fine for
    parallelism but the agg form is one shuffle and no sort).

    r15 (guide §1.2 "don't compute things you throw away"): only
    pair-INVOLVED documents can sit in an n_members >= 2 cluster —
    every other document is a singleton the final filter drops — so
    the tokenize-and-score pass runs over the involved sliver instead
    of the whole corpus, and the cluster relation never materializes
    the corpus-sized singleton tail at all. The id-only involved set is
    broadcast into the semi-join when it fits (§3.1/§3.2 — the label
    loop's last observation counts the involved rows), so the heavy
    text column never crosses an exchange; past the bound the join is
    left unhinted (SMJ, with Spark's runtime Bloom filter available)
    rather than risking a multi-GB broadcast."""
    from .text import EN_STOP

    clusters, n_involved = _counted_cluster_labels(spark, sf_dir)
    involved = clusters.select("doc_id")
    if n_involved <= _INVOLVED_BROADCAST_ROWS:
        involved = F.broadcast(involved)
    docs = (
        load_table(spark, sf_dir, "documents")
        .join(involved, "doc_id", "left_semi")
        .withColumn("qtoks", F.split(F.trim("text"), r"\s+"))
    )
    n = F.size("qtoks")
    stop_arr = F.array(*[F.lit(w) for w in EN_STOP])
    n_stop = F.size(F.filter("qtoks", lambda w: F.array_contains(stop_arr, w)))
    quality = (
        (n_stop.cast("double") / n)
        + F.size(F.array_distinct("qtoks")).cast("double") / n
        + F.when((n >= 20) & (n <= 200), 1).otherwise(0).cast("double")
    ).cast("decimal(14,6)")
    scored = docs.filter(n > 0).select("doc_id", quality.alias("quality"))
    members = clusters.join(scored, "doc_id")
    best = (
        members.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max(
                F.struct(
                    F.col("quality").alias("q"),
                    (-F.col("doc_id")).alias("negid"),
                )
            ).alias("b"),
        )
        .filter(F.col("n_members") >= 2)
    )
    return best.select(
        "cluster_id",
        (-F.col("b.negid")).alias("survivor_id"),
        "n_members",
        F.col("b.q").cast("double").alias("survivor_quality"),
    )


# ---------------------------------------------------------------------------
# X2d — embedding-cosine near-dup: semantic (vector) deduplication over
# the embeddings table (vec_id aligns with doc_id in the fixtures).
# Quantized-integer dot products make the cosine bit-identical across
# engines (see operators/similarity.py for the full derivation).
# ---------------------------------------------------------------------------

COSINE_NEARDUP_THRESHOLD = 0.45

#: rows per tile for the block-matmul; at 64-dim int64 a tile is
#: TILE_ROWS × 64 × 8 B ≈ 0.5 MB — sized to multiply in L2/L3, and small
#: enough that a joined tile-pair row stays well inside an Arrow batch.
TILE_ROWS = 1024


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qe
      FROM embeddings
    ), n AS (
      SELECT vec_id, qe, list_sum(list_transform(qe, x -> x * x)) AS nq FROM q
    )
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           CAST(list_sum(list_transform(range(64), i -> a.qe[i+1] * b.qe[i+1])) AS DOUBLE)
             / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST(list_sum(list_transform(range(64), i -> a.qe[i+1] * b.qe[i+1])) AS DOUBLE)
             / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))
          >= {COSINE_NEARDUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs by embedding cosine ≥ threshold.

    Exact all-pairs, computed as a DISTRIBUTED BLOCK MATMUL: the corpus
    is packed into ~0.5 MB tiles of TILE_ROWS quantized vectors
    (``applyInPandas`` per tile id), tiles self-join on
    ``tile_a <= tile_b`` (ids are monotone across tiles, so the lower
    triangle suffices), and each tile pair multiplies with numpy int64
    matmul inside ``mapInPandas`` (Arrow-batched). Integer dot products
    are exact, so the result is bit-identical to the SQL oracle.

    Nothing materializes on the driver and no side is broadcast — both
    tile relations stay partitioned, so at 100 TB the O((n/TILE)²) tile
    pairs spread over the cluster instead of bottlenecking one machine.
    (All-pairs is inherently quadratic; the candidate-pruned subquadratic
    alternative is ann_lsh_bucketed.) Tiling keys off dense vec_ids via
    floor-division; sparse id spaces should remap ids first (a zipWith-
    index-style densify) to keep tiles balanced.
    """
    import numpy as np
    import pandas as pd

    from .similarity import _spark_quantized_materialized

    q = _spark_quantized_materialized(spark, sf_dir).select("vec_id", "qe", "nq")
    threshold = COSINE_NEARDUP_THRESHOLD

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        return pd.DataFrame(
            {
                "tile": [int(pdf["tile"].iloc[0])],
                "ids": [pdf["vec_id"].to_numpy().tolist()],
                "mat": [np.array(pdf["qe"].tolist(), dtype=np.int64).ravel().tolist()],
                "nq": [pdf["nq"].to_numpy().tolist()],
            }
        )

    tiles = (
        q.withColumn("tile", F.floor(F.col("vec_id") / TILE_ROWS))
        .groupBy("tile")
        .applyInPandas(
            pack, schema="tile long, ids array<long>, mat array<long>, nq array<long>"
        )
    )
    a = tiles.select(
        F.col("tile").alias("tile_a"), F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"), F.col("nq").alias("nq_a"),
    )
    # lower-triangle tile pairs as an EQUI-join: each b-tile explodes the
    # list of a-tiles it must meet (tile ids are dense from 0, so
    # sequence(0, tile_b) enumerates them). A `tile_a <= tile_b` theta
    # join would force a nested-loop broadcast of the whole tile relation
    # — this shape shuffle-joins on tile_a and stays distributed.
    b = tiles.select(
        F.col("tile").alias("tile_b"), F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"), F.col("nq").alias("nq_b"),
    ).withColumn("tile_a", F.explode(F.sequence(F.lit(0).cast("long"), F.col("tile_b"))))
    joined = a.join(b, "tile_a")

    def multiply(it):
        for pdf in it:
            out_a, out_b, out_cos = [], [], []
            for row in pdf.itertuples(index=False):
                ids1 = np.asarray(row.ids_a, dtype=np.int64)
                ids2 = np.asarray(row.ids_b, dtype=np.int64)
                m1 = np.asarray(row.mat_a, dtype=np.int64).reshape(len(ids1), -1)
                m2 = np.asarray(row.mat_b, dtype=np.int64).reshape(len(ids2), -1)
                rn1 = np.sqrt(np.asarray(row.nq_a, dtype=np.int64).astype(np.float64))
                rn2 = np.sqrt(np.asarray(row.nq_b, dtype=np.int64).astype(np.float64))
                dot = m1 @ m2.T  # exact int64
                cos = dot.astype(np.float64) / (rn1[:, None] * rn2[None, :])
                ai, bi = np.nonzero(
                    (cos >= threshold) & (ids1[:, None] < ids2[None, :])
                )
                out_a.append(ids1[ai])
                out_b.append(ids2[bi])
                out_cos.append(cos[ai, bi])
            if out_a:
                yield pd.DataFrame(
                    {
                        "doc_a": np.concatenate(out_a),
                        "doc_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_cos),
                    }
                )

    return joined.mapInPandas(
        multiply, schema="doc_a long, doc_b long, cosine double"
    )


def _survivors_sql() -> str:
    # the LSH pipeline's verified pairs (same CTE chain as dedup_minhash_lsh)
    lsh = _minhash_sql()
    body = lsh[: lsh.rindex("SELECT doc_a")]  # keep WITH ... verified AS (...)
    return f"""{body}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM verified v
      WHERE v.jaccard >= {JACCARD_THRESHOLD} AND v.doc_b = d.doc_id
    )
    """


@query("dedup_survivors", oracle=_survivors_sql())
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy keep-lowest-id survivor set over the MinHash-LSH verified
    pairs (the scale path: candidates from band buckets, not all-pairs —
    and the oracle consumes the *same* LSH pipeline, so both engines see
    identical pair sets by construction at any scale)."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


#: Winnowing-overlap candidate generation: fingerprints appearing in more
#: than this many documents are boilerplate and dropped before pairing —
#: this caps every join bucket at WINNOW_DF_CAP rows, so the per-bucket
#: pairing is O(cap²) regardless of corpus size.
WINNOW_DF_CAP = 10
#: Minimum shared fingerprints for a candidate pair.
WINNOW_MIN_SHARED = 3


@query(
    "dedup_winnowing_overlap",
    oracle=f"""
    WITH {WINNOW_CTES_SQL},
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM m),
    df AS (SELECT fp, COUNT(*) AS df FROM fp GROUP BY fp),
    kept AS (
      SELECT f.doc_id, f.fp FROM fp f
      JOIN df ON f.fp = df.fp WHERE df.df <= {WINNOW_DF_CAP}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n_fps FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE)
             / (sa.n_fps + sb.n_fps - n_shared) AS fp_jaccard
    FROM pairs
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE n_shared >= {WINNOW_MIN_SHARED}
    """,
)
def dedup_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidates by shared winnowing fingerprints
    (SIGMOD'03 §4: two documents sharing a run of >= K+W-1 characters
    share a fingerprint) — the content-overlap complement to the
    token-shingle MinHash path.

    Scale shape: fingerprint extraction is map-only (text.winnow_fps_df);
    the explode shuffles (doc_id, fp) pairs keyed by 64-bit fingerprint;
    the document-frequency cap ({WINNOW_DF_CAP}) drops boilerplate
    fingerprints so every equi-join bucket holds <= cap rows — the same
    bounded-bucket argument as the banded MinHash-LSH pipeline, with no
    O(n²) anywhere. Jaccard over fingerprint sets is exact on the kept
    fingerprints (division-only double, bit-portable)."""
    # Session-memoized fingerprint sets (shared with
    # text_winnowing_fingerprint — the md5-per-gram pass is the dominant
    # cost of both queries, r15 guide §1.2). The memo's localCheckpoint
    # is also the mandatory pre-explode lineage cut (CollapseProject
    # would re-evaluate the md5-heavy fps array per output element —
    # O(grams²) per doc).
    pre = winnow_fp_sets(spark, sf_dir)
    fp = pre.select("doc_id", F.explode("fps").alias("fp"))
    # ONE shuffle of the (doc_id, fp) stream now does BOTH the df cap
    # and the pairing (r14, guide §2.3/§2.4): group each fingerprint
    # into its sorted member list (df == list length, row-multiplicity
    # preserved), drop over-cap boilerplate buckets, and generate the
    # a<b member pairs IN-ARRAY. The r13 shape shuffled the stream for
    # the df count, again for the cap join, and twice more for the
    # self-join sides (14 exchanges); every pair the self-join's
    # bucket-bounded O(cap²) work produced — including multiplicity
    # products when a doc repeats a fingerprint — falls out of the
    # position-pair expansion of the same sorted multiset.
    bucket = (
        fp.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") <= WINNOW_DF_CAP)
        .localCheckpoint(eager=False)  # feeds pair gen AND per-doc sizes
    )
    sz = (
        bucket.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_fps"))
    )
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds) - i - 1),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    pairs = (
        bucket.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    sa = sz.alias("sa")
    sb = sz.alias("sb")
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("sa.n_fps") + F.col("sb.n_fps") - F.col("n_shared"))
            ).alias("fp_jaccard"),
        )
    )
