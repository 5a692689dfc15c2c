"""Cross-batch persistent near-dup index — the incremental path for X2.

VERDICT r6 "What's missing" #1: every other near-dup operator dedups
within ONE corpus snapshot. A training-data pipeline ingests batch
after batch and must dedup each batch against the ACCUMULATED corpus —
re-running full-corpus LSH per batch costs O(corpus) each time,
O(corpus²) cumulative. Instead, the MinHash LSH state is persisted ONCE
as two bucketed parquet tables:

  {name}_bands    (doc_id, band_key)  bucketed+sorted on band_key
  {name}_shingles (doc_id, h)         bucketed+sorted on doc_id

and each incoming batch (a) computes its own signatures — O(batch) —
(b) probes its band keys against the band index, (c) exact-verifies
Jaccard against the shingle index pruned to candidate docs, and
(d) appends only its NOVEL documents' rows. This is the
``mv_incremental_refresh`` pattern (operators/matview.py) applied to
deduplication.

100 TB posture: the index is the big side and is NEVER shuffled — its
bucketed layout means the candidate join exchanges only the
O(batch·N_BANDS) probe side (or broadcasts it), and verification
touches only candidate documents' shingle rows. Per-batch cost is
proportional to the batch and its candidate set, independent of corpus
size except through bounded band-bucket populations (the same
pigeonhole argument as dedup_minhash_lsh, measured flat across three
decades in SCALE.md). The index stores 32-bit shingle FINGERPRINTS, not
shingle text — ~10× smaller, and exact-Jaccard over the fingerprint
sets is engine-portable because DuckDB computes the identical md5
prefix (collisions, ~1e-10 per doc pair, affect both engines equally).

Reference parity: the reference has no dedup surface (SURVEY.md §2.8 is
the pipeline-extension family); its closest analog is the unsynced-flag
incremental transfer loop (transfer_data_script.py:96-133), which this
operator generalizes from "rows not yet copied" to "documents not yet
seen, under near-duplicate equality".
"""

from __future__ import annotations

import os
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.bucketing import (
    index_table_name,
    write_bucketed,
    write_bucketed_aligned,
)
from ..functions.index_base import (
    add_tombstones,
    append_bucketed,
    apply_tombstones,
    check_index_format,
    fold_side_tables,
    expired_ids,
    record_stamps,
    single_writer,
    snapshot_before_write,
    swap_table,
    tombstones,
    write_index_meta,
)
from ..functions.memo import CheckpointMemo, unpersist_checkpoints
from .dedup import (
    JACCARD_THRESHOLD,
    _SQL_SHINGLES,
    _shingle_hash,
    band_pairs,
    minhash_bands_from_hashed,
    shingle_arrays_from_docs,
    shingle_hash_arrays,
    sql_bands,
)
from .registry import query

#: bucket count for both index tables at fixture scale. At 100 TB size
#: this the usual way (functions/bucketing.py guidance): buckets ≈
#: corpus_band_rows / target_partition, typically 4-32k.
N_INDEX_BUCKETS = 16

#: registry-demo split: doc_id % BATCH_MOD == 0 is the "incoming batch",
#: the rest is the already-indexed historical corpus (~25% / 75%).
BATCH_MOD = 4


class DedupIndex(NamedTuple):
    """Handle to a persisted index: two catalog-registered bucketed
    tables (bucketing metadata lives in the session catalog — reading
    the raw parquet back would lose the exchange-free join layout)."""

    bands_table: str
    shingles_table: str


#: on-disk format contract (functions/index_base.check_index_format):
#: verified at every probe/mutation entry, stamped at build/compact
_FORMAT_KIND = "near_dup_lsh"
_FORMAT_TABLES = {"bands": ["doc_id", "band_key"], "shingles": ["doc_id", "h"]}


def _check_format(
    spark: SparkSession, index: "DedupIndex", backfill: bool = False
) -> None:
    check_index_format(
        spark, index.bands_table, _FORMAT_KIND, _FORMAT_TABLES,
        backfill=backfill,
    )


class BatchDedupResult(NamedTuple):
    """Output of one incremental batch probe.

    ``matched``  — (doc_a, doc_b, jaccard), doc_a < doc_b: every
                   verified near-dup pair touching the batch (batch×index
                   and batch×batch).
    ``novel_ids`` — (doc_id): batch docs that matched nothing already
                   seen and no earlier (lower-id) batch doc — the rows a
                   pipeline would admit and index.
    ``batch_shingles`` / ``batch_bands`` — the batch's signature
                   relations (checkpointed), ready for
                   :func:`extend_dedup_index`.
    ``checkpoints`` — every localCheckpoint handle backing the above;
                   the caller owns their blocks (park the result in a
                   CheckpointMemo or call
                   ``unpersist_checkpoints(df) for df in checkpoints``).
    """

    matched: DataFrame
    novel_ids: DataFrame
    batch_shingles: DataFrame
    batch_bands: DataFrame
    checkpoints: tuple[DataFrame, ...]


def batch_signatures(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(hashed, bands, pre): distinct (doc_id, h) shingle fingerprints
    and (doc_id, band_key) LSH bands for a (doc_id, text, ...) relation.
    ``pre``, the checkpointed shingle arrays, feeds the band kernel its
    hash arrays and defuses the Generate-collapse trap for the explode
    (dedup._spark_shingles_materialized). ``pre`` is returned so the
    caller can free it — it hides inside the others' RDD lineage."""
    pre = shingle_arrays_from_docs(docs).localCheckpoint(eager=False)
    sh = pre.select("doc_id", F.explode("shingles").alias("s"))
    hashed = (
        sh.select("doc_id", _shingle_hash(F.col("s")).alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    bands = minhash_bands_from_hashed(shingle_hash_arrays(pre)).localCheckpoint(
        eager=False
    )
    return hashed, bands, pre


def build_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    name: str,
    n_buckets: int = N_INDEX_BUCKETS,
    stamp: int | None = None,
) -> DedupIndex:
    """Persist the LSH state of ``docs`` as the two bucketed tables.
    The one-time write is the only corpus-sized shuffle the index ever
    pays; every later batch probe reads the layout shuffle-free.
    ``stamp``: optional logical ingest stamp for TTL expiry (see
    extend_dedup_index); None skips the stamp write.

    Heap-bounded build (round-13 VERDICT #1). The previous build ran
    through :func:`batch_signatures`, whose three corpus-sized
    ``localCheckpoint`` relations (pre-explode shingle arrays, hashed
    shingles, bands) all pin deserialized block-manager memory at once
    — at the 5M-doc 1000× point (~190M shingle rows) that exceeded the
    default 8 GiB single-JVM heap, and on a real cluster the same shape
    would OOM a skewed executor. The build now caches NOTHING
    corpus-sized; every barrier is a disk-backed shuffle:

    1. shingle arrays → ``repartition(par, doc_id)`` — the exchange is
       the pipeline breaker that defuses the Generate-collapse trap
       (the array transform is materialized into shuffle files, the
       explode reads a plain column), replacing the pre-explode
       checkpoint;
    2. explode + hash + ``distinct`` — the post-barrier rows are
       already hash-clustered by doc_id, and clustering by a SUBSET of
       the distinct keys satisfies the aggregation's distribution, so
       the dedup adds no exchange;
    3. the distinct relation is written straight to the bucketed
       shingles table (aligned pre-shuffle → one file per bucket);
    4. the band kernel reads each document's hash array collected from
       the PERSISTED bucketed table — the ``collect_list`` groupBy on
       the bucket key is exchange-free — instead of a cached relation,
       and its output shuffles once onto band_key for the aligned bands
       write.

    Probe paths keep batch_signatures unchanged: micro-batches are
    small, and their checkpoints are reused across 2-3 plan branches
    within one epoch."""
    par = max(
        spark.sparkContext.defaultParallelism,
        n_buckets,
    )
    pre = shingle_arrays_from_docs(docs).repartition(par, F.col("doc_id"))
    sh = pre.select("doc_id", F.explode("shingles").alias("s"))
    hashed = sh.select("doc_id", _shingle_hash(F.col("s")).alias("h")).distinct()
    idx = DedupIndex(f"{name}_bands", f"{name}_shingles")
    write_bucketed_aligned(
        hashed, idx.shingles_table, os.path.join(path, "shingles"),
        "doc_id", n_buckets,
    )
    persisted = spark.table(idx.shingles_table)
    bands = minhash_bands_from_hashed(
        persisted.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))
    )
    write_bucketed_aligned(
        bands, idx.bands_table, os.path.join(path, "bands"),
        "band_key", n_buckets,
    )
    if stamp is not None:
        record_stamps(
            spark, idx.bands_table, persisted.select("doc_id").distinct(),
            stamp,
        )
    write_index_meta(path, _FORMAT_KIND, _FORMAT_TABLES)
    return idx


def _verify_hashed(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard over distinct 32-bit shingle fingerprints for
    candidate pairs ``cand(da, db)`` against ``sh(doc_id, h)`` rows —
    the row form of dedup._spark_verify, because the index persists
    fingerprint rows, not shingle text or per-document arrays."""
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("da"), "h")
    b = sh.select(F.col("doc_id").alias("db_r"), F.col("h").alias("h_r"))
    inter = (
        cand.join(a, "da")
        .join(b, (F.col("db") == F.col("db_r")) & (F.col("h") == F.col("h_r")))
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
    )
    ca = counts.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(ca, "da")
        .join(cb, "db")
        .select("da", "db", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def dedup_batch_against_index(
    spark: SparkSession, batch_docs: DataFrame, index: DedupIndex
) -> BatchDedupResult:
    """Dedup one incoming batch against the accumulated corpus index,
    WITHOUT rescanning the corpus (plan-asserted: the matched relation's
    only non-checkpoint leaves are the two index tables).

    Equivalence contract (the oracle's basis): provided the index holds
    exactly the already-seen corpus and doc_ids are globally unique,
    ``matched`` equals the monolithic full-corpus LSH pair set
    (dedup_minhash_lsh over seen ∪ batch) restricted to pairs touching
    the batch. Proof sketch: band keys are per-document, so a
    full-corpus candidate pair touching the batch is either batch×index
    (found by the cross probe) or batch×batch (the within probe), and
    exact-Jaccard verification is a per-pair function of the two
    fingerprint sets — identical in both computations.

    Novelty is the greedy keep-lowest-id rule of dedup_survivors: a
    batch doc is a duplicate if it verified-matches ANY indexed doc, or
    a lower-id batch doc. Sub-3-token docs have no shingles, never match
    anything (same as the monolithic pipeline), and are reported novel.
    """
    _check_format(spark, index)
    b_hashed, b_bands, pre = batch_signatures(batch_docs)
    # retracted docs (takedowns/TTL) are anti-joined out via broadcast —
    # the index side keeps its bucketed partitioning, so the candidate
    # join below stays exchange-free; no-op (no join at all) when the
    # index has no tombstone relation
    tombs = tombstones(spark, index.bands_table)
    idx_bands = apply_tombstones(spark.table(index.bands_table), tombs, "doc_id")
    idx_sh = apply_tombstones(spark.table(index.shingles_table), tombs, "doc_id")

    # cross probe: batch bands vs the bucketed band index. The index
    # side's bucketed layout satisfies the join's distribution
    # requirement as-is; only the batch side is exchanged (or, under
    # AQE, broadcast — either plan leaves the corpus side unshuffled).
    cross = (
        b_bands.select("band_key", F.col("doc_id").alias("bid"))
        .join(idx_bands.select("band_key", F.col("doc_id").alias("iid")), "band_key")
        .filter(F.col("bid") != F.col("iid"))  # no-op under disjoint-id
        .select("bid", "iid")                  # contract; guards misuse
        .distinct()
    )
    # within probe: the batch's own band self-join
    within = band_pairs(b_bands)

    # verification: prune the corpus shingle index to candidate docs
    # FIRST (semi-join on its bucket key doc_id), so the intersect join
    # touches O(candidates), not O(corpus).
    idx_docs = cross.select(F.col("iid").alias("doc_id")).distinct()
    idx_needed = idx_sh.join(idx_docs, "doc_id", "left_semi")
    sh_cross = b_hashed.unionByName(idx_needed)
    v_cross = _verify_hashed(
        cross.select(F.col("bid").alias("da"), F.col("iid").alias("db")), sh_cross
    )
    v_within = _verify_hashed(within, b_hashed)

    matched = v_cross.select(
        F.least("da", "db").alias("doc_a"),
        F.greatest("da", "db").alias("doc_b"),
        "jaccard",
    ).unionByName(
        v_within.select(
            F.col("da").alias("doc_a"), F.col("db").alias("doc_b"), "jaccard"
        )
    )

    dup_ids = (
        v_cross.select(F.col("da").alias("doc_id"))  # da = the batch side
        .unionByName(v_within.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    novel = batch_docs.select("doc_id").join(dup_ids, "doc_id", "left_anti")

    return BatchDedupResult(
        matched=matched,
        novel_ids=novel,
        batch_shingles=b_hashed,
        batch_bands=b_bands,
        checkpoints=(b_hashed, b_bands, pre),
    )


def dedup_slice_against_inclusive_index(
    spark: SparkSession,
    slice_docs: DataFrame,
    index: DedupIndex,
    epoch_ids: DataFrame,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """Novelty of one SLICE of the current epoch against an index that
    ALREADY CONTAINS the whole epoch's signatures — the decide phase of
    the partitioned multi-stream admission protocol
    (streaming/multi_admission.py: all streams publish signatures
    first, barrier, then decide). Because the batch is in the index,
    the disjoint-id prober (:func:`dedup_batch_against_index`) cannot
    be used; instead the candidate pairs are id-disciplined directly:

      slice doc d is a DUPLICATE iff it verified-pairs with an indexed
      doc d' that is (a) OUTSIDE the current epoch — seen strictly
      before, any id (the corpus, or an earlier epoch) — or (b) inside
      the current epoch with a LOWER id.

    That is exactly dedup_batch_against_index's rule restated for an
    inclusive index (index-hit = any id because the index held only
    already-seen docs; within-batch = lower id), so under the same
    id-ordered-epoch contract the merged slice decisions equal the
    monolithic funnel oracle. ``epoch_ids``: (doc_id) of the FULL
    current epoch across all slices — O(epoch), operator-bounded, hence
    broadcast (the standard streaming-broadcast bound).

    Returns (novel_ids, checkpoints); the caller owns the checkpoints'
    blocks. Sub-shingle docs match nothing and are reported novel, as
    everywhere else."""
    _check_format(spark, index)
    b_hashed, b_bands, pre = batch_signatures(slice_docs)
    tombs = tombstones(spark, index.bands_table)
    idx_bands = apply_tombstones(spark.table(index.bands_table), tombs, "doc_id")
    idx_sh = apply_tombstones(spark.table(index.shingles_table), tombs, "doc_id")

    epoch_marked = F.broadcast(
        epoch_ids.select(F.col("doc_id").alias("iid"), F.lit(True).alias("_ep"))
    )
    cand = (
        b_bands.select("band_key", F.col("doc_id").alias("bid"))
        .join(idx_bands.select("band_key", F.col("doc_id").alias("iid")), "band_key")
        .filter(F.col("bid") != F.col("iid"))  # never self-pair
        .select("bid", "iid")
        .distinct()
        .join(epoch_marked, "iid", "left")
        # keep: seen-before docs (not in this epoch) OR lower-id
        # same-epoch docs — the funnel's epoch-cut-invariant dup rule
        .filter(
            ~F.coalesce("_ep", F.lit(False)) | (F.col("iid") < F.col("bid"))
        )
        .select("bid", "iid")
    )
    # verification shingles: the slice's own (from the just-computed
    # signatures) plus candidate partners' index rows, EXCLUDING index
    # copies of slice docs (phase 1 already published them — a blind
    # union would double every (doc_id, h) row and corrupt the Jaccard
    # counts)
    idx_docs = cand.select(F.col("iid").alias("doc_id")).distinct()
    idx_needed = idx_sh.join(idx_docs, "doc_id", "left_semi").join(
        slice_docs.select("doc_id"), "doc_id", "left_anti"
    )
    sh = b_hashed.unionByName(idx_needed)
    verified = _verify_hashed(
        cand.select(F.col("bid").alias("da"), F.col("iid").alias("db")), sh
    )
    dup_ids = verified.select(F.col("da").alias("doc_id")).distinct()
    novel = slice_docs.select("doc_id").join(dup_ids, "doc_id", "left_anti")
    return novel, (b_hashed, b_bands, pre)


def extend_dedup_index(
    spark: SparkSession,
    index: DedupIndex,
    result: BatchDedupResult,
    n_buckets: int = N_INDEX_BUCKETS,
    stamp: int | None = None,
) -> None:
    """Append the NOVEL batch docs' band/shingle rows to the index
    tables (duplicates stay represented by their retained counterpart —
    re-indexing them would only re-report the same matches). Appends
    preserve the bucket spec; each adds at most one file per non-empty
    bucket, so batch cadence × bucket count bounds file count (compact
    periodically at high cadence, like any bucketed CDC sink).

    Both append relations are MATERIALIZED before either write:
    ``novel_ids``'s lazy plan reads the index tables themselves, so
    evaluating it after the first append would see the batch's own
    freshly written rows, self-match them, and silently shrink the
    second append to nothing (read-your-own-writes; caught by
    tests/test_dedup_index.py's two-batch flow).

    ``stamp``: optional logical ingest stamp for the novel ids — the
    TTL substrate (:func:`expire_dedup_index`). None skips the stamp
    write entirely (no extra job for pipelines that never expire).

    Single-writer: the whole read-snapshot → append sequence holds the
    index write lock; a concurrent extend would interleave its appends
    between this one's snapshot and writes (torn extend)."""
    _check_format(spark, index, backfill=True)
    with single_writer(spark, index.bands_table, op="extend"):
        nb = snapshot_before_write(
            result.batch_bands.join(result.novel_ids, "doc_id", "left_semi")
        )
        nh = snapshot_before_write(
            result.batch_shingles.join(result.novel_ids, "doc_id", "left_semi")
        )
        # stamps before the data append (round-9 review): a crash in
        # between leaves stamped-but-unindexed ids (harmless), never
        # indexed-but-unstamped rows that TTL could no longer reach
        if stamp is not None:
            record_stamps(
                spark, index.bands_table, nb.select("doc_id").distinct(), stamp
            )
        append_signature_rows(spark, index, nb, nh, n_buckets)
    for d in (nb, nh):
        unpersist_checkpoints(d)


def append_all_signatures(
    spark: SparkSession,
    index: DedupIndex,
    bands_rows: DataFrame,
    shingle_rows: DataFrame,
    stamp: int | None = None,
    op: str = "extend",
    n_buckets: int = N_INDEX_BUCKETS,
    wait: float | None = None,
) -> None:
    """Append the signature rows of ALL given docs — no novelty filter —
    with the full extend contract (single-writer lock; stamps recorded
    BEFORE the data append so a crash in between leaves
    stamped-but-unindexed ids, never unstampable rows). ``wait``: bound
    for the writer-lock retry — the publish phase of partitioned
    multi-stream admission has N streams legitimately contending here
    (streaming/multi_admission.py), and their inputs are checkpointed
    slices, never lazy reads of the index, so waiting is safe under the
    torn-extend analysis.

    This is the ingest-funnel's "seen = probed" index discipline
    (streaming/ingest_funnel.py): indexing duplicates too makes the
    funnel's dup rule — "a doc is a duplicate iff it verified-pairs
    with ANY previously probed doc, regardless of that doc's own fate" —
    invariant under how the stream is cut into epochs, which is exactly
    what lets N streamed epochs hash-match the monolithic batch oracle.
    extend_dedup_index's novel-only append stays the right call for the
    plain admission sink, where re-reporting a retained doc's matches is
    the goal and index growth is the cost.

    The inputs must not read the index tables through a lazy plan
    (batch_signatures output never does)."""
    _check_format(spark, index, backfill=True)
    with single_writer(spark, index.bands_table, op=op, wait=wait):
        if stamp is not None:
            record_stamps(
                spark, index.bands_table, bands_rows.select("doc_id").distinct(), stamp
            )
        append_signature_rows(spark, index, bands_rows, shingle_rows, n_buckets)


def append_signature_rows(
    spark: SparkSession,
    index: DedupIndex,
    bands_rows: DataFrame,
    shingle_rows: DataFrame,
    n_buckets: int = N_INDEX_BUCKETS,
) -> None:
    """Low-level append of (doc_id, band_key) / (doc_id, h) rows to the
    two index tables — functions/index_base.append_bucketed per table,
    which also refreshes the relation cache through the CALLER's
    session (the rows may belong to a foreachBatch epoch-clone session;
    caught by tests/test_streaming_index_dedup.py). The inputs must NOT
    read the index tables through a lazy plan (snapshot_before_write
    first — see extend_dedup_index)."""
    append_bucketed(spark, index.bands_table, bands_rows, "band_key", n_buckets)
    append_bucketed(spark, index.shingles_table, shingle_rows, "doc_id", n_buckets)


def merge_dedup_index(
    spark: SparkSession,
    dst: DedupIndex,
    src: DedupIndex,
    n_buckets: int = N_INDEX_BUCKETS,
    assume_disjoint: bool = True,
) -> None:
    """Fold shard-built index ``src`` into ``dst`` — metadata only, no
    document is re-shingled. A MinHash-LSH index merges EXACTLY because
    its per-document state (band keys, shingle fingerprints) does not
    depend on the rest of the corpus: union-of-indexes ≡
    index-of-union, bit for bit (oracle-proved by the
    ``dedup_index_merge`` registry row). This is the 100 TB build
    posture: shard the corpus across independent jobs, build each
    shard's index in parallel, then fold the metadata — the merge moves
    O(src index) rows and never touches raw text. (The IVF family has
    no such identity — a vector's cell depends on the trained
    centroids, so the ANN analog of "merge" is re-assignment into the
    destination's frozen centroid space, i.e. ``extend_ann_index``.)

    ``src``'s retractions are honored at read (tombstone anti-join):
    deleted docs are not resurrected into ``dst``. ``src``'s ingest
    stamps are carried verbatim (functions/index_base.append_stamp_rows)
    so TTL expiry keeps the ORIGINAL ingest times across the fold.
    ``src`` itself is left untouched — tearing it down is the caller's
    call (typically DROP after a verified merge).

    ``assume_disjoint``: shard builds partition the document space, so
    by default src rows append as-is. With overlapping corpora pass
    False — src docs already present in dst are skipped wholesale
    (anti-join on dst's distinct indexed ids; one corpus-sized join,
    still far cheaper than re-shingling) to keep per-doc shingle counts
    exact for Jaccard verification.

    Single-writer on ``dst`` for the whole read-snapshot → append
    sequence; the src reads are lazy but reference only src tables, so
    the torn-extend hazard (reading your own mid-merge writes) does not
    arise."""
    if dst.bands_table == src.bands_table:
        raise ValueError("merge_dedup_index: src and dst are the same index")
    _check_format(spark, dst, backfill=True)
    _check_format(spark, src)
    s_tombs = tombstones(spark, src.bands_table)
    s_bands = apply_tombstones(spark.table(src.bands_table), s_tombs, "doc_id")
    s_sh = apply_tombstones(spark.table(src.shingles_table), s_tombs, "doc_id")
    with single_writer(spark, dst.bands_table, op="merge"):
        if not assume_disjoint:
            seen = spark.table(dst.shingles_table).select("doc_id").distinct()
            s_bands = snapshot_before_write(
                s_bands.join(seen, "doc_id", "left_anti")
            )
            s_sh = snapshot_before_write(s_sh.join(seen, "doc_id", "left_anti"))
        from ..functions.index_base import append_stamp_rows, stamp_rows

        ledger = stamp_rows(spark, src.bands_table)
        if ledger is not None:
            live = apply_tombstones(ledger, s_tombs, "id")
            append_stamp_rows(spark, dst.bands_table, live)
        append_signature_rows(spark, dst, s_bands, s_sh, n_buckets)
    if not assume_disjoint:
        for d in (s_bands, s_sh):
            unpersist_checkpoints(d)


# ---------------------------------------------------------------------------
# Driver surface: split the documents fixture into a historical corpus
# (doc_id % 4 != 0) and an incoming batch (% 4 == 0); index the corpus
# once per session, probe the batch, return the matched pairs. The
# oracle recomputes the MONOLITHIC full-corpus LSH over all documents
# and filters to batch-touching pairs — proving incremental ≡ full.
# ---------------------------------------------------------------------------

#: session memo for the driver query: holds the materialized matched
#: relation plus the batch's checkpoints (registered as eviction extras
#: because the eager matched checkpoint's plan no longer references
#: them). The index TABLES live in the session catalog + a scratch dir;
#: they are data-at-rest, not block-manager state, and carry no leak.
_DDIDX_MEMO = CheckpointMemo()


def _index_name(app_id: str, sf_dir: str) -> str:
    return index_table_name("ddidx", app_id, sf_dir)


def _incremental_oracle(exclude: str = "FALSE") -> str:
    """Monolithic full-recompute oracle in the fingerprint domain,
    restricted to batch-touching pairs. ``exclude``: SQL predicate for
    documents RETRACTED from the corpus (the post-delete variant) —
    filtering the distinct-fingerprint CTE removes them from signature,
    candidate, and verification stages alike, i.e. the from-scratch
    rebuild on the surviving corpus. Signature pipeline identical to
    dedup._minhash_sql but over DISTINCT (doc_id, h) fingerprints —
    the domain the index persists."""
    return f"""
    WITH {verified_pairs_cte(exclude)}
    SELECT doc_a, doc_b, jaccard FROM verified
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """


def verified_pairs_cte(exclude: str = "FALSE") -> str:
    """The CTE chain producing ``verified(doc_a, doc_b, jaccard)`` —
    every batch-touching candidate pair with its exact fingerprint
    Jaccard (UNFILTERED; consumers apply the threshold). Shared by the
    incremental/post-delete oracles here and the ingest-funnel oracle
    (operators/ingest.py), so the three driver rows prove parity
    against literally the same monolithic recompute. Claims CTE names:
    toks, sh, hashed (via dedup._SQL_SHINGLES), hsh, sigs, sigs2,
    bands, cand, counts, inter, verified."""
    return f"""{_SQL_SHINGLES},
    hsh AS (SELECT DISTINCT doc_id, h FROM hashed WHERE NOT ({exclude})),
    {sql_bands("hsh")},
    cand AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      WHERE a.doc_id % {BATCH_MOD} = 0 OR b.doc_id % {BATCH_MOD} = 0
      GROUP BY 1, 2
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY doc_id),
    inter AS (
      SELECT c.da, c.db, COUNT(*) AS i
      FROM cand c
      JOIN hsh a ON a.doc_id = c.da
      JOIN hsh b ON b.doc_id = c.db AND b.h = a.h
      GROUP BY c.da, c.db
    ),
    verified AS (
      SELECT i.da AS doc_a, i.db AS doc_b,
             CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) AS jaccard
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.da
      JOIN counts cb ON cb.doc_id = i.db
    )"""


@query("dedup_incremental_index", oracle=_incremental_oracle())
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-incremental: near-dup pairs of an incoming batch against a
    persisted corpus index (build once per session, probe per batch).
    The Spark side never recomputes corpus signatures at probe time;
    the oracle proves the result equals a monolithic full recompute."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _DDIDX_MEMO.get(key)
    if cached is None:
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        name = _index_name(spark.sparkContext.applicationId, sf_dir)
        index = build_dedup_index(
            spark,
            docs.filter(F.col("doc_id") % BATCH_MOD != 0),
            tempfile.mkdtemp(prefix=f"{name}_"),
            name,
        )
        res = dedup_batch_against_index(
            spark, docs.filter(F.col("doc_id") % BATCH_MOD == 0), index
        )
        cached = _DDIDX_MEMO.put(
            key, res.matched.localCheckpoint(eager=True), *res.checkpoints
        )
    return cached


#: merge row memo — same lifecycle as _DDIDX_MEMO
_DDMRG_MEMO = CheckpointMemo()


@query("dedup_index_merge", oracle=_incremental_oracle())
def dedup_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-parallel build + metadata merge ≡ monolithic build. The
    corpus (doc_id % 4 != 0) is built as TWO independent shard indexes
    — odd ids (% 2 == 1) and % 4 == 2, a disjoint partition of the
    corpus — the second is folded into the first with
    :func:`merge_dedup_index` (no re-shingling), and the batch
    (% 4 == 0) probes the merged index. The oracle is the SAME
    monolithic full-recompute as `dedup_incremental_index`, so the
    driver proves union-of-indexes ≡ index-of-union on the probe
    surface — the federated build story a 100 TB corpus needs (shards
    build in parallel on separate jobs; the fold moves only index
    metadata)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _DDMRG_MEMO.get(key)
    if cached is None:
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        stem = index_table_name("ddmrg", spark.sparkContext.applicationId, sf_dir)
        dst = build_dedup_index(
            spark,
            docs.filter(F.col("doc_id") % 2 == 1),
            tempfile.mkdtemp(prefix=f"{stem}a_"),
            f"{stem}a",
        )
        src = build_dedup_index(
            spark,
            docs.filter(F.col("doc_id") % BATCH_MOD == 2),
            tempfile.mkdtemp(prefix=f"{stem}b_"),
            f"{stem}b",
        )
        merge_dedup_index(spark, dst, src)
        res = dedup_batch_against_index(
            spark, docs.filter(F.col("doc_id") % BATCH_MOD == 0), dst
        )
        cached = _DDMRG_MEMO.put(
            key, res.matched.localCheckpoint(eager=True), *res.checkpoints
        )
    return cached


#: post-delete registry split: of the indexed corpus (doc_id % 4 != 0),
#: docs with doc_id % DELETE_MOD == 1 are retracted before the probe
#: (% 8 == 1 ⇒ % 4 == 1 ≠ 0, so the deleted set is always indexed-only)
DELETE_MOD = 8


@query(
    "dedup_index_post_delete",
    oracle=_incremental_oracle(exclude=f"doc_id % {DELETE_MOD} = 1"),
)
def dedup_index_post_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-incremental deletion parity (VERDICT r8 #2): build the corpus
    index, RETRACT a split (doc_id % 8 == 1) via tombstones, probe the
    batch. The oracle is the monolithic recompute over the SURVIVING
    corpus — proving post-deletion probe ≡ from-scratch rebuild without
    ever rewriting the index (the tombstone anti-join is the whole
    deletion cost until compaction)."""
    key = (spark.sparkContext.applicationId, sf_dir, "post_delete")
    cached = _DDIDX_MEMO.get(key)
    if cached is None:
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        name = index_table_name(
            "ddidxd", spark.sparkContext.applicationId, sf_dir
        )
        index = build_dedup_index(
            spark,
            docs.filter(F.col("doc_id") % BATCH_MOD != 0),
            tempfile.mkdtemp(prefix=f"{name}_"),
            name,
        )
        delete_from_dedup_index(
            spark,
            index,
            docs.filter(F.col("doc_id") % DELETE_MOD == 1).select("doc_id"),
        )
        res = dedup_batch_against_index(
            spark, docs.filter(F.col("doc_id") % BATCH_MOD == 0), index
        )
        cached = _DDIDX_MEMO.put(
            key, res.matched.localCheckpoint(eager=True), *res.checkpoints
        )
    return cached


@query(
    "dedup_index_post_ttl",
    oracle=_incremental_oracle(
        exclude=f"doc_id % {DELETE_MOD} = 5 AND doc_id % {2 * DELETE_MOD} <> 13"
    ),
)
def dedup_index_post_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-incremental TTL parity (VERDICT r9 #5): the stamps →
    expired_ids → tombstones path proved end-to-end against an oracle,
    not just unit-tested. The corpus is ingested in two stamped phases
    (doc_id % 8 == 5 at stamp 0, the rest at stamp 1), one old slice
    (doc_id % 16 == 13, a subset of the stamp-0 docs) is RE-INGESTED at
    stamp 1 — the latest-stamp-wins refresh semantics — and then
    everything whose latest stamp predates 1 is expired. The oracle is
    the monolithic recompute over exactly the unexpired survivors
    (closed form: drop doc_id % 8 == 5 except the refreshed % 16 == 13
    slice), so a probe after expiry must equal a from-scratch rebuild
    on what retention kept. Both residues are ≡ 1 (mod 4), so the
    expired set is always corpus-only, never the probed batch."""
    key = (spark.sparkContext.applicationId, sf_dir, "post_ttl")
    cached = _DDIDX_MEMO.get(key)
    if cached is None:
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        name = index_table_name(
            "ddidxt", spark.sparkContext.applicationId, sf_dir
        )
        corpus = docs.filter(F.col("doc_id") % BATCH_MOD != 0)
        phase0 = corpus.filter(F.col("doc_id") % DELETE_MOD == 5)
        index = build_dedup_index(
            spark, phase0, tempfile.mkdtemp(prefix=f"{name}_"), name, stamp=0
        )
        hashed, bands, pre = batch_signatures(
            corpus.filter(F.col("doc_id") % DELETE_MOD != 5)
        )
        append_all_signatures(spark, index, bands, hashed, stamp=1)
        for d in (hashed, bands, pre):
            unpersist_checkpoints(d)
        # the refreshed slice arrives again at stamp 1: only its stamp
        # ledger row is new (its signature rows are already indexed) —
        # an index mutation all the same, so it holds the writer lock
        with single_writer(spark, index.bands_table, op="refresh"):
            record_stamps(
                spark,
                index.bands_table,
                corpus.filter(F.col("doc_id") % (2 * DELETE_MOD) == 13).select(
                    "doc_id"
                ),
                stamp=1,
            )
        expire_dedup_index(spark, index, before_stamp=1)
        res = dedup_batch_against_index(
            spark, docs.filter(F.col("doc_id") % BATCH_MOD == 0), index
        )
        cached = _DDIDX_MEMO.put(
            key, res.matched.localCheckpoint(eager=True), *res.checkpoints
        )
    return cached


def delete_from_dedup_index(
    spark: SparkSession, index: DedupIndex, doc_ids: DataFrame
) -> None:
    """Retract documents from the index (takedowns, license changes,
    re-crawl invalidation — VERDICT r8 #2). O(deleted): a tombstone
    append, no index rewrite; every subsequent probe anti-joins the
    tombstones (broadcast, exchange-free) so retracted docs match
    nothing, exactly as if the index had been rebuilt without them
    (oracle-proved by `dedup_index_post_delete`). Compaction folds the
    tombstones into a physical rewrite and clears them. Retracted ids
    stay retracted until that compaction — the globally-unique-id
    contract means an id is never legitimately re-ingested before then."""
    _check_format(spark, index, backfill=True)
    with single_writer(spark, index.bands_table, op="delete"):
        add_tombstones(spark, index.bands_table, doc_ids)


def expire_dedup_index(
    spark: SparkSession, index: DedupIndex, before_stamp: int
) -> None:
    """TTL expiry: retract every doc whose latest ingest stamp predates
    ``before_stamp`` (stamps are recorded by build/extend when the
    caller passes one). Pure composition: expired ids → tombstones —
    the probe/compaction machinery is the deletion path's."""
    _check_format(spark, index, backfill=True)
    with single_writer(spark, index.bands_table, op="expire"):
        ids = expired_ids(spark, index.bands_table, before_stamp)
        add_tombstones(spark, index.bands_table, ids)


def compact_dedup_index(
    spark: SparkSession,
    index: DedupIndex,
    new_path: str,
    n_buckets: int = N_INDEX_BUCKETS,
) -> dict[str, tuple[int, int]]:
    """Rewrite both index tables into ONE file per bucket, physically
    dropping tombstoned docs, then clear the tombstone/stamp relations.

    Every :func:`extend_dedup_index` appends up to one file per
    non-empty bucket, so file count grows with batch cadence — the
    classic small-files decay of any bucketed CDC sink. Plain
    directory compaction (functions/layout.compact) would destroy the
    bucket layout; instead each table is re-written bucketed on its own
    key after repartitioning on the EXPLICIT bucket-id expression
    ``pmod(hash(key), n_buckets)`` — verified identical to the writer's
    bucket assignment — so every bucket's rows land whole in one task
    and the writer emits exactly one file per non-empty bucket.
    (Repartitioning on the raw key column is NOT enough: the write-side
    plan re-arranges rows so tasks end up holding several buckets each,
    one file per (task, bucket).)
    The rewrite lands at ``new_path`` (reading the live table while
    overwriting its own location is not safe), then the catalog entry
    is swapped rename-aside (functions/index_base.swap_table — every
    failure window recoverable); the old generation's directory is the
    caller's scratch to reclaim.

    Returns {table: (files_before, files_after)}.
    """
    _check_format(spark, index, backfill=True)
    out: dict[str, tuple[int, int]] = {}
    with single_writer(spark, index.bands_table, op="compact"):
        tombs = tombstones(spark, index.bands_table)
        for table, key, sub in (
            (index.bands_table, "band_key", "bands"),
            (index.shingles_table, "doc_id", "shingles"),
        ):
            before = len(spark.table(table).inputFiles())
            tmp = f"{table}_compacting"
            bucket_id = F.pmod(F.hash(F.col(key)), F.lit(n_buckets))
            write_bucketed(
                apply_tombstones(spark.table(table), tombs, "doc_id").repartition(
                    n_buckets, bucket_id
                ),
                tmp,
                os.path.join(new_path, sub),
                key,
                n_buckets,
            )
            swap_table(spark, table, tmp)
            out[table] = (before, len(spark.table(table).inputFiles()))
        # deletions are physical now: tombstones spent, stamps kept
        # for survivors (TTL must work across generations)
        fold_side_tables(spark, index.bands_table, new_path)
        write_index_meta(new_path, _FORMAT_KIND, _FORMAT_TABLES)
    return out
