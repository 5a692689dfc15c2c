"""The transfer pipeline — the reference's flagship flow, Spark-native.

Reference shape (SURVEY.md §3.1-§3.2): reflect source → (phase 1) create
target tables without FKs → (phase 2) chunked sequential copy with
row-wise inserts → (phase 3) add FK constraints → sequence resync via
``after-running-script.sql``.

Engine shape, same semantics, scale-correct physics:

- phase 1 (plan): reflect schemas + constraints; exclusion (P3) and
  existence (P4) predicates applied to the work list.
- phase 2 (copy): tables copy in PARALLEL (driver thread pool — the
  reference loops sequentially, ``transfer_data_script.py:88``), each
  table as one distributed partitioned read→write (the OFFSET/LIMIT
  chunk loop of ``transfer_data_script.py:107-114`` disappears into
  Spark partitioning). Writes are staged and atomically renamed — the
  engine's per-table COMMIT/ROLLBACK analog (K5/K6): a failed table
  leaves no partial target. The commit check is metadata-only: the
  source row count rides the write itself (``observe``) and the staged
  row count is summed from the written files' parquet footers, so a
  copy is the write job and nothing else.
- phase 3 (constraints): validators run on the target — ONE Spark
  action per table (``audit_table``: C1 PK duplicates and nulls, every
  C2 UNIQUE, every C3 CHECK and the serial MAX) and ONE per FK child
  (``audit_fk_orphans``: every C4 edge of the child as a union of
  anti-joins); violations fail the table rather than silently landing;
  FK DDL is emitted as statements for RDBMS targets (K4 — Spark itself
  has no enforced FKs).
- phase 4 (sequence resync): COALESCE(MAX(id),0)+1 per serial column
  (A2-A4), read off the phase-3 table action and persisted to a
  sequence manifest — the lake-target analog of ``setval`` (K7);
  per-object error isolation as in the PL/pgSQL blocks (K8,
  ``after-running-script.sql:23-26``).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import (
    TableInfo,
    fixture_catalog,
    list_tables,
    load_table,
    table_exists,
    table_path,
    table_row_count,
)


@dataclass
class TableResult:
    table: str
    status: str  # copied | skipped_excluded | skipped_missing | skipped_incompatible | failed
    source_rows: int = -1
    target_rows: int = -1
    error: str | None = None
    #: non-clean schema_compat verdicts vs a pre-existing target (append mode)
    schema_issues: list[dict] = field(default_factory=list)
    #: multiset source↔target equivalence (opt-in verify pass); None = not run
    verified: bool | None = None
    pk_violations: int = 0
    fk_orphans: dict[str, int] = field(default_factory=dict)
    unique_violations: dict[str, int] = field(default_factory=dict)
    #: violating rows per CHECK; -1 = the check could not be evaluated
    #: (the reason is in ``error``)
    check_violations: dict[str, int] = field(default_factory=dict)
    next_sequence_value: int | None = None
    #: TransferPipeline phase seconds: copy (write + commit) and
    #: validation (table audit + FK audit)
    copy_s: float = 0.0
    validate_s: float = 0.0


@dataclass
class TransferReport:
    results: dict[str, TableResult] = field(default_factory=dict)
    fk_ddl: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(
            r.status in ("copied", "skipped_excluded") and r.pk_violations == 0
            and all(v == 0 for v in r.fk_orphans.values())
            and all(v == 0 for v in r.unique_violations.values())
            and all(v == 0 for v in r.check_violations.values())
            for r in self.results.values()
        )


def fk_ddl_statement(info: TableInfo, fk) -> str:
    """The ALTER TABLE statement the reference hand-builds
    (``transfer_data_with_constraints_script.py:138-161``), preserved for
    RDBMS targets; referential actions included. Identifiers quote per
    PostgreSQL rules so mixed-case/hyphenated schemas (the reference's
    \"fde-local\", after-running-script.sql:84-126) round-trip."""
    from .types import quote_ident, quote_qualified

    cols = ", ".join(quote_ident(c) for c in fk.columns)
    ref_cols = ", ".join(quote_ident(c) for c in fk.ref_columns)
    name = quote_ident(f"fk_{fk.table}_{'_'.join(fk.columns)}")
    stmt = (
        f"ALTER TABLE {quote_qualified(info.schema, fk.table)} ADD CONSTRAINT {name} "
        f"FOREIGN KEY ({cols}) REFERENCES {quote_qualified(info.schema, fk.ref_table)} ({ref_cols})"
    )
    if fk.on_delete:
        stmt += f" ON DELETE {fk.on_delete}"
    if fk.on_update:
        stmt += f" ON UPDATE {fk.on_update}"
    return stmt


class TransferPipeline:
    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        target_dir: str,
        exclude: tuple[str, ...] = (),
        catalog: dict[str, TableInfo] | None = None,
        max_parallel_tables: int | None = None,
        partition_by: dict[str, tuple[str, ...]] | None = None,
        mode: str = "overwrite",
    ) -> None:
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
        self.spark = spark
        self.source_dir = source_dir
        self.target_dir = target_dir
        self.exclude = set(exclude)
        self.catalog = catalog if catalog is not None else fixture_catalog()
        #: in-flight table bound for the copy AND validation pools.
        #: Default scales with the session's core budget (guide §2.6
        #: keeps the in-flight count modest — enough concurrent jobs to
        #: back-fill a big table's write tail, not so many they fight):
        #: cores/4 clamped to [4, 8]; local[32] ⇒ 8, an 8-core driver
        #: rerun ⇒ 4 (the r14 constant). Real deployments pass their
        #: own value.
        if max_parallel_tables is None:
            cores = spark.sparkContext.defaultParallelism
            max_parallel_tables = max(4, min(8, cores // 4))
        self.max_parallel_tables = max_parallel_tables
        #: "overwrite" replaces targets (the reference's fresh-migration
        #: path); "append" loads INTO pre-existing targets — the
        #: reference's CREATE IF NOT EXISTS + INSERT semantics
        #: (transfer_data_script.py:59-71,126) — gated by a schema
        #: pre-flight (types.schema_compat): a source column that would
        #: narrow, collide, or violate a target NOT NULL skips the table
        #: BEFORE any data moves, instead of failing mid-insert.
        self.mode = mode
        #: per-table output partitioning, e.g. {"events": ("event_date",)} —
        #: at 100 TB the target layout (partition pruning for every
        #: downstream incremental read) matters as much as the copy itself.
        #: Columns not in the source schema are derived when recognized
        #: (``<ts_col>_date`` → ``to_date(ts_col)``).
        self.partition_by = partition_by or {}
        #: table → schema of its committed unpartitioned target, so the
        #: validation handle reads it without re-inferring the footer
        self._written_schema: dict = {}

    # -- phase 2 helper: one table, staged-atomic ---------------------------

    def _copy_table(self, name: str) -> TableResult:
        res = TableResult(name, "copied")
        copy_id = uuid.uuid4().hex
        staging = os.path.join(self.target_dir, f"{name}.parquet.staging-{copy_id}")
        final = table_path(self.target_dir, name)
        try:
            df = load_table(self.spark, self.source_dir, name)
            part_cols = self.partition_by.get(name)
            if part_cols:
                for c in part_cols:
                    if c not in df.columns and c.endswith("_date") and c[:-5] in df.columns:
                        df = df.withColumn(c, F.to_date(F.col(c[:-5])))
            # identity projection (P1) stays columnar; the write is the
            # batched-insert analog (K1 → JDBC batchsize / parquet row
            # groups). The source row count rides the write itself via
            # observe() — no second full source scan (at 100 TB, or over
            # JDBC, a re-count is a second pass over the table). The name
            # is per copy: Spark keys a pending observation by name and
            # source DataFrame, the memoized source handle is shared by
            # every copy of the table in the session, and a copy that
            # never ran its write (skipped or failed) would otherwise
            # leave a registration that later copies wait on forever.
            obs = Observation(f"copy_{name}_{copy_id}")
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            existing_rows = 0
            if self.mode == "append" and os.path.exists(final):
                from .types import is_loadable, schema_compat

                existing = self.spark.read.parquet(final)
                compat = schema_compat(df.schema, existing.schema)
                res.schema_issues = [
                    r for r in compat if r["verdict"] not in ("equal", "widening")
                ]
                if not is_loadable(compat):
                    res.status = "skipped_incompatible"
                    res.error = "; ".join(
                        f"{r['column']}: {r['verdict']}" for r in res.schema_issues
                    )
                    return res
                # align to the target: widen source columns to the target
                # types, let unionByName null-fill nullable target extras
                aligned = df.select(
                    *[
                        F.col(f.name).cast(existing.schema[f.name].dataType)
                        if f.name in existing.columns
                        else F.col(f.name)
                        for f in df.schema.fields
                    ]
                )
                existing_rows = table_row_count(final)
                # staged full rewrite keeps the table-level atomic-rename
                # commit; an RDBMS target would instead JDBC-append with
                # per-partition transactions (no local rewrite)
                df = existing.unionByName(aligned, allowMissingColumns=True)
            writer = df.write.mode("overwrite")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(staging)
            res.source_rows = int(obs.get["rows"])
            # the commit check reads the staged files' footers only: no
            # re-read, no schema inference, no count job
            res.target_rows = table_row_count(staging)
            if res.target_rows != res.source_rows + existing_rows:
                raise RuntimeError(
                    f"row-count mismatch {existing_rows}+{res.source_rows}"
                    f" != {res.target_rows}"
                )
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(staging, final)  # atomic table-level "commit" (K5)
            if not part_cols:  # a partitioned read-back reorders columns
                self._written_schema[name] = df.schema
        except Exception as exc:  # error isolation per table (O8/K6)
            res.status = "failed"
            res.error = f"{type(exc).__name__}: {exc}"
            shutil.rmtree(staging, ignore_errors=True)  # "rollback"
        return res

    # -- phases --------------------------------------------------------------

    def run(self) -> TransferReport:
        report = TransferReport()
        os.makedirs(self.target_dir, exist_ok=True)

        # phase 1: plan — reflection + exclusion/existence predicates
        work: list[str] = []
        for name in list_tables(self.source_dir):
            if name in self.exclude:  # P3
                report.results[name] = TableResult(name, "skipped_excluded")
                continue
            if not table_exists(self.source_dir, name):  # P4
                report.results[name] = TableResult(name, "skipped_missing")
                continue
            work.append(name)

        # phases 2-4 OVERLAPPED (guide §2.6 "overlap independent jobs"):
        # copies run in one thread pool, and each table's validation is
        # submitted to a SECOND pool once its own copy and its FK
        # parents' copy attempts have completed, so ready audits never
        # queue behind pending copies and run through the big tables'
        # write tails. A validation is two Spark actions, audit_table
        # and audit_fk_orphans: at this scale per-job overhead, not
        # data, is the cost. Each copied table has ONE target handle,
        # shared with the FK audits that read it as a parent, and an
        # unpartitioned one reads with the schema its copy wrote (no
        # footer-inference job).
        handles: dict[str, DataFrame] = {}
        handles_lock = threading.Lock()

        def _handle(name: str) -> DataFrame:
            with handles_lock:
                if name not in handles:
                    schema = self._written_schema.get(name)
                    reader = self.spark.read.schema(schema) if schema else self.spark.read
                    handles[name] = reader.parquet(table_path(self.target_dir, name))
                return handles[name]

        def _copy(name: str) -> TableResult:
            t0 = time.perf_counter()
            res = self._copy_table(name)
            res.copy_s = time.perf_counter() - t0
            return res

        def _validate(name: str) -> None:
            t0 = time.perf_counter()
            res, info = report.results[name], self.catalog.get(name)
            if info is not None:
                tdf = _handle(name)
                audit_table(tdf, info, into=res)
                edges = copied_edges(info, report.results)
                res.fk_orphans.update(audit_fk_orphans(
                    tdf, {fk.ref_table: _handle(fk.ref_table) for fk in edges}, edges
                ))
                report.fk_ddl.extend(fk_ddl_statement(info, fk) for fk in edges)
            res.validate_s = time.perf_counter() - t0

        # dependency map: validating T needs T's own copy to have
        # SUCCEEDED and every FK parent's copy attempt to have COMPLETED
        # (any status — a failed parent just skips that FK audit).
        # Parents outside the work list were resolved in phase 1.
        parents_of = {
            t: {fk.ref_table for fk in self.catalog[t].foreign_keys} & set(work) - {t}
            if t in self.catalog else set()
            for t in work
        }
        validations = []
        with ThreadPoolExecutor(max_workers=self.max_parallel_tables) as copy_pool, \
                ThreadPoolExecutor(max_workers=self.max_parallel_tables) as val_pool:
            pending = {copy_pool.submit(_copy, t): t for t in work}
            submitted: set[str] = set()
            while pending:
                finished, _ = wait(set(pending), return_when=FIRST_COMPLETED)
                for fut in finished:
                    report.results[pending.pop(fut)] = fut.result()
                for t in work:
                    res = report.results.get(t)
                    if (
                        t not in submitted and res is not None and res.status == "copied"
                        and parents_of[t] <= report.results.keys()
                    ):
                        submitted.add(t)
                        validations.append(val_pool.submit(_validate, t))
            for fut in validations:
                fut.result()  # propagate validator errors

        # work order, not completion order, so the manifest is
        # deterministic run-to-run
        sequences = {
            f"{n}.{self.catalog[n].serial_columns[0]}": report.results[n].next_sequence_value
            for n in work
            if report.results[n].status == "copied"
            and self.catalog.get(n)
            and self.catalog[n].serial_columns
            and report.results[n].next_sequence_value is not None
        }
        with open(os.path.join(self.target_dir, "_sequences.json"), "w") as f:
            json.dump(sequences, f, indent=2, sort_keys=True)

        return report


def _any_null(cols: list[str]):
    cond = F.col(cols[0]).isNull()
    for c in cols[1:]:
        cond = cond | F.col(c).isNull()
    return cond


def _violates(check: str):
    """C3 row predicate: NULL (unknown) does not violate, matching SQL
    CHECK semantics (``transfer_data_with_constraints_script.py:88-90``)."""
    return ~F.coalesce(F.expr(check), F.lit(True))


# ---------------------------------------------------------------------------
# Constraint audits (C1-C4), shared by the parquet pipeline above, the
# live PG→PG pipeline (pg_transfer.py) and the fk_orphan_check registry
# row: one Spark action per table (audit_table) and one per FK child
# (audit_fk_orphans). None moves rows to the driver.
# ---------------------------------------------------------------------------


def audit_table(tdf, info: TableInfo, into: TableResult | None = None) -> TableResult:
    """C1 PK duplicates and NULL keys, every C2 UNIQUE, every C3 CHECK
    and the serial COALESCE(MAX,0)+1 of one table in ONE action, filled
    into ``into`` (a new ``TableResult`` when omitted), which is
    returned.

    If that pass fails, its parts re-run apart so the fault stays with
    its cause: PK and UNIQUE together (an error there propagates), each
    CHECK through ``audit_check`` (one that cannot be evaluated counts
    -1 and is named in ``error``), and the MAX alone (a failure sets
    ``error``, K8)."""
    res = into if into is not None else TableResult(info.name, "copied")
    serial = info.serial_columns[:1]
    try:
        _audit_pass(tdf, res, info.primary_key, info.unique, info.checks, serial)
        return res
    except Exception:
        pass
    _audit_pass(tdf, res, info.primary_key, info.unique, (), ())
    errors = [res.error] if res.error else []
    for check in info.checks:
        try:
            res.check_violations[check] = audit_check(tdf, check)
        except Exception as exc:
            res.check_violations[check] = -1
            errors.append(f"check {check!r} failed: {type(exc).__name__}: {exc}")
    if serial:
        try:
            _audit_pass(tdf, res, (), (), (), serial)
        except Exception as exc:
            errors.append(f"sequence resync failed: {exc}")
    res.error = "; ".join(errors) or None
    return res


def _audit_pass(tdf, res: TableResult, pk, uniques, checks, serial) -> None:
    """``audit_table``'s one action, a union of grouped branches under
    one global aggregate: the PK grouping (which also carries the serial
    MAX and the CHECK counts; grouping on the PK puts NULL keys in
    their own groups, so duplicates and NULL keys fall out of one
    groupBy) and one grouping per UNIQUE. ``unionByName`` null-fills the
    columns a branch lacks. A no-op when there is nothing to audit."""
    pk = list(pk)
    per_row = [F.max(serial[0]).alias("_mx")] if serial else []
    per_row += [F.count_if(_violates(c)).alias(f"_c{i}") for i, c in enumerate(checks)]
    branches = []
    if pk:
        g = tdf.groupBy(*pk).agg(F.count(F.lit(1)).alias("_n"), *per_row)
        branches.append(g.select(
            F.when((F.col("_n") > 1) & ~_any_null(pk), 1).alias("_dup"),
            F.when(_any_null(pk), F.col("_n")).alias("_null"),
            *g.columns[len(pk) + 1:],
        ))
    elif per_row:
        branches.append(tdf.agg(*per_row))
    branches += [
        tdf.groupBy(*cols).count().filter(F.col("count") > 1).select(F.lit(1).alias(f"_u{j}"))
        for j, cols in enumerate(uniques)
    ]
    if not branches:
        return
    rel = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), branches)
    row = rel.agg(
        *[
            (F.coalesce(F.max(c), F.lit(0)) + 1).cast("bigint").alias(c) if c == "_mx"
            else F.coalesce(F.sum(c), F.lit(0)).alias(c)
            for c in rel.columns
        ]
    ).collect()[0]
    if pk:
        res.pk_violations = int(row["_dup"]) + int(row["_null"])
    for j, cols in enumerate(uniques):
        res.unique_violations[", ".join(cols)] = int(row[f"_u{j}"])
    for i, check in enumerate(checks):
        res.check_violations[check] = int(row[f"_c{i}"])
    if serial:
        res.next_sequence_value = int(row["_mx"])


def audit_primary_key(tdf, pk_cols) -> int:
    """C1 alone, in one aggregation pass: grouping on the PK puts NULL
    keys in their own groups, so duplicate groups and null-key rows fall
    out of a single groupBy. The reference ``audit_table`` is tested
    against."""
    pk = list(pk_cols)
    audit = (
        tdf.groupBy(*pk)
        .count()
        .agg(
            F.count_if((F.col("count") > 1) & ~_any_null(pk)).alias("dup_groups"),
            F.coalesce(
                F.sum(F.when(_any_null(pk), F.col("count"))), F.lit(0)
            ).alias("null_rows"),
        )
        .collect()[0]
    )
    return int(audit["dup_groups"]) + int(audit["null_rows"])


def audit_unique(tdf, cols) -> int:
    """C2 alone — one hash-aggregate per UNIQUE constraint (reference
    rebuilds UniqueConstraint, transfer_data_with_constraints_script.py:84-87)."""
    return int(tdf.groupBy(*cols).count().filter(F.col("count") > 1).count())


def audit_check(tdf, check: str) -> int:
    """C3 alone: rows violating one reflected CHECK expression
    (``audit_table``'s per-check fallback)."""
    return int(tdf.filter(_violates(check)).count())


def copied_edges(info: TableInfo, results: dict) -> list:
    """``info``'s FK edges whose parent table's result is ``copied``."""
    return [
        fk for fk in info.foreign_keys
        if fk.ref_table in results and results[fk.ref_table].status == "copied"
    ]


def fk_edge(fk) -> str:
    """The report key of an FK edge: ``child.col1,col2``."""
    return f"{fk.table}.{','.join(fk.columns)}"


def _orphan_keys(child_df, parent_df, fk, out: str) -> DataFrame:
    """C4 for one FK edge, lazily: per child key no parent row carries,
    its row count in column ``out``.

    The anti-join is ONE co-grouping: child and parent keys are unioned
    and grouped on the key, and a group without a parent row is
    orphaned. Map-side partial aggregation reduces both sides to
    distinct keys before the single exchange; no sort, broadcast build
    or second exchange is paid. Child rows with a NULL in any FK column
    reference nothing (MATCH SIMPLE) and are dropped first."""
    keys = [f"_k{i}" for i in range(len(fk.columns))]

    def side(df, cols, is_parent: bool) -> DataFrame:
        return df.select(
            *[F.col(c).alias(k) for c, k in zip(cols, keys)],
            F.lit(0 if is_parent else 1).alias("_rows"), F.lit(is_parent).alias("_parent"),
        )

    both = side(child_df, fk.columns, False).na.drop(subset=keys).unionByName(
        side(parent_df, fk.ref_columns, True)
    )
    return (
        both.groupBy(*keys)
        .agg(F.sum("_rows").alias(out), F.max("_parent").alias("_parent"))
        .filter(~F.col("_parent"))
        .select(out)
    )


def fk_orphan_counts(edges) -> DataFrame:
    """C4 for every ``(child_df, parent_df, fk)`` of ``edges`` as ONE
    lazy relation ``(fk_edge, orphan_count)``, a row per edge in order:
    the edges' ``_orphan_keys`` union under one global aggregate, so it
    is one action with an exchange per edge plus one for the totals.
    Building it runs no job."""
    cols = [f"_o{i}" for i in range(len(edges))]
    rel = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [_orphan_keys(c, p, fk, o) for (c, p, fk), o in zip(edges, cols)],
    )
    totals = rel.agg(*[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in cols])
    pairs = [x for (_c, _p, fk), o in zip(edges, cols) for x in (F.lit(fk_edge(fk)), o)]
    return totals.select(F.stack(F.lit(len(edges)), *pairs).alias("fk_edge", "orphan_count"))


def audit_fk_orphans(child_df, parents: dict, fks) -> dict[str, int]:
    """C4 for every FK edge of one child in ONE action, as
    ``{fk_edge: orphan rows}``; ``parents`` maps (at least) each edge's
    ``ref_table`` to its DataFrame."""
    if not fks:
        return {}
    rel = fk_orphan_counts([(child_df, parents[fk.ref_table], fk) for fk in fks])
    return {r["fk_edge"]: int(r["orphan_count"]) for r in rel.collect()}
