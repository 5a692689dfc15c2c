"""Live PostgreSQL→PostgreSQL transfer — the reference's flagship job
(``transfer_data_with_constraints_script.py`` end-to-end) executed
against real servers through the COPY bridge.

Reference shape (SURVEY.md §3.2): reflect source via SQLAlchemy →
create target tables without FKs → sequential per-row copy → re-add FK
constraints → ``after-running-script.sql`` sequence resync. This
pipeline keeps those phases and their semantics, with the engine's
physics:

- reflection (S1) runs the same ``information_schema``/``pg_catalog``
  queries the JDBC layer synthesizes, through a psql passthrough;
- the copy is ``COPY TO STDOUT`` → distributed parse/cast → rendered
  CSV parts → ``COPY FROM STDIN`` (sources/pgcopy.py) — bulk form on
  both ends, vs the reference's one-INSERT-per-row loop;
- constraints are VALIDATED in Spark before they are ENFORCED on the
  target: PK/unique/check/FK audits (transfer.py C1-C4, the same
  functions the parquet pipeline runs) gate the FK DDL — an edge with
  orphans is reported and *not* applied, instead of failing mid-ALTER
  (the reference's per-object error isolation, K8);
- sequence resync (K7) is live ``setval`` to COALESCE(MAX,0)+1 on the
  target, exactly ``after-running-script.sql:15-21``.

Scale honesty: table streams ride the COPY bridge — tables in
parallel, and N concurrent range cursors within a table when it has a
single integer PK (``pgcopy.read_table_partitioned``); writes load
parts concurrently. On a cluster with the JDBC jar, swap the bridge
calls for ``jdbc.read_table``/``write_table`` (cursors move to
executors) and the orchestration here is unchanged — reflection,
audits, FK gating, swap commits, and resync are all source-agnostic.

Beyond the one-shot pipeline this module carries the live continuous
paths: ``run_pg_incremental_batch``/``run_pg_flag_sync`` (server-side
delta filters), ``PgLakeReplicator`` (exactly-once PG→parquet CDC),
``resync_schema_sequences`` (the standalone after-running-script), and
``verify_table_equivalence`` (multiset post-migration diff).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import ForeignKey, TableInfo
from .sources.jdbc import (
    check_constraints_sql,
    checks_from_rows,
    fk_edges_from_rows,
    foreign_keys_detailed_sql,
    primary_key_sql,
    serial_sequence_sql,
    setval_sql,
    tables_in_schema_sql,
    unique_constraints_sql,
    unique_from_rows,
)
from .sources.pgcopy import (
    PgServer,
    read_query,
    read_table,
    read_table_partitioned,
    reflect_table_schema,
    run_sql,
    write_table,
)
from .transfer import (
    TableResult,
    TransferReport,
    audit_fk_orphans,
    audit_table,
    copied_edges,
    fk_ddl_statement,
    fk_edge,
)
from .types import quote_ident, quote_qualified


def serial_columns_sql(schema: str, table: str) -> str:
    """Columns backed by a sequence default — how ``pg_get_serial_sequence``
    targets are discovered without SQLAlchemy (S5 companion)."""
    return f"""
    SELECT column_name FROM information_schema.columns
    WHERE table_schema = '{schema}' AND table_name = '{table}'
      AND column_default LIKE 'nextval(%'
    ORDER BY ordinal_position
    """


def reflect_pg_catalog(server: PgServer, schema: str) -> dict[str, TableInfo]:
    """S1 against a live server: assemble ``TableInfo`` per table —
    PK, UNIQUE, CHECK, FK edges with referential actions, and
    sequence-backed columns — from the same reflection SQL the JDBC
    layer ships (``sources/jdbc.py``), executed via psql."""
    tables = [r[0] for r in run_sql(server, tables_in_schema_sql(schema))]
    unique = unique_from_rows(
        [(t, c, col, int(o)) for t, c, col, o in run_sql(server, unique_constraints_sql(schema))]
    )
    checks = checks_from_rows(
        [tuple(r) for r in run_sql(server, check_constraints_sql(schema))]
    )
    # composite-safe FK reflection: conkey/confkey ordinality keeps the
    # child↔parent column correspondence that information_schema loses
    fks: dict[str, list[ForeignKey]] = {}
    for fk in fk_edges_from_rows(
        run_sql(server, foreign_keys_detailed_sql(schema))
    ):
        fks.setdefault(fk.table, []).append(fk)
    out: dict[str, TableInfo] = {}
    for t in tables:
        pk = tuple(r[0] for r in run_sql(server, primary_key_sql(schema, t)))
        serial = tuple(r[0] for r in run_sql(server, serial_columns_sql(schema, t)))
        out[t] = TableInfo(
            name=t,
            schema=schema,
            primary_key=pk,
            unique=unique.get(t, ()),
            checks=checks.get(t, ()),
            foreign_keys=tuple(fks.get(t, ())),
            serial_columns=serial,
        )
    return out


@dataclass
class PgTransferPipeline:
    """Schema-to-schema live transfer. ``source`` and ``target`` may be
    the same server (schema rename migration — the reference's actual
    deployment shape) or two servers.

    ``mode``:

    - ``"fresh"`` — CREATE IF NOT EXISTS + COPY, the reference's exact
      semantics (``transfer_data_script.py:59-71,126``): a rerun against
      a populated target fails the table on PK violation mid-COPY.
    - ``"swap"`` — the engine's K5/K6 upgrade, live: each table loads
      into a staging table, then one atomic statement batch drops the
      old table and renames staging into place (psql executes a
      multi-statement ``-c`` as a single implicit transaction). A
      failed load leaves the previous target untouched (per-table
      rollback); reruns are idempotent. FK constraints are re-added
      after the swap (DROP ... CASCADE removes the old ones), same as
      the reference's copy-then-constrain ordering.
    """

    spark: SparkSession
    source: PgServer
    source_schema: str
    target: PgServer
    target_schema: str
    exclude: tuple[str, ...] = ()
    max_parallel_tables: int = 4
    scratch_dir: str | None = None
    mode: str = "fresh"
    #: opt-in post-load verification: multiset-diff every copied table
    #: against its target read-back (costs a second read per table)
    verify: bool = False

    def __post_init__(self) -> None:
        if self.mode not in ("fresh", "swap"):
            raise ValueError(f"mode must be 'fresh' or 'swap', got {self.mode!r}")

    def run(self) -> TransferReport:
        # Scratch CSVs (COPY streams + rendered parts) live for the
        # whole run — the source DataFrames re-read them for the audit
        # phases — then the directory is removed: a scheduled pipeline
        # must not accumulate one table-sized temp file per run.
        import shutil
        import tempfile

        own_scratch = self.scratch_dir is None
        if own_scratch:
            self.scratch_dir = tempfile.mkdtemp(prefix="pg_transfer_scratch_")
        try:
            return self._run(self.scratch_dir)
        finally:
            if own_scratch:
                shutil.rmtree(self.scratch_dir, ignore_errors=True)
                self.scratch_dir = None

    def _run(self, scratch_dir: str) -> TransferReport:
        report = TransferReport()
        catalog = reflect_pg_catalog(self.source, self.source_schema)
        run_sql(
            self.target,
            f"CREATE SCHEMA IF NOT EXISTS {quote_ident(self.target_schema)}",
        )

        # phase 1: plan (P3 exclusion; existence is inherent — the work
        # list IS the reflected catalog)
        work: list[str] = []
        for name in catalog:
            if name in self.exclude:
                report.results[name] = TableResult(name, "skipped_excluded")
            else:
                work.append(name)

        # swap mode, rerun hygiene: serially drop the target FK
        # constraints that TOUCH a table this run will swap (child or
        # parent side). Two parallel DROP TABLE ... CASCADE on
        # FK-connected tables would each need locks on the shared
        # constraint — a deadlock PostgreSQL breaks by killing one
        # table's swap; with those FKs gone first (the reference's
        # copy-without-FKs discipline), per-table swaps touch disjoint
        # objects. Definitions are SAVED: any dropped constraint the
        # audit-gated phase 3 does not re-create (e.g. an excluded
        # child's FK onto a swapped parent) is restored afterwards —
        # the run must not silently shed integrity outside its scope.
        dropped_fks: list[tuple[str, str, str]] = []  # (child, conname, def)
        if self.mode == "swap":
            work_set = ", ".join(f"'{t}'" for t in work) or "''"
            dropped_fks = [
                tuple(r) for r in run_sql(
                    self.target,
                    "SELECT rel.relname, c.conname, pg_get_constraintdef(c.oid)"
                    " FROM pg_constraint c"
                    " JOIN pg_class rel ON rel.oid = c.conrelid"
                    " JOIN pg_namespace n ON n.oid = rel.relnamespace"
                    " JOIN pg_class frel ON frel.oid = c.confrelid"
                    " JOIN pg_namespace fn ON fn.oid = frel.relnamespace"
                    f" WHERE c.contype = 'f' AND n.nspname = '{self.target_schema}'"
                    f" AND (rel.relname IN ({work_set})"
                    f"      OR (fn.nspname = '{self.target_schema}'"
                    f"          AND frel.relname IN ({work_set})))",
                )
            ]
            for child, conname, _condef in dropped_fks:
                run_sql(
                    self.target,
                    f"ALTER TABLE {quote_qualified(self.target_schema, child)} "
                    f"DROP CONSTRAINT {quote_ident(conname)}",
                )

        # phase 2: copy, tables in parallel (each is bridge-stream →
        # distributed cast → bulk load), with the Spark-side C1-C3 audit
        # (one action, transfer.audit_table) on the in-flight relation.
        # Source DataFrames are kept for the FK audit phase so parents
        # are not re-streamed.
        dfs: dict[str, object] = {}
        import threading

        swap_lock = threading.Lock()  # serialize swap DDL (belt+braces)

        def _copy(name: str) -> TableResult:
            res = TableResult(name, "copied")
            info = catalog[name]
            load_name = name if self.mode == "fresh" else f"{name}__stg"
            try:
                # single-column integer PK → N concurrent range cursors
                # (the JDBC partitioned-read rule over COPY); anything
                # else streams on one cursor
                st = reflect_table_schema(self.source, self.source_schema, name)
                from pyspark.sql import types as T

                pk_numeric = len(info.primary_key) == 1 and isinstance(
                    st[info.primary_key[0]].dataType,
                    (T.ShortType, T.IntegerType, T.LongType),
                )
                if pk_numeric:
                    df = read_table_partitioned(
                        self.spark, self.source, self.source_schema, name,
                        partition_column=info.primary_key[0],
                        num_partitions=4, scratch_dir=self.scratch_dir,
                    )
                else:
                    df = read_table(
                        self.spark, self.source, self.source_schema, name,
                        scratch_dir=self.scratch_dir,
                    )
                dfs[name] = df
                if self.mode == "swap":  # stale staging from a crash
                    run_sql(
                        self.target,
                        f"DROP TABLE IF EXISTS "
                        f"{quote_qualified(self.target_schema, load_name)} CASCADE",
                    )
                # the source row count rides the load's own scan
                obs = Observation(f"pg_copy_{name}")
                write_table(
                    df.observe(obs, F.count(F.lit(1)).alias("rows")),
                    self.target, self.target_schema, load_name,
                    primary_key=info.primary_key,
                    serial_columns=info.serial_columns,
                    scratch_dir=self.scratch_dir,
                )
                res.source_rows = int(obs.get["rows"])
                [(cnt,)] = run_sql(
                    self.target,
                    f"SELECT COUNT(*) FROM "
                    f"{quote_qualified(self.target_schema, load_name)}",
                )
                res.target_rows = int(cnt)
                if res.target_rows != res.source_rows:
                    raise RuntimeError(
                        f"row-count mismatch {res.source_rows} != {res.target_rows}"
                    )
                # the live resync (phase 4) reads MAX from the target
                audit_table(df, replace(info, serial_columns=()), into=res)
                if res.error:  # a CHECK that cannot be evaluated fails the table
                    raise RuntimeError(res.error)
                if self.mode == "swap":
                    # atomic commit LAST — after counts and C1-C3 audits
                    # — so any failure up to here leaves the previous
                    # target untouched. One multi-statement psql -c runs
                    # as a single implicit transaction: the old table
                    # (and any straggler FKs, CASCADE) vanish and
                    # staging takes its place, or neither happens.
                    # Serialized across tables: concurrent DDL on
                    # FK-connected relations is PostgreSQL's classic
                    # deadlock shape.
                    with swap_lock:
                        run_sql(
                            self.target,
                            f"DROP TABLE IF EXISTS "
                            f"{quote_qualified(self.target_schema, name)} CASCADE; "
                            f"ALTER TABLE "
                            f"{quote_qualified(self.target_schema, load_name)} "
                            f"RENAME TO {quote_ident(name)}",
                        )
            except Exception as exc:  # per-table error isolation (K8)
                res.status = "failed"
                res.error = f"{type(exc).__name__}: {exc}"
                if self.mode == "swap":  # rollback: previous target intact
                    try:
                        run_sql(
                            self.target,
                            f"DROP TABLE IF EXISTS "
                            f"{quote_qualified(self.target_schema, load_name)}"
                            f" CASCADE",
                        )
                    except Exception:
                        pass  # staging cleanup is best-effort
            return res

        with ThreadPoolExecutor(max_workers=self.max_parallel_tables) as pool:
            for res in pool.map(_copy, work):
                report.results[res.table] = res

        # phase 3: FK audit gates FK enforcement — an edge with orphans
        # is recorded but its ALTER TABLE is not attempted (it would
        # fail wholesale; the reference's per-object DO-block isolation);
        # one audit action per child
        for name, res in report.results.items():
            if res.status != "copied":
                continue
            info = catalog[name]
            edges = copied_edges(info, report.results)
            res.fk_orphans.update(audit_fk_orphans(dfs[name], dfs, edges))
            for fk in edges:
                ddl = fk_ddl_statement(replace(info, schema=self.target_schema), fk)
                if res.fk_orphans[fk_edge(fk)] == 0:
                    run_sql(self.target, ddl)
                    report.fk_ddl.append(ddl)

        # phase 3b (swap mode): restore saved FKs whose CHILD was not
        # copied this run — their drop was collateral of a parent swap,
        # not a replacement. Copied children got fresh constraints (or
        # a deliberate orphan-gated withholding) in phase 3. A restore
        # that now fails (the swapped parent lost rows the old child
        # references) is recorded, not swallowed silently.
        copied_set = {
            n for n, r in report.results.items() if r.status == "copied"
        }
        for child, conname, condef in dropped_fks:
            if child in copied_set:
                continue
            ddl = (
                f"ALTER TABLE {quote_qualified(self.target_schema, child)} "
                f"ADD CONSTRAINT {quote_ident(conname)} {condef}"
            )
            try:
                run_sql(self.target, ddl)
                report.fk_ddl.append(ddl)
            except Exception as exc:
                # integrity promise broken → the run must not read ok
                msg = f"FK restore failed for {conname}: {exc}"
                res = report.results.get(child)
                if res is None:
                    res = TableResult(child, "failed")
                    report.results[child] = res
                res.status = "failed"
                res.error = msg

        # phase 4: live sequence resync (K7) — setval to
        # COALESCE(MAX,0)+1 with is_called=false, so the next INSERT
        # draws exactly next_sequence_value (after-running-script.sql:15-21)
        for name, res in report.results.items():
            if res.status != "copied":
                continue
            info = catalog[name]
            for col in info.serial_columns:
                try:
                    [(seq,)] = run_sql(
                        self.target,
                        serial_sequence_sql(self.target_schema, name, col),
                    )
                    [(mx,)] = run_sql(
                        self.target,
                        f"SELECT COALESCE(MAX({quote_ident(col)}), 0) FROM "
                        f"{quote_qualified(self.target_schema, name)}",
                    )
                    nxt = int(mx) + 1
                    run_sql(self.target, setval_sql(seq, nxt, is_called=False))
                    res.next_sequence_value = nxt
                except Exception as exc:  # K8: resync failure isolates
                    res.error = f"sequence resync failed: {exc}"

        # phase 5 (opt-in): multiset equivalence per copied table — a
        # verified mismatch FAILS the table (count checks alone let
        # equal-count/different-values corruption through)
        if self.verify:
            for name, res in report.results.items():
                if res.status != "copied":
                    continue
                v = verify_table_equivalence(
                    self.spark, dfs[name], self.target,
                    self.target_schema, name, scratch_dir=scratch_dir,
                )
                res.verified = v["equal"]
                if not v["equal"]:
                    res.status = "failed"
                    res.error = (
                        f"post-load verification: {v['missing']} missing, "
                        f"{v['extra']} extra rows"
                    )

        return report


# ---------------------------------------------------------------------------
# Live incremental sync (I1/I2 against a real server). The reference's
# data model carries flag-and-timestamp CDC columns
# (event-table.sql:17-18) that its scripts never exploit — they full
# reload every run. These two functions implement the protocol the
# columns imply, with the filter evaluated SERVER-side (the COPY streams
# only new/unsynced rows; cost proportional to the delta, the same
# pushed-predicate shape the parquet HWM path gets from row-group
# pruning).
# ---------------------------------------------------------------------------


def run_pg_incremental_batch(
    spark: SparkSession,
    server: PgServer,
    schema: str,
    table: str,
    hwm_col: str,
    store,
    key: str | None = None,
    tiebreak_col: str | None = None,
    scratch_dir: str | None = None,
):
    """One high-water-mark cycle against live PostgreSQL (I2): stream
    only the delta above the checkpoint, compute the new HWM FROM THE
    BATCH (a server-side MAX taken after the COPY could run past rows a
    concurrent insert added in between — the batch's own max cannot
    skip data), leave the checkpoint advance to the caller after its
    write commits (at-least-once with idempotent sinks, same contract
    as streaming/incremental.py).

    ``hwm_col`` may be a timestamp or a serial integer — the checkpoint
    travels as text and PostgreSQL casts the quoted literal back.

    NON-UNIQUE HWM CAVEAT: with a bare timestamp ``hwm_col`` and strict
    ``>``, a row that shares the batch's max timestamp but commits
    after the COPY snapshot would be skipped forever. Pass
    ``tiebreak_col`` (a unique, monotone column — the PK serial) to
    close that window: the filter becomes the lexicographic
    ``(hwm, tiebreak) >`` pair and the checkpoint carries both values.
    Without a tiebreak, ``hwm_col`` must itself be strictly
    monotone/unique (a serial) for exactly-once semantics.

    ``scratch_dir``: the COPY stream lands there and must outlive every
    action on the returned batch's DataFrame; callers on a schedule
    should pass a per-cycle directory and remove it after their write
    (PgLakeReplicator does) — the default leaves one delta-sized file
    per cycle in the system tmp dir.
    """
    key = key or f"{schema}.{table}.{hwm_col}"
    return _hwm_batch(
        spark, server, schema, table, hwm_col, store.get(key),
        tiebreak_col=tiebreak_col, scratch_dir=scratch_dir,
    )


#: separator inside composite (hwm, tiebreak) checkpoints — never a
#: character PostgreSQL emits in timestamp or numeric text
_CKPT_SEP = "|"


def _hwm_batch(
    spark: SparkSession,
    server: PgServer,
    schema: str,
    table: str,
    hwm_col: str,
    prev: str | None,
    tiebreak_col: str | None = None,
    scratch_dir: str | None = None,
    upper: str | None = None,
):
    """Delta rows above ``prev`` + the batch-derived new HWM (shared by
    the checkpoint-store and lake-replication drivers)."""
    from .streaming.incremental import IncrementalBatch

    st = reflect_table_schema(server, schema, table)
    sql = f"SELECT * FROM {quote_qualified(schema, table)}"
    h = quote_ident(hwm_col)
    where = []
    if prev is not None:
        if tiebreak_col is not None:
            hv, _, tv = prev.partition(_CKPT_SEP)
            hl = hv.replace("'", "''")
            tl = tv.replace("'", "''")
            t = quote_ident(tiebreak_col)
            where.append(
                f"({h} > '{hl}'"
                f" OR ({h} = '{hl}' AND {t} > '{tl}'))"
            )
        else:
            lit = prev.replace("'", "''")
            where.append(f"{h} > '{lit}'")
    if upper is not None:
        # bounded re-read: recover an in-flight epoch's EXACT batch
        # (PgFunnelIngest pins the upper HWM before processing, so a
        # crashed epoch is redelivered identically even after newer
        # rows landed — tiebreak composites not supported here because
        # the funnel's HWM is the unique doc serial by contract)
        if tiebreak_col is not None:
            raise ValueError("upper-bounded re-read requires a plain hwm_col")
        lit = upper.replace("'", "''")
        where.append(f"{h} <= '{lit}'")
    if where:
        sql += " WHERE " + " AND ".join(where)
    df = read_query(
        spark, server, sql, st, label=f"{table}_hwm", scratch_dir=scratch_dir
    )
    if tiebreak_col is not None:
        top = F.max(F.struct(F.col(hwm_col), F.col(tiebreak_col)))
        hwm_expr = F.concat_ws(
            _CKPT_SEP,
            top.getField(hwm_col).cast("string"),
            top.getField(tiebreak_col).cast("string"),
        )
    else:
        hwm_expr = F.max(hwm_col).cast("string")
    row = df.agg(
        F.count("*").alias("n"), hwm_expr.alias("hwm")
    ).collect()[0]
    return IncrementalBatch(
        data=df,
        prev_checkpoint=prev,
        new_checkpoint=row["hwm"] if row["n"] else prev,
        n_rows=row["n"],
    )


def run_pg_flag_sync(
    spark: SparkSession,
    server: PgServer,
    schema: str,
    table: str,
    flag_col: str = "update_flag",
    scratch_dir: str | None = None,
):
    """One flag-based cycle (I1 — the reference's ``update_flag``
    semantics): stream rows where the flag is false, and return the
    UPDATE that marks exactly those rows synced. The caller executes it
    via ``run_sql`` only after its write commits — rows inserted
    mid-cycle keep their false flag and surface next cycle, because the
    UPDATE's predicate re-evaluates rather than naming row ids."""
    st = reflect_table_schema(server, schema, table)
    qual = quote_qualified(schema, table)
    flag = quote_ident(flag_col)
    df = read_query(
        spark, server,
        f"SELECT * FROM {qual} WHERE NOT {flag}",
        st, label=f"{table}_flag", scratch_dir=scratch_dir,
    )
    mark_synced = f"UPDATE {qual} SET {flag} = true WHERE NOT {flag}"
    return df, mark_synced


def resync_schema_sequences(server: PgServer, schema: str) -> dict[str, int]:
    """Standalone whole-schema sequence resync — the reference's third
    entry point (``after-running-script.sql``) as a callable: walk every
    table in the schema, discover its sequence-backed columns, and
    setval each to COALESCE(MAX,0)+1 with is_called=false.

    Semantics follow the reference's THIRD (corrected) PL/pgSQL block
    (after-running-script.sql:99-102): the first two blocks use
    ``setval(seq, MAX(id))``, which errors on empty tables (MAX is
    NULL) and silently relies on is_called=true; the COALESCE(...)+1 /
    false form works on empty tables and hands out exactly the next id.
    Column discovery generalizes the reference's hard-coded
    id/history_id probe to every ``nextval(...)``-defaulted column.
    Per-object error isolation (K8): one broken table records -1 and
    the loop continues, like the reference's EXCEPTION blocks.

    Returns {"table.column": next_value} for every resynced sequence.
    """
    out: dict[str, int] = {}
    for (table,) in run_sql(server, tables_in_schema_sql(schema)):
        for (col,) in run_sql(server, serial_columns_sql(schema, table)):
            key = f"{table}.{col}"
            try:
                [(seq,)] = run_sql(server, serial_sequence_sql(schema, table, col))
                if not seq:
                    continue
                [(mx,)] = run_sql(
                    server,
                    f"SELECT COALESCE(MAX({quote_ident(col)}), 0) FROM "
                    f"{quote_qualified(schema, table)}",
                )
                nxt = int(mx) + 1
                run_sql(server, setval_sql(seq, nxt, is_called=False))
                out[key] = nxt
            except Exception:
                out[key] = -1  # isolated failure, keep walking
    return out


class PgLakeReplicator:
    """Exactly-once PG→parquet-lake CDC replication: each cycle streams
    the HWM delta into one epoch partition of an idempotent lake sink
    (streaming/exactly_once.py), with the checkpoint stored INSIDE the
    epoch it belongs to.

    The at-least-once window of the checkpoint-store protocol (write
    lands, process dies before ``store.set`` → the delta is re-read
    into a SECOND epoch → duplicates in the lake) disappears because
    the HWM travels with the epoch: recovery reads the checkpoint from
    the LAST COMMITTED epoch, and an epoch whose parquet landed but
    whose ledger marker did not is simply rewritten under the SAME
    epoch id (mode=overwrite). The ledger's atomic marker rename is the
    single commit point for data + checkpoint together — exactly-once
    without a transaction, the K5/K6 upgrade path of SURVEY §7.4 #1.

    At scale: each cycle moves only delta rows (server-side filter);
    epochs are append-only parquet partitions, so downstream readers
    get partition pruning on epoch and the lake compacts like any other
    append stream (functions/layout.py).

    Exactly-once additionally requires the delta filter itself to be
    airtight: pass ``tiebreak_col`` (unique, monotone — the PK serial)
    whenever ``hwm_col`` is a non-unique timestamp, else a row sharing
    the batch-max timestamp but committing after the COPY snapshot
    would be skipped (see ``run_pg_incremental_batch``).
    """

    def __init__(
        self,
        spark: SparkSession,
        server: PgServer,
        schema: str,
        table: str,
        hwm_col: str,
        lake_dir: str,
        tiebreak_col: str | None = None,
    ) -> None:
        from .streaming.exactly_once import IdempotentParquetSink

        self.spark = spark
        self.server = server
        self.schema = schema
        self.table = table
        self.hwm_col = hwm_col
        self.tiebreak_col = tiebreak_col
        self.sink = IdempotentParquetSink(lake_dir)
        self.lake_dir = lake_dir

    def _epoch_dir(self, epoch: int) -> str:
        import os

        return os.path.join(self.lake_dir, f"epoch={epoch}")

    def last_checkpoint(self) -> tuple[int | None, str | None]:
        """(last committed epoch, its HWM) — recovery state comes from
        the ledger alone."""
        import os

        committed = sorted(self.sink.ledger.committed())
        if not committed:
            return None, None
        last = committed[-1]
        with open(os.path.join(self._epoch_dir(last), "_hwm.txt")) as f:
            return last, f.read()

    def run_cycle(self) -> dict:
        """One replication cycle. Returns a summary dict; ``n_rows`` 0
        means no delta (and no epoch was created). The bridge's scratch
        CSV lives only for the cycle (the epoch parquet is the durable
        copy)."""
        import os
        import shutil
        import tempfile

        last_epoch, prev = self.last_checkpoint()
        epoch = 0 if last_epoch is None else last_epoch + 1
        scratch = tempfile.mkdtemp(prefix="pg_lake_cycle_")
        try:
            batch = _hwm_batch(
                self.spark, self.server, self.schema, self.table,
                self.hwm_col, prev,
                tiebreak_col=self.tiebreak_col, scratch_dir=scratch,
            )
            if batch.n_rows == 0:
                return {"epoch": None, "n_rows": 0, "hwm": prev}
            edir = self._epoch_dir(epoch)
            batch.data.write.mode("overwrite").parquet(edir)
            # checkpoint rides the (still-uncommitted) epoch; the
            # underscore name keeps it invisible to parquet readers
            with open(os.path.join(edir, "_hwm.txt"), "w") as f:
                f.write(batch.new_checkpoint)
            self.sink.ledger.commit(epoch)  # atomic data+checkpoint commit
            return {
                "epoch": epoch,
                "n_rows": batch.n_rows,
                "hwm": batch.new_checkpoint,
            }
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def read_lake(self):
        """Union of all committed epochs (uncommitted dirs invisible)."""
        return self.sink.read_all(self.spark)


class PgFunnelIngest:
    """Documents arrive from a PostgreSQL table via HWM batches and
    flow through the streaming admission funnel into the lake
    (VERDICT r10 #7) — the reference's CDC surface
    (event-table.sql:17-18; the incremental loop of
    transfer_data_script.py:96-133) composed end-to-end with the LLM
    training-data pipeline.

    Per cycle: read the delta above the last COMMITTED epoch's HWM
    (server-side filter — the COPY streams only new rows), pin the
    batch's upper HWM durably, and hand the batch to an
    :class:`~postgresql_transfer_tool_spark.streaming.ingest_funnel.
    IngestFunnelSink` under the next epoch id. The sink's ledger commit
    is the single commit point for decisions + index extension +
    checkpoint together.

    Exactly-once across a mid-cycle kill, WITHOUT Structured
    Streaming's offset checkpoint: the trick is pinning the epoch's
    upper bound BEFORE processing. A crashed epoch is re-read as the
    bounded range (prev_hwm, pinned_upper] — byte-identical to the
    original batch even when newer rows landed in between — so the
    sink's replay bracket (fingerprint verify → partial-replay repair →
    commit) applies unchanged; rows above the pinned bound surface as
    the NEXT epoch. Requires the funnel's standing ingest contract:
    ``hwm_col`` is the unique monotone doc serial and rows are
    append-only/immutable (exactly the reference's serial-insert
    model).

    Crash windows:
    - after the HWM pin, before the sink ran: recovery re-reads the
      bounded batch and processes it fresh (nothing was durable);
    - anywhere inside the sink: the sink's own crash matrix
      (tests/test_sink_crash_matrix.py) converges the replay;
    - after the sink's commit: the epoch is ledger-committed, recovery
      starts the next epoch above its HWM. The pinned-HWM file is
      written atomically, so no window shows a torn bound.
    """

    def __init__(
        self,
        spark: SparkSession,
        server: PgServer,
        schema: str,
        table: str,
        hwm_col: str,
        sink,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        import os

        self.spark = spark
        self.server = server
        self.schema = schema
        self.table = table
        self.hwm_col = hwm_col
        self.sink = sink
        self.text_col = text_col
        self.id_col = id_col
        self.hwm_dir = os.path.join(
            os.path.dirname(self.sink.decisions_dir), "_hwm"
        )
        os.makedirs(self.hwm_dir, exist_ok=True)

    def _hwm_path(self, epoch: int) -> str:
        import os

        return os.path.join(self.hwm_dir, f"epoch={epoch}.hwm")

    def _read_hwm(self, epoch: int) -> str | None:
        try:
            with open(self._hwm_path(epoch)) as f:
                return f.read()
        except OSError:
            return None

    def _pin_hwm(self, epoch: int, hwm: str) -> None:
        from .functions.index_base import atomic_write_text

        atomic_write_text(self._hwm_path(epoch), hwm)

    def run_cycle(self, scratch_dir: str | None = None) -> dict:
        """One ingest cycle. Returns {"epoch", "n_rows", "hwm"};
        epoch None means no delta. Safe to call after any crash — the
        first cycle after a mid-epoch kill replays that epoch
        identically (pinned bound), then normal cycles resume."""
        committed = sorted(self.sink.ledger.committed())
        epoch = committed[-1] + 1 if committed else 0
        prev = self._read_hwm(committed[-1]) if committed else None
        if committed and prev is None:
            # the ledger proves epochs were ingested, so a missing HWM
            # for the last committed epoch means the _hwm dir was lost
            # or partially restored — falling back to prev=None would
            # silently RE-INGEST the whole table under fresh epoch ids
            # (no fingerprint fires: the ids are new). Fail loudly
            # naming the recovery unit instead (round-11 review).
            raise RuntimeError(
                f"funnel ingest state at {self.hwm_dir} is missing the "
                f"HWM of committed epoch {committed[-1]} — the ledger "
                "and the _hwm directory form one recovery unit; restore "
                "them together (or reset ledger + decisions + index) "
                "before resuming, otherwise every already-ingested row "
                "would be re-read and re-decided under new epoch ids"
            )
        pinned = self._read_hwm(epoch)  # non-None ⇒ crashed mid-epoch
        batch = _hwm_batch(
            self.spark, self.server, self.schema, self.table,
            self.hwm_col, prev, scratch_dir=scratch_dir, upper=pinned,
        )
        if batch.n_rows == 0:
            return {"epoch": None, "n_rows": 0, "hwm": prev}
        if pinned is None:
            self._pin_hwm(epoch, batch.new_checkpoint)
        docs = batch.data.select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.col(self.text_col).alias("text"),
        )
        self.sink(docs, epoch)  # ledger commit inside = the commit point
        self._prune_hwm()
        return {
            "epoch": epoch,
            "n_rows": batch.n_rows,
            "hwm": pinned if pinned is not None else batch.new_checkpoint,
        }

    def _prune_hwm(self) -> None:
        """Post-commit retention for the pinned-HWM files, on the same
        opt-in knob as the sink's record retention
        (``MaintenancePolicy.keep_records``): only the NEWEST committed
        epoch's HWM is ever read back (``run_cycle`` reads
        ``committed[-1]`` and the current epoch's pin), so files for
        older committed epochs are dead state — one file per epoch
        growing unboundedly on exactly the long streams retention
        exists to bound (round-12 ADVICE). Uncommitted pins (a crashed
        epoch's bound) are never touched."""
        import os

        policy = getattr(self.sink, "maintenance", None)
        if policy is None or policy.keep_records is None:
            return
        committed = sorted(self.sink.ledger.committed())
        if len(committed) <= policy.keep_records:
            return
        cutoff = committed[-policy.keep_records]
        for e in committed:
            if e >= cutoff:
                break
            try:
                os.remove(self._hwm_path(e))
            except OSError:
                pass  # already pruned (or never pinned)


def verify_table_equivalence(
    spark: SparkSession,
    df,
    server: PgServer,
    schema: str,
    table: str,
    scratch_dir: str | None = None,
) -> dict:
    """Post-migration verification: exact multiset comparison between a
    Spark relation and a live table — the rigorous upgrade of the
    reference's row-count check (``transfer_data_with_constraints_
    script.py`` validates COUNT(*) only; two tables can agree on count
    and disagree on every value).

    Reads the live table back through the bridge and diffs BOTH
    directions with ``exceptAll`` (multiset semantics: duplicate rows
    must match in multiplicity, not just presence). Returns
    ``{"missing": n, "extra": n, "equal": bool}`` — ``missing`` rows
    are in ``df`` but not the live table, ``extra`` the reverse. Both
    diffs are distributed anti-join shapes; nothing is collected except
    the two counts."""
    back = read_table(spark, server, schema, table, scratch_dir=scratch_dir)
    back = back.select(*df.columns)  # align column order
    missing = df.exceptAll(back).count()
    extra = back.exceptAll(df).count()
    return {"missing": missing, "extra": extra, "equal": missing == 0 and extra == 0}
