"""The benchmark's workloads, each one closed-loop client.

A workload prepares seeded inputs and expected results before anything
is timed, then yields a fixed sequence of ops: ``warmup_ops`` untimed
ones, then the measured ones. Each op has an optional untimed ``pre``
step, a timed ``run`` and an untimed correctness ``check``; a raising
or wrong op counts as failed. In a traced run each workload also
records the per-layer numbers it can observe from outside the program.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: registry rows of the memo-cold curation job; each equals its DuckDB
#: oracle on the benchmark universe
CURATE_ROWS = (
    "dedup_minhash_lsh dedup_ngram_jaccard dedup_survivors_by_quality "
    "ann_ivf_topk ann_pq_topk dedup_semantic_clusters "
    "text_winnowing_fingerprint bm25_ranked_retrieval"
).split()


@dataclass
class Op:
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    items: int = 1
    pre: Callable[[], None] | None = None


@dataclass
class Ctx:
    spark: Any
    fixture_dir: str
    work_dir: str
    cache_dir: str
    rng: np.random.Generator
    tracer: Any = None  # trace.Tracer in traced runs
    #: per-layer metric name -> one value per measured op (or event)
    layer: dict[str, list[float]] = field(default_factory=dict)
    measuring: bool = False

    def note(self, name: str, value: float) -> None:
        if self.measuring:
            self.layer.setdefault(name, []).append(float(value))


def canon_digest(rows, colnames) -> str:
    """Order-insensitive digest of a result: sha256 over the engine's
    canonical row multiset (``testing.canon_rows``)."""
    from postgresql_transfer_tool_spark.testing import canon_rows

    h = hashlib.sha256(json.dumps(sorted(colnames)).encode())
    for r in canon_rows(rows, list(colnames)):
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def fixture_identity(fixture_dir: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(fixture_dir)):
        if f.endswith(".parquet"):
            st = os.stat(os.path.join(fixture_dir, f))
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def cached_json(path: str, compute: Callable[[], Any]) -> Any:
    """``compute()``, memoized in a JSON file written by rename."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; marker and hidden files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# ---------------------------------------------------------------------------
# migrate: the reference's flow over the whole universe
# ---------------------------------------------------------------------------


class Migrate:
    """``TransferPipeline(spark, src, fresh_tgt).run()`` over a seeded copy
    of the universe with planted PK duplicates and FK orphans. Items are
    source rows copied."""

    name = "migrate"
    job_ops = 1
    #: the first pipeline pays the JVM's first-job cost, the second still
    #: runs about 20% slow
    warmup_ops = 2
    jobs_per_10s = 6

    def prepare_inputs(self, ctx: Ctx) -> None:
        self.src = os.path.join(ctx.work_dir, "src")
        os.makedirs(self.src)
        rng = ctx.rng
        for f in sorted(os.listdir(ctx.fixture_dir)):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(ctx.fixture_dir, f))
            name = f[: -len(".parquet")]
            if name in ("orders", "events"):
                # PK duplicates: exact copies of seeded rows
                dup = rng.choice(t.num_rows, int(rng.integers(3, 13)), replace=False)
                t = pa.concat_tables([t, t.take(pa.array(dup))])
            if name in ("lineitem", "orders"):
                # FK orphans: seeded rows re-pointed past the parent key range
                k = int(rng.integers(3, 13))
                rows = t.take(pa.array(rng.choice(t.num_rows, k, replace=False)))
                fk = "l_orderkey" if name == "lineitem" else "o_custkey"
                rows = rows.set_column(
                    rows.schema.get_field_index(fk), fk,
                    pa.array(10**9 + rng.integers(0, 10**6, k), pa.int64()))
                if name == "orders":  # the appended orders keep unique PKs
                    rows = rows.set_column(
                        rows.schema.get_field_index("o_orderkey"), "o_orderkey",
                        pa.array(2 * 10**9 + np.arange(k), pa.int64()))
                t = pa.concat_tables([t, rows])
            pq.write_table(t, os.path.join(self.src, f))
        self.expect = self._expectations()
        self.items = sum(e["rows"] for e in self.expect["tables"].values())
        self.source_bytes = tree_bytes(self.src)[1]

    def _expectations(self) -> dict:
        """Per table: rows, content digest, PK violations and FK orphans,
        plus the ``MAX + 1`` sequence manifest, all computed by DuckDB."""
        from postgresql_transfer_tool_spark.catalog import fixture_catalog

        con = duckdb.connect()
        exp: dict = {"tables": {}, "sequences": {}}
        for name, info in fixture_catalog().items():
            path = os.path.join(self.src, f"{name}.parquet")
            rows, digest = self._digest(con, path)
            e = {"rows": rows, "digest": digest, "pk": 0, "fk": {}}
            if info.primary_key:
                pk = ", ".join(info.primary_key)
                nulls = " OR ".join(f"{c} IS NULL" for c in info.primary_key)
                e["pk"] = con.sql(
                    f"SELECT (SELECT count(*) FROM (SELECT {pk} FROM '{path}' "
                    f"WHERE NOT ({nulls}) GROUP BY ALL HAVING count(*) > 1)) + "
                    f"(SELECT count(*) FROM '{path}' WHERE {nulls})"
                ).fetchone()[0]
            for fk in info.foreign_keys:
                parent = os.path.join(self.src, f"{fk.ref_table}.parquet")
                on = " AND ".join(
                    f"c.{a} = p.{b}" for a, b in zip(fk.columns, fk.ref_columns))
                notnull = " AND ".join(f"c.{a} IS NOT NULL" for a in fk.columns)
                e["fk"][f"{fk.table}.{','.join(fk.columns)}"] = con.sql(
                    f"SELECT count(*) FROM '{path}' c WHERE {notnull} AND NOT EXISTS "
                    f"(SELECT 1 FROM '{parent}' p WHERE {on})"
                ).fetchone()[0]
            if info.serial_columns:
                col = info.serial_columns[0]
                exp["sequences"][f"{name}.{col}"] = con.sql(
                    f"SELECT COALESCE(MAX({col}), 0) + 1 FROM '{path}'"
                ).fetchone()[0]
            exp["tables"][name] = e
        con.close()
        return exp

    @staticmethod
    def _digest(con, path: str) -> tuple[int, int]:
        """(rows, order-insensitive content digest) of a parquet table, a
        file or a directory of part files."""
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        n, h = con.sql(
            f"SELECT count(*), COALESCE(sum(hash(t)::HUGEINT), 0) FROM '{path}' t"
        ).fetchone()
        return int(n), int(h)

    def start(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def ops(self, ctx: Ctx, n: int):
        from postgresql_transfer_tool_spark.transfer import TransferPipeline

        for i in range(self.warmup_ops + n):
            tgt = os.path.join(ctx.work_dir, f"tgt{i}")

            def run(tgt=tgt):
                return TransferPipeline(ctx.spark, self.src, tgt).run(), tgt

            yield Op(run, self.check, self.items)

    def check(self, out) -> bool:
        report, tgt = out
        try:
            self.ctx.note("transfer.target_bytes", tree_bytes(tgt)[1])
            con = duckdb.connect()
            try:
                for name, e in self.expect["tables"].items():
                    r = report.results.get(name)
                    if (
                        r is None or r.status != "copied"
                        or (r.source_rows, r.target_rows) != (e["rows"], e["rows"])
                        or self._digest(con, os.path.join(tgt, f"{name}.parquet"))
                        != (e["rows"], e["digest"])
                        or r.pk_violations != e["pk"] or r.fk_orphans != e["fk"]
                    ):
                        return False
            finally:
                con.close()
            with open(os.path.join(tgt, "_sequences.json")) as f:
                return json.load(f) == self.expect["sequences"]
        finally:
            shutil.rmtree(tgt, ignore_errors=True)

    def install_tracing(self, ctx: Ctx) -> None:
        from postgresql_transfer_tool_spark import transfer

        tr = ctx.tracer
        tr.wrap(transfer.TransferPipeline, "run", "transfer.run")
        tr.wrap(transfer.TransferPipeline, "_copy_table", "transfer.copy", group=True)
        for fn in ("audit_primary_key", "audit_unique", "audit_check",
                   "audit_fk_orphans"):
            tr.wrap(transfer, fn, f"transfer.{fn}", group=True)

    def layer_metrics(self, ctx: Ctx, op_ids: list[int]) -> dict[str, float]:
        tr = ctx.tracer
        n = max(1, len(op_ids))
        spans = tr.measured(op_ids)
        copies: dict[int, list[tuple[float, float]]] = {}
        copy_jobs = audit_jobs = 0
        for _sid, _p, op, name, s, e in spans:
            base, _, group = name.partition("|")
            if base == "transfer.copy":
                copies.setdefault(op, []).append((s, e))
                copy_jobs += len(tr.jobs_in_group(group))
            elif base.startswith("transfer.audit_"):
                audit_jobs += len(tr.jobs_in_group(group))
        tails = [
            e - max(ce for _cs, ce in copies[op])
            for _sid, _p, op, name, _s, e in spans
            if name == "transfer.run" and op in copies
        ]
        target = np.mean(ctx.layer.get("transfer.target_bytes", [0.0]))
        out = {
            "transfer.copy_s_sum": sum(e - s for v in copies.values() for s, e in v) / n,
            "transfer.copy_s_max": max(
                (e - s for v in copies.values() for s, e in v), default=0.0),
            "transfer.copy_jobs": copy_jobs / n,
            "transfer.audit_jobs": audit_jobs / n,
            "transfer.copy_rows": float(self.items),
            "transfer.target_bytes": float(target),
            "transfer.target_bytes_per_source_byte": float(target) / self.source_bytes,
            "transfer.validate_tail_s": float(np.mean(tails)) if tails else 0.0,
        }
        for key, fn in (("audit_pk_s", "audit_primary_key"),
                        ("audit_unique_s", "audit_unique"),
                        ("audit_fk_s", "audit_fk_orphans")):
            out[f"transfer.{key}"] = sum(tr.durations(op_ids, f"transfer.{fn}")) / n
        return out


# ---------------------------------------------------------------------------
# curate_cold: standalone memo-cold curation rows
# ---------------------------------------------------------------------------


def oracle_digests(ctx: Ctx) -> dict[str, str]:
    """DuckDB oracle digest of every ``CURATE_ROWS`` row, cached in the
    benchmark's cache dir keyed by fixture file identity."""
    from postgresql_transfer_tool_spark.operators import registry
    from postgresql_transfer_tool_spark.testing import duckdb_connection

    def compute():
        con = duckdb_connection(ctx.fixture_dir)
        out = {}
        for n in CURATE_ROWS:
            cur = con.execute(registry.ORACLES[n])
            out[n] = canon_digest(cur.fetchall(), [d[0] for d in cur.description])
        con.close()
        return out

    return cached_json(os.path.join(
        ctx.cache_dir, f"oracles-{fixture_identity(ctx.fixture_dir)}.json"), compute)


class CurateCold:
    """Each op clears every session memo (untimed; the clear returns the
    entries dropped), then builds and collects one curation row from a
    seeded shuffle of ``CURATE_ROWS``, each row equally often. Items are
    queries."""

    name = "curate_cold"
    warmup_ops = 0
    jobs_per_10s = 2
    #: a latency sample is one curation job, every row once: a row's
    #: first-time cost depends on which row of its family (shingle,
    #: embedding, token) ran first, so single-row latencies follow the
    #: seeded order while a whole job's does not
    job_ops = len(CURATE_ROWS)
    #: a cheap corpus row, not one of CURATE_ROWS, run once before the
    #: measured ops: it pays the JVM's first-job cost, while each measured
    #: row still runs for the first time in the session, as in a
    #: standalone curation job
    warmup_row = "text_quality_score"

    def prepare_inputs(self, ctx: Ctx) -> None:
        pass

    def start(self, ctx: Ctx) -> None:
        from postgresql_transfer_tool_spark.operators import registry

        self.ctx = ctx
        self.queries = registry.QUERIES
        self.expect = oracle_digests(ctx)

    def ops(self, ctx: Ctx, n: int):
        self.queries[self.warmup_row](ctx.spark, ctx.fixture_dir).collect()
        order: list[str] = []
        while len(order) < n:
            order += [str(x) for x in ctx.rng.permutation(CURATE_ROWS)]
        for name in order[:n]:
            yield Op(
                lambda name=name: self._run(name),
                lambda out, name=name: self._check(name, out),
                pre=self._clear,
            )

    def _clear(self) -> None:
        from postgresql_transfer_tool_spark.functions import memo

        t = time.perf_counter()
        memo.clear_all_memos()
        self.ctx.note("memo.clear_s", time.perf_counter() - t)

    def _run(self, name: str):
        ctx, fn = self.ctx, self.queries[name]
        tr = ctx.tracer
        if tr is None:
            df = fn(ctx.spark, ctx.fixture_dir)
            return df.columns, df.collect()
        jobs0 = tr.known_jobs()
        t0 = time.perf_counter()
        df = fn(ctx.spark, ctx.fixture_dir)
        t1 = time.perf_counter()
        jobs1 = tr.known_jobs()
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        jobs2 = tr.known_jobs()
        ctx.note("operators.construct_s", t1 - t0)
        ctx.note("operators.construct_jobs", len(jobs1 - jobs0))
        ctx.note("exec.s", t3 - t2)
        ctx.note("exec.jobs", len(jobs2 - jobs1))
        ctx.note("exec.result_rows", len(rows))
        self._last_df = df
        return df.columns, rows

    def observe(self, out) -> None:
        """Traced runs: numbers read after the op, outside its timing."""
        from postgresql_transfer_tool_spark.functions import memo

        from tracing import exec_metrics, plan_phases_ms

        ctx = self.ctx
        ctx.note("memo.entries_built", sum(len(m) for m in list(memo._ALL_MEMOS)))
        for k, v in plan_phases_ms(self._last_df).items():
            ctx.note(f"plan.{k}_ms", v)
        for k, v in exec_metrics(self._last_df).items():
            ctx.note(f"exec.{k}", v)

    def _check(self, name: str, out) -> bool:
        cols, rows = out
        return canon_digest([tuple(r) for r in rows], cols) == self.expect[name]

    def install_tracing(self, ctx: Ctx) -> None:
        pass

    def layer_metrics(self, ctx: Ctx, op_ids: list[int]) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# admit_stream: continuous admission through the composed funnel sink
# ---------------------------------------------------------------------------


class AdmitStream:
    """Build the near-dup index over the ``doc_id % 4 != 0`` corpus and the
    contamination index over the benchmark split (untimed, reported as
    layer numbers), then push the ``doc_id % 4 == 0`` batch through one
    ``IngestFunnelSink`` as seeded nondecreasing ``doc_id`` ranges, one
    epoch per op; after the last epoch one seeded committed epoch is
    redelivered. Items are batch documents decided."""

    name = "admit_stream"
    #: the index builds warm the JVM up; every epoch delivered is measured
    warmup_ops = 0
    jobs_per_10s = 3
    job_ops = 1
    #: the batch is cut into this many epochs; a run delivers a prefix
    epochs = 6

    def prepare_inputs(self, ctx: Ctx) -> None:
        ids = pq.read_table(
            os.path.join(ctx.fixture_dir, "documents.parquet"), columns=["doc_id"]
        ).column(0).to_numpy()
        self.batch_ids = np.sort(ids[ids % 4 == 0])
        self.corpus_docs = int((ids % 4 != 0).sum())

    def _cuts(self, ctx: Ctx, n_epochs: int) -> list[tuple[int, int]]:
        """Seeded epoch boundaries: contiguous doc_id ranges in id order,
        each within ±10% of an even share of the batch."""
        w = ctx.rng.uniform(0.9, 1.1, n_epochs)
        ends = np.rint(np.cumsum(w) / w.sum() * len(self.batch_ids)).astype(int)
        out, lo = [], 0
        for hi in ends:
            out.append((int(self.batch_ids[lo]), int(self.batch_ids[hi - 1])))
            lo = hi
        return out

    def start(self, ctx: Ctx) -> None:
        from postgresql_transfer_tool_spark.operators.ingest import _funnel_oracle
        from postgresql_transfer_tool_spark.testing import canon_rows, duckdb_connection

        def compute():
            con = duckdb_connection(ctx.fixture_dir)
            cur = con.execute(_funnel_oracle())
            cols = [d[0] for d in cur.description]
            rows = canon_rows(cur.fetchall(), cols)
            con.close()
            return {"cols": cols, "rows": rows}

        self.ctx = ctx
        cached = cached_json(os.path.join(
            ctx.cache_dir, f"funnel-{fixture_identity(ctx.fixture_dir)}.json"), compute)
        self.cols = cached["cols"]
        self._id_pos = sorted(self.cols).index("doc_id")
        self.oracle = {int(r[self._id_pos]): tuple(r) for r in cached["rows"]}
        self._build(ctx)

    def _build(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from postgresql_transfer_tool_spark.catalog import load_table
        from postgresql_transfer_tool_spark.operators.contamination_index import (
            build_contamination_index,
        )
        from postgresql_transfer_tool_spark.operators.corpus import _BENCH_MOD
        from postgresql_transfer_tool_spark.operators.dedup_index import (
            BATCH_MOD,
            build_dedup_index,
        )
        from postgresql_transfer_tool_spark.streaming.ingest_funnel import (
            IngestFunnelSink,
        )

        spark = ctx.spark
        docs = load_table(spark, ctx.fixture_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id")
        self.batch = docs.filter(F.col("doc_id") % BATCH_MOD == 0)
        self.index_dir = os.path.join(ctx.work_dir, "dedup_index")
        corpus = docs.filter(F.col("doc_id") % BATCH_MOD != 0)
        t0 = time.perf_counter()
        index = build_dedup_index(spark, corpus, self.index_dir, "perfbench_dedup")
        t1 = time.perf_counter()
        grams = build_contamination_index(
            spark, docs.filter(F.col("doc_id") % _BENCH_MOD == 0),
            os.path.join(ctx.work_dir, "cont_index"), "perfbench_cont")
        self.build_s = (t1 - t0, time.perf_counter() - t1)
        self.sink = IngestFunnelSink(spark, index, grams,
                                     os.path.join(ctx.work_dir, "funnel"))

    def _epoch(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        return self.batch.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))

    def ops(self, ctx: Ctx, n: int):
        self.cuts = self._cuts(ctx, self.epochs)
        self.delivered: list[int] = []
        for e, (lo, hi) in enumerate(self.cuts[: self.warmup_ops + n]):
            n_docs = int(((self.batch_ids >= lo) & (self.batch_ids <= hi)).sum())

            def run(e=e, lo=lo, hi=hi):
                self.sink(self._epoch(lo, hi), e)
                self.delivered.append(e)
                return hi

            yield Op(run, self._check_prefix, n_docs)

    def decided(self) -> dict[int, tuple]:
        from postgresql_transfer_tool_spark.testing import canon_rows

        rows = [tuple(r) for r in self.sink.decisions().select(*self.cols).collect()]
        return {int(r[self._id_pos]): r for r in canon_rows(rows, self.cols)}

    def _check_prefix(self, hi: int) -> bool:
        """The decisions so far equal the oracle's for every batch doc
        up to the last delivered id."""
        files, size = tree_bytes(self.index_dir)
        self.ctx.note("index.files", files)
        indexed = self.corpus_docs + int((self.batch_ids <= hi).sum())
        self.ctx.note("index.bytes_per_doc", size / indexed)
        return self.decided() == {d: r for d, r in self.oracle.items() if d <= hi}

    def finish(self, ctx: Ctx) -> tuple[int, int]:
        """Redeliver one seeded committed epoch; the decisions must not
        change. Returns (attempted, failed)."""
        if not self.delivered:
            return 0, 0
        e = int(ctx.rng.choice(self.delivered))
        before = self.decided()
        try:
            t = time.perf_counter()
            self.sink(self._epoch(*self.cuts[e]), e)
            self.replay_s = time.perf_counter() - t
        except Exception:  # a refused redelivery is a failed op
            return 1, 1
        return 1, int(self.decided() != before)

    def install_tracing(self, ctx: Ctx) -> None:
        from postgresql_transfer_tool_spark.streaming import exactly_once, ingest_funnel

        tr = ctx.tracer
        for fn, span in (("check_batch_fingerprint", "ingest.fingerprint"),
                         ("dedup_batch_against_index", "ingest.probe_dedup"),
                         ("check_batch_contamination", "ingest.probe_contamination"),
                         ("write_epoch_record", "ingest.record_write"),
                         ("append_all_signatures", "ingest.extend")):
            tr.wrap(ingest_funnel, fn, span)
        tr.wrap(exactly_once.EpochLedger, "commit", "ingest.commit")

    def layer_metrics(self, ctx: Ctx, op_ids: list[int]) -> dict[str, float]:
        tr = ctx.tracer
        n = max(1, len(op_ids))
        out = {
            "index.build_dedup_s": self.build_s[0],
            "index.build_contamination_s": self.build_s[1],
            "ingest.replay_s": getattr(self, "replay_s", 0.0),
        }
        for key in ("fingerprint", "probe_dedup", "probe_contamination",
                    "record_write", "extend", "commit"):
            out[f"ingest.{key}_s"] = sum(tr.durations(op_ids, f"ingest.{key}")) / n
        return out


WORKLOADS = {w.name: w for w in (Migrate, CurateCold, AdmitStream)}
