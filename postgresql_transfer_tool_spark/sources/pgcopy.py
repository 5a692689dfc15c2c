"""Live-PostgreSQL bridge over ``COPY`` — the zero-dependency data path.

The JDBC layer (``sources/jdbc.py``) is the cluster-scale path: N
parallel range scans and batched inserts, one connection per executor
partition. It needs the PostgreSQL JDBC jar on the Spark classpath.
This module is the complementary bridge for environments that ship
server binaries but no JDBC driver (like this test container): it moves
data through ``psql``'s ``COPY ... TO STDOUT`` / ``COPY ... FROM STDIN``
in CSV form, which every PostgreSQL installation supports out of the box.

Reference parity: the reference's entire data path is SQLAlchemy
``SELECT`` + per-row ``INSERT`` (``transfer_data_script.py:107-126``).
``COPY`` is the bulk form PostgreSQL documents as the fast path — one
command streams the whole relation — so this bridge is both more
faithful to "what a PostgreSQL operator would do" and orders of
magnitude cheaper than the reference's row loop.

Scale honesty (SCALE.md contract):

- ``copy_out``/``read_table`` drive ONE server-side cursor per table —
  a driver-side bridge, not a distributed scan. ``read_table_partitioned``
  upgrades that to N concurrent range cursors (the JDBC partitioned-read
  rule over COPY); at 100 TB use ``jdbc.read_table`` so the cursors run
  on executors. Independent tables additionally stream concurrently.
- ``write_table`` is per-part-file parallelizable (each Spark output
  part is one independent ``COPY FROM``); parts load in sorted order so
  reruns are deterministic. Each ``COPY`` is its own transaction —
  callers needing all-or-nothing semantics write to a staging table and
  rename, exactly like the parquet pipeline (``transfer.py`` K5/K6).

CSV conventions (both directions):

- NULL marker is ``\\N`` (never a valid unquoted value otherwise);
  PostgreSQL quotes a *literal* ``\\N`` on output, but Spark's CSV
  reader applies ``nullValue`` to quoted fields too — a string column
  whose value is exactly the two characters ``\\N`` round-trips to NULL.
  Documented limitation, astronomically unlikely in real data.
- Quotes are escaped by doubling (PostgreSQL's only CSV style);
  ``escape='"'`` makes Spark's univocity parser/writer agree.
- ``multiLine=true`` on read: embedded newlines arrive quoted.
"""

from __future__ import annotations

import csv
import io
import os
import subprocess
import tempfile
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..types import create_table_ddl, pg_to_spark, quote_ident, quote_qualified

#: CSV NULL marker shared by both directions (two characters: \N).
NULL_MARKER = "\\N"

#: default per-statement wall-clock cap; raise per-server via
#: ``PgServer(timeout_s=...)`` for tables whose COPY stream runs longer
DEFAULT_TIMEOUT_S = 600


class PgCopyError(RuntimeError):
    """psql exited non-zero; message carries stderr + the SQL."""


@dataclass(frozen=True)
class PgServer:
    """Connection coordinates for psql. ``host`` may be a Unix-socket
    directory (how the throwaway test cluster listens). ``timeout_s``
    caps every psql invocation against this server — size it to the
    slowest single-table COPY stream expected."""

    host: str
    port: int
    user: str = "postgres"
    dbname: str = "postgres"
    timeout_s: int = DEFAULT_TIMEOUT_S

    def psql_base(self) -> list[str]:
        return [
            "psql",
            "-h", self.host,
            "-p", str(self.port),
            "-U", self.user,
            "-d", self.dbname,
            "-X", "-q",
            "-v", "ON_ERROR_STOP=1",
        ]


def run_sql(server: PgServer, sql: str) -> list[tuple[str, ...]]:
    """Execute one statement, return rows as string tuples (psql --csv,
    header dropped). The driver-side passthrough every reflection /
    DDL / setval statement rides."""
    p = subprocess.run(
        [*server.psql_base(), "--csv", "-c", sql],
        capture_output=True, text=True, cwd="/", timeout=server.timeout_s,
    )
    if p.returncode != 0:
        raise PgCopyError(f"psql failed: {p.stderr}\nSQL: {sql}")
    rows = list(csv.reader(io.StringIO(p.stdout)))
    return [tuple(r) for r in rows[1:]]


# ---------------------------------------------------------------------------
# schema reflection (S1 live): information_schema.columns → StructType
# ---------------------------------------------------------------------------


def columns_sql(schema: str, table: str) -> str:
    """Ordered column reflection — (name, pg_type, nullable) rows in
    table order, the input shape ``types.reflect_schema`` consumes."""
    return f"""
    SELECT column_name,
           CASE WHEN data_type = 'numeric'
                     AND numeric_precision IS NOT NULL
                THEN 'numeric(' || numeric_precision || ',' ||
                     COALESCE(numeric_scale, 0) || ')'
                WHEN data_type = 'ARRAY'
                THEN replace(udt_name, '_', '') || '[]'
                WHEN data_type = 'USER-DEFINED'
                THEN 'composite:' || udt_schema || '.' || udt_name
                ELSE data_type END,
           is_nullable
    FROM information_schema.columns
    WHERE table_schema = '{schema}' AND table_name = '{table}'
    ORDER BY ordinal_position
    """


def composite_attrs_sql(udt_schema: str, udt_name: str) -> str:
    """Attribute reflection for one composite type —
    information_schema.attributes has rows ONLY for composite (row)
    types, so an empty result distinguishes enums/domains (which stay
    on their text carrier)."""
    return f"""
    SELECT attribute_name,
           CASE WHEN data_type = 'numeric'
                     AND numeric_precision IS NOT NULL
                THEN 'numeric(' || numeric_precision || ',' ||
                     COALESCE(numeric_scale, 0) || ')'
                WHEN data_type IN ('ARRAY', 'USER-DEFINED')
                THEN 'text'
                ELSE data_type END,
           is_nullable
    FROM information_schema.attributes
    WHERE udt_schema = '{udt_schema}' AND udt_name = '{udt_name}'
    ORDER BY ordinal_position
    """


def reflect_table_schema(server: PgServer, schema: str, table: str) -> T.StructType:
    """Reflect a table to StructType. Composite-typed columns reflect
    their attributes into a nested StructType (r5 — the COPY read path
    decodes the row literal, see ``parse_pg_row_literal``); enum /
    domain user-defined types (no attribute rows) and nested-container
    attributes stay on the lossless text carrier."""
    rows = run_sql(server, columns_sql(schema, table))
    if not rows:
        raise PgCopyError(f"no such table: {schema}.{table}")
    fields: list[T.StructField] = []
    for n, t, null in rows:
        if t.startswith("composite:"):
            udt_schema, udt_name = t[len("composite:"):].split(".", 1)
            attrs = run_sql(server, composite_attrs_sql(udt_schema, udt_name))
            if attrs:
                st = T.StructType(
                    [
                        T.StructField(an, pg_to_spark(at), anull == "YES")
                        for an, at, anull in attrs
                    ]
                )
                fields.append(T.StructField(n, st, null == "YES"))
                continue
            t = "text"  # enum/domain: text carrier
        fields.append(T.StructField(n, pg_to_spark(t), null == "YES"))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# read path: COPY TO STDOUT → local CSV → distributed parse/cast
# ---------------------------------------------------------------------------


def copy_query_out(server: PgServer, inner_sql: str, dest: str) -> None:
    """Stream one SELECT's result to a local CSV file (single server
    cursor — the bridge's documented driver-side step; the parse/cast
    is distributed). FORCE_QUOTE *: every non-NULL value arrives
    quoted, so the bare \\N marker is the ONLY unquoted token — Spark's
    reader then cannot confuse an empty string (arrives as "") with
    NULL (arrives as \\N)."""
    sql = (
        f"COPY ({inner_sql}) TO STDOUT "
        f"(FORMAT csv, NULL '{NULL_MARKER}', FORCE_QUOTE *)"
    )
    with open(dest, "wb") as f:
        p = subprocess.run(
            [*server.psql_base(), "-c", sql],
            stdout=f, stderr=subprocess.PIPE, cwd="/", timeout=server.timeout_s,
        )
    if p.returncode != 0:
        raise PgCopyError(f"COPY OUT failed: {p.stderr.decode()}\nSQL: {sql}")


def copy_out(server: PgServer, schema: str, table: str, dest: str) -> None:
    """Stream one full table to a local CSV file (S2 over the bridge)."""
    copy_query_out(server, f"SELECT * FROM {quote_qualified(schema, table)}", dest)


def parse_pg_array_literal(s: str | None) -> list[str | None] | None:
    """Decode one PostgreSQL 1-D array output literal into its elements.

    Implements the array-output quoting rules (PostgreSQL docs, "Array
    Input and Output Syntax"): elements are comma-separated inside
    ``{}``; an element is double-quoted when it contains
    ``{ } , " \\`` or whitespace, is empty, or spells NULL; inside
    quotes ``\\`` escapes the next character. The bare unquoted token
    ``NULL`` is a NULL element; the quoted string ``"NULL"`` is the
    four-letter word. Multidimensional arrays are out of scope (the
    reflected Spark type is 1-D).
    """
    if s is None:
        return None
    if not (s.startswith("{") and s.endswith("}")):
        raise ValueError(f"not an array literal: {s!r}")
    body = s[1:-1]
    if body == "":
        return []
    out: list[str | None] = []
    i, n = 0, len(body)
    while True:
        if i < n and body[i] == '"':
            i += 1
            buf: list[str] = []
            while True:
                ch = body[i]
                if ch == "\\":
                    if i + 1 >= n:
                        raise ValueError(
                            f"dangling backslash in literal: {s!r}"
                        )
                    buf.append(body[i + 1])
                    i += 2
                elif ch == '"':
                    i += 1
                    break
                else:
                    buf.append(ch)
                    i += 1
            out.append("".join(buf))
        else:
            j = body.find(",", i)
            tok = body[i:] if j < 0 else body[i:j]
            out.append(None if tok == "NULL" else tok)
            i = n if j < 0 else j
        if i == n:
            return out
        if body[i] != ",":
            raise ValueError(f"malformed array literal at offset {i}: {s!r}")
        i += 1


def _parse_pg_array_col(c: Column) -> Column:
    """Arrow-batched decode of a PG array-literal column → array<string>
    (quoting rules need real state, beyond what split/regex expresses;
    one vectorized batch pass, never row-at-a-time)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def decode(col: pd.Series) -> pd.Series:
        return col.map(parse_pg_array_literal, na_action="ignore")

    return decode(c)


def parse_pg_row_literal(s: str | None) -> list[str | None] | None:
    """Decode one PostgreSQL composite (row-type) output literal into
    its field strings (PostgreSQL docs, "Composite Type Input and
    Output Syntax"): fields are comma-separated inside ``()``; a field
    is double-quoted on output when it is empty or contains
    ``( ) , " \\`` or whitespace; embedded quotes/backslashes are
    DOUBLED on output (``""`` / ``\\\\``), though input also accepts
    backslash escapes — both are handled. A completely empty unquoted
    field is NULL (unlike arrays, there is no NULL keyword; the quoted
    empty string ``""`` is an empty string)."""
    if s is None:
        return None
    if not (s.startswith("(") and s.endswith(")")):
        raise ValueError(f"not a row literal: {s!r}")
    body = s[1:-1]
    out: list[str | None] = []
    i, n = 0, len(body)
    while True:
        if i < n and body[i] == '"':
            i += 1
            buf: list[str] = []
            while True:
                if i >= n:
                    raise ValueError(f"unterminated quote in row literal: {s!r}")
                ch = body[i]
                if ch == "\\":
                    if i + 1 >= n:
                        raise ValueError(
                            f"dangling backslash in literal: {s!r}"
                        )
                    buf.append(body[i + 1])
                    i += 2
                elif ch == '"':
                    if i + 1 < n and body[i + 1] == '"':  # doubled quote
                        buf.append('"')
                        i += 2
                    else:
                        i += 1
                        break
                else:
                    buf.append(ch)
                    i += 1
            out.append("".join(buf))
        else:
            j = body.find(",", i)
            tok = body[i:] if j < 0 else body[i:j]
            out.append(None if tok == "" else tok)
            i = n if j < 0 else j
        if i == n:
            return out
        if body[i] != ",":
            raise ValueError(f"malformed row literal at offset {i}: {s!r}")
        i += 1


def _parse_pg_row_col(c: Column) -> Column:
    """Arrow-batched decode of a PG row-literal column → array<string>
    of its field strings (same vectorized-batch discipline as
    ``_parse_pg_array_col``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def decode(col: pd.Series) -> pd.Series:
        return col.map(parse_pg_row_literal, na_action="ignore")

    return decode(c)


def _scalar_from_pg_text(c: Column, dt: T.DataType) -> Column:
    """COPY-text → typed value for one SCALAR (the shared conversion
    for top-level columns, array elements, and composite fields)."""
    if isinstance(dt, T.BooleanType):
        return c == "t"  # null-preserving: NULL == 't' is NULL
    if isinstance(dt, T.BinaryType):
        return F.unhex(c.substr(F.lit(3), F.length(c)))  # strip leading \x
    return c.cast(dt)  # numerics, timestamp, date, string: ANSI cast


def _from_pg_text(field: T.StructField) -> Column:
    """Cast one all-string CSV column to its reflected Spark type, using
    PostgreSQL's COPY output conventions (t/f booleans, \\x hex bytea,
    {a,b,c} arrays with PG element quoting)."""
    c = F.col(field.name)
    dt = field.dataType
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, T.NumericType):
            # numeric elements are never quoted — pure JVM split/cast
            elems = F.split(c.substr(F.lit(2), F.length(c) - 2), ",")
            inner = F.transform(
                elems, lambda x: F.nullif(x, F.lit("NULL")).cast(dt.elementType)
            )
            out = F.when(c == "{}", F.array().cast(dt)).otherwise(inner)
        else:
            # text/bool/bytea/… arrays: stateful literal decode, then the
            # shared element-wise scalar conversion. bytea elements go
            # through the \x-hex unhex branch — a bare string→binary
            # cast would yield the UTF-8 bytes of the hex LITERAL, not
            # the decoded bytes (ADVICE r4).
            parsed = _parse_pg_array_col(c)
            if isinstance(dt.elementType, T.StringType):
                out = parsed
            elif isinstance(
                dt.elementType, (T.ArrayType, T.MapType, T.StructType)
            ):
                raise NotImplementedError(
                    f"pgcopy read: nested container elements in array "
                    f"column {field.name} are unsupported"
                )
            else:
                out = F.transform(
                    parsed, lambda x: _scalar_from_pg_text(x, dt.elementType)
                )
    elif isinstance(dt, T.StructType):
        # PG composite (row-type) column: stateful row-literal decode,
        # then per-field scalar conversion (directive r5 #6). Nested
        # containers inside a composite stay out of scope.
        for f2 in dt.fields:
            if isinstance(f2.dataType, (T.ArrayType, T.MapType, T.StructType)):
                raise NotImplementedError(
                    f"pgcopy read: nested container field "
                    f"{field.name}.{f2.name} in a composite is unsupported"
                )
        parsed = _parse_pg_row_col(c)
        out = F.when(
            c.isNotNull(),
            F.struct(
                *[
                    _scalar_from_pg_text(parsed[i], f2.dataType).alias(f2.name)
                    for i, f2 in enumerate(dt.fields)
                ]
            ),
        )
    elif isinstance(dt, T.MapType):
        raise NotImplementedError(
            f"pgcopy read keeps json as text; declare {field.name} string, "
            "or pass json_promote={name: type} to read_table/read_query "
            "for a from_json promotion (StructType columns decode as PG "
            "composites — use json_promote if the source column is jsonb)"
        )
    else:
        out = _scalar_from_pg_text(c, dt)
    return out.alias(field.name)


def _promote_json(df: DataFrame, json_promote: dict[str, T.DataType]) -> DataFrame:
    """Promote string-carried json/jsonb columns to typed Map/Struct via
    from_json — the same promotion contract as the parquet-side
    ``operators/scalarfuncs.json_schema_promotion`` (SURVEY §1.3), here
    applied at the bridge boundary so a reflected jsonb column lands
    typed instead of as its text carrier."""
    cols = [
        F.from_json(F.col(f.name), json_promote[f.name]).alias(f.name)
        if f.name in json_promote
        else F.col(f.name)
        for f in df.schema.fields
    ]
    missing = set(json_promote) - {f.name for f in df.schema.fields}
    if missing:
        raise ValueError(f"json_promote names absent from result: {sorted(missing)}")
    return df.select(*cols)


def read_query(
    spark: SparkSession,
    server: PgServer,
    inner_sql: str,
    result_schema: T.StructType,
    scratch_dir: str | None = None,
    label: str = "query",
    json_promote: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Live query scan over the COPY bridge: stream ``inner_sql``'s
    result to scratch CSV, parse distributed with an all-string schema,
    cast per PostgreSQL text conventions. ``result_schema`` must match
    the SELECT list (for bare tables, ``read_table`` reflects it).

    The scratch file must outlive every action on the returned (lazy)
    DataFrame, so this function cannot delete it; pass ``scratch_dir``
    and remove the directory when done (``PgTransferPipeline.run`` does
    exactly that for its per-run scratch)."""
    fd, path = tempfile.mkstemp(
        suffix=".csv", prefix=f"pgcopy_{label}_", dir=scratch_dir
    )
    os.close(fd)
    copy_query_out(server, inner_sql, path)
    df = _parse_pg_csv(spark, [path], result_schema)
    return _promote_json(df, json_promote) if json_promote else df


def _parse_pg_csv(
    spark: SparkSession, paths: list[str], result_schema: T.StructType
) -> DataFrame:
    """Distributed parse+cast of COPY CSV files: all-string read with
    the bridge's conventions, then per-type conversion. The single
    place the reader options live — every read path (single stream,
    partitioned stripes) must agree with the writer."""
    raw_schema = T.StructType(
        [T.StructField(f.name, T.StringType(), True) for f in result_schema.fields]
    )
    raw = (
        spark.read.schema(raw_schema)
        .option("nullValue", NULL_MARKER)
        .option("escape", '"')
        .option("multiLine", "true")
        # COPY TO STDOUT ends rows with "\n" on every platform; naming
        # it also stops the parser rewriting a quoted "\r" to "\n"
        .option("lineSep", "\n")
        .csv(paths)
    )
    return raw.select(*[_from_pg_text(f) for f in result_schema.fields])


def read_table(
    spark: SparkSession,
    server: PgServer,
    schema: str,
    table: str,
    scratch_dir: str | None = None,
    json_promote: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Live full-table scan (S2 over the COPY bridge): reflect the
    schema, then ``read_query`` the whole table. ``json_promote`` maps
    json/jsonb column names to the Map/Struct type they should land as
    (reflection carries them as string)."""
    st = reflect_table_schema(server, schema, table)
    return read_query(
        spark, server,
        f"SELECT * FROM {quote_qualified(schema, table)}",
        st, scratch_dir=scratch_dir, label=table, json_promote=json_promote,
    )


# ---------------------------------------------------------------------------
# write path: distributed CSV parts → COPY FROM STDIN per part
# ---------------------------------------------------------------------------


def _scalar_to_pg_text(c: Column, dt: T.DataType) -> Column:
    """Typed value → COPY-text for one SCALAR (shared by top-level
    columns and composite fields)."""
    if isinstance(dt, T.BooleanType):
        # mirror PG's own output (t/f) so render→parse is an identity;
        # PG input accepts both t/f and true/false
        return F.when(c.isNotNull(), F.when(c, "t").otherwise("f"))
    if isinstance(dt, T.BinaryType):
        return F.concat(F.lit("\\x"), F.lower(F.hex(c)))
    if isinstance(dt, T.TimestampType):
        # instant → timestamptz: explicit offset, micro precision (see
        # the top-level branch's comment)
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSSXXX")
    if isinstance(dt, T.TimestampNTZType):
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    return c.cast("string")


def _struct_to_pg_row_literal(c: Column, dt: T.StructType) -> Column:
    """Render a StructType column as a PG composite row literal
    ``("f1","f2",…)``: every non-NULL field always-quoted (legal for
    any content) with embedded ``\\`` and ``"`` doubled per the
    composite INPUT rules; NULL fields are the empty token. Pure JVM
    concat/regexp — no UDF."""
    for f2 in dt.fields:
        if isinstance(f2.dataType, (T.ArrayType, T.MapType, T.StructType)):
            raise NotImplementedError(
                f"pgcopy write: nested container field {f2.name} in a "
                "composite is unsupported"
            )
    rendered = []
    for f2 in dt.fields:
        v = _scalar_to_pg_text(c.getField(f2.name), f2.dataType)
        quoted = F.concat(
            F.lit('"'),
            F.regexp_replace(
                F.regexp_replace(v, r"\\", r"\\\\"), '"', '""'
            ),
            F.lit('"'),
        )
        rendered.append(F.coalesce(quoted, F.lit("")))
    return F.when(
        c.isNotNull(),
        F.concat(F.lit("("), F.concat_ws(",", *rendered), F.lit(")")),
    )


def _to_pg_text(field: T.StructField, composite_cols: frozenset = frozenset()) -> Column:
    """Render one column CSV-safe for COPY FROM, inverse of
    ``_from_pg_text``. Scalars pass through (Spark writes true/false,
    ISO timestamps — both COPY-acceptable); containers/binary get
    PostgreSQL literal syntax. StructType columns named in
    ``composite_cols`` render as composite ROW literals (for a
    composite-typed target column); other structs render as JSON (for
    a json/jsonb target column — the pre-r5 behavior, unchanged)."""
    c = F.col(field.name)
    dt = field.dataType
    if isinstance(dt, T.BinaryType):
        out = F.concat(F.lit("\\x"), F.lower(F.hex(c)))
    elif isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, (T.StringType, T.CharType, T.VarcharType)):
            # PG array-input quoting: always-quote each element (legal
            # for any content), backslash-escaping \ and " — JVM-side
            # regexp, no UDF. NULL elements stay the bare NULL token.
            quoted = F.transform(
                c,
                lambda x: F.concat(
                    F.lit('"'),
                    F.regexp_replace(
                        F.regexp_replace(x, r"\\", r"\\\\"), '"', '\\\\"'
                    ),
                    F.lit('"'),
                ),
            )
            out = F.when(
                c.isNotNull(),
                F.concat(F.lit("{"), F.array_join(quoted, ",", "NULL"), F.lit("}")),
            )
        else:
            out = F.when(
                c.isNotNull(),
                F.concat(
                    F.lit("{"),
                    F.array_join(c.cast("array<string>"), ",", "NULL"),
                    F.lit("}"),
                ),
            )
    elif isinstance(dt, T.StructType) and field.name in composite_cols:
        out = _struct_to_pg_row_literal(c, dt)  # composite-typed column
    elif isinstance(dt, (T.MapType, T.StructType)):
        out = F.to_json(c)  # lands in json/jsonb columns
    elif isinstance(dt, T.TimestampType):
        # TimestampType is an INSTANT and maps to timestamptz: render
        # with the session-zone offset (XXX) so the target server stores
        # the same instant regardless of its own TimeZone setting — an
        # offset-less literal would be re-interpreted in server-local
        # time. Micro precision explicit (Spark's CSV default is millis).
        out = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSSXXX")
    elif isinstance(dt, T.TimestampNTZType):
        # wall-clock (maps to plain timestamp): no offset, by definition
        out = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    else:
        out = c
    return out.alias(field.name)


def copy_in(server: PgServer, schema: str, table: str, columns: list[str], path: str) -> None:
    """Load one CSV part via COPY FROM STDIN (one transaction per part)."""
    collist = ", ".join(quote_ident(c) for c in columns)
    sql = (
        f"COPY {quote_qualified(schema, table)} ({collist}) FROM STDIN "
        f"(FORMAT csv, NULL '{NULL_MARKER}')"
    )
    with open(path, "rb") as f:
        p = subprocess.run(
            [*server.psql_base(), "-c", sql],
            stdin=f, capture_output=True, cwd="/", timeout=server.timeout_s,
        )
    if p.returncode != 0:
        raise PgCopyError(f"COPY IN failed: {p.stderr.decode()}\nSQL: {sql}")


def write_table(
    df: DataFrame,
    server: PgServer,
    schema: str,
    table: str,
    create: bool = True,
    primary_key: tuple[str, ...] = (),
    serial_columns: tuple[str, ...] = (),
    scratch_dir: str | None = None,
    max_parallel_loads: int = 4,
    composite_cols: tuple[str, ...] = (),
) -> int:
    """Bulk-load a DataFrame into a live PostgreSQL table (K1/K2 over
    the COPY bridge): optional CREATE TABLE from the Spark schema
    (``types.create_table_ddl`` — the same DDL the JDBC path emits),
    distributed CSV render, then one COPY per part file — parts load
    CONCURRENTLY (each ``COPY FROM`` is an independent connection and
    transaction, the same per-partition-connection shape as the JDBC
    sink; PostgreSQL serializes heap extension, not ingestion).
    Returns the number of part files loaded.

    Nulls are written as the bare unquoted marker (``quoteAll`` would
    quote the marker itself, turning NULLs into literal strings);
    empty strings are written as ``""`` so COPY keeps them distinct.

    ``composite_cols`` names StructType columns whose TARGET column is
    a PG composite type — they render as row literals instead of JSON
    (``create=True`` cannot emit composite DDL; create such tables
    yourself and pass ``create=False``)."""
    from concurrent.futures import ThreadPoolExecutor

    if create:
        ddl = create_table_ddl(
            df.schema, table, target_schema=schema,
            primary_key=primary_key, serial_columns=serial_columns,
        )
        run_sql(server, ddl)
    out_dir = tempfile.mkdtemp(prefix=f"pgcopy_out_{table}_", dir=scratch_dir)
    staged = os.path.join(out_dir, "parts")
    (
        df.select(
            *[_to_pg_text(f, frozenset(composite_cols)) for f in df.schema.fields]
        )
        .write.option("nullValue", NULL_MARKER)
        .option("emptyValue", '""')
        .option("escape", '"')
        # the WRITER's whitespace-trim options default to TRUE (the
        # reader's default to false) — without these, ' padded ' values
        # silently lose their spaces in flight (found by the hypothesis
        # round-trip sweep)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(staged)
    )
    columns = [f.name for f in df.schema.fields]
    parts = sorted(
        os.path.join(staged, p)
        for p in os.listdir(staged)
        if p.startswith("part-") and p.endswith(".csv")
    )
    with ThreadPoolExecutor(max_workers=max(1, max_parallel_loads)) as pool:
        list(  # propagate the first PgCopyError, if any
            pool.map(
                lambda part: copy_in(server, schema, table, columns, part),
                parts,
            )
        )
    return len(parts)


def read_table_partitioned(
    spark: SparkSession,
    server: PgServer,
    schema: str,
    table: str,
    partition_column: str,
    num_partitions: int = 8,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Parallel live scan: N concurrent COPY cursors over disjoint
    ranges of a numeric column — the bridge's analog of Spark's JDBC
    partitioned read (``jdbc.partitioned_read_options``), and the same
    range-split rule: stride = (max-min+1)/N, first stripe additionally
    owns NULL keys, last stripe is unbounded above. Bounds come from
    one cheap server-side MIN/MAX (replacing the reference's
    COUNT-before-scan, O7).

    This removes the single-cursor bottleneck for big tables: COPY OUT
    throughput scales with concurrent cursors until the server's I/O
    saturates, and the N scratch files give the distributed CSV parse
    N input splits. Ranges are value-based, so skewed keys skew
    stripes — same caveat as the JDBC path (pick a near-uniform key).
    """
    st = reflect_table_schema(server, schema, table)
    qual = quote_qualified(schema, table)
    col = quote_ident(partition_column)
    [(lo, hi)] = run_sql(
        server,
        f"SELECT MIN({col})::bigint::text, MAX({col})::bigint::text FROM {qual}",
    )
    if lo == "" or hi == "":  # empty table (or all-NULL keys)
        return read_table(spark, server, schema, table, scratch_dir=scratch_dir)
    lo_i, hi_i = int(lo), int(hi)
    n = max(1, min(num_partitions, hi_i - lo_i + 1))
    stride = (hi_i - lo_i + 1) // n or 1
    preds: list[str] = []
    for i in range(n):
        lower = lo_i + i * stride
        upper = lo_i + (i + 1) * stride
        if n == 1:
            preds.append("TRUE")
        elif i == 0:
            preds.append(f"({col} < {upper} OR {col} IS NULL)")
        elif i == n - 1:
            preds.append(f"{col} >= {lower}")
        else:
            preds.append(f"({col} >= {lower} AND {col} < {upper})")
    out_dir = tempfile.mkdtemp(prefix=f"pgcopy_part_{table}_", dir=scratch_dir)
    paths = [os.path.join(out_dir, f"stripe-{i:04d}.csv") for i in range(n)]

    from concurrent.futures import ThreadPoolExecutor

    def _one(i: int) -> None:
        copy_query_out(
            server, f"SELECT * FROM {qual} WHERE {preds[i]}", paths[i]
        )

    with ThreadPoolExecutor(max_workers=n) as pool:
        list(pool.map(_one, range(n)))  # propagate the first error
    return _parse_pg_csv(spark, paths, st)
