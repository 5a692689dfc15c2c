"""Live end-to-end data movement against a throwaway PostgreSQL via the
COPY bridge (sources/pgcopy.py) — the reference's actual job (PG→PG
table transfer) exercised with real bytes, not string-level SQL checks.

Covers live: S2 (full scan), S1 (column reflection), K1/K2 (bulk load +
DDL), K7 (sequence resync after explicit-id load), and the type fidelity
corners (quotes/newlines/unicode in text, bytea, numeric, timestamps,
float arrays, NULL vs empty string)."""

from __future__ import annotations

import datetime
import shutil
import subprocess
import tempfile

import pytest

pytestmark = pytest.mark.pg

PORT = 54332


def _su_postgres(cmd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["su", "postgres", "-s", "/bin/bash", "-c", cmd],
        capture_output=True, text=True, cwd="/", timeout=60,
    )


@pytest.fixture(scope="module")
def pg_server():
    from postgresql_transfer_tool_spark.sources.pgcopy import PgServer, run_sql

    if not (shutil.which("initdb") and shutil.which("psql") and shutil.which("pg_ctl")):
        pytest.skip("PostgreSQL binaries not available")
    base = tempfile.mkdtemp(prefix="pg_copytest_")
    try:
        subprocess.run(["chown", "postgres:postgres", base], check=False)
        r = _su_postgres(f"initdb -D {base}/data -A trust")
        if r.returncode != 0:
            pytest.skip(f"initdb failed: {r.stderr[-200:]}")
        r = _su_postgres(
            f"pg_ctl -D {base}/data -o '-p {PORT} -k {base} -c listen_addresses=' "
            f"-l {base}/pg.log start"
        )
        if r.returncode != 0:
            pytest.skip(f"server start failed: {r.stderr[-200:]}")
        server = PgServer(host=base, port=PORT)
        run_sql(server, "CREATE SCHEMA rt")
        yield server
        _su_postgres(f"pg_ctl -D {base}/data -m immediate stop")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_weird_strings_roundtrip(spark, pg_server):
    """Commas, quotes, newlines, backslashes, unicode, empty-vs-NULL —
    the CSV corners that break naive bridges."""
    from postgresql_transfer_tool_spark.sources.pgcopy import read_table, run_sql

    vals = [
        (1, "a,b"),
        (2, 'he said "hi"'),
        (3, "line1\nline2"),
        (4, "back\\slash"),
        (5, "héllo 世界"),
        (6, ""),
        (7, None),
    ]
    run_sql(pg_server, "CREATE TABLE rt.weird (id int PRIMARY KEY, s text)")
    for i, s in vals:
        if s is None:
            lit = "NULL"
        else:
            lit = "E'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
        run_sql(pg_server, f"INSERT INTO rt.weird VALUES ({i}, {lit})")
    got = {
        r["id"]: r["s"] for r in read_table(spark, pg_server, "rt", "weird").collect()
    }
    assert got == dict(vals)


def test_scalar_types_live_read(spark, pg_server):
    from postgresql_transfer_tool_spark.sources.pgcopy import read_table, run_sql

    run_sql(
        pg_server,
        "CREATE TABLE rt.typed ("
        " i int, b bigint, r real, d double precision, n numeric(10,2),"
        " bo boolean, by bytea, ts timestamp, dt date, arr real[])",
    )
    run_sql(
        pg_server,
        "INSERT INTO rt.typed VALUES"
        " (1, 9000000000, 1.5, 2.25, 12345.67, true, '\\xdeadbeef',"
        "  '2026-03-04 05:06:07.123456', '2026-03-04', '{1.5,NULL,-2.25}'),"
        " (NULL, NULL, NULL, NULL, NULL, false, NULL, NULL, NULL, '{}')",
    )
    rows = sorted(
        read_table(spark, pg_server, "rt", "typed").collect(),
        key=lambda r: (r["i"] is None, r["i"]),
    )
    full, nulls = rows
    assert full["i"] == 1 and full["b"] == 9_000_000_000
    assert full["r"] == 1.5 and full["d"] == 2.25
    assert float(full["n"]) == 12345.67
    assert full["bo"] is True and nulls["bo"] is False
    assert bytes(full["by"]) == b"\xde\xad\xbe\xef"
    assert full["ts"] == datetime.datetime(2026, 3, 4, 5, 6, 7, 123456)
    assert full["dt"] == datetime.date(2026, 3, 4)
    assert full["arr"] == [1.5, None, -2.25]
    assert nulls["i"] is None and nulls["by"] is None and nulls["arr"] == []


def test_orders_write_read_roundtrip(spark, sf_dir, pg_server):
    """Fixture orders → live PG (CREATE + COPY) → back to Spark; every
    row and every value must survive both directions."""
    import os

    from postgresql_transfer_tool_spark.catalog import load_table
    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table,
        run_sql,
        write_table,
    )

    root = os.path.dirname(sf_dir.rstrip("/"))
    src = load_table(spark, os.path.join(root, "sf0.001"), "orders")
    n_parts = write_table(
        src, pg_server, "rt", "orders", primary_key=("o_orderkey",)
    )
    assert n_parts >= 1
    [(cnt,)] = run_sql(pg_server, "SELECT COUNT(*) FROM rt.orders")
    assert int(cnt) == src.count()
    back = read_table(spark, pg_server, "rt", "orders").select(*src.columns)
    a = sorted(src.collect(), key=lambda r: r["o_orderkey"])
    b = sorted(back.collect(), key=lambda r: r["o_orderkey"])
    assert a == b


def test_embeddings_write_read_roundtrip(spark, sf_dir, pg_server):
    """Float32 vectors through PG real[] text form and back, bit-exact."""
    import os

    from postgresql_transfer_tool_spark.catalog import load_table
    from postgresql_transfer_tool_spark.sources.pgcopy import read_table, write_table

    root = os.path.dirname(sf_dir.rstrip("/"))
    src = load_table(spark, os.path.join(root, "sf0.001"), "embeddings")
    write_table(src, pg_server, "rt", "embeddings", primary_key=("vec_id",))
    back = read_table(spark, pg_server, "rt", "embeddings").select(*src.columns)
    a = sorted(src.collect(), key=lambda r: r["vec_id"])
    b = sorted(back.collect(), key=lambda r: r["vec_id"])
    assert a == b


def test_serial_load_then_resync(spark, pg_server):
    """K7 live: bulk-load explicit ids into a BIGSERIAL column, resync
    the sequence to MAX(id), next insert continues without collision —
    the exact after-running-script.sql:15-21 behavior."""
    from postgresql_transfer_tool_spark.sources.jdbc import (
        serial_sequence_sql,
        setval_sql,
    )
    from postgresql_transfer_tool_spark.sources.pgcopy import run_sql, write_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (7, "c")], "id long, val string"
    )
    write_table(
        df, pg_server, "rt", "serial_t",
        primary_key=("id",), serial_columns=("id",),
    )
    [(seq,)] = run_sql(pg_server, serial_sequence_sql("rt", "serial_t", "id"))
    [(mx,)] = run_sql(pg_server, "SELECT MAX(id) FROM rt.serial_t")
    run_sql(pg_server, setval_sql(seq, int(mx), is_called=True))
    run_sql(pg_server, "INSERT INTO rt.serial_t (val) VALUES ('d')")
    [(new_id,)] = run_sql(
        pg_server, "SELECT id FROM rt.serial_t WHERE val = 'd'"
    )
    assert int(new_id) == 8


def test_nested_types_write_live(spark, pg_server):
    """Map/struct columns land as jsonb (the engine's JSONB carrier
    convention, SURVEY §1.3), binary as bytea, arrays as native arrays —
    and the jsonb is server-queryable, not an opaque string."""
    from pyspark.sql import functions as F

    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table,
        run_sql,
        write_table,
    )

    df = spark.range(2).select(
        F.col("id").cast("long").alias("id"),
        F.create_map(
            F.lit("k"), F.concat(F.lit("v"), F.col("id").cast("string"))
        ).alias("props"),
        F.array(F.col("id"), F.col("id") * 10).alias("nums"),
        F.encode(F.concat(F.lit("b"), F.col("id").cast("string")), "UTF-8").alias(
            "blob"
        ),
    )
    write_table(df, pg_server, "rt", "nested", primary_key=("id",))
    [(t,)] = run_sql(
        pg_server,
        "SELECT data_type FROM information_schema.columns"
        " WHERE table_schema = 'rt' AND table_name = 'nested'"
        " AND column_name = 'props'",
    )
    assert t == "jsonb"
    assert run_sql(
        pg_server, "SELECT props->>'k' FROM rt.nested ORDER BY id"
    ) == [("v0",), ("v1",)]
    assert run_sql(
        pg_server, "SELECT nums[2] FROM rt.nested ORDER BY id"
    ) == [("0",), ("10",)]
    assert run_sql(
        pg_server, "SELECT encode(blob, 'escape') FROM rt.nested ORDER BY id"
    ) == [("b0",), ("b1",)]
    back = read_table(spark, pg_server, "rt", "nested")
    rows = sorted(back.collect(), key=lambda r: r["id"])
    # jsonb reads back as the string carrier; binary and arrays as typed
    assert rows[1]["props"] == '{"k": "v1"}'
    assert bytes(rows[1]["blob"]) == b"b1"
    assert rows[1]["nums"] == [1, 10]


def test_quoted_identifiers_roundtrip(spark, pg_server):
    """The reference's hyphenated-schema reality (after-running-script
    .sql:84-126 handles "fde-local"): a hyphenated schema, a hyphenated
    table, and a spaced column must survive create + COPY out/in with
    identifier quoting on every statement."""
    from pyspark.sql import functions as F

    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table,
        run_sql,
        write_table,
    )

    run_sql(pg_server, 'CREATE SCHEMA "fde-local"')
    df = spark.range(3).select(
        F.col("id").cast("long").alias("id"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("User Name"),
    )
    write_table(df, pg_server, "fde-local", "My-Table", primary_key=("id",))
    assert run_sql(
        pg_server, 'SELECT "User Name" FROM "fde-local"."My-Table" ORDER BY id'
    ) == [("u0",), ("u1",), ("u2",)]
    back = read_table(spark, pg_server, "fde-local", "My-Table")
    assert sorted((r["id"], r["User Name"]) for r in back.collect()) == [
        (0, "u0"), (1, "u1"), (2, "u2"),
    ]


def test_partitioned_read_matches_single_stream(spark, sf_dir, pg_server):
    """N concurrent range cursors return exactly the single-cursor
    relation — including NULL partition keys (they ride stripe 0,
    the JDBC partitioned-read rule)."""
    import os

    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table,
        read_table_partitioned,
        run_sql,
    )

    run_sql(
        pg_server,
        "CREATE TABLE rt.striped AS"
        " SELECT o_orderkey, o_custkey, o_orderstatus FROM rt.orders",
    )
    run_sql(
        pg_server,
        "INSERT INTO rt.striped VALUES (NULL, 42, 'X'), (NULL, 43, 'Y')",
    )
    single = read_table(spark, pg_server, "rt", "striped").collect()
    striped = read_table_partitioned(
        spark, pg_server, "rt", "striped", "o_orderkey", num_partitions=4
    )
    part = striped.collect()
    key = lambda r: (r["o_orderkey"] is None, r["o_orderkey"], r["o_custkey"])
    assert sorted(part, key=key) == sorted(single, key=key)
    assert sum(1 for r in part if r["o_orderkey"] is None) == 2
    # the distributed parse really received N input splits
    assert striped.rdd.getNumPartitions() >= 2


def test_partitioned_read_empty_and_single_value(spark, pg_server):
    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table_partitioned,
        run_sql,
    )

    run_sql(pg_server, "CREATE TABLE rt.empty_part (k bigint, v text)")
    assert (
        read_table_partitioned(
            spark, pg_server, "rt", "empty_part", "k", num_partitions=4
        ).count()
        == 0
    )
    run_sql(pg_server, "INSERT INTO rt.empty_part VALUES (7, 'only')")
    got = read_table_partitioned(
        spark, pg_server, "rt", "empty_part", "k", num_partitions=4
    ).collect()
    assert [(r["k"], r["v"]) for r in got] == [(7, "only")]


def test_control_chars_and_null_marker_literal(spark, pg_server):
    """Tabs, carriage returns, CRLF, and quote-adjacent shapes
    round-trip; the ONE documented limitation — a string equal to the
    NULL marker itself — is pinned here so a behavior change is
    noticed."""
    from postgresql_transfer_tool_spark.sources.pgcopy import read_table, run_sql

    vals = [
        (1, "tab\there"),
        (2, "cr\rreturn"),
        (3, "crlf\r\nline"),
        (4, '""'),
        (5, '",",'),
        (6, "\\N not alone"),
        (7, " leading and trailing "),
    ]
    run_sql(pg_server, "CREATE TABLE rt.ctrl (id int PRIMARY KEY, s text)")
    for i, s in vals:
        lit = "E'" + s.replace("\\", "\\\\").replace("'", "''").replace(
            "\r", "\\r"
        ).replace("\n", "\\n").replace("\t", "\\t") + "'"
        run_sql(pg_server, f"INSERT INTO rt.ctrl VALUES ({i}, {lit})")
    # the documented limitation: a value of EXACTLY the marker
    run_sql(pg_server, "INSERT INTO rt.ctrl VALUES (8, E'\\\\N')")
    got = {
        r["id"]: r["s"] for r in read_table(spark, pg_server, "rt", "ctrl").collect()
    }
    for i, s in vals:
        assert got[i] == s, (i, got[i], s)
    # PostgreSQL quotes the literal marker, but Spark's nullValue
    # applies inside quotes too → reads back as NULL (pgcopy.py header)
    assert got[8] is None


def test_timestamptz_instant_survives_server_timezone(spark, pg_server):
    """TimestampType is an instant: with the target database set to a
    non-UTC TimeZone, the written value must store the SAME instant
    (review finding: an offset-less literal was re-interpreted in
    server-local time, shifting every value by the TZ delta)."""
    import datetime

    from pyspark.sql import functions as F

    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table,
        run_sql,
        write_table,
    )

    run_sql(pg_server, "ALTER DATABASE postgres SET timezone = 'America/New_York'")
    try:
        df = spark.range(1).select(
            F.col("id").cast("long").alias("id"),
            F.lit("2026-06-01 12:30:45.123456").cast("timestamp").alias("at"),
        )
        write_table(df, pg_server, "rt", "tztest", primary_key=("id",))
        # server-side instant check, independent of display TZ
        [(epoch,)] = run_sql(
            pg_server, "SELECT extract(epoch FROM at)::text FROM rt.tztest"
        )
        expected = datetime.datetime(
            2026, 6, 1, 12, 30, 45, 123456, tzinfo=datetime.timezone.utc
        ).timestamp()
        assert abs(float(epoch) - expected) < 1e-6
        # and the read path round-trips the instant (offset honored)
        [row] = read_table(spark, pg_server, "rt", "tztest").collect()
        assert row["at"] == datetime.datetime(2026, 6, 1, 12, 30, 45, 123456)
    finally:
        run_sql(pg_server, "ALTER DATABASE postgres RESET timezone")


def test_property_arbitrary_strings_write_roundtrip(spark, pg_server):
    """Hypothesis sweep of the WRITE path's CSV quoting: batches of
    adversarial strings (quotes, delimiters, newlines, controls,
    unicode — everything PostgreSQL text accepts except NUL) must
    survive Spark→COPY→server byte-exact. A handful of examples, each
    one full round-trip, keeps the live-server cost bounded."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from postgresql_transfer_tool_spark.sources.pgcopy import run_sql, write_table

    texts = st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters="\x00"
        ),
        max_size=40,
    ).filter(lambda s: s != "\\N")  # the one documented marker caveat

    counter = [0]

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(texts, min_size=1, max_size=8))
    def roundtrip(vals):
        counter[0] += 1
        table = f"prop_{counter[0]}"
        df = spark.createDataFrame(
            list(enumerate(vals)), "id long, s string"
        )
        write_table(df, pg_server, "rt", table, primary_key=("id",))
        got = run_sql(
            pg_server,
            f"SELECT COALESCE('v:' || s, '<null>') FROM rt.{table} ORDER BY id",
        )
        # psql --csv output normalizes \r\n on our read side via the csv
        # module, so compare through PG's own md5 for byte fidelity
        got_md5 = run_sql(
            pg_server, f"SELECT md5(s) FROM rt.{table} ORDER BY id"
        )
        import hashlib

        want_md5 = [
            (hashlib.md5(v.encode()).hexdigest(),) for v in vals
        ]
        assert got_md5 == want_md5, (vals, got)

    roundtrip()


def test_property_arbitrary_strings_full_roundtrip(spark, pg_server):
    """Both directions: Spark → COPY IN → COPY OUT → Spark must return
    the exact original values — exercising the reader's multiLine /
    escape / nullValue handling against generated adversarial strings
    (including None)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table,
        write_table,
    )

    texts = st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
            max_size=40,
        ).filter(lambda s: s != "\\N"),
    )

    counter = [0]

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(texts, min_size=1, max_size=8))
    def roundtrip(vals):
        counter[0] += 1
        table = f"prop_rt_{counter[0]}"
        df = spark.createDataFrame(list(enumerate(vals)), "id long, s string")
        write_table(df, pg_server, "rt", table, primary_key=("id",))
        back = {
            r["id"]: r["s"]
            for r in read_table(spark, pg_server, "rt", table).collect()
        }
        assert back == dict(enumerate(vals)), vals

    roundtrip()


def test_carriage_returns_survive_roundtrip(spark, pg_server):
    """A quoted carriage return comes back as itself, not as the
    newline the CSV parser normalizes line endings to by default."""
    from postgresql_transfer_tool_spark.sources.pgcopy import read_table, write_table

    vals = ["\r", "a\rb", "\r\n", "x\r"]
    df = spark.createDataFrame(list(enumerate(vals)), "id long, s string")
    write_table(df, pg_server, "rt", "cr_roundtrip", primary_key=("id",))
    back = {
        r["id"]: r["s"]
        for r in read_table(spark, pg_server, "rt", "cr_roundtrip").collect()
    }
    assert back == dict(enumerate(vals))


def test_text_array_and_jsonb_typed_roundtrip(spark, pg_server):
    """text[] + jsonb through the bridge, both directions, bit-exact
    (VERDICT r3 #5). Mirrors the reference's motivating table shape —
    JSONB payload columns (event-table.sql:15-16) — plus the text-array
    quoting corners ({a,"b c",NULL} rules: commas, quotes, backslashes,
    braces, whitespace, empty string, the NULL-vs-"NULL" distinction)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table,
        run_sql,
        write_table,
    )

    run_sql(
        pg_server,
        "CREATE TABLE rt.arrjson (id int PRIMARY KEY, tags text[],"
        " properties jsonb)",
    )
    run_sql(
        pg_server,
        "INSERT INTO rt.arrjson VALUES"
        """ (1, ARRAY['a', 'b c', NULL, 'NULL', '', 'quo"te', 'back\\slash',"""
        """ '{brace},comma'], '{"k": "v", "n": 7}'),"""
        " (2, '{}', '{}'),"
        " (3, NULL, NULL)",
    )
    promoted = read_table(
        spark, pg_server, "rt", "arrjson",
        json_promote={"properties": T.MapType(T.StringType(), T.StringType())},
    )
    rows = {r["id"]: r for r in promoted.collect()}
    assert rows[1]["tags"] == [
        "a", "b c", None, "NULL", "", 'quo"te', "back\\slash", "{brace},comma",
    ]
    assert rows[1]["properties"] == {"k": "v", "n": "7"}
    assert rows[2]["tags"] == [] and rows[2]["properties"] == {}
    assert rows[3]["tags"] is None and rows[3]["properties"] is None

    # write the typed relation back out (map renders via to_json → jsonb,
    # text[] via PG element quoting) and read it again: fixed point
    write_table(promoted, pg_server, "rt", "arrjson2", primary_key=("id",))
    [(t,)] = run_sql(
        pg_server,
        "SELECT data_type FROM information_schema.columns WHERE"
        " table_schema='rt' AND table_name='arrjson2' AND column_name='tags'",
    )
    assert t == "ARRAY"
    # server-side equality of the array payloads (no bridge in the loop)
    assert run_sql(
        pg_server,
        "SELECT COUNT(*) FROM rt.arrjson a JOIN rt.arrjson2 b USING (id)"
        " WHERE a.tags IS NOT DISTINCT FROM b.tags",
    ) == [("3",)]
    back = read_table(
        spark, pg_server, "rt", "arrjson2",
        json_promote={"properties": T.MapType(T.StringType(), T.StringType())},
    )
    assert sorted(back.collect(), key=lambda r: r["id"]) == sorted(
        promoted.collect(), key=lambda r: r["id"]
    )


def test_read_query_json_promote_struct(spark, pg_server):
    """json_promote with a StructType target (typed field extraction at
    the bridge boundary, reusing the from_json promotion contract)."""
    from pyspark.sql import types as T

    from postgresql_transfer_tool_spark.sources.pgcopy import read_query

    st = T.StructType([T.StructField("j", T.StringType(), True)])
    df = read_query(
        spark, pg_server,
        """SELECT '{"a": 1, "b": "x"}'::jsonb AS j""",
        st,
        json_promote={
            "j": T.StructType(
                [
                    T.StructField("a", T.LongType(), True),
                    T.StructField("b", T.StringType(), True),
                ]
            )
        },
    )
    [row] = df.collect()
    assert row["j"]["a"] == 1 and row["j"]["b"] == "x"


def test_composite_column_roundtrip(spark, pg_server):
    """Directive r5 #6: a PG composite-typed column round-trips through
    the bridge — read decodes the row literal into the declared
    StructType (quotes, commas, backslashes, empty-vs-NULL fields,
    bool t/f, bytea); write renders row literals back into a
    composite-typed target column."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_query,
        run_sql,
        write_table,
    )

    run_sql(
        pg_server,
        "CREATE TYPE rt.addr AS (street text, num int, ok boolean, tag bytea)",
    )
    run_sql(pg_server, "CREATE TABLE rt.comp (id int, a rt.addr)")
    run_sql(
        pg_server,
        """INSERT INTO rt.comp VALUES
        (1, ROW('main st, "unit 5"', 7, true, '\\x00ff'::bytea)),
        (2, ROW('', NULL, false, NULL)),
        (3, NULL),
        (4, ROW(E'back\\\\slash', 0, NULL, '\\x41'::bytea))""",
    )
    st = T.StructType(
        [
            T.StructField("street", T.StringType()),
            T.StructField("num", T.IntegerType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("tag", T.BinaryType()),
        ]
    )
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("a", st)]
    )
    df = read_query(
        spark, pg_server, "SELECT id, a FROM rt.comp ORDER BY id", schema
    )
    got = {r.id: r.a for r in df.collect()}
    assert got[1] == Row(
        street='main st, "unit 5"', num=7, ok=True, tag=bytearray(b"\x00\xff")
    )
    assert got[2] == Row(street="", num=None, ok=False, tag=None)
    assert got[3] is None
    assert got[4] == Row(street="back\\slash", num=0, ok=None, tag=bytearray(b"A"))

    run_sql(pg_server, "CREATE TABLE rt.comp2 (id int, a rt.addr)")
    write_table(
        df, pg_server, "rt", "comp2", create=False, composite_cols=("a",)
    )
    back = read_query(
        spark, pg_server, "SELECT id, a FROM rt.comp2 ORDER BY id", schema
    )
    assert {r.id: r.a for r in back.collect()} == got


def test_bytea_array_live_read(spark, pg_server):
    """ADVICE r4 (low): bytea[] through the bridge yields decoded bytes,
    not the UTF-8 of the hex literal."""
    from pyspark.sql import types as T

    from postgresql_transfer_tool_spark.sources.pgcopy import read_query, run_sql

    run_sql(pg_server, "CREATE TABLE rt.ba (id int, bs bytea[])")
    run_sql(
        pg_server,
        "INSERT INTO rt.ba VALUES "
        "(1, ARRAY['\\x6162'::bytea, '\\x00ff'::bytea]), "
        "(2, ARRAY['\\x41'::bytea, NULL]), (3, NULL), (4, '{}')",
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("bs", T.ArrayType(T.BinaryType())),
        ]
    )
    got = {
        r.id: r.bs
        for r in read_query(
            spark, pg_server, "SELECT id, bs FROM rt.ba ORDER BY id", schema
        ).collect()
    }
    assert got[1] == [bytearray(b"ab"), bytearray(b"\x00\xff")]
    assert got[2] == [bytearray(b"A"), None]
    assert got[3] is None
    assert got[4] == []


def test_composite_reflection_read_table(spark, pg_server):
    """reflect_table_schema builds a nested StructType for composite
    columns automatically — read_table needs no hand-written schema;
    enum user-defined types (no attribute rows) stay string."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from postgresql_transfer_tool_spark.sources.pgcopy import (
        read_table,
        reflect_table_schema,
        run_sql,
    )

    run_sql(pg_server, "CREATE TYPE rt.pt AS (x int, y double precision, tag text)")
    run_sql(pg_server, "CREATE TYPE rt.mood AS ENUM ('ok', 'meh')")
    run_sql(pg_server, "CREATE TABLE rt.shapes (id int, center rt.pt, m rt.mood)")
    run_sql(
        pg_server,
        "INSERT INTO rt.shapes VALUES "
        "(1, ROW(3, 1.5, 'a, \"b\"'), 'ok'), (2, NULL, 'meh'), "
        "(3, ROW(NULL, -0.25, ''), NULL)",
    )
    st = reflect_table_schema(pg_server, "rt", "shapes")
    assert isinstance(st["center"].dataType, T.StructType)
    assert [f.name for f in st["center"].dataType.fields] == ["x", "y", "tag"]
    assert isinstance(st["m"].dataType, T.StringType)  # enum → text carrier

    got = {r.id: (r.center, r.m) for r in read_table(spark, pg_server, "rt", "shapes").collect()}
    assert got[1] == (Row(x=3, y=1.5, tag='a, "b"'), "ok")
    assert got[2] == (None, "meh")
    assert got[3] == (Row(x=None, y=-0.25, tag=""), None)
