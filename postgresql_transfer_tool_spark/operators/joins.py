"""Join operators.

The reference contains no joins (SURVEY.md §2.6) — but its constraint
reconstruction defines join-shaped validation queries (C4 FK orphan
check = left-anti join, ``transfer_data_with_constraints_script.py:104-171``),
and any engine claiming "same query capabilities" against a PostgreSQL
workload needs the full join family. Scale notes per query inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import FIXTURE_FOREIGN_KEYS, load_table
from ..functions.exact import dec
from ..transfer import fk_orphan_counts
from .registry import query
from .relational import dd

# ---------------------------------------------------------------------------
# C4 — FK orphan validation as an anti-join, one row per FK edge.
# At 100 TB: each edge is one exchange of distinct keys from the FK
# column and the parent key (2 columns read), plus one tiny exchange
# for all the totals (transfer.fk_orphan_counts).
# ---------------------------------------------------------------------------


def _fk_orphans_oracle() -> str:
    parts = []
    for fk in FIXTURE_FOREIGN_KEYS:
        col, ref_col = fk.columns[0], fk.ref_columns[0]
        parts.append(
            f"SELECT '{fk.table}.{col}' AS fk_edge, COUNT(*) AS orphan_count\n"
            f"FROM {fk.table} c WHERE c.{col} IS NOT NULL AND NOT EXISTS "
            f"(SELECT 1 FROM {fk.ref_table} p WHERE p.{ref_col} = c.{col})"
        )
    return "\nUNION ALL\n".join(parts)


@query("fk_orphan_check", oracle=_fk_orphans_oracle())
def fk_orphan_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the whole FK graph.

    Spark cannot *enforce* FKs (reference phase 3 emits FK DDL,
    ``transfer_data_with_constraints_script.py:138-164``); the engine
    instead *validates* via anti-joins before emitting DDL to an RDBMS
    target (SURVEY.md §2.5 C4). One row per edge, from the same
    relation the transfer pipelines' FK audit collects.
    """
    return fk_orphan_counts(
        [
            (
                load_table(spark, sf_dir, fk.table),
                load_table(spark, sf_dir, fk.ref_table),
                fk,
            )
            for fk in FIXTURE_FOREIGN_KEYS
        ]
    )


# ---------------------------------------------------------------------------
# TPC-H-Q3-style: 3-way join + grouped revenue + deterministic top-10.
# At 100 TB: customer is filtered before the join (predicate reaches the
# scan), orders⋈lineitem is the only big shuffle; AQE converts the
# customer side to broadcast when the filtered side is small enough.
# ---------------------------------------------------------------------------

_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST(1 - CAST(l_discount AS DECIMAL(6,4)) AS DECIMAL(7,4))"
)


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {dd(f"SUM({_REVENUE})")} AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    lineitem = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = dec("l_extendedprice", 12, 2) * (
        F.lit(1).cast("decimal(1,0)") - dec("l_discount", 6, 4)
    ).cast("decimal(7,4)")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H-Q5-style: 6-way snowflake join, revenue per nation.
# At 100 TB: region+nation broadcast (tiny), supplier/customer co-shuffle
# on nationkey; the star shape keeps one big fact shuffle (lineitem).
# ---------------------------------------------------------------------------


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {dd(f"SUM({_REVENUE})")} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = dec("l_extendedprice", 12, 2) * (
        F.lit(1).cast("decimal(1,0)") - dec("l_discount", 6, 4)
    ).cast("decimal(7,4)")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, (lineitem.l_suppkey == supplier.s_suppkey)
              & (customer.c_nationkey == supplier.s_nationkey))
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Semi / anti / outer join family.
# ---------------------------------------------------------------------------


@query(
    "semi_join_customers_with_orders",
    oracle="""
    SELECT COUNT(*) AS n_customers_with_orders
    FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .agg(F.count("*").alias("n_customers_with_orders"))
    )


@query(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "outer_join_nation_customer_counts",
    oracle="""
    SELECT n_name, COUNT(c_custkey) AS n_customers
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def outer_join_nation_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join keeping zero-customer nations (COUNT(col) skips NULLs)."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    return (
        nation.join(customer, customer.c_nationkey == nation.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@query(
    "full_outer_join_orders_days_events_days",
    oracle="""
    WITH od AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
                FROM orders GROUP BY 1),
         ed AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
                FROM events GROUP BY 1)
    SELECT COALESCE(od.d, ed.d) AS day,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_events, 0) AS n_events
    FROM od FULL OUTER JOIN ed ON od.d = ed.d
    """,
)
def full_outer_join_orders_days_events_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count("*").alias("n_orders"))
    )
    ed = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").alias("n_events"))
    )
    return (
        od.join(ed, od.d == ed.d, "full_outer")
        .select(
            F.coalesce(od.d, ed.d).alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Broadcast join, stated explicitly (the small-dimension pattern every
# 100 TB query leans on — verified to produce BroadcastHashJoin in
# tests/test_plans.py).
# ---------------------------------------------------------------------------


@query(
    "broadcast_join_orders_by_region",
    oracle="""
    SELECT r_name, COUNT(*) AS n_orders
    FROM orders, customer, nation, region
    WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def broadcast_join_orders_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_orders"))
    )


#: dirty probe strings for the fuzzy entity-match query — typo classes:
#: transposition, deletion, substitution, insertion, digit-for-letter
FUZZY_PROBES = [
    "NATOIN_7",
    "NTION_21",
    "NATI0N_4",
    "NATION__18",
    "NACION_19",
    "NATION-22",
    "NATON_13",
    "XNATION_6",
]

_PROBE_VALUES = ", ".join(f"('{p}')" for p in FUZZY_PROBES)


@query(
    "fuzzy_entity_match",
    oracle=f"""
    WITH probes(probe) AS (VALUES {_PROBE_VALUES}),
    scored AS (
      SELECT p.probe, n.n_name, levenshtein(p.probe, n.n_name) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY p.probe
               ORDER BY levenshtein(p.probe, n.n_name), n.n_name) AS rk
      FROM probes p CROSS JOIN nation n
    )
    SELECT probe, n_name AS matched_name, dist
    FROM scored WHERE rk = 1
    """,
)
def fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution against a reference dimension: match each dirty
    probe string to its closest nation name by edit distance
    (deterministic tie-break on distance then name). The classic
    data-cleaning join for free-text fields pointing at a controlled
    vocabulary. Scale shape: the reference dim broadcasts (dimension
    tables are small by definition), the edit distance runs JVM-side
    in whole-stage codegen, and the per-probe top-1 is a partial
    aggregation — so at 100 TB the dirty side (here a literal probe
    list; in production a billion-row column) streams map-side with no
    shuffle of the big table, only of (probe, best) pairs. Blocking
    (first-token / length bands) bounds candidates when the reference
    is large. Reference analog: none (extension; entity-resolution
    family of SURVEY §2.8)."""
    probes = spark.createDataFrame([(p,) for p in FUZZY_PROBES], "probe string")
    nation = load_table(spark, sf_dir, "nation").select("n_name")
    scored = probes.crossJoin(F.broadcast(nation)).withColumn(
        "dist", F.levenshtein("probe", "n_name")
    )
    # top-1 as a true partial aggregate: struct min is lexicographic, so
    # min(struct(dist, name)) IS the (dist asc, name asc) tie-break — a
    # map-side-combinable HashAggregate, no per-probe sort/window
    best = scored.groupBy("probe").agg(
        F.min(F.struct("dist", "n_name")).alias("best")
    )
    return best.select(
        "probe",
        F.col("best.n_name").alias("matched_name"),
        F.col("best.dist").alias("dist"),
    )


TRGM_SIM_PCT = 40  # Jaccard threshold as a percentage (rational compare)


@query(
    "trigram_similarity_names",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT '  ' || lower(p_name) || ' ' AS s FROM part
    ),
    tg AS (
      SELECT DISTINCT s, substr(s, CAST(i AS INT), 3) AS g
      FROM names, UNNEST(generate_series(1, length(s) - 2)) AS t(i)
    ),
    cnt AS (SELECT s, COUNT(*) AS n FROM tg GROUP BY s),
    inter AS (
      SELECT a.s AS sa, b.s AS sb, COUNT(*) AS i
      FROM tg a JOIN tg b ON a.g = b.g AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT trim(i.sa) AS name_a, trim(i.sb) AS name_b,
           CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i) AS sim
    FROM inter i JOIN cnt ca ON ca.s = i.sa JOIN cnt cb ON cb.s = i.sb
    WHERE 100 * i.i >= {TRGM_SIM_PCT} * (ca.n + cb.n - i.i)
    """,
)
def trigram_similarity_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pg_trgm-style similarity self-join over the DISTINCT part-name
    dictionary: names are padded with two leading and one trailing
    space and lowercased (pg_trgm's trigram extraction convention),
    per-name DISTINCT trigram sets are compared by Jaccard, and pairs
    with similarity ≥ 0.40 survive — the engine-side equivalent of
    ``SELECT ... WHERE a.name % b.name`` under
    ``pg_trgm.similarity_threshold = 0.4``.

    Determinism: the threshold test is the integer rational
    ``100·i ≥ 40·(|A|+|B|−i)`` (no float compare at the boundary); the
    reported ``sim`` is a single IEEE division — correctly rounded and
    engine-portable.

    Scale: the DISTINCT collapse runs first (dictionary ≪ rows — the
    cheap move every entity-resolution pass makes), then one shuffle on
    the trigram key produces intersection counts directly, exactly the
    dedup_ngram_jaccard shape. Share-a-trigram candidates are complete
    for any positive threshold (similar pairs must share ≥ 1 trigram).
    For a 10⁸-name dictionary the stop-trigram df cap + banding of
    dedup_minhash_lsh is the documented scale path; trigram arrays are
    materialized before explode (Generate re-eval trap)."""
    names = (
        load_table(spark, sf_dir, "part")
        .select(
            F.concat(F.lit("  "), F.lower(F.col("p_name")), F.lit(" ")).alias("s")
        )
        .distinct()
    )
    tg_arr = names.withColumn(
        "gs",
        F.array_distinct(
            F.expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")
        ),
    ).localCheckpoint(eager=False)
    tg = tg_arr.select("s", F.explode("gs").alias("g"))
    # Materialized once — both Jaccard attach joins read it (the
    # dedup_ngram_jaccard duplicate-subtree fix, r14).
    cnt = (
        tg.groupBy("s")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    # r14 (guide §2.3/§2.4): ONE shuffle on the trigram key groups each
    # trigram's sorted member names; a<b pairs expand from the array
    # via two chained Generates (per-row memory stays O(bucket), as the
    # SMJ's buffered group did) — the r13 self-join shuffled the raw
    # (s, g) stream twice and sorted both sides. Members are distinct
    # per trigram (per-name trigram sets are array_distinct), so pair
    # multiplicity is 1, identical to the join.
    bucket = tg.groupBy("g").agg(F.sort_array(F.collect_list("s")).alias("ms"))
    anchor = bucket.select("ms", F.posexplode("ms").alias("ix", "sa"))
    inter = (
        anchor.select(
            "sa",
            F.explode(
                F.slice("ms", F.col("ix") + 2, F.size("ms") - F.col("ix") - 1)
            ).alias("sb"),
        )
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("i"))
    )
    ca = cnt.select(F.col("s").alias("sa"), F.col("n").alias("na"))
    cb = cnt.select(F.col("s").alias("sb"), F.col("n").alias("nb"))
    union_n = F.col("na") + F.col("nb") - F.col("i")
    return (
        inter.join(ca, "sa")
        .join(cb, "sb")
        .filter(100 * F.col("i") >= TRGM_SIM_PCT * union_n)
        .select(
            F.trim(F.col("sa")).alias("name_a"),
            F.trim(F.col("sb")).alias("name_b"),
            (F.col("i").cast("double") / union_n).alias("sim"),
        )
    )
