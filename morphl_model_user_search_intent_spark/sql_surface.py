"""The SQL-string entry point (``spark.sql``) — proof that the engine's
surface is not only the DataFrame API.

The reference drives Spark through DataFrame code only (SURVEY.md §3);
this engine additionally exposes the tables as views and accepts ANSI
SQL directly.  The two queries below are registered with the SAME text
as both the Spark query and the DuckDB oracle — one string, two
engines, hash-identical results — which pins the engine's SQL dialect
to the portable ANSI subset (explicit CASTs, DATE literals, window
frames spelled out).

At scale nothing changes: ``spark.sql`` builds the identical Catalyst
logical plan the DataFrame API would, so every §4 optimization
(pushdown, AQE, broadcast) applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .io import table
from .registry import register

# ANSI-portable: runs verbatim in Spark SQL AND DuckDB.
_SQL_AGG = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
    GROUP BY o_orderpriority
"""

_SQL_WINDOW = """
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(rank() OVER (
             PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey
           ) AS BIGINT) AS bal_rank
    FROM customer
    WHERE c_acctbal > 9000.0
"""


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        table(spark, sf_dir, n).createOrReplaceTempView(n)


@register("q_sql_agg", oracle=_SQL_AGG)
def q_sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregate submitted as a raw SQL string — the text IS
    the oracle (shared verbatim with DuckDB)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(_SQL_AGG)


@register("q_sql_window", oracle=_SQL_WINDOW)
def q_sql_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rank submitted as a raw SQL string (shared verbatim with
    DuckDB; unique-key tie-break keeps rank deterministic)."""
    _views(spark, sf_dir, "customer")
    return spark.sql(_SQL_WINDOW)


_SQL_CTE = """
    WITH nation_cust AS (
      SELECT n.n_name, c.c_custkey, c.c_acctbal
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS total_bal
    FROM nation_cust
    GROUP BY n_name
"""


@register("q_sql_cte", oracle=_SQL_CTE)
def q_sql_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + join + aggregate submitted as one raw SQL string (shared
    verbatim with DuckDB) — exercises the parser's WITH-clause path;
    Catalyst inlines the CTE and plans the same broadcast join the
    DataFrame form gets."""
    _views(spark, sf_dir, "customer", "nation")
    return spark.sql(_SQL_CTE)


# Parameterized template: Spark binds :minbal/:seg server-side;
# the oracle is the same text with the literals substituted.
_SQL_PARAMS = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0
             AS DOUBLE) AS total_balance
    FROM customer
    WHERE c_acctbal > {minbal} AND c_mktsegment <> {seg}
    GROUP BY c_mktsegment
"""


@register(
    "q_sql_params",
    oracle=_SQL_PARAMS.format(minbal="5000.0", seg="'MACHINERY'"),
)
def q_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (``spark.sql(query, args=...)``): named
    placeholders bound server-side — the injection-safe templating
    surface a multi-tenant platform exposes instead of f-string SQL.
    Parameter markers survive into the parsed plan, so Catalyst
    constant-folds them exactly like literals (pushdown included);
    the oracle runs the same text with the values spelled inline,
    proving bind-vs-literal equivalence.
    """
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        _SQL_PARAMS.format(minbal=":minbal", seg=":seg"),
        args={"minbal": 5000.0, "seg": "MACHINERY"},
    )


_SQL_FN_BODY = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND({call} * 100) AS BIGINT)) / 100.0
             AS DOUBLE) AS net_revenue
    FROM lineitem
    GROUP BY l_returnflag
"""


@register(
    "q_sql_function",
    oracle=_SQL_FN_BODY.format(
        call="l_extendedprice * (1 - l_discount) * (1 + l_tax)"
    ),
)
def q_sql_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4 ``CREATE TEMPORARY
    FUNCTION … RETURN expr``): business logic named once in the
    catalog and reused across queries — the governed alternative to
    copy-pasting the net-price formula into every report.

    A SQL UDF is inlined by the analyzer — the plan is identical to
    writing the expression by hand (whole-stage codegen, pushdown
    unaffected), unlike a Python UDF which would break codegen; the
    oracle runs the expanded expression, proving the inlining is
    exact.
    """
    _views(spark, sf_dir, "lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_price(
          price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DOUBLE
        RETURN price * (1 - disc) * (1 + tax)
        """
    )
    return spark.sql(
        _SQL_FN_BODY.format(
            call="net_price(l_extendedprice, l_discount, l_tax)"
        )
    )


_PIVOT_ORACLE = """
    SELECT c.c_mktsegment,
           CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
               THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT) END)
             / 100.0 AS DOUBLE) AS urgent,
           CAST(SUM(CASE WHEN o.o_orderpriority = '2-HIGH'
               THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT) END)
             / 100.0 AS DOUBLE) AS high,
           CAST(SUM(CASE WHEN o.o_orderpriority = '5-LOW'
               THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT) END)
             / 100.0 AS DOUBLE) AS low
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
"""


@register("q_sql_pivot", oracle=_PIVOT_ORACLE)
def q_sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``PIVOT`` clause (parser-level, vs q_pivot's DataFrame
    ``groupBy().pivot()``): revenue cents by segment × pinned
    priority columns.  Spark expands PIVOT into the same
    CASE-per-column aggregate the oracle spells manually — explicit
    IN values keep the output schema static (a dynamic pivot would
    need a pre-pass; never do that in a scheduled job).
    """
    _views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT * FROM (
          SELECT c.c_mktsegment,
                 o.o_orderpriority,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        )
        PIVOT (
          CAST(SUM(cents) / 100.0 AS DOUBLE)
          FOR o_orderpriority
          IN ('1-URGENT' AS urgent, '2-HIGH' AS high, '5-LOW' AS low)
        )
        """
    )


# Recursive CTE — identical text in Spark (4.x WITH RECURSIVE) and
# DuckDB: a month spine unrolled by recursion, outer-joined to the
# monthly order counts.  The recursive term carries no aggregation
# (DuckDB rejects aggregates there); the anchor does the MIN.
_SQL_RECURSIVE = """
    WITH RECURSIVE b AS (
      SELECT CAST(year(MIN(CAST(o_orderdate AS DATE))) * 12
                  + month(MIN(CAST(o_orderdate AS DATE))) - 1
                  AS BIGINT) AS t0,
             CAST(year(MAX(CAST(o_orderdate AS DATE))) * 12
                  + month(MAX(CAST(o_orderdate AS DATE))) - 1
                  AS BIGINT) AS t1
      FROM orders
    ),
    d(n, span) AS (
      SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT)
      UNION ALL
      SELECT d.n + CASE WHEN v.x = 1 THEN d.span
                        ELSE CAST(0 AS BIGINT) END,
             d.span * 2
      FROM d, (SELECT 0 AS x UNION ALL SELECT 1) v
      WHERE d.span < 128
    ),
    spine AS (
      SELECT make_date(CAST(FLOOR((b.t0 + d.n) / 12.0) AS INT),
                       CAST((b.t0 + d.n) % 12 + 1 AS INT), 1) AS m
      FROM d CROSS JOIN b
      WHERE d.span = 128 AND b.t0 + d.n <= b.t1
    ),
    mc AS (
      SELECT make_date(CAST(year(CAST(o_orderdate AS DATE)) AS INT),
                       CAST(month(CAST(o_orderdate AS DATE)) AS INT),
                       1) AS m,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT spine.m AS month, COALESCE(mc.n_orders, 0) AS n_orders
    FROM spine LEFT JOIN mc ON mc.m = spine.m
"""

_SQL_LATERAL = """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o
"""


@register("q_sql_recursive", oracle=_SQL_RECURSIVE)
def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE month-spine generation (Spark 4's recursive
    CTE support) via the DOUBLING construction — each round maps row
    (n, span) to (n, 2·span) and (n+span, 2·span), so a k-month
    spine needs ⌈log₂ k⌉ rounds, not k (a linear +1-month recursion
    measured 14 s here from per-round job overhead alone; doubling
    runs it in ~2 — and a 10⁹-row spine would still be ~30 rounds).
    Month arithmetic uses the integer month index + make_date, which
    parses identically in both engines (date_trunc does not: Spark
    returns timestamp, DuckDB DATE).  Same text runs in both
    engines; hierarchies/graph reachability have no closed form, so
    the engine must — and does — expose the recursive surface."""
    _views(spark, sf_dir, "orders")
    return spark.sql(_SQL_RECURSIVE)


@register("q_join_lateral", oracle=_SQL_LATERAL)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join: top-2 orders per customer by
    the inner ORDER BY/LIMIT — the SQL-surface twin of the window
    rank-filter idiom (q_win_topk).  Catalyst rewrites the lateral
    into a DomainJoin and then the same WindowGroupLimit shape, so
    the declarative form costs nothing over the hand-written one."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_LATERAL)


@register(
    "q_sql_pipe",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): the same scan → filter → aggregate
    expressed as a left-to-right `|>` chain — the dialect surface that
    reads like the DataFrame API while compiling to the identical
    Catalyst plan (same pushdown, same partial aggregation; `|>` is
    pure syntax, zero plan difference).  The oracle is the classic
    ANSI spelling, so the hash check proves dialect equivalence, not
    just self-consistency.
    """
    _views(spark, sf_dir, "lineitem")
    return spark.sql("""
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |> AGGREGATE
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_items, revenue
    """)


@register(
    "q_sql_script",
    oracle="""
    WITH RECURSIVE doubling(thr) AS (
      SELECT CAST(1 AS DOUBLE)
      UNION ALL
      SELECT thr * 2 FROM doubling
      WHERE (SELECT COUNT(*) FROM orders
             WHERE o_totalprice > thr) >= 1000
    )
    SELECT CAST(MAX(thr) AS DOUBLE) AS threshold,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice > (SELECT MAX(thr) FROM doubling))
                AS BIGINT) AS n_above
    FROM doubling
    """,
)
def q_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.1 BEGIN…END): procedural control flow
    INSIDE the engine — a WHILE loop doubles a price threshold until
    fewer than 1000 orders exceed it, then returns the final
    threshold and count.  Each iteration is a full distributed query;
    the loop variable lives in the script scope (the session-variable
    machinery q_sql_params uses, plus control flow).  The oracle
    replays the identical iteration as a recursive CTE — procedural
    and fixpoint-recursive forms of one computation, hash-checked
    against each other.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql("""
        BEGIN
          DECLARE thr DOUBLE DEFAULT 1;
          WHILE (SELECT COUNT(*) FROM orders
                 WHERE o_totalprice > thr) >= 1000 DO
            SET thr = thr * 2;
          END WHILE;
          SELECT CAST(thr AS DOUBLE) AS threshold,
                 CAST((SELECT COUNT(*) FROM orders
                       WHERE o_totalprice > thr) AS BIGINT) AS n_above;
        END
    """)


@register(
    "q_ddl_lifecycle",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM orders
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'Z-SENTINEL', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
    """,
)
def q_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table DDL lifecycle: CREATE TABLE … USING PARQUET AS
    SELECT (CTAS into the warehouse), INSERT INTO (appends a sentinel
    partition-file), then a catalog read-back — the
    create/append/query cycle every serving layer runs, exercised
    through ``spark.sql`` DDL rather than the DataFrameWriter path
    (q_sink_* / the bucketed saveAsTable).  The oracle is the same
    rollup UNION ALL the sentinel, so both the CTAS content and the
    INSERT durability are value-hashed.

    The table name is sf-tagged (one managed table per fixture
    scale); DROP + re-CTAS keeps the query idempotent per build.
    """
    import os
    import shutil

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    name = f"eng_priority_rollup_{tag}"
    _views(spark, sf_dir, "orders")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # The in-memory catalog is per-process but the warehouse directory
    # is not: a table CTAS'd by an earlier process survives as a stray
    # location that DROP TABLE (no catalog entry) won't clear, and
    # CREATE then fails with LOCATION_ALREADY_EXISTS.  Purge it — the
    # managed-table contract says a dropped table owns no location.
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    stale = os.path.join(wh, name)
    if os.path.isdir(stale):
        shutil.rmtree(stale, ignore_errors=True)
    spark.sql(f"""
        CREATE TABLE {name} USING PARQUET AS
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) / 100.0 AS revenue
        FROM orders
        GROUP BY o_orderpriority
    """)
    spark.sql(f"""
        INSERT INTO {name}
        VALUES ('Z-SENTINEL', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE))
    """)
    return spark.sql(f"SELECT priority, n_orders, revenue FROM {name}")


# Shared-text (runs verbatim in Spark SQL and DuckDB): the GROUP BY
# ALL / ORDER BY ALL shorthand both dialects added — every
# non-aggregate select item becomes a grouping key, every select item
# an order key, so the query stays valid as dimensions are added,
# the exploratory-SQL ergonomics reason warehouses adopted it.
_SQL_GROUP_BY_ALL = """
    SELECT o_orderpriority,
           CAST(o_orderdate AS DATE) >= DATE '1997-01-01' AS recent,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@register("q_sql_group_by_all", oracle=_SQL_GROUP_BY_ALL)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` + ``ORDER BY ALL`` (Spark 4 parser surface),
    one SQL text for both engines — grouping keys and order keys are
    inferred from the select list.  Catalyst expands it to the same
    logical aggregate the explicit spelling builds, so pushdown /
    partial-final aggregation apply unchanged."""
    _views(spark, sf_dir, "orders")
    return spark.sql(_SQL_GROUP_BY_ALL)


@register(
    "q_sql_acid_table",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_units
    FROM (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 7 != 0 AND o_orderkey % 13 != 0
      UNION ALL
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice * 1.1 AS DOUBLE)
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 != 0
      UNION ALL
      SELECT o_orderkey + 10000000, 'NEW-ROW',
             CAST(o_totalprice * 0.5 AS DOUBLE)
      FROM orders WHERE o_orderkey % 1000 = 0
    )
    GROUP BY o_orderpriority
    """,
)
def q_sql_acid_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAKEHOUSE TABLE through plain ``spark.sql`` (round 9): the
    merged two-version exercise registered as a temp view and
    aggregated with an ordinary SQL statement — the last mile of the
    table layer's Spark integration (any SQL consumer can query the
    snapshot; pinning happens at view registration, so the statement
    sees a consistent version however long it runs).  The oracle is
    the merge's closed form re-aggregated, composing snapshot
    semantics with SQL-surface grouping."""
    from .sources.acid import ensure_acid_exercise, read_table

    root = ensure_acid_exercise(spark, sf_dir)
    read_table(spark, root).createOrReplaceTempView("acid_orders")
    return spark.sql("""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(CAST(floor(price * 100 + 0.5) AS BIGINT))
                 AS price_units
        FROM acid_orders
        GROUP BY o_orderpriority
    """)


# ---- SQL DML over the lakehouse table (round 10) --------------------
#
# Delta exposes its table mutations as SQL statements (UPDATE, DELETE,
# MERGE INTO, INSERT INTO); this engine's table layer is a library
# API.  `execute_dml` closes that last gap for the portable subset a
# lake pipeline actually issues: each statement string maps onto the
# SAME committed table operations the API exposes (MoR UPDATE/DELETE
# via deletion vectors, CoW MERGE, append INSERT), so every protocol
# guarantee — atomic commit, conflict retry, constraint validation,
# CDC, schema features — applies identically however the mutation is
# spelled.  Row matching is relational on the table's declared key
# (the contract every MoR op in this protocol uses); predicates and
# expressions are passed verbatim to Spark SQL, so the accepted
# expression language is exactly Spark's.

def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren/quote depth zero (SET lists carry
    function calls with internal commas)."""
    out, depth, cur, q = [], 0, [], None
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [p for p in out if p]


def execute_dml(
    spark: SparkSession, root: str, stmt: str, key: str
) -> int:
    """Execute one SQL DML statement against the ACID table at
    ``root`` and return the committed version.  Supported shapes
    (keywords case-insensitive; ``<table>`` is a label — the target
    is always ``root``):

    - ``INSERT INTO <table> <select>`` — the SELECT runs through
      ``spark.sql`` (reference any registered view) and appends.
    - ``DELETE FROM <table> WHERE <pred>`` — merge-on-read delete of
      the matching keys (one O(batch) DV commit, no file rewrites).
    - ``UPDATE <table> SET c = e, ... WHERE <pred>`` — merge-on-read
      update: all assignment expressions evaluate against the OLD row
      (standard SQL simultaneous-assignment semantics).
    - ``MERGE INTO <table> USING <view> ON <table>.<key> = <view>.<key>
      [WHEN MATCHED AND <cond> THEN DELETE] [WHEN MATCHED THEN UPDATE
      SET *] [WHEN NOT MATCHED THEN INSERT *]`` — Delta's star-form
      arms; source columns beyond the table's schema (arm flags) are
      dropped on write.  Without an INSERT arm unmatched source rows
      are ignored; without an UPDATE arm matched non-delete rows are.

    ``key`` declares the table's row-identity column — the relational
    contract every MoR primitive in this protocol uses (Delta tracks
    identity by file/offset; this protocol by key).  Statements
    outside the subset raise ``ValueError`` — loud, never silently
    misapplied."""
    import re

    from pyspark.sql import functions as F

    from .sources.acid import (
        append_table,
        append_table_partitioned,
        delete_from_table,
        merge_table,
        read_manifest,
        read_table,
        update_table,
    )

    s = stmt.strip().rstrip(";").strip()

    m = re.match(r"INSERT\s+INTO\s+\S+\s+(.*)$", s, re.I | re.S)
    if m:
        rows = spark.sql(m.group(1))
        if read_manifest(root).get("partition_cols"):
            return append_table_partitioned(spark, root, rows)
        return append_table(spark, root, rows)

    m = re.match(
        r"DELETE\s+FROM\s+\S+\s+WHERE\s+(.*)$", s, re.I | re.S
    )
    if m:
        keys = (
            read_table(spark, root)
            .filter(m.group(1))
            .select(key)
            .distinct()
        )
        return delete_from_table(spark, root, keys, key)

    m = re.match(
        r"UPDATE\s+\S+\s+SET\s+(.*?)\s+WHERE\s+(.*)$", s, re.I | re.S
    )
    if m:
        assigns = {}
        for part in _split_top_level(m.group(1)):
            am = re.match(r"(\w+)\s*=\s*(.*)$", part, re.S)
            if not am:
                raise ValueError(f"unparseable SET item: {part!r}")
            assigns[am.group(1)] = am.group(2)
        snap = read_table(spark, root).filter(m.group(2))
        bad = set(assigns) - set(snap.columns)
        if bad:
            raise ValueError(f"SET names unknown columns: {sorted(bad)}")
        sm = read_manifest(root).get("schema_meta") or {}
        gen_set = set(assigns) & set(sm.get("generated") or {})
        if gen_set:
            # Delta refuses the same: a generated column IS its
            # expression — SET a dependency and it recomputes
            raise ValueError(
                f"cannot SET generated column(s) {sorted(gen_set)}"
            )
        # simultaneous assignment: one select, every expression over
        # the OLD row (withColumn chaining would leak new values)
        post = snap.select(
            *[
                F.expr(assigns[c]).alias(c) if c in assigns else c
                for c in snap.columns
            ]
        )
        return update_table(spark, root, post, key)

    m = re.match(
        r"MERGE\s+INTO\s+(\S+)\s+USING\s+(\S+)\s+ON\s+(.*?)"
        r"((?:\s+WHEN\s.*)?)$",
        s,
        re.I | re.S,
    )
    if m:
        tlabel, src_name, on_clause, arms = m.groups()
        om = re.match(
            r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", on_clause
        )
        if not om:
            raise ValueError(
                f"MERGE ON must be <t>.<k> = <s>.<k>: {on_clause!r}"
            )
        a, ak, b, bk = om.groups()
        if ak != bk or {a, b} != {tlabel, src_name} or ak != key:
            raise ValueError(
                f"MERGE ON must equate the declared key {key!r} "
                f"between {tlabel!r} and {src_name!r}: {on_clause!r}"
            )
        del_m = re.search(
            r"WHEN\s+MATCHED\s+(?:AND\s+(.*?)\s+)?THEN\s+DELETE",
            arms,
            re.I | re.S,
        )
        upd_m = re.search(
            r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*", arms, re.I
        )
        ins_m = re.search(
            r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*", arms, re.I
        )
        if not (del_m or upd_m or ins_m):
            raise ValueError(f"MERGE has no recognized arms: {arms!r}")
        src = spark.table(src_name)
        cond = (
            (del_m.group(1) or "true") if del_m else "false"
        )
        # qualify bare source references: the cond may say s.flag = 1
        cond = re.sub(rf"\b{re.escape(src_name)}\.", "", cond)
        # the DELETE arm is WHEN *MATCHED*: an unmatched source row
        # satisfying the condition must still reach the INSERT arm
        # (review fix — flagging it _delete would silently drop it),
        # so the flag is cond AND key-is-matched
        mk0 = (
            read_table(spark, root)
            .select(key)
            .distinct()
            .withColumn("_mm", F.lit(True))
        )
        src = (
            src.join(mk0, key, "left")
            .withColumn(
                "_delete",
                F.expr(cond)
                & F.coalesce(F.col("_mm"), F.lit(False)),
            )
            .drop("_mm")
        )
        tcols = set(
            read_table(spark, root).columns
        )
        keep = [c for c in src.columns if c in tcols or c == "_delete"]
        src = src.select(*keep)
        if not ins_m:
            # no insert arm: unmatched source rows are ignored
            src = src.join(
                read_table(spark, root).select(key).distinct(),
                key,
                "semi",
            )
        if not upd_m:
            # no update arm: matched NON-DELETE rows are ignored —
            # but unmatched insert-arm rows (also non-delete) stay
            mk = read_table(spark, root).select(key).distinct()
            src = src.filter(F.col("_delete")).unionByName(
                src.filter(~F.col("_delete")).join(mk, key, "anti")
            )
        return merge_table(spark, root, src, key)

    raise ValueError(
        f"unsupported DML statement (see execute_dml docstring): "
        f"{stmt[:120]!r}"
    )


def _ensure_dml_exercise(spark: SparkSession, sf_dir: str) -> str:
    """Stage (idempotent): UPDATE → DELETE → INSERT, each issued as a
    SQL statement string through :func:`execute_dml`."""
    import os
    import shutil

    from .sources.acid import (
        _orders_fingerprint,
        create_table,
        read_table,
    )
    from .sources.formats import SCRATCH, _tag

    import pyspark.sql.functions as F

    root = os.path.join(SCRATCH, f"acidtable-dml-{_tag(sf_dir)}")
    ready = os.path.join(root, "_READY_DML")
    note = f"acid-dml-pos {_orders_fingerprint(sf_dir)}"
    try:
        if open(ready).read().strip() == note:
            return root
    except OSError:
        pass
    shutil.rmtree(root, ignore_errors=True)
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table(spark, root, base.repartition(4))
    # the INSERT's SELECT reads the PRE-DML snapshot via a view —
    # pinned at registration, unaffected by the mutations in between
    read_table(spark, root).createOrReplaceTempView("dml_v1")
    execute_dml(
        spark,
        root,
        """
        UPDATE t SET price = CAST(price * 1.1 AS DOUBLE)
        WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 != 0
        """,
        key="o_orderkey",
    )
    execute_dml(
        spark,
        root,
        "DELETE FROM t WHERE o_orderkey % 13 = 0",
        key="o_orderkey",
    )
    execute_dml(
        spark,
        root,
        """
        INSERT INTO t
        SELECT o_orderkey + 20000000 AS o_orderkey,
               'SQL-ROW' AS o_orderpriority,
               CAST(price * 0.5 AS DOUBLE) AS price
        FROM dml_v1 WHERE o_orderkey % 500 = 0
        """,
        key="o_orderkey",
    )
    with open(ready, "w") as fh:
        fh.write(note)
    return root


@register(
    "q_sql_dml",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN o_orderkey % 7 = 0
                THEN CAST(o_totalprice * 1.1 AS DOUBLE)
                ELSE CAST(o_totalprice AS DOUBLE)
           END AS price
    FROM orders WHERE o_orderkey % 13 <> 0
    UNION ALL
    SELECT o_orderkey + 20000000, 'SQL-ROW',
           CAST(CAST(o_totalprice AS DOUBLE) * 0.5 AS DOUBLE)
    FROM orders WHERE o_orderkey % 500 = 0
    """,
)
def q_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DML over the lakehouse (round 10 — Delta's statement
    surface): UPDATE, DELETE FROM, and INSERT INTO issued as SQL
    strings through :func:`execute_dml`, each mapping onto the same
    committed protocol ops the library API exposes (MoR
    deletion-vector update/delete — zero data files rewritten —
    and an append), so atomicity, conflict retry, constraints, and
    schema features hold identically however the mutation is
    spelled.  The oracle is the three statements' closed form over
    the raw table; the read composes two DV masks with the appended
    rows, proving the statement surface and the protocol agree."""
    from .sources.acid import read_table

    root = _ensure_dml_exercise(spark, sf_dir)
    return read_table(spark, root)


def _ensure_merge_into_exercise(
    spark: SparkSession, sf_dir: str
) -> str:
    """Stage (idempotent): the standard three-arm merge, issued as
    one MERGE INTO statement (star-form arms, flag-routed DELETE)."""
    import os
    import shutil

    from .sources.acid import _orders_fingerprint, create_table
    from .sources.formats import SCRATCH, _tag

    import pyspark.sql.functions as F

    root = os.path.join(SCRATCH, f"acidtable-mi-{_tag(sf_dir)}")
    ready = os.path.join(root, "_READY_MI")
    note = f"acid-mi-pos {_orders_fingerprint(sf_dir)}"
    try:
        if open(ready).read().strip() == note:
            return root
    except OSError:
        pass
    shutil.rmtree(root, ignore_errors=True)
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table(spark, root, base.repartition(4))
    upd = base.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0)
    ).withColumn("price", F.col("price") * 1.1)
    dele = base.filter(F.col("o_orderkey") % 13 == 0)
    ins = base.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("NEW-ROW").alias("o_orderpriority"),
        (F.col("price") * 0.5).alias("price"),
    )
    upd.withColumn("is_del", F.lit(0)).unionByName(
        dele.withColumn("is_del", F.lit(1))
    ).unionByName(
        ins.withColumn("is_del", F.lit(0))
    ).createOrReplaceTempView("mi_src")
    execute_dml(
        spark,
        root,
        """
        MERGE INTO t USING mi_src ON t.o_orderkey = mi_src.o_orderkey
        WHEN MATCHED AND mi_src.is_del = 1 THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """,
        key="o_orderkey",
    )
    with open(ready, "w") as fh:
        fh.write(note)
    return root


@register(
    "q_sql_merge_into",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    WHERE o_orderkey % 7 != 0 AND o_orderkey % 13 != 0
    UNION ALL
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice * 1.1 AS DOUBLE) AS price
    FROM orders
    WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 != 0
    UNION ALL
    SELECT o_orderkey + 10000000 AS o_orderkey,
           'NEW-ROW' AS o_orderpriority,
           CAST(CAST(o_totalprice AS DOUBLE) * 0.5 AS DOUBLE) AS price
    FROM orders
    WHERE o_orderkey % 1000 = 0
    """,
)
def q_sql_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as a statement (round 10): the protocol's standard
    three-arm merge — update, flag-routed delete, insert — issued as
    one Delta-style ``MERGE INTO ... WHEN MATCHED AND s.flag THEN
    DELETE / WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
    INSERT *`` string.  The executor routes the arms onto
    :func:`merge_table`'s source contract (the flag column becomes
    ``_delete``; non-table columns drop on write), so the statement
    inherits copy-on-write file pruning, the O(delta) commit, CDC,
    and replay-on-conflict.  The oracle is the identical closed form
    q_table_merge/q_table_clone pin — statement and API provably
    produce the same table."""
    from .sources.acid import read_table

    root = _ensure_merge_into_exercise(spark, sf_dir)
    return read_table(spark, root)


def execute_utility(
    spark: SparkSession, root: str, stmt: str
) -> "int | DataFrame":
    """Execute one maintenance / DDL-utility statement against the
    ACID table at ``root`` — the statement half of Delta's utility
    surface, routed onto the library ops so every protocol guarantee
    applies identically.  Returns the committed version (or the
    result DataFrame for DESCRIBE HISTORY).  Supported:

    - ``ALTER TABLE t ADD CONSTRAINT <name> CHECK (<pred>)``
    - ``ALTER TABLE t DROP CONSTRAINT <name>``
    - ``ALTER TABLE t ALTER COLUMN <c> SET DEFAULT <expr>``
    - ``ALTER TABLE t ALTER COLUMN <c> DROP DEFAULT``
    - ``ALTER TABLE t RENAME COLUMN <a> TO <b>``
    - ``ALTER TABLE t DROP COLUMN <c>``
    - ``OPTIMIZE t [ZORDER BY (c1, c2)]``
    - ``VACUUM t [RETAIN <n> HOURS]``
    - ``RESTORE TABLE t TO VERSION AS OF <n>``
    - ``DESCRIBE HISTORY t``

    Anything else raises ``ValueError`` — loud, never silently
    misapplied.  (``t`` is a label; the target is always ``root``.)"""
    import re

    from .sources.acid import (
        add_constraint,
        describe_history,
        drop_column,
        drop_column_default,
        drop_constraint,
        latest_version,
        optimize_table,
        optimize_table_zorder,
        rename_column,
        restore_table,
        set_column_default,
        vacuum,
    )

    s = stmt.strip().rstrip(";").strip()

    m = re.match(
        r"ALTER\s+TABLE\s+\S+\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
        r"CHECK\s*\((.*)\)\s*$",
        s,
        re.I | re.S,
    )
    if m:
        return add_constraint(root, m.group(1), m.group(2).strip())
    m = re.match(
        r"ALTER\s+TABLE\s+\S+\s+DROP\s+CONSTRAINT\s+(\w+)\s*$", s, re.I
    )
    if m:
        return drop_constraint(root, m.group(1))
    m = re.match(
        r"ALTER\s+TABLE\s+\S+\s+ALTER\s+COLUMN\s+(\w+)\s+"
        r"SET\s+DEFAULT\s+(.*)$",
        s,
        re.I | re.S,
    )
    if m:
        return set_column_default(
            spark, root, m.group(1), m.group(2).strip()
        )
    m = re.match(
        r"ALTER\s+TABLE\s+\S+\s+ALTER\s+COLUMN\s+(\w+)\s+"
        r"DROP\s+DEFAULT\s*$",
        s,
        re.I,
    )
    if m:
        return drop_column_default(root, m.group(1))
    m = re.match(
        r"ALTER\s+TABLE\s+\S+\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$",
        s,
        re.I,
    )
    if m:
        return rename_column(spark, root, m.group(1), m.group(2))
    m = re.match(
        r"ALTER\s+TABLE\s+\S+\s+DROP\s+COLUMN\s+(\w+)\s*$", s, re.I
    )
    if m:
        return drop_column(spark, root, m.group(1))
    m = re.match(
        r"OPTIMIZE\s+\S+\s+ZORDER\s+BY\s*\(([^)]*)\)\s*$", s, re.I
    )
    if m:
        cols = [c.strip() for c in m.group(1).split(",") if c.strip()]
        return optimize_table_zorder(spark, root, cols)
    if re.match(r"OPTIMIZE\s+\S+\s*$", s, re.I):
        return optimize_table(spark, root)
    m = re.match(
        r"VACUUM\s+\S+(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*$", s, re.I
    )
    if m:
        retain = (
            float(m.group(1)) * 3600 if m.group(1) is not None else None
        )
        vacuum(root, retain_seconds=retain)
        return latest_version(root)
    m = re.match(
        r"RESTORE\s+TABLE\s+\S+\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*$",
        s,
        re.I,
    )
    if m:
        return restore_table(spark, root, int(m.group(1)))
    if re.match(r"DESCRIBE\s+HISTORY\s+\S+\s*$", s, re.I):
        return describe_history(spark, root)
    raise ValueError(
        f"unsupported utility statement (see execute_utility "
        f"docstring): {stmt[:120]!r}"
    )
