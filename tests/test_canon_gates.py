"""Static canonicalization gates over the WHOLE registry (plan-only).

Round 1 lost 4 driver rows (and 9 more latent) to two failure classes
that pytest + the local sim could not see:

  (a) Array/Map/Struct output columns — the driver canonicalizes both
      result sets through a pandas ``sort_values``, which cannot
      sort/hash ndarray cells → driver ERR;
  (b) DuckDB windowed integer SUM returns HUGEINT, which pandas turns
      into float64 → value-hash mismatch vs Spark's int64 → driver
      FAIL.

These tests make both classes structurally impossible: every
oracle-checked query's Spark schema is swept for complex types, and
every oracle's DuckDB result types are resolved (binding only, no
execution — the sweep is seconds) and checked for
HUGEINT/UHUGEINT/LIST/STRUCT/MAP.  Rows-only queries are exempt from
(a): the driver only counts their rows.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.driver_sim import (  # noqa: E402
    duck_type_violations,
    spark_schema_violations,
    type_parity_violations,
)

import __spark_entry__ as entrymod  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
ORACLE_KEYS = sorted(set(QUERIES) & set(ORACLES))


def test_every_oracle_key_has_a_query():
    orphans = sorted(set(ORACLES) - set(QUERIES))
    assert not orphans, f"oracle_sql keys without queries(): {orphans}"


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_no_complex_spark_output(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    bad = spark_schema_violations(df)
    assert not bad, (
        f"{name}: driver's pandas canonicalizer cannot hash {bad}; "
        "serialize with F.array_join / unpack to scalar columns"
    )


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_no_hugeint_or_complex_duck_output(duck, name):
    bad = duck_type_violations(duck, ORACLES[name])
    assert not bad, (
        f"{name}: oracle result types {bad} break the driver's "
        "canonicalizer; CAST(... AS BIGINT) / array_to_string"
    )


# ---- cross-engine column-type parity gate -------------------------------
# Third canonicalization-gap class in three rounds (r1: HUGEINT; r3:
# q_math_funcs Spark LONG vs DuckDB DOUBLE — values identical, the
# driver's dtype-sensitive pandas hash differs while the sim's Python
# ``==`` says 8 == 8.0).  This gate compares the Spark plan schema
# against the bound DuckDB relation types per column, plan-only on
# both sides, and fails ANY class mismatch (int↔float, decimal↔float,
# decimal↔int, ...) before a single row is produced.


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_cross_engine_type_parity(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    bad = type_parity_violations(df, duck, ORACLES[name])
    assert not bad, (
        f"{name}: cross-engine column type-class mismatch {bad}; the "
        "driver's pandas value-hash is dtype-sensitive — cast one side "
        "so both engines agree (e.g. CAST(floor(x) AS BIGINT) in "
        "DuckDB, or .cast('double') in Spark)"
    )


def test_type_parity_gate_catches_the_r03_class(spark, duck):
    """Canary: the exact r03 failure shape (Spark LONG vs DuckDB
    DOUBLE floor) MUST be flagged — proves the gate is live."""
    df = spark.range(1).selectExpr(
        "floor(CAST(4.2 AS DOUBLE)) AS v"  # Spark: floor(double) → BIGINT
    )
    bad = type_parity_violations(
        df, duck, "SELECT floor(4.2::DOUBLE) AS v"  # DuckDB: DOUBLE
    )
    assert bad and "v" in bad[0], f"gate missed the r03 class: {bad}"
    df2 = spark.range(1).selectExpr("CAST(1.5 AS DECIMAL(27,6)) AS v")
    bad2 = type_parity_violations(df2, duck, "SELECT 1.5::DOUBLE AS v")
    assert bad2, "gate missed decimal-vs-double"


# ---- driver-side-loop doctrine gate -------------------------------------
# Operators must stay distributed: no .collect()/.toPandas()/.toLocalIterator
# in engine modules except the whitelisted bounded-summary sites (a single
# final agg row is fine; a collect inside a loop is not).  This is the
# structural enforcement of the "no driver-side loops" rule — the round-1
# review found exactly one violation (MMR's per-selection collect), and this
# gate keeps the class extinct.

# FUNCTION-scoped whitelist (round-4 advisor: a file-level whitelist
# over a 2000-line module silently passes any future unbounded collect
# anywhere in it).  Key = engine-relative file, value = the exact
# function names allowed to materialize; a collect anywhere else in
# the file — including module level — is an offender.
_COLLECT_WHITELIST: dict[str, set[str]] = {
    # Persisted ANN index (llm/index.py): codebook training on a
    # deterministic CAPPED sample (≤4096 rows) + the 10-query LUT
    # build — both bounded by constants, the standard ANN
    # train-on-sample pattern (FAISS trains PQ codebooks the same
    # way); the corpus-sized passes (encode, ADC scan, serve) stay
    # in mapInPandas / joins.
    # ...plus the DELETE exercise staging (round 7): a delete request
    # IS a driver-provided id batch — the collect materializes the
    # staged batch (bounded by request size, like any DELETE
    # statement's predicate result), and the serve-time mask stays a
    # distributed anti-join.
    "llm/index.py": {
        "_pq_train_books", "query_side", "ensure_delete_exercise",
    },
    # Auto-skew dispatch (operators/events.py): the sampled hot-key
    # profile collects ONE summary row (max/total over a seeded
    # sample) to choose monolithic vs chunked sessionization — the
    # profile-then-plan step has to land on the driver by design.
    "operators/events.py": {"max_key_share"},
    # ACID table layer (sources/acid.py): the planning steps that land
    # on the driver, all metadata- or constant-bounded (merge-on-read
    # MERGE and table_changes collect nothing — the tombstones name
    # the files):
    #   _source_partitions — the partitioned merge source's distinct
    #     partition tuples (≤ partition count);
    #   _morton_cluster / q_table_zorder /
    #   q_table_scan_composed — one 1-row min/max aggregate each
    #     (normalization spans and scale-relative box bounds).
    "sources/acid.py": {
        "_source_partitions",
        "_morton_cluster",
        "q_table_zorder",
        "q_table_scan_composed",
        "q_table_zorder_partitioned",
        # _validate_constraints: LIMIT-3 example rows for the
        # ConstraintViolation message — constant-bounded by the limit
        "_validate_constraints",
        # update_table (round 9): the duplicate-post-image guard is a
        # LIMIT-1 collect over the grouped update batch — one row,
        # bounded by the limit (the batch itself stays distributed)
        "update_table",
        # _assign_identity (round 10): the per-bucket counts of an
        # identity assignment — ≤ `buckets` rows, re-entering the
        # plan as a LITERAL offset map so the write job scans the
        # batch exactly once (a broadcast join of the offsets frame
        # would recompute the counts subtree inside the write)
        "_assign_identity",
        # lookup_table (round 10): the bloom probe's per-FILE verdict
        # rows — one row per indexed file (metadata scale, like the
        # merge planners above); the sidecar scan itself runs
        # distributed
        "lookup_table",
        # q_table_bloom_lookup: the exercise's own probe-key list (a
        # point lookup's input IS a driver-provided key batch)
        "q_table_bloom_lookup",
    },
    # Inverted-index serve (text/searchindex.py): the query terms'
    # bucket ids — |terms| rows, evaluated through Spark so the hash
    # matches the write side's xxhash64 exactly; the postings scan
    # itself stays a pruned distributed read.
    "text/searchindex.py": {"serve_bm25"},
}
# round-3: joins.py bloom summary collect → declarative rewrite;
# round-5: streaming/ops.py foreachBatch driver-list accumulator →
# per-batch parquet append; llm/similarity.py PQ training → persisted
# index.  All three files are now collect-free and un-whitelisted.


_MATERIALIZERS = {"collect", "toPandas", "toLocalIterator"}


def _collect_call_sites(py: Path) -> list[tuple[int, str]]:
    """(line, enclosing-function) of every real
    ``.collect()/.toPandas()/.toLocalIterator()`` CALL site, found via
    the AST — comments, docstrings, and quoted prose can't produce
    false positives OR (the round-2 advisor's finding) mask a genuine
    call sharing a line with quoted text, the way a line-based grep
    could.  The enclosing function is the INNERMOST def containing the
    call ("<module>" if none), so the whitelist can name exact
    functions instead of whole files."""
    import ast

    tree = ast.parse(py.read_text())
    sites: list[tuple[int, str]] = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _MATERIALIZERS
        ):
            sites.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "<module>")
    return sorted(sites)


def test_no_driver_side_collect_outside_whitelist():
    pkg = Path(__file__).resolve().parent.parent / (
        "morphl_model_user_search_intent_spark"
    )
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        allowed = _COLLECT_WHITELIST.get(rel, set())
        hits = [
            f"{rel}:{line} (in {fn})"
            for line, fn in _collect_call_sites(py)
            if fn not in allowed
        ]
        offenders.extend(hits)
    assert not offenders, (
        "driver-side materialization outside the function whitelist "
        f"(keep operators distributed): {offenders}"
    )


def test_collect_whitelist_is_tight():
    """Each whitelisted FUNCTION must hold exactly one collect site,
    and every whitelisted name must still exist — a stale entry (the
    function was renamed or went collect-free) silently widens the
    gate and must be pruned."""
    pkg = Path(__file__).resolve().parent.parent / (
        "morphl_model_user_search_intent_spark"
    )
    for rel, allowed in sorted(_COLLECT_WHITELIST.items()):
        by_fn: dict[str, int] = {}
        for _line, fn in _collect_call_sites(pkg / rel):
            by_fn[fn] = by_fn.get(fn, 0) + 1
        for fn in sorted(allowed):
            assert by_fn.get(fn, 0) >= 1, (
                f"{rel}::{fn}: whitelisted but has no collect site — "
                "prune the stale entry"
            )
            assert by_fn[fn] <= 1, (
                f"{rel}::{fn}: {by_fn[fn]} collect sites (reviewed "
                "at 1) — a collect loop grew here, re-review"
            )


def test_no_float_div_cast_to_int_in_oracles():
    """Regression gate for the sf0.1 LSH band bug: DuckDB `/` on
    integers is FLOAT division and `CAST(double AS BIGINT)` rounds
    half-even, while the Spark twins floor — `CAST(a / b AS
    BIGINT/INT)` in an oracle therefore silently disagrees with a
    floor-based engine twin on boundary values.  Integer intent must
    be spelled `//` (or FLOOR) in oracle SQL."""
    import re

    from morphl_model_user_search_intent_spark import REGISTRY

    pat = re.compile(
        r"CAST\(\s*[A-Za-z_][\w.]*\s*/\s*[\w.]+\s+AS\s+(?:U?BIGINT|U?INT)",
        re.IGNORECASE,
    )
    offenders = [
        f"{name}: {m.group(0)!r}"
        for name, spec in REGISTRY.items()
        if spec.oracle
        for m in [pat.search(spec.oracle)]
        if m
    ]
    assert not offenders, (
        "float-division-then-int-cast in oracle SQL (round-half-even "
        f"vs engine floor): {offenders}"
    )
