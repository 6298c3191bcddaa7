"""The corpus-dedup path shuffles fixed-width keys, never text or one
row per seed:

- the native Spark h32 kernel (``conv`` over md5 hex) equals the
  DuckDB oracles' digit-decoded ``_H32`` on every input, NULL included;
- the MinHash plans move one wide signature row per document: no
  exchange keyed on a seed index and no per-pair regrouping of
  agreement flags;
- the exact-dedup window of the cleaning cascade partitions by a text
  digest, so no exchange carries ``text``, and its verdicts equal the
  oracle's ``PARTITION BY text`` on texts that differ by a trailing
  space, by case or by one character, and on NULL texts.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from morphl_model_user_search_intent_spark import REGISTRY
from morphl_model_user_search_intent_spark.io import TABLES
from morphl_model_user_search_intent_spark.plans.inspect import explain_str
from morphl_model_user_search_intent_spark.text.analysis import _H32, h32

from conftest import SF_DIR, fetch_duck, fetch_spark

_ALPHABET = "abcdefghijklmnopqrstuvwxyz ABCXYZ0123456789 ,.|:-éüß中文字😀"


def test_h32_kernel_matches_duckdb_template(spark):
    rng = random.Random(12)
    strings = [
        "".join(rng.choice(_ALPHABET) for _ in range(rng.randrange(0, 40)))
        for _ in range(10_000)
    ] + ["", None, "naïve café", "日本語のテキスト", "emoji 😀 end", " "]
    rows = list(enumerate(strings))
    got = dict(
        spark.createDataFrame(rows, "i int, s string")
        .select("i", F.expr(h32("s")).alias("h"))
        .collect()
    )
    con = duckdb.connect()
    con.register(
        "strs",
        pa.table({"i": [i for i, _ in rows], "s": [s for _, s in rows]}),
    )
    want = dict(
        con.execute(f"SELECT i, {_H32.format(x='s')} AS h FROM strs").fetchall()
    )
    con.close()
    assert got == want
    assert got[strings.index(None)] is None
    assert got[strings.index("")] == int("d41d8cd9", 16)


def _checkpointed_plans(monkeypatch, spark, key: str) -> list[str]:
    """Physical plans of every frame ``key`` checkpoints while it builds,
    plus the plan of the frame it returns."""
    plans: list[str] = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.localCheckpoint

    def recording(self, *a, **kw):
        plans.append(explain_str(self, "simple"))
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    df = REGISTRY[key].fresh(spark, SF_DIR)
    plans.append(explain_str(df, "simple"))
    return plans


@pytest.mark.parametrize("key", ["q_dedup_minhash_portable", "q_dedup_eval"])
def test_minhash_moves_wide_signature_rows(spark, monkeypatch, key):
    plans = _checkpointed_plans(monkeypatch, spark, key)
    text = "\n".join(plans)
    # the signature frame is wide: one m0..m7 row per document
    assert re.search(r"\bm7#\d+", text), text
    seed_exchange = re.findall(r"Exchange hashpartitioning\([^)]*\bj#\d+", text)
    assert not seed_exchange, seed_exchange
    pair_sums = re.findall(
        r"HashAggregate\(keys=\[doc_a#\d+L?, doc_b#\d+L?\], "
        r"functions=\[[^\]]*sum\(",
        text,
    )
    assert not pair_sums, pair_sums


def _exchange_inputs(plan: str) -> list[str]:
    """The ``Input [...]`` line of every Exchange of a formatted plan."""
    return re.findall(r"\) Exchange\s*\nInput \[\d+\]: (\[[^\n]*\])", plan)


@pytest.mark.parametrize("key", ["q_corpus_clean", "q_pipeline_e2e"])
def test_dedup_window_exchange_carries_no_text(spark, key):
    plan = explain_str(REGISTRY[key].fresh(spark, SF_DIR), "formatted")
    assert "Window" in plan, plan
    inputs = _exchange_inputs(plan)
    assert inputs, plan
    assert not [i for i in inputs if re.search(r"\btext#\d+", i)], inputs


@pytest.fixture(scope="module")
def near_dup_sf(tmp_path_factory):
    """The sf0.001 tables with documents 11-16 given the text of
    document 10 (which passes every cascade stage) as an exact
    duplicate, with a trailing space, with its first letter upper-cased
    and with one character changed, and two NULL texts; documents 20
    and 21 repeat the trailing-space and the exact text.  All are
    English, so each reaches the dedup stage of the cascade."""
    root = tmp_path_factory.mktemp("near_dup_docs")
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    rows = docs.to_pylist()
    src = rows[10]["text"]
    variants = {
        11: src,
        12: src + " ",
        13: src[0].upper() + src[1:],
        14: ("x" if src[5] != "x" else "y").join([src[:5], src[6:]]),
        15: None,
        16: None,
        20: src + " ",
        21: src,
    }
    for i, text in variants.items():
        rows[i]["text"], rows[i]["lang"] = text, "en"
        rows[i]["n_chars"] = len(src) if text is None else len(text)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=docs.schema),
        root / "documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), root / f"{t}.parquet")
    return str(root)


@pytest.mark.parametrize("key", ["q_corpus_clean", "q_pipeline_e2e"])
def test_digest_window_matches_text_window_oracle(spark, near_dup_sf, key):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{near_dup_sf}/{t}.parquet')"
        )
    dcols, drows = fetch_duck(con, REGISTRY[key].oracle)
    con.close()
    scols, srows = fetch_spark(REGISTRY[key].fresh(spark, near_dup_sf))
    assert (scols, Counter(srows)) == (dcols, Counter(drows))
