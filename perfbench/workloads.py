"""The benchmark workloads.

A workload turns its generated inputs into passes of ops.  An op is one
call unit into the engine's public API (one registry key built fresh
and executed, or one ``sources.acid`` table call); its `run` is timed,
its `check` runs afterwards, outside the op's time.  Runs stop only
between whole passes, so every run measures the same mix of ops.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import pickle
import shutil
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import duckdb

from tracer import Tracer


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]  # error text, or None when correct


def canon(v):
    """Value normalization for multiset comparison with DuckDB."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def multiset(rows, cols: list[str]) -> Counter:
    return Counter(tuple(canon(r[c]) for c in cols) for r in rows)


def duck(input_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per input table."""
    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 1}")
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(input_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle(input_dir: str, key: str, sql: str) -> tuple[list[str], Counter]:
    """The key's DuckDB oracle result on these inputs, cached beside
    them under a digest of the SQL text."""
    tag = hashlib.sha1(sql.encode()).hexdigest()[:12]
    path = os.path.join(input_dir, f"oracle-{key}-{tag}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:  # written by this module only
            return pickle.load(fh)
    cur = duck(input_dir).execute(sql)
    cols = sorted(d[0] for d in cur.description)
    order = sorted(range(len(cols)), key=lambda i: cur.description[i][0])
    res = (cols, Counter(tuple(canon(r[i]) for i in order) for r in cur.fetchall()))
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(res, fh)
    os.replace(tmp, path)
    return res


def drain(tr: Tracer, df, key: str) -> None:
    """Traced runs only: execute `df` into the noop sink first, so the
    action that follows splits into execution and result transfer."""
    if tr.enabled:
        with tr.span("exec.drain", key, diag=True):
            df.write.format("noop").mode("overwrite").save()


class Workload:
    """Base: the per-run state every workload shares."""

    keys: tuple[str, ...] = ()
    # Untimed passes before the timed window: the first after start
    # (class loading, JIT, Python workers) is 3-5x slower than a warm
    # one, and op times keep falling for a few passes after it.
    warm_passes = 3

    def __init__(self, input_dir: str, stats: dict, work_dir: str, tr: Tracer):
        self.dir = input_dir
        self.stats = stats
        self.work_dir = work_dir
        self.tr = tr
        self.spark = None
        self.actions: list[tuple[int, str, Any]] = []  # (op, key, action DataFrame)
        self.layer: dict[str, list[float]] = {}  # workload-measured per-layer samples
        self.bytes_written = 0  # under table roots, measured window only

    def prepare(self) -> None:
        """Work done once per seed before Spark starts (oracles)."""

    def stage(self, spark) -> None:
        """Per-setup staging through the program."""
        self.spark = spark

    def next_pass(self, rng) -> list[Op]:
        raise NotImplementedError

    def pass_input_bytes(self) -> int:
        """Input bytes one pass consumes."""
        return self.stats["bytes"]

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def record_action(self, key: str, df) -> None:
        if self.tr.enabled:
            self.actions.append((self.tr.op, key, df))


class RegistryWorkload(Workload):
    """Ops are registry keys: `QuerySpec.fresh` then an action."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from morphl_model_user_search_intent_spark import REGISTRY

        self.registry = REGISTRY
        self.oracles: dict[str, tuple[list[str], Counter]] = {}

    def prepare(self) -> None:
        for k in self.keys:
            sql = self.registry[k].oracle
            if sql is not None:
                self.oracles[k] = oracle(self.dir, k, sql)

    def action(self, key: str, df):
        """Run the key's action; returns (the DataFrame executed, the
        rows to check)."""
        return df, df.collect()

    def key_op(self, key: str) -> Op:
        spec, tr = self.registry[key], self.tr

        def run():
            with tr.span("registry.fresh", key):
                df = spec.fresh(self.spark, self.dir)
            drain(tr, df, key)
            with tr.span("action.collect", key):
                adf, rows = self.action(key, df)
            self.record_action(key, adf)
            return df, rows

        return Op(key, run, lambda payload: self.verify(key, *payload))

    def verify(self, key: str, df, rows) -> str | None:
        cols, want = self.oracles[key]
        if sorted(df.columns) != cols:
            return f"{key}: columns {sorted(df.columns)} != oracle {cols}"
        got = multiset(rows, cols)
        if got != want:
            extra = list((got - want).elements())[:2]
            missing = list((want - got).elements())[:2]
            return f"{key}: {sum(got.values())} rows vs oracle {sum(want.values())}; extra {extra} missing {missing}"
        return None


class SearchIntent(RegistryWorkload):
    """The paper's pipeline: TF-IDF, Word2Vec, then the intent
    classifier.  The per-document keys are drained through an
    order-independent checksum aggregate (one row back, so no result
    transfer); the classifier's per-class rows are collected."""

    keys = ("q_ml_tfidf", "q_ml_word2vec", "q_ml_intent_classifier")
    ACCURACY_FLOOR = 0.8

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.reference: dict[str, Any] = {}
        self.n_docs = None

    def prepare(self) -> None:
        con = duck(self.dir)
        self.n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        self.n_labels = con.execute("SELECT count(DISTINCT label) FROM embeddings").fetchone()[0]

    def action(self, key: str, df):
        from pyspark.sql import functions as F

        if key == "q_ml_intent_classifier":
            return df, df.collect()
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
        )
        return agg, agg.collect()

    def next_pass(self, rng) -> list[Op]:
        return [self.key_op(k) for k in self.keys]

    def verify(self, key: str, df, rows) -> str | None:
        if key == "q_ml_intent_classifier":
            got = tuple(sorted(tuple(r) for r in rows))
            if len(rows) != self.n_labels:
                return f"{key}: {len(rows)} class rows, want {self.n_labels}"
            acc = rows[0]["overall_accuracy"]
            if acc < self.ACCURACY_FLOOR:
                return f"{key}: accuracy {acc} below {self.ACCURACY_FLOOR}"
        else:
            got = (rows[0]["n"], rows[0]["h"])
            if got[0] != self.n_docs:
                return f"{key}: {got[0]} rows, want {self.n_docs}"
        ref = self.reference.setdefault(key, got)
        return None if got == ref else f"{key}: result {got} differs from first op {ref}"


class CorpusDedup(RegistryWorkload):
    """LLM corpus curation: the curation pipeline, word count, then
    MinHash near-duplicate detection, each checked against its oracle."""

    keys = ("q_pipeline_e2e", "q_text_wordcount", "q_dedup_minhash_portable")

    def next_pass(self, rng) -> list[Op]:
        return [self.key_op(k) for k in self.keys]

    def verify(self, key: str, df, rows) -> str | None:
        if key == "q_dedup_minhash_portable":
            self.note("llm.dedup.pairs", len(rows))
        return super().verify(key, df, rows)


class TableUpsert(Workload):
    """Writes beside reads on one ACID table: per cycle a MERGE of a
    seeded batch, a deletion-vector DELETE and a read + aggregate; every
    4th cycle also OPTIMIZE and VACUUM.  A DuckDB mirror replays every
    change and checks each read."""

    CYCLES_PER_PASS = 4
    warm_passes = 1  # op times are flat from the second pass on
    AGG = (
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(price_cents) AS BIGINT) AS cents, "
        "CAST(sum(o_orderkey) AS BIGINT) AS keysum FROM t GROUP BY o_orderstatus"
    )

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from morphl_model_user_search_intent_spark.sources import acid

        self.acid = acid
        self.root = os.path.join(self.work_dir, "table")
        self.batches = sorted(os.listdir(os.path.join(self.dir, "merge")))
        self.n_files = len(os.listdir(os.path.join(self.dir, "base")))
        self.mirror = None
        self.files: dict[str, int] = {}
        self.live: set[str] = set()
        self.cycle = 0
        self.version = 0

    def _path(self, kind: str, b: int) -> str:
        return os.path.join(self.dir, kind, self.batches[b])

    def stage(self, spark) -> None:
        super().stage(spark)
        shutil.rmtree(self.root, ignore_errors=True)
        base = spark.read.parquet(os.path.join(self.dir, "base"))
        self.version = self.acid.create_table(spark, self.root, base.repartition(self.n_files))
        self.mirror = duckdb.connect()
        self.mirror.execute(
            f"CREATE TABLE t AS SELECT * FROM read_parquet('{os.path.join(self.dir, 'base')}/*.parquet')"
        )
        self.files = self._scan()
        self.live = set(self.acid.read_manifest(self.root)["files"])
        self.cycle = 0

    def pass_input_bytes(self) -> int:
        base = sum(
            os.path.getsize(os.path.join(self.dir, "base", f))
            for f in os.listdir(os.path.join(self.dir, "base"))
        )
        batch = os.path.getsize(self._path("merge", 0)) + os.path.getsize(self._path("delete", 0))
        return base + self.CYCLES_PER_PASS * batch

    def _scan(self) -> dict[str, int]:
        out = {}
        for d, _, names in os.walk(self.root):
            for f in names:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out

    def _settle(self) -> tuple[int, int]:
        """Account for the op just run: bytes of files that appeared
        under the root, and files that left the live snapshot."""
        now = self._scan()
        new = sum(sz for p, sz in now.items() if p not in self.files)
        self.files = now
        self.bytes_written += new
        live = set(self.acid.read_manifest(self.root)["files"])
        removed = len(self.live - live)
        self.live = live
        return new, removed

    def _committed(self, name: str, version: int) -> str | None:
        jump = version - self.version
        self.version = version
        self.note("acid.commit_retries", max(jump - 1, 0))
        return None if jump >= 1 else f"{name}: version {version} did not advance"

    def next_pass(self, rng) -> list[Op]:
        ops = []
        for c in range(self.CYCLES_PER_PASS):
            b = self.cycle % len(self.batches)
            self.cycle += 1
            ops += [self.merge_op(b), self.delete_op(b)]
            if c == self.CYCLES_PER_PASS - 1:
                ops += [self.optimize_op(), self.vacuum_op()]
            ops.append(self.read_op())
        return ops

    def merge_op(self, b: int) -> Op:
        path, tr = self._path("merge", b), self.tr

        def run():
            src = self.spark.read.parquet(path)
            with tr.span("acid.merge"):
                return self.acid.merge_table(self.spark, self.root, src, "o_orderkey")

        def check(v):
            written, removed = self._settle()
            self.note("acid.files_rewritten", removed)
            self.note("acid.write_amp", written / os.path.getsize(path))
            self.mirror.execute(
                f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{path}'))"
            )
            self.mirror.execute(
                "INSERT INTO t SELECT o_orderkey, o_custkey, o_orderstatus, price_cents "
                f"FROM read_parquet('{path}') WHERE NOT _delete"
            )
            return self._committed("merge", v)

        return Op("merge", run, check)

    def delete_op(self, b: int) -> Op:
        path, tr = self._path("delete", b), self.tr

        def run():
            keys = self.spark.read.parquet(path)
            with tr.span("acid.delete"):
                return self.acid.delete_from_table(self.spark, self.root, keys, "o_orderkey")

        def check(v):
            self._settle()
            self.mirror.execute(
                f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{path}'))"
            )
            return self._committed("delete", v)

        return Op("delete", run, check)

    def optimize_op(self) -> Op:
        tr = self.tr

        def run():
            with tr.span("acid.optimize"):
                return self.acid.optimize_table(self.spark, self.root, target_files=self.n_files)

        def check(v):
            self._settle()
            return self._committed("optimize", v)

        return Op("optimize", run, check)

    def vacuum_op(self) -> Op:
        tr = self.tr

        def run():
            with tr.span("acid.vacuum"):
                return self.acid.vacuum(self.root)

        def check(_):
            self._settle()
            return None

        return Op("vacuum", run, check)

    def read_op(self) -> Op:
        from pyspark.sql import functions as F

        tr = self.tr

        def run():
            with tr.span("acid.read"):
                df = self.acid.read_table(self.spark, self.root)
            agg = df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("price_cents").alias("cents"),
                F.sum("o_orderkey").alias("keysum"),
            )
            drain(tr, agg, "read")
            with tr.span("action.collect", "read"):
                rows = agg.collect()
            self.record_action("read", agg)
            return rows

        def check(rows):
            self._settle()
            m = self.acid.read_manifest(self.root)
            self.note("acid.live_files", len(m["files"]))
            self.note("acid.dv_fraction", self.acid.dv_fraction(self.root))
            cols = ["cents", "keysum", "n", "o_orderstatus"]
            got = multiset(rows, cols)
            cur = self.mirror.execute(self.AGG)
            names = [d[0] for d in cur.description]
            want = Counter(
                tuple(canon(r[names.index(c)]) for c in cols) for r in cur.fetchall()
            )
            return None if got == want else f"read: {sorted(got)} != mirror {sorted(want)}"

        return Op("read", run, check)


WORKLOADS = {
    "search_intent": SearchIntent,
    "corpus_dedup": CorpusDedup,
    "table_upsert": TableUpsert,
}
