"""Custom Python data source (Spark 4 ``pyspark.sql.datasource``).

The reference family's ingestion is a remote-API connector (Google
Search Console → Cassandra, SURVEY.md §1.1 [K]); this is the Spark-4
way to build such a connector in pure Python: a ``DataSource``
subclass whose reader declares partitions and yields rows per
partition — Spark schedules one task per partition, so a paginated
API (or any generator) parallelizes like a file scan, no RDD code.

The demo source synthesizes a deterministic event stream (Knuth
multiplicative hash over the row index — the engine's standard
portable-randomness trick), so its output is DuckDB-reproducible and
the driver can hash-check a real aggregate over a source that never
touched disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..registry import register

N_ROWS = 100_000
N_PARTS = 8
GROUPS = ("alpha", "beta", "gamma", "delta", "epsilon")


class _SynthReader(DataSourceReader):
    def partitions(self):
        return [InputPartition(p) for p in range(N_PARTS)]

    def read(self, partition):
        # one vectorized Arrow batch per partition (round 10, guide
        # §4.2) — same rows the per-index tuple loop produced
        import numpy as np
        import pyarrow as pa

        p = partition.value
        lo = p * N_ROWS // N_PARTS
        hi = (p + 1) * N_ROWS // N_PARTS
        i = np.arange(lo, hi, dtype=np.int64)
        h = (i * 2654435761) % 4294967296
        grp = np.asarray(GROUPS, dtype=object)[i % 5]
        yield pa.record_batch(
            [pa.array(i), pa.array(grp, type=pa.string()), pa.array(h)],
            names=["i", "grp", "h"],
        )


class SyntheticEventsSource(DataSource):
    """``format("synthetic_events")``: N_ROWS deterministic rows across
    N_PARTS independent read tasks."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "i bigint, grp string, h bigint"

    def reader(self, schema) -> _SynthReader:
        return _SynthReader()


@register(
    "q_source_pydatasource",
    oracle=f"""
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS h_sum,
           CAST(MIN(h) AS BIGINT) AS h_min
    FROM (
      SELECT i, ['alpha','beta','gamma','delta','epsilon'][(i % 5) + 1]
               AS grp,
             (i * 2654435761) % 4294967296 AS h
      FROM (SELECT UNNEST(generate_series(0, {N_ROWS - 1})) AS i)
    )
    GROUP BY grp
    """,
)
def q_source_pydatasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python data source and aggregate —
    proving the connector path end-to-end: partition planning in
    Python, one Spark task per partition, Arrow-batched rows into the
    JVM, then ordinary Catalyst aggregation on top.

    Per-partition generators keep memory O(1); at scale a real API
    connector maps pages/token-ranges to partitions the same way.
    All values are exact integers (Knuth hash), so the DuckDB twin
    reproduces the "remote" data without the connector.
    """
    try:
        spark.dataSource.register(SyntheticEventsSource)
    except Exception:
        pass  # already registered in this session
    df = spark.read.format("synthetic_events").load()
    return df.groupBy("grp").agg(
        F.count("*").alias("n_rows"),
        F.sum("h").alias("h_sum"),
        F.min("h").alias("h_min"),
    )


# ---- Streaming variant (Spark 4 SimpleDataSourceStreamReader) -------

N_STREAM_BATCHES = 10
ROWS_PER_BATCH = 1_000


class _SynthStreamReader:
    """SimpleDataSourceStreamReader: offset = {"batch": k}.  Each
    micro-batch emits ROWS_PER_BATCH deterministic rows (same Knuth
    hash as the batch source over a continuing index), then the
    source runs dry — processAllAvailable() terminates when read()
    stops advancing the offset.  At scale the offset would be a
    page token / Kafka offset; the contract (resume from any
    committed offset, deterministic replay) is exactly what
    readBetweenOffsets exercises on recovery."""

    def initialOffset(self):
        return {"batch": 0}

    def read(self, start):
        # contract quirk: the prefetch wrapper copy.copy()s and
        # next()s this return value, so it must be a list ITERATOR —
        # a raw list fails next(), a generator fails copy/pickle
        b = start["batch"]
        if b >= N_STREAM_BATCHES:
            return iter([]), start
        return iter(self._rows(b)), {"batch": b + 1}

    def readBetweenOffsets(self, start, end):
        # MUST return an ITERATOR, same contract as read()'s first
        # element: the replay travels through plan_data_source_read,
        # which rejects a bare list (DATA_SOURCE_INVALID_RETURN_TYPE).
        # A list here looked fine for months because this path only
        # executes on RECOVERY of an uncommitted batch — the round-8
        # "flaky" checkpoint-resume test was this genuine defect
        # firing whenever the kill landed between offset-write and
        # commit.
        rows = []
        for b in range(start["batch"], end["batch"]):
            rows.extend(self._rows(b))
        return iter(rows)

    @staticmethod
    def _rows(b: int) -> list:
        # materialized list, not a generator: the simple stream
        # reader's prefetched rows are PICKLED driver-side before
        # they ship to the executor task
        lo = b * ROWS_PER_BATCH
        return [
            (i, GROUPS[i % 5], (i * 2654435761) % 4294967296)
            for i in range(lo, lo + ROWS_PER_BATCH)
        ]

    def commit(self, end):
        pass


class SyntheticEventsStreamSource(DataSource):
    """``readStream.format("synthetic_events_stream")``: a bounded
    deterministic micro-batch stream through the Python data source
    API."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_stream"

    def schema(self) -> str:
        return "i bigint, grp string, h bigint"

    def simpleStreamReader(self, schema) -> _SynthStreamReader:
        return _SynthStreamReader()


_TOTAL_STREAM_ROWS = N_STREAM_BATCHES * ROWS_PER_BATCH


@register(
    "q_stream_pydatasource",
    oracle=f"""
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS h_sum
    FROM (
      SELECT ['alpha','beta','gamma','delta','epsilon'][(i % 5) + 1]
               AS grp,
             (i * 2654435761) % 4294967296 AS h
      FROM (SELECT UNNEST(generate_series(0, {_TOTAL_STREAM_ROWS - 1}))
              AS i)
    )
    GROUP BY grp
    """,
)
def q_stream_pydatasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming through a CUSTOM Python streaming source
    (Spark 4 ``simpleStreamReader``): ten deterministic micro-batches
    flow offset-by-offset into a complete-mode aggregation; the memory
    sink's final table is the full aggregate, so the end state is
    oracle-checkable EXACTLY like a batch query — the determinism
    contract (resume from any committed offset, replayable range
    reads) is the one a Kafka/API connector must honor at scale.

    The complete-mode plan keeps running state per group (5 keys —
    bounded); the Python source feeds one task per micro-batch.
    """
    import os
    import re

    try:
        spark.dataSource.register(SyntheticEventsStreamSource)
    except Exception:
        pass  # already registered in this session
    tag = re.sub(
        r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/"))
    )
    name = f"stream_pyds_sink_{tag}"
    s = spark.readStream.format("synthetic_events_stream").load()
    agg = s.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("h").cast("bigint").alias("h_sum"),
    )
    # default ASAP trigger, NOT availableNow: the simple stream
    # reader prefetches one batch at a time, and availableNow would
    # snapshot only the first prefetched batch as "available";
    # processAllAvailable() drains until read() stops advancing the
    # offset (the source runs dry after N_STREAM_BATCHES).
    from ..streaming.ops import _stream_shuffle_scope, _unload_state_stores

    # ~32 B/row synthetic source: the adaptive scope floors at 2 state
    # partitions instead of one-per-core × 10 micro-batches
    with _stream_shuffle_scope(spark, _TOTAL_STREAM_ROWS * 32):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
            _unload_state_stores(spark)
    return spark.table(name)


# ---- versioned-offset CDC stream source over the ACID table ----


class _TableChangesStreamReader(DataSourceStreamReader):
    """FULL ``DataSourceStreamReader`` (not the simple driver-side
    variant): offsets are TABLE VERSIONS resolved from the manifest
    log, ``partitions(start, end)`` maps the version window to that
    window's committed change FILES (metadata-scale, driver-side —
    exactly Delta CDF's startingVersion/endingVersion planning), and
    ``read(partition)`` executes IN THE EXECUTOR, one task per change
    file, via a pyarrow scan.  This is the piece the
    ``simpleStreamReader`` sources (q_stream_pydatasource) can't
    show: distributed row reading with the driver touching only
    offsets and file lists."""

    def __init__(self, root: str, starting_version: int = 1) -> None:
        self.root = root
        self.starting_version = starting_version

    def initialOffset(self) -> dict:
        # stream changes committed AFTER startingVersion — a consumer
        # whose downstream snapshot corresponds to version V must pass
        # startingVersion=V or it silently replays (< V) or skips
        # (> V) commits; the default 1 matches a consumer bootstrapped
        # from the table's initial create
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        from .acid import latest_version

        return {"version": latest_version(self.root)}

    def partitions(self, start: dict, end: dict):
        from .acid import read_manifest

        files: list[str] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            files.extend(read_manifest(self.root, v).get("change_files", []))
        # a window of cdc-less commits still needs ≥1 (empty) task
        return [InputPartition(f) for f in files] or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return
        import pyarrow.parquet as pq

        t = pq.read_table(
            partition.value,
            columns=[
                "o_orderkey", "o_orderpriority", "price", "_change_type"
            ],
        )
        # Arrow fast path (round 10, guide §4): whole RecordBatches to
        # the JVM instead of per-row pickled tuples
        yield from t.to_batches()

    def commit(self, end: dict) -> None:
        pass


class TableChangesStreamSource(DataSource):
    """``readStream.format("acid_table_changes").option("root", ...)``:
    the lakehouse change feed as a first-class streaming source with
    version offsets (resume = replay from any committed version)."""

    @classmethod
    def name(cls) -> str:
        return "acid_table_changes"

    def schema(self) -> str:
        return (
            "o_orderkey bigint, o_orderpriority string, "
            "price double, _change_type string"
        )

    def streamReader(self, schema) -> _TableChangesStreamReader:
        # DSv2 option keys travel through a case-insensitive map and
        # may surface lower-cased — accept either spelling
        sv = self.options.get(
            "startingVersion", self.options.get("startingversion", 1)
        )
        return _TableChangesStreamReader(self.options["root"], int(sv))


@register(
    "q_stream_table_cdc_source",
    oracle="""
    WITH feed AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS price,
             'update_preimage' AS _change_type
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 != 0
      UNION ALL
      SELECT CAST(o_totalprice * 1.1 AS DOUBLE), 'update_postimage'
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 != 0
      UNION ALL
      SELECT CAST(o_totalprice * 0.5 AS DOUBLE), 'insert'
      FROM orders WHERE o_orderkey % 1000 = 0
      UNION ALL
      SELECT CAST(o_totalprice AS DOUBLE), 'delete'
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           (SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) / 100.0)
             AS total_price
    FROM feed GROUP BY _change_type
    """,
)
def q_stream_table_cdc_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The table change feed consumed through the VERSIONED-OFFSET
    custom streaming source (round 7) — the Delta-shaped upgrade of
    q_stream_table_cdc's directory-tailing file source: offsets are
    manifest versions, so a consumer resumes from any committed
    version and replays deterministically; partition planning is
    driver-side metadata only; rows are read executor-side, one task
    per change file.  Drained through a complete-mode aggregate and
    ORACLE-CHECKED against the same closed-form merge rule (counts +
    integer-unit price sums per change type) — the two CDC consumers
    must agree with each other and with the rule.
    """
    import os
    import re

    from ..functions.exact import units_nn
    from .acid import ensure_cdc_stream_exercise

    root = ensure_cdc_stream_exercise(spark, sf_dir)
    try:
        spark.dataSource.register(TableChangesStreamSource)
    except Exception:
        pass  # already registered in this session
    tag = re.sub(
        r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/"))
    )
    name = f"stream_cdc_src_sink_{tag}"
    s = (
        spark.readStream.format("acid_table_changes")
        .option("root", root)
        .load()
    )
    agg = s.groupBy("_change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum(units_nn("price", 100)) / F.lit(100.0)).alias(
            "total_price"
        ),
    )
    from ..streaming.ops import (
        _source_bytes,
        _stream_shuffle_scope,
        _unload_state_stores,
    )

    # feed size ∝ the table's change files under root — the adaptive
    # scope sizes the 5-key complete-mode agg's state partitions to it
    with _stream_shuffle_scope(spark, _source_bytes(root)):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
            _unload_state_stores(spark)
    return spark.table(name)


# ---- batch Python data source over the ACID table (round 8) ----------


_ARROW_TO_DDL = {
    "int64": "bigint",
    "int32": "int",
    "double": "double",
    "float": "float",
    "bool": "boolean",
    "string": "string",
    "large_string": "string",
}


class _AcidTableReader(DataSourceReader):
    """Batch DSv2 reader over the manifest protocol: ``partitions()``
    pins ONE manifest on the driver, prunes its file list by the
    ``partition.<col>`` options (metadata-scale, before any task is
    scheduled), and emits one InputPartition per surviving data file;
    ``read()`` executes in the EXECUTOR — a pyarrow scan of its file,
    masked against the snapshot's deletion vectors.  A tombstone is the
    (file basename, row index) of a row in the RAW file, so the mask
    drops those positions before any residual filter moves them
    (:func:`acid._unmasked`)."""

    def __init__(
        self, root: str, version: int | None, pfilters: dict[str, str]
    ) -> None:
        self.root = root
        self.version = version
        self.pfilters = pfilters

    def partitions(self):
        import os

        from .acid import read_manifest

        m = read_manifest(self.root, self.version)
        pmap = m.get("partitions", {})
        cm = m.get("colmap")
        proj = None
        lnames = None
        if cm is not None:
            # logical names in projection order: the Arrow fast path
            # must label its batches with the LOGICAL schema Spark
            # declared (physical at-write names differ on mapped
            # tables; the old row-tuple path carried no names)
            lnames = [e["name"] for e in cm["cols"]]
        if cm is not None:
            # logical projection plan for read(): physical columns in
            # logical order (a physical absent from an old file reads
            # NULL); option filters arrive under LOGICAL names —
            # re-key them to the physical names the metadata uses
            proj = [e["physical"] for e in cm["cols"]]
            names = {e["name"]: e["physical"] for e in cm["cols"]}
            self.pfilters = {
                names.get(c, c): v for c, v in self.pfilters.items()
            }

        def keep(f: str) -> bool:
            vals = pmap.get(os.path.basename(f), {})
            # option values arrive as strings; compare on the string
            # form of the recorded value, keeping files without a
            # recorded value (partition-evolution semantics)
            return all(
                c not in vals or str(vals[c]) == v
                for c, v in self.pfilters.items()
            )

        files = [f for f in m["files"] if keep(f)]
        dvf = m.get("dv_files", [])
        # a conservatively-kept file (no recorded value for a filter
        # column — partition evolution) carries that column as a
        # RESIDUAL row predicate for read() (round-9 ADVICE fix): the
        # engine's read_table follows pruning with an isin filter,
        # and this source must reproduce that path exactly or a
        # post-evolution partition read returns stray rows
        tr_by_name = {
            t["name"]: t for t in m.get("transforms") or []
        }
        parts = []
        for f in files:
            vals = pmap.get(os.path.basename(f), {})
            # a filter column the file records no value for becomes a
            # residual; a HIDDEN transform name ships its transform
            # spec so read() can evaluate it over the SOURCE column
            # (the hidden name is never a data column — review fix)
            residual = [
                (c, v, tr_by_name.get(c))
                for c, v in self.pfilters.items()
                if c not in vals
            ]
            parts.append(
                InputPartition((f, dvf, residual, proj, lnames))
            )
        return parts or [InputPartition((None, [], [], None, None))]

    def read(self, partition):
        import pyarrow.parquet as pq

        f, dvf, residual, proj, lnames = partition.value
        if f is None:
            return
        t = pq.read_table(f)
        if dvf:
            from .acid import _unmasked

            t = _unmasked(t, f, dvf)
        if residual:
            import pyarrow as pa
            import pyarrow.compute as pc

            for c, v, tr in residual:
                if tr is not None:
                    # HIDDEN transform name: evaluate the transform
                    # over the SOURCE column, row-by-row (bounded to
                    # the unrecorded-file tail; recorded files were
                    # pruned at planning) — matches the engine's
                    # _residual_col semantics
                    from .acid import _transform_apply

                    src_vals = t.column(tr["src"]).to_pylist()
                    mask = pa.array(
                        [
                            s is not None
                            and str(_transform_apply(tr, s)) == v
                            for s in src_vals
                        ],
                        type=pa.bool_(),
                    )
                    t = t.filter(mask)
                    continue
                if c not in t.column_names:
                    # column predates this file: its value is NULL,
                    # which can never equal the filter value
                    t = t.slice(0, 0)
                    break
                col_type = t.schema.field(c).type
                try:
                    want = pa.scalar(v, type=pa.string()).cast(
                        col_type
                    )
                    mask = pc.equal(t.column(c), want)
                except pa.ArrowInvalid:
                    # value not parseable as the column type: compare
                    # on the string form instead of erroring out
                    mask = pc.equal(
                        pc.cast(t.column(c), pa.string()),
                        pa.scalar(v, type=pa.string()),
                    )
                t = t.filter(mask)
        cols = proj if proj is not None else list(t.column_names)
        have = set(t.column_names)
        if all(c in have for c in cols):
            # Arrow fast path (round 10, guide §4): hand the JVM whole
            # RecordBatches instead of per-row pickled tuples — the
            # Python DataSource API accepts either, and the row path
            # was the dominant cost of the 100k-row scan.
            import pyarrow as pa

            yield from pa.table(
                [t.column(c) for c in cols],
                names=lnames if lnames is not None else list(cols),
            ).to_batches()
            return
        series = [
            t.column(c).to_pylist()
            if c in have
            else [None] * t.num_rows  # physical predates this file
            for c in cols
        ]
        yield from zip(*series)


class AcidTableSource(DataSource):
    """``spark.read.format("acid_table").option("root", ...)``: the
    lakehouse table as a first-class batch source — snapshot pinning,
    time travel (``version``), partition pruning
    (``partition.<col>`` options), and deletion-vector masking, all
    through the public DataSource API so ANY Spark consumer (no
    engine import) reads the table correctly.  The batch twin of the
    ``acid_table_changes`` streaming source."""

    @classmethod
    def name(cls) -> str:
        return "acid_table"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        from .acid import read_manifest

        opts = {k.lower(): v for k, v in self.options.items()}
        m = read_manifest(
            opts["root"],
            int(opts["version"]) if "version" in opts else None,
        )

        def ddl_of(field) -> str:
            ddl = _ARROW_TO_DDL.get(str(field.type))
            if ddl is None:
                if str(field.type).startswith("timestamp"):
                    ddl = "timestamp"
                else:
                    raise ValueError(
                        f"unmapped arrow type {field.type} for "
                        f"{field.name}"
                    )
            return ddl

        cm = m.get("colmap")
        if cm is None:
            sch = pq.read_schema(m["files"][0])
            return ", ".join(
                f"{field.name} {ddl_of(field)}" for field in sch
            )
        # column-mapped table (round 9): serve the LOGICAL schema.
        # Physical columns live under their at-write names; a
        # re-added column may be absent from older files, so walk
        # footers until every physical type is resolved.
        want = {e["physical"] for e in cm["cols"]}
        types: dict[str, str] = {}
        for f in m["files"]:
            for field in pq.read_schema(f):
                if field.name in want and field.name not in types:
                    types[field.name] = ddl_of(field)
            if len(types) == len(want):
                break
        missing = want - set(types)
        if missing:
            raise ValueError(
                f"physical columns {sorted(missing)} not found in any "
                "data file"
            )
        return ", ".join(
            f"{e['name']} {types[e['physical']]}" for e in cm["cols"]
        )

    def reader(self, schema) -> _AcidTableReader:
        opts = {k.lower(): v for k, v in self.options.items()}
        pfilters = {
            k[len("partition."):]: v
            for k, v in opts.items()
            if k.startswith("partition.")
        }
        return _AcidTableReader(
            opts["root"],
            int(opts["version"]) if "version" in opts else None,
            pfilters,
        )


@register(
    "q_source_acid_table",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    WHERE o_orderkey % 11 != 0
    """,
)
def q_source_acid_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACID table read through the BATCH Python DataSource
    (round 8): one task per manifest data file, deletion vectors
    masked inside each executor task from a filtered sidecar read —
    the oracle is the post-DELETE closed form, so the source-API path
    must reproduce the engine's own read_table exactly (a leaked
    tombstone or an over-masked row breaks the hash).  This is the
    batch twin of q_stream_table_cdc_source and the proof the table
    format is ENGINE-AGNOSTIC through public Spark APIs."""
    from .acid import ensure_dv_exercise

    root = ensure_dv_exercise(spark, sf_dir)
    try:
        spark.dataSource.register(AcidTableSource)
    except Exception:
        pass  # already registered in this session
    return spark.read.format("acid_table").option("root", root).load()


@register(
    "q_source_acid_table_pruned",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS price,
           CAST(1995 AS BIGINT) AS o_year
    FROM orders
    WHERE year(o_orderdate) = 1995
      AND o_orderkey % 7 != 0 AND o_orderkey % 13 != 0
    UNION ALL
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice * 1.1 AS DOUBLE), CAST(1995 AS BIGINT)
    FROM orders
    WHERE year(o_orderdate) = 1995
      AND o_orderkey % 7 = 0 AND o_orderkey % 13 != 0
    UNION ALL
    SELECT o_orderkey + 20000000, 'NEW-PART',
           CAST(o_totalprice * 0.5 AS DOUBLE), CAST(1995 AS BIGINT)
    FROM orders
    WHERE year(o_orderdate) = 1995 AND o_orderkey % 500 = 0
    """,
)
def q_source_acid_table_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-pruned read through the batch DataSource (round 8):
    ``.option("partition.o_year", "1995")`` prunes the task set at
    PLANNING time — partitions() emits one task per surviving file,
    so the scheduler never sees the other years' files (the pytest
    pins the task count).  The oracle is the merged 1995 closed form
    (the table is the partitioned-merge exercise), composing
    source-API pruning with the partition-confined MERGE."""
    from .acid import ensure_partitioned_exercise

    root = ensure_partitioned_exercise(spark, sf_dir)
    try:
        spark.dataSource.register(AcidTableSource)
    except Exception:
        pass
    return (
        spark.read.format("acid_table")
        .option("root", root)
        .option("partition.o_year", "1995")
        .load()
    )
