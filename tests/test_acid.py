"""Gates for the emulated ACID table layer (sources/acid.py): atomic
commit protocol, snapshot isolation across PROCESSES, conflict
detection, copy-on-write file pruning, time travel, vacuum retention.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from morphl_model_user_search_intent_spark.io import table
from morphl_model_user_search_intent_spark.sources.acid import (
    CommitConflict,
    _colmap_lookup,
    _merge_source,
    commit,
    create_table,
    latest_version,
    list_versions,
    merge_table,
    optimize_table,
    read_changes,
    read_manifest,
    read_table,
    table_changes,
    vacuum,
)

from conftest import SF_DIR, jobs_during


def _base(spark):
    import pyspark.sql.functions as F

    return table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )


def _tombstoned(m):
    """Basenames of the data files manifest ``m``'s tombstones name."""
    import pyarrow.parquet as pq

    return {
        f
        for d in m.get("dv_files", [])
        for f in pq.read_table(d, columns=["_file"])
        .column("_file")
        .to_pylist()
    }


def _rowset(df):
    return {
        (r.o_orderkey, r.o_orderpriority, round(r.price, 2))
        for r in df.collect()
    }


def test_merge_semantics_and_cow_file_pruning(spark, tmp_path):
    """All three MERGE arms land, and no data file is rewritten: the
    merge-on-read commit carries every file BY REFERENCE — the ones
    holding matched keys too (their rows are masked, not copied)."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    base = _base(spark)
    # partition the table BY KEY RANGE so some files contain no
    # matched key (every 7th/13th key touches most hash partitions;
    # range partitioning concentrates the insert/no-match split)
    create_table(spark, root, base.repartitionByRange(6, "o_orderkey"))
    m1 = read_manifest(root, 1)

    src = _merge_source(spark, SF_DIR)
    # make one file provably untouched: exclude its key range from
    # the source entirely
    lo = base.agg(F.min("o_orderkey")).collect()[0][0]
    hi = base.agg(F.max("o_orderkey")).collect()[0][0]
    cut = lo + (hi - lo) // 6
    src = src.filter(
        (F.col("o_orderkey") > cut) | F.col("o_orderkey").isNull()
    )
    v2 = merge_table(spark, root, src, "o_orderkey")
    assert v2 == 2
    m2 = read_manifest(root, 2)
    assert set(m1["files"]) <= set(m2["files"]), "a data file was removed"

    # semantics: exact expected rowset from the same derivation
    o = base
    expected = _rowset(
        o.filter(
            (F.col("o_orderkey") % 7 != 0) | (F.col("o_orderkey") <= cut)
        )
        .filter(
            (F.col("o_orderkey") % 13 != 0) | (F.col("o_orderkey") <= cut)
        )
        .unionByName(
            o.filter(
                (F.col("o_orderkey") % 7 == 0)
                & (F.col("o_orderkey") % 13 != 0)
                & (F.col("o_orderkey") > cut)
            ).select(
                "o_orderkey",
                "o_orderpriority",
                (F.col("price") * 1.1).alias("price"),
            )
        )
        .unionByName(
            o.filter(
                (F.col("o_orderkey") % 1000 == 0)
                & (F.col("o_orderkey") + 10_000_000 > cut)
            ).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.lit("NEW-ROW").alias("o_orderpriority"),
                (F.col("price") * 0.5).alias("price"),
            )
        )
    )
    assert _rowset(read_table(spark, root)) == expected


def test_commit_conflict_detection(spark, tmp_path):
    """Two writers racing the same parent version: exactly one wins,
    the loser gets CommitConflict — the optimistic-concurrency
    primitive every other guarantee builds on."""
    root = str(tmp_path / "t")
    create_table(spark, root, _base(spark).limit(100))
    m = read_manifest(root)
    # writer A wins version 2
    assert commit(root, m["files"], "noop-a", parent=1) == 2
    # writer B, still at parent 1, must not silently overwrite
    with pytest.raises(CommitConflict):
        commit(root, m["files"], "noop-b", parent=1)
    assert latest_version(root) == 2
    assert read_manifest(root, 2)["op"] == "noop-a"


def test_snapshot_isolation_across_processes(spark, tmp_path):
    """THE lakehouse contract, proven over two OS processes: a reader
    in another process pins version 1, the writer (this process)
    commits a MERGE on top, and the pinned reader — re-resolving
    NOTHING — still reads exactly version 1's bytes.  The reader is
    DuckDB, not Spark: the manifest protocol is engine-agnostic, and
    a second JVM would prove less while costing more."""
    root = str(tmp_path / "t")
    create_table(spark, root, _base(spark))
    v1_rows = _rowset(read_table(spark, root, 1))

    reader = textwrap.dedent(
        """
        import json, os, sys
        import duckdb
        root = sys.argv[1]
        md = os.path.join(root, "manifests")
        latest = sorted(f for f in os.listdir(md) if f.startswith("m-"))[-1]
        with open(os.path.join(md, latest)) as fh:
            m = json.load(fh)
        if "chunks" in m:  # two-level manifest (format 2)
            m["files"] = []
            for d in m["chunks"]:
                with open(os.path.join(md, "chunks", d["id"] + ".json")) as ch:
                    m["files"] += json.load(ch)["files"]
        print(json.dumps({"pinned": m["version"]}), flush=True)
        sys.stdin.readline()  # wait until the writer has committed v2
        n, s = duckdb.sql(
            "SELECT COUNT(*), ROUND(SUM(CAST(floor(price*100+0.5) AS BIGINT))/100.0, 2) "
            "FROM read_parquet(" + repr(m["files"]) + ")"
        ).fetchone()
        print(json.dumps({"n": n, "sum": float(s)}), flush=True)
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", reader, root],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        pinned = json.loads(proc.stdout.readline())
        assert pinned["pinned"] == 1

        # writer commits v2 while the reader holds its pin
        v2 = merge_table(
            spark, root, _merge_source(spark, SF_DIR), "o_orderkey"
        )
        assert v2 == 2

        proc.stdin.write("go\n")
        proc.stdin.flush()
        got = json.loads(proc.stdout.readline())
    finally:
        proc.stdin.close()
        proc.wait(timeout=120)

    assert got["n"] == len(v1_rows)
    expected_sum = round(
        sum(int(p * 100 + 0.5) for _, _, p in v1_rows) / 100.0, 2
    )
    assert abs(got["sum"] - expected_sum) < 0.01
    # and v2 is genuinely different (the reader didn't just get lucky)
    assert read_table(spark, root, 2).count() != got["n"]


def test_time_travel_and_vacuum_retention(spark, tmp_path):
    """Every retained version reads back exactly; vacuum(keep_last=2)
    deletes the retired versions' exclusive files and manifests, after
    which time travel to them fails loudly while the kept versions
    still read.  A merge-on-read merge carries every data file, so
    only the OPTIMIZE between the merges leaves files exclusive to the
    versions before it."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    base = _base(spark).limit(1000)
    create_table(spark, root, base)
    v1 = _rowset(read_table(spark, root, 1))
    merge_table(spark, root, _merge_source(spark, SF_DIR), "o_orderkey")
    v2 = _rowset(read_table(spark, root, 2))
    optimize_table(spark, root, target_files=1)  # v3 folds the mask
    # fourth version: delete everything below the median key
    med = base.agg(F.expr("percentile(o_orderkey, 0.5)")).collect()[0][0]
    src4 = read_table(spark, root, 3).select(
        "o_orderkey",
        "o_orderpriority",
        "price",
        (F.col("o_orderkey") < med).alias("_delete"),
    ).filter(F.col("_delete"))
    merge_table(spark, root, src4, "o_orderkey")
    assert list_versions(root) == [1, 2, 3, 4]
    assert _rowset(read_table(spark, root, 1)) == v1  # stable history
    retired = (
        set(read_manifest(root, 1)["files"])
        | set(read_manifest(root, 2)["files"])
        | set(read_manifest(root, 2)["dv_files"])
    )

    removed = vacuum(root, keep_last=2)
    assert removed, "vacuum deleted nothing"
    assert set(removed) <= retired
    assert all(not os.path.exists(f) for f in removed)
    assert list_versions(root) == [3, 4]
    with pytest.raises(FileNotFoundError):
        read_table(spark, root, 1)
    assert _rowset(read_table(spark, root, 3)) == v2
    n4 = read_table(spark, root, 4).count()
    assert 0 < n4 < len(v2)


def test_random_commit_sequences_match_a_dict_model(spark, tmp_path):
    """Model-based check: a random sequence of APPEND / MERGE
    (update+insert+delete) commits against the table must equal a
    plain Python dict applying the same operations — and EVERY
    retained historical version must re-read as the model's state at
    that version.  Seeded (deterministic); complements the
    oracle-checked single-merge exhibit with sequence coverage."""
    import random

    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        list_versions,
        merge_table,
        read_table,
    )

    rng = random.Random(20260815)
    root = str(tmp_path / "t")

    def df_of(rows):
        return spark.createDataFrame(
            rows, "o_orderkey bigint, o_orderpriority string, price double"
        )

    model: dict[int, tuple[str, float]] = {
        k: (f"P{k % 5}", float(k * 10)) for k in range(0, 400, 2)
    }
    create_table(
        spark, root, df_of([(k, p, v) for k, (p, v) in model.items()])
    )
    history = {1: dict(model)}

    next_key = 1000
    for _ in range(6):
        op = rng.choice(["append", "merge"])
        if op == "append":
            rows = [
                (next_key + i, "NEW", float(next_key + i))
                for i in range(rng.randint(1, 30))
            ]
            next_key += 100
            v = append_table(spark, root, df_of(rows))
            for k, p, val in rows:
                model[k] = (p, val)
        else:
            keys = sorted(model)
            upd = rng.sample(keys, min(20, len(keys)))
            dele = rng.sample(
                [k for k in keys if k not in upd], min(10, len(keys) - len(upd))
            )
            ins = [(next_key + i, "INS", 1.0) for i in range(5)]
            next_key += 100
            src_rows = (
                [(k, "UPD", model[k][1] + 1.0, False) for k in upd]
                + [(k, model[k][0], model[k][1], True) for k in dele]
                + [(k, p, v, False) for k, p, v in ins]
            )
            src = spark.createDataFrame(
                src_rows,
                "o_orderkey bigint, o_orderpriority string, "
                "price double, _delete boolean",
            )
            v = merge_table(spark, root, src, "o_orderkey")
            for k in upd:
                model[k] = ("UPD", model[k][1] + 1.0)
            for k in dele:
                del model[k]
            for k, p, val in ins:
                model[k] = (p, val)
        history[v] = dict(model)

    # final state and EVERY retained version match the model's history
    for v in list_versions(root):
        got = {
            r.o_orderkey: (r.o_orderpriority, r.price)
            for r in read_table(spark, root, v).collect()
        }
        assert got == history[v], f"version {v} diverged"


def test_concurrent_multiprocess_appenders_land_exactly_once(
    spark, tmp_path
):
    """Optimistic concurrency under a REAL multi-process race: four
    OS processes each append 5 versions concurrently (pyarrow writers
    — the commit protocol is engine-agnostic), racing os.link for
    every version number.  Afterwards: exactly 1 + 20 versions, a
    contiguous version chain (every parent = version - 1), and the
    final table holds every writer's rows exactly once."""
    import subprocess
    import textwrap

    from morphl_model_user_search_intent_spark.sources.acid import (
        list_versions,
        read_manifest,
        read_table,
    )

    root = str(tmp_path / "t")
    create_table(
        spark,
        root,
        spark.createDataFrame(
            [(-1, "BASE", 0.0)],
            "o_orderkey bigint, o_orderpriority string, price double",
        ),
    )

    writer = textwrap.dedent(
        """
        import json, os, sys, time, uuid
        sys.path.insert(0, "/root/repo")
        import pyarrow as pa
        import pyarrow.parquet as pq
        from morphl_model_user_search_intent_spark.sources.acid import (
            CommitConflict, commit, read_manifest)
        root, wid = sys.argv[1], int(sys.argv[2])
        for j in range(5):
            keys = [10_000 * wid + 10 * j + i for i in range(3)]
            t = pa.table({
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_orderpriority": pa.array(
                    [f"W{wid}"] * 3, pa.string()),
                "price": pa.array([float(k) for k in keys],
                                  pa.float64()),
            })
            f = os.path.join(root, "data", uuid.uuid4().hex + ".parquet")
            pq.write_table(t, f)
            while True:  # commit-retry: appends commute
                m = read_manifest(root)
                try:
                    commit(root, m["files"] + [f], f"append-w{wid}",
                           m["version"])
                    break
                except CommitConflict:
                    time.sleep(0.005)
        print("done", wid)
        """
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", writer, root, str(w)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for w in range(4)
    ]
    for p in procs:
        assert p.wait(timeout=300) == 0

    versions = list_versions(root)
    assert versions == list(range(1, 22))  # create + 4×5 appends
    for v in versions[1:]:
        assert read_manifest(root, v)["parent"] == v - 1
    rows = read_table(spark, root).collect()
    keys = [r.o_orderkey for r in rows]
    assert len(keys) == len(set(keys)) == 1 + 4 * 5 * 3
    by_writer = {
        w: sorted(k for k in keys if 10_000 * w <= k < 10_000 * (w + 1))
        for w in range(1, 4)
    }
    by_writer[0] = sorted(k for k in keys if 0 <= k < 10_000)
    for w, ks in by_writer.items():
        assert len(ks) == 15, f"writer {w} lost rows: {ks}"


def test_replayed_streaming_batch_is_a_noop(spark, tmp_path):
    """Round-6 advice: foreachBatch is at-least-once on failure/retry,
    so append_table must upgrade it to exactly-once via the txn
    ledger (the Delta txn action).  A replayed (app, batch) append is
    a no-op — no new version, no new rows, no orphan files — while a
    different app's appends with the same batch ids land normally."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        committed_txn_version,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.limit(0))
    b0 = base.limit(10)
    b1 = base.limit(25)

    v = append_table(spark, root, b0, txn_app="q1", txn_version=0)
    assert v == 2
    v = append_table(spark, root, b1, txn_app="q1", txn_version=1)
    assert v == 3
    n = read_table(spark, root).count()
    files = set(read_manifest(root)["files"])
    data_files = set(os.listdir(os.path.join(root, "data")))

    # replay batch 0 AND batch 1: both no-ops, nothing changes
    for bid, df in ((0, b0), (1, b1)):
        got = append_table(spark, root, df, txn_app="q1", txn_version=bid)
        assert got == 3  # latest version returned, none created
    assert latest_version(root) == 3
    assert read_table(spark, root).count() == n
    assert set(read_manifest(root)["files"]) == files
    # no orphan data files leaked by the replays
    assert set(os.listdir(os.path.join(root, "data"))) == data_files

    # a DIFFERENT app's batch 1 is not shadowed by q1's ledger
    v = append_table(spark, root, b0, txn_app="q2", txn_version=1)
    assert v == 4
    assert committed_txn_version(root, "q1") == 1
    assert committed_txn_version(root, "q2") == 1
    # q1's next batch still lands after the interleaved writer
    v = append_table(spark, root, b0, txn_app="q1", txn_version=2)
    assert v == 5
    assert committed_txn_version(root, "q1") == 2


def test_vacuum_orphan_sweep_and_conflict_reclaim(spark, tmp_path):
    """Round-6 advice: crash/conflict leftovers must be reclaimable.
    (a) an explicit-version merge losing its race deletes its staged
    files before re-raising; (b) vacuum's orphan sweep removes
    unreferenced data files past the grace window and never touches
    referenced or fresh ones."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.limit(100))

    # (a) explicit-version merge that loses: stage a competing commit
    # for version 2 first, then merge at version=1
    data_before = set(os.listdir(os.path.join(root, "data")))
    append_table(spark, root, base.limit(5))  # commits v2
    src = _merge_source(spark, SF_DIR).limit(10)
    with pytest.raises(CommitConflict):
        merge_table(spark, root, src, "o_orderkey", version=1)
    # every file the failed merge wrote is gone again
    referenced = {
        os.path.basename(f)
        for v in list_versions(root)
        for f in read_manifest(root, v)["files"]
    }
    on_disk = set(os.listdir(os.path.join(root, "data")))
    assert on_disk == referenced | {
        f for f in data_before if f in on_disk
    }
    assert all(f in referenced for f in on_disk)

    # (b) plant a fake crash orphan, old mtime -> swept; fresh -> kept
    data = os.path.join(root, "data")
    old = os.path.join(data, "deadbeef-orphan.parquet")
    new = os.path.join(data, "cafebabe-orphan.parquet")
    for p in (old, new):
        with open(p, "wb") as fh:
            fh.write(b"x")
    os.utime(old, (1, 1))  # epoch: far past any grace window
    removed = vacuum(root, keep_last=2, orphan_grace=3600)
    assert old in removed and not os.path.exists(old)
    assert os.path.exists(new)  # inside grace: an in-flight writer
    # referenced files all survive
    for v in list_versions(root):
        for f in read_manifest(root, v)["files"]:
            assert os.path.exists(f)
    os.remove(new)


def test_cdc_write_side_matches_diff_reconstruction(spark, tmp_path):
    """The change feed a cdc=True MERGE writes at commit time must be
    row-identical to the feed reconstructed afterwards by diffing the
    commit's removed/added files — two independent mechanisms, one
    truth.  Also pins the feed's internal invariants: pre/post image
    pairing and zero leakage of CoW-carried (unchanged) rows."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") <= 2000)
    create_table(spark, root, base.repartition(4))
    src = _merge_source(spark, SF_DIR).filter(
        (F.col("o_orderkey") % 10_000_000) <= 2000
    )
    v = merge_table(spark, root, src, "o_orderkey", cdc=True)

    def feedset(df):
        return {
            (r.o_orderkey, r.o_orderpriority, round(r.price, 2),
             r._change_type)
            for r in df.collect()
        }

    written = feedset(read_changes(spark, root, v, key="o_orderkey"))
    diffed = feedset(table_changes(spark, root, v, key="o_orderkey"))
    assert written == diffed and written

    # image pairing: same key set for pre and post updates
    pre = {k for (k, _, _, t) in written if t == "update_preimage"}
    post = {k for (k, _, _, t) in written if t == "update_postimage"}
    assert pre == post and pre

    # no carried rows: every emitted key belongs to a merge arm
    for k, _, _, t in written:
        orig = k - 10_000_000 if t == "insert" else k
        assert orig % 7 == 0 or orig % 13 == 0 or orig % 1000 == 0

    # the manifest records the change files and they live under change/
    m = read_manifest(root, v)
    assert m["change_files"]
    assert all(os.sep + "change" + os.sep in f for f in m["change_files"])


def test_cdc_conflict_loser_reclaims_change_files(spark, tmp_path):
    """An explicit-version cdc merge that loses its commit race must
    remove its staged CHANGE files along with its data files — no
    orphan growth in change/ under contention."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") <= 1000)
    create_table(spark, root, base)
    src = _merge_source(spark, SF_DIR).filter(
        (F.col("o_orderkey") % 10_000_000) <= 1000
    )
    # another writer takes version 2 first
    commit(root, read_manifest(root, 1)["files"], "noop", parent=1)
    with pytest.raises(CommitConflict):
        merge_table(spark, root, src, "o_orderkey", version=1, cdc=True)
    change_dir = os.path.join(root, "change")
    leftovers = os.listdir(change_dir) if os.path.isdir(change_dir) else []
    assert leftovers == []


def test_optimize_compacts_preserving_content_and_history(
    spark, tmp_path
):
    """OPTIMIZE is a lossless, versioned re-layout: fewer files, same
    rows, op recorded, prior versions still readable (time travel),
    and vacuum afterwards reclaims the pre-compaction files."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") <= 3000)
    create_table(spark, root, base.repartition(6))
    before = read_manifest(root, 1)
    v = optimize_table(spark, root, target_files=2)
    after = read_manifest(root, v)
    assert after["op"] == "optimize"
    assert len(after["files"]) < len(before["files"])
    assert len(after["files"]) <= 2
    assert _rowset(read_table(spark, root)) == _rowset(
        read_table(spark, root, version=1)
    )
    # old version still pinned-readable until vacuumed past
    assert read_table(spark, root, version=1).count() == base.count()
    removed = vacuum(root, keep_last=1)
    for f in before["files"]:
        assert not os.path.exists(f)
    assert removed


def test_vacuum_reclaims_expired_change_files(spark, tmp_path):
    """CDC files follow the same retention as data files: a retained
    version's change files survive vacuum (its feed stays readable),
    an expired version's are deleted — change/ cannot grow without
    bound on a long-lived CDC table."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") <= 2000)
    create_table(spark, root, base.repartition(2))
    src = _merge_source(spark, SF_DIR).filter(
        (F.col("o_orderkey") % 10_000_000) <= 2000
    )
    v2 = merge_table(
        spark, root, src.filter(F.col("o_orderkey") % 2 == 0),
        "o_orderkey", cdc=True,
    )
    v3 = merge_table(
        spark, root, src.filter(F.col("o_orderkey") % 2 == 1),
        "o_orderkey", cdc=True,
    )
    cf2 = read_manifest(root, v2)["change_files"]
    cf3 = read_manifest(root, v3)["change_files"]
    assert cf2 and cf3

    removed = vacuum(root, keep_last=1)  # retains only v3
    for f in cf2:
        assert not os.path.exists(f) and f in removed
    for f in cf3:
        assert os.path.exists(f)
    # the retained feed still reads
    assert read_changes(spark, root, v3, key="o_orderkey").count() > 0


def test_shallow_clone_is_zero_copy_and_write_isolated(spark, tmp_path):
    """CLONE's two structural guarantees: (a) zero-copy — the clone's
    first manifest references the source's physical files, no data
    byte moves; (b) write isolation — a merge committed on the clone
    rewrites into the clone's own data dir and the source snapshot is
    bit-stable."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        clone_table,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = _base(spark).filter(F.col("o_orderkey") <= 2000)
    create_table(spark, src, base.repartition(3))
    v = clone_table(spark, src, dst)
    assert v == 1
    # zero-copy: identical physical file list
    assert read_manifest(dst, 1)["files"] == read_manifest(src)["files"]
    assert os.listdir(os.path.join(dst, "data")) == []
    before = _rowset(read_table(spark, src))
    assert _rowset(read_table(spark, dst)) == before

    # write isolation: merge on the CLONE only
    upd = base.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * 3).alias("price"),
        F.lit(False).alias("_delete"),
    )
    merge_table(spark, dst, upd, "o_orderkey")
    assert _rowset(read_table(spark, src)) == before  # source untouched
    got = _rowset(read_table(spark, dst))
    assert got != before
    # the clone's new files live under ITS data dir
    new = set(read_manifest(dst)["files"]) - set(read_manifest(src)["files"])
    assert new and all(f.startswith(dst + os.sep) for f in new)


def test_cdc_noop_replacements_emit_nothing(spark, tmp_path):
    """A MERGE source row identical to its base row changes nothing;
    the write-side feed must not emit an update pair for it (the
    file-diff reconstruction provably cannot see it, and the two CDC
    mechanisms must stay interchangeable)."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") <= 1000)
    create_table(spark, root, base.repartition(2))
    # source: every key <= 500 re-sent UNCHANGED, every key % 9 == 0
    # genuinely re-priced
    noop = base.filter(F.col("o_orderkey") <= 500).filter(
        F.col("o_orderkey") % 9 != 0
    )
    real = base.filter(F.col("o_orderkey") % 9 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * 2).alias("price"),
    )
    src = (
        noop.unionByName(real)
        .withColumn("_delete", F.lit(False))
    )
    v = merge_table(spark, root, src, "o_orderkey", cdc=True)

    feed = read_changes(spark, root, v, key="o_orderkey")
    upd = feed.filter(F.col("_change_type") == "update_postimage")
    keys = {r.o_orderkey for r in upd.select("o_orderkey").collect()}
    assert keys == {
        r.o_orderkey for r in real.select("o_orderkey").collect()
    }
    assert feed.filter(F.col("_change_type") == "insert").count() == 0
    assert feed.filter(F.col("_change_type") == "delete").count() == 0
    # and the two mechanisms still agree
    diff = table_changes(spark, root, v, key="o_orderkey")

    def fs(df):
        return {
            (r.o_orderkey, r.o_orderpriority, round(r.price, 2),
             r._change_type)
            for r in df.collect()
        }

    assert fs(feed) == fs(diff)


def test_merge_txn_replay_is_noop(spark, tmp_path):
    """merge_table with a txn identity: replaying the same (app,
    batch) is a no-op — the contract that upgrades a foreachBatch CDC
    consumer from at-least-once to exactly-once MERGE application
    (q_stream_table_mirror)."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") <= 1000)
    create_table(spark, root, base)
    src = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * 2).alias("price"),
        F.lit(False).alias("_delete"),
    )
    v2 = merge_table(
        spark, root, src, "o_orderkey", txn_app="m", txn_version=0
    )
    assert v2 == 2
    after = _rowset(read_table(spark, root))
    # replay: same app+batch -> no new version, same content
    v_again = merge_table(
        spark, root, src, "o_orderkey", txn_app="m", txn_version=0
    )
    assert v_again == 2
    assert latest_version(root) == 2
    assert _rowset(read_table(spark, root)) == after
    # the NEXT batch still applies
    src2 = base.filter(F.col("o_orderkey") % 10 == 1).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * 3).alias("price"),
        F.lit(False).alias("_delete"),
    )
    v3 = merge_table(
        spark, root, src2, "o_orderkey", txn_app="m", txn_version=1
    )
    assert v3 == 3


def test_schema_evolution_and_optimize_policy(spark, tmp_path):
    """Additive schema evolution: post-evolution reads resolve the
    union schema (old rows NULL for the new column), a pinned
    time-travel read still returns the ORIGINAL schema, and no data
    file is rewritten by the evolution commit.  Plus the OPTIMIZE
    policy: maybe_optimize is a no-op under the file-count threshold
    and compacts above it."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        maybe_optimize,
    )

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") <= 1000)
    create_table(
        spark, root, base.select("o_orderkey", "price").repartition(3)
    )
    v1_files = set(read_manifest(root, 1)["files"])
    append_table(
        spark,
        root,
        base.select(
            (F.col("o_orderkey") + 1_000_000).alias("o_orderkey"),
            "price",
            F.lit("web").alias("channel"),
        ).repartition(3),
        allow_evolution=True,  # r8: widening is an explicit opt-in
    )
    # evolution is additive metadata: v1's files all carried
    assert v1_files < set(read_manifest(root, 2)["files"])
    m = read_manifest(root, 2)
    wide = spark.read.option("mergeSchema", "true").parquet(*m["files"])
    assert set(wide.columns) == {"o_orderkey", "price", "channel"}
    n_old = wide.filter(F.col("channel").isNull()).count()
    assert n_old == base.count()
    # pinned pre-evolution read: original schema, undisturbed
    assert set(read_table(spark, root, version=1).columns) == {
        "o_orderkey",
        "price",
    }

    # optimize policy: below threshold -> no-op; above -> compaction
    assert maybe_optimize(spark, root, max_files=100) is None
    v = maybe_optimize(spark, root, max_files=2, target_files=2)
    assert v == 3
    assert len(read_manifest(root, v)["files"]) <= 2
    got = spark.read.option("mergeSchema", "true").parquet(
        *read_manifest(root, v)["files"]
    )
    assert got.count() == 2 * base.count()


def test_restore_is_metadata_only_and_history_preserving(spark, tmp_path):
    """RESTORE commits forward: v3 references v1's physical files (no
    copy), v2 stays retained and readable, and a post-restore write
    builds on the restored state."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        restore_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") <= 1000)
    create_table(spark, root, base)
    v1_rows = _rowset(read_table(spark, root))
    merge_table(spark, root, _merge_source(spark, SF_DIR), "o_orderkey")
    v2_rows = _rowset(read_table(spark, root))
    assert v2_rows != v1_rows

    v3 = restore_table(spark, root, version=1)
    assert v3 == 3
    m1, m3 = read_manifest(root, 1), read_manifest(root, 3)
    assert m3["files"] == m1["files"]  # zero-copy rollback
    assert m3["op"] == "restore:v1"
    assert _rowset(read_table(spark, root)) == v1_rows
    assert _rowset(read_table(spark, root, version=2)) == v2_rows

    # history continues forward from the restored state
    src = base.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * 2).alias("price"),
        F.lit(False).alias("_delete"),
    )
    merge_table(spark, root, src, "o_orderkey")
    assert latest_version(root) == 4


# ---- round 8: partitioned table layout (verdict item 1) -------------


def _pbase(spark):
    import pyspark.sql.functions as F

    return table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )


def test_partitioned_create_records_values_and_prunes(spark, tmp_path):
    """Partition values land per file in the manifest, and manifest
    resolution prunes by partition predicate BEFORE listing files —
    strict subset, partition-exact, never lossy."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        resolve_files,
    )

    root = str(tmp_path / "t")
    base = _pbase(spark)
    create_table_partitioned(
        spark, root, base.repartition(2, "o_orderkey"), ["o_year"]
    )
    m = read_manifest(root)
    assert m["partition_cols"] == ["o_year"]
    # every file carries a recorded partition value
    assert set(m["partitions"]) == {
        os.path.basename(f) for f in m["files"]
    }
    years = {v["o_year"] for v in m["partitions"].values()}
    assert years == {
        r[0] for r in base.select("o_year").distinct().collect()
    }
    pruned = resolve_files(m, {"o_year": 1995})
    assert 0 < len(pruned) < len(m["files"])  # strict subset
    assert all(
        m["partitions"][os.path.basename(f)]["o_year"] == 1995
        for f in pruned
    )
    # pruned read ≡ unpruned filter (pruning is never lossy)
    got = read_table(spark, root, partition_filter={"o_year": 1995})
    want = read_table(spark, root).filter("o_year = 1995")
    # inputFiles returns URIs — compare uuid basenames
    assert sorted(os.path.basename(f) for f in got.inputFiles()) == sorted(
        os.path.basename(f) for f in pruned
    )
    assert _rowset(got.drop("o_year")) == _rowset(want.drop("o_year"))


def test_partitioned_merge_confined_to_touched_partitions(
    spark, tmp_path
):
    """A MERGE whose source touches only year 1995 carries every
    partition's files BY IDENTICAL PATH into the new manifest with
    their partition values + stats verbatim, tombstones only 1995
    files, and writes files into 1995 alone."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        _part_merge_source,
        create_table_partitioned,
        merge_table_partitioned,
    )

    root = str(tmp_path / "t")
    create_table_partitioned(
        spark, root, _pbase(spark).repartition(2, "o_orderkey"),
        ["o_year"],
    )
    m1 = read_manifest(root)
    merge_table_partitioned(
        spark, root, _part_merge_source(spark, SF_DIR), "o_orderkey"
    )
    m2 = read_manifest(root)
    out1995 = {
        f
        for f in m1["files"]
        if m1["partitions"][os.path.basename(f)]["o_year"] != 1995
    }
    # untouched partitions: identical physical paths carried forward
    assert out1995 <= set(m2["files"])
    for f in out1995:
        b = os.path.basename(f)
        assert m2["partitions"][b] == m1["partitions"][b]
        assert m2["stats"][b] == m1["stats"][b]
    # merge-on-read: no file leaves the manifest; the tombstones name
    # only 1995 files (every 1995 file holds a matched key at this SF
    # with 2 files), and the appended upserts land in 1995 alone — no
    # file is written into an untouched partition
    assert set(m1["files"]) <= set(m2["files"])
    in1995_old = {
        os.path.basename(f)
        for f in m1["files"]
        if m1["partitions"][os.path.basename(f)]["o_year"] == 1995
    }
    assert _tombstoned(m2) == in1995_old
    new = set(m2["files"]) - set(m1["files"])
    assert new and all(
        m2["partitions"][os.path.basename(f)]["o_year"] == 1995
        for f in new
    )
    # content: the 1995 slice follows the merge rule; others untouched
    got = read_table(spark, root, partition_filter={"o_year": 1995})
    o = _pbase(spark).filter("o_year = 1995")
    keep = o.filter(
        (F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 13 != 0)
    )
    upd = o.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0)
    ).withColumn("price", F.col("price") * 1.1)
    ins = o.filter(F.col("o_orderkey") % 500 == 0).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        F.lit("NEW-PART").alias("o_orderpriority"),
        (F.col("price") * 0.5).alias("price"),
        "o_year",
    )
    want = keep.unionByName(upd).unionByName(ins)
    assert _rowset(got.drop("o_year")) == _rowset(want.drop("o_year"))


def test_partitioned_merge_into_new_partition_is_pure_insert(
    spark, tmp_path
):
    """A source targeting a partition the table does not have yet (the
    daily-ingest case) plans over ZERO existing files and lands as
    pure inserts in the new partition."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        merge_table_partitioned,
    )

    root = str(tmp_path / "t")
    create_table_partitioned(
        spark, root, _pbase(spark).repartition(2, "o_orderkey"),
        ["o_year"],
    )
    m1 = read_manifest(root)
    src = (
        _pbase(spark)
        .filter("o_year = 1995")
        .limit(100)
        .select(
            (F.col("o_orderkey") + 30_000_000).alias("o_orderkey"),
            "o_orderpriority",
            "price",
            F.lit(2099).cast("bigint").alias("o_year"),
            F.lit(False).alias("_delete"),
        )
    )
    merge_table_partitioned(spark, root, src, "o_orderkey")
    m2 = read_manifest(root)
    assert set(m1["files"]) <= set(m2["files"])  # nothing rewritten
    got = read_table(spark, root, partition_filter={"o_year": 2099})
    assert got.count() == 100
    assert {r[0] for r in got.select("o_year").distinct().collect()} == {
        2099
    }


def test_partitioned_optimize_compacts_only_selected_partition(
    spark, tmp_path
):
    """OPTIMIZE WHERE o_year=1996 compacts that partition to one file,
    carries every other file by reference, and changes no row."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        optimize_table_partitioned,
        resolve_files,
    )

    root = str(tmp_path / "t")
    create_table_partitioned(
        spark, root, _pbase(spark).repartition(4, "o_orderkey"),
        ["o_year"],
    )
    m1 = read_manifest(root)
    before = _rowset(read_table(spark, root).drop("o_year"))
    optimize_table_partitioned(
        spark, root, {"o_year": 1996}, target_files=1
    )
    m2 = read_manifest(root)
    sel_old = set(resolve_files(m1, {"o_year": 1996}))
    assert len(sel_old) == 4
    assert not (sel_old & set(m2["files"]))  # compacted away
    assert set(m1["files"]) - sel_old <= set(m2["files"])  # carried
    new = set(m2["files"]) - set(m1["files"])
    assert len(new) == 1  # one right-sized file
    assert m2["partitions"][os.path.basename(next(iter(new)))] == {
        "o_year": 1996
    }
    assert _rowset(read_table(spark, root).drop("o_year")) == before
    # metadata row counts survive the compaction
    assert sum(s["rows"] for s in m2["stats"].values()) == sum(
        s["rows"] for s in m1["stats"].values()
    )


def test_optimize_conflict_loser_reclaims_and_replays(spark, tmp_path):
    """ADVICE r7: optimize_table races a concurrent commit through the
    same optimistic protocol — the loser reclaims its files and
    replays against the NEW snapshot, so the interleaved commit's rows
    survive the compaction."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources import acid

    root = str(tmp_path / "t")
    base = _base(spark).limit(1000)
    create_table(spark, root, base.repartition(4))
    extra = base.select(
        (F.col("o_orderkey") + 50_000_000).alias("o_orderkey"),
        "o_orderpriority",
        "price",
    ).limit(10)

    real_publish = acid._publish
    raced = {"done": False}

    def racing_publish(root_, v, manifest):
        if manifest["op"] == "optimize" and not raced["done"]:
            raced["done"] = True
            # interleave a real append BEFORE the optimize publishes
            from morphl_model_user_search_intent_spark.sources.acid import (
                append_table,
            )

            append_table(spark, root_, extra)
        return real_publish(root_, v, manifest)

    data_dir = os.path.join(root, "data")
    n_before = len(os.listdir(data_dir))
    acid._publish = racing_publish
    try:
        # at one target file the four base files are the small-file tail
        v = acid.optimize_table(spark, root, target_files=1)
    finally:
        acid._publish = real_publish
    assert raced["done"]
    m = read_manifest(root, v)
    assert m["op"] == "optimize"
    # the replayed compaction includes the interleaved append's rows
    assert read_table(spark, root).count() == 1010
    # the lost round's files were reclaimed: only the final snapshot's
    # files plus the pre-optimize history remain on disk
    on_disk = {
        os.path.join(data_dir, f) for f in os.listdir(data_dir)
    }
    referenced = set()
    for ver in list_versions(root):
        referenced.update(read_manifest(root, ver)["files"])
    assert on_disk == referenced


_MERGE_WRITER = """
import json, os, random, sys, time, uuid
sys.path.insert(0, "/root/repo")
import pyarrow as pa
import pyarrow.parquet as pq
from morphl_model_user_search_intent_spark.sources.acid import (
    CommitConflict, commit, read_manifest)

root, wid, n_writers = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
rng = random.Random(wid)
# upsert every key ≡ wid (mod n_writers): disjoint KEY sets but
# overlapping FILES — the contention case that loses updates if a
# conflict loser re-commits instead of replaying against the winner
retries = 0
while True:
    m = read_manifest(root)
    touched, kept, parts = [], [], []
    my = lambda k: k % n_writers == wid
    for f in m["files"]:
        t = pq.read_table(f)
        ks = t.column("o_orderkey").to_pylist()
        if any(my(k) for k in ks):
            touched.append(f)
            mask = pa.array([not my(k) for k in ks])
            parts.append(t.filter(mask))  # survivors carried forward
        else:
            kept.append(f)
    src_keys = sorted(
        k for f in touched
        for k in pq.read_table(f, columns=["o_orderkey"])
                   .column("o_orderkey").to_pylist()
        if my(k))
    ups = pa.table({
        "o_orderkey": pa.array(src_keys, pa.int64()),
        "o_orderpriority": pa.array([f"W{wid}"] * len(src_keys)),
        "price": pa.array([k * 10.0 + wid + 1 for k in src_keys]),
    })
    out = pa.concat_tables(parts + [ups]) if parts else ups
    nf = os.path.join(root, "data", uuid.uuid4().hex + ".parquet")
    pq.write_table(out, nf)
    try:
        commit(root, kept + [nf], f"merge-w{wid}", m["version"])
        break
    except CommitConflict:
        os.remove(nf)           # reclaim, then REPLAY against the
        retries += 1            # new snapshot (kept/touched re-plan)
        time.sleep(rng.uniform(0, 0.01) * min(2 ** retries, 32))
print(json.dumps({"wid": wid, "retries": retries}))
"""


def test_concurrent_multiprocess_merge_writers_no_lost_updates(
    spark, tmp_path
):
    """r7 verdict item 7: N concurrent MERGE writers race the same
    files at CoW granularity.  Each writer upserts a disjoint key
    slice, but slices interleave within every data file, so every
    commit rewrites files other writers planned against — a loser
    that re-published its stale rewrite (instead of replaying) would
    resurrect pre-winner rows.  After all writers land: contiguous
    version chain, exactly one row per key, and EVERY writer's upsert
    present — no lost updates."""
    import subprocess

    from morphl_model_user_search_intent_spark.sources.acid import (
        list_versions,
        read_manifest,
        read_table,
    )

    n_writers, n_keys = 4, 64
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, "BASE", 0.0) for k in range(n_keys)],
        "o_orderkey bigint, o_orderpriority string, price double",
    )
    create_table(spark, root, base.repartition(4))

    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _MERGE_WRITER, root, str(w),
             str(n_writers)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for w in range(n_writers)
    ]
    outs = []
    for p in procs:
        out, _ = p.communicate(timeout=300)
        assert p.returncode == 0
        outs.append(json.loads(out.strip().splitlines()[-1]))

    versions = list_versions(root)
    assert versions == list(range(1, n_writers + 2))  # create + 4 merges
    for v in versions[1:]:
        assert read_manifest(root, v)["parent"] == v - 1
    rows = {r.o_orderkey: r for r in read_table(spark, root).collect()}
    assert len(rows) == n_keys
    for k in range(n_keys):
        w = k % n_writers
        assert rows[k].o_orderpriority == f"W{w}", (k, rows[k])
        assert rows[k].price == k * 10.0 + w + 1


# ---- round 8: deletion vectors (merge-on-read DELETE) ----------------


def test_dv_delete_is_o_batch_and_time_travelable(spark, tmp_path):
    """A deletion-vector DELETE touches NO data file (identical file
    list v1→v2, only dv_files added), masks exactly the requested
    keys, and time travel to v1 still shows every row."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        delete_from_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    n_base = base.count()
    create_table(spark, root, base.repartition(4))
    m1 = read_manifest(root)
    doomed = base.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey"
    )
    n_doomed = doomed.count()
    delete_from_table(spark, root, doomed, "o_orderkey")
    m2 = read_manifest(root)
    assert m2["files"] == m1["files"]          # zero rewrites
    assert m2["op"] == "delete" and m2["dv_files"]
    got = read_table(spark, root)
    assert got.count() == n_base - n_doomed
    assert got.filter("o_orderkey % 5 = 0").isEmpty()
    assert read_table(spark, root, version=1).count() == n_base


def test_dv_reinserted_key_is_not_masked(spark, tmp_path):
    """Per-file tombstone scoping: delete a key, append the same key
    again (a NEW file) — the re-inserted row must survive the mask."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        delete_from_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(100)
    create_table(spark, root, base.repartition(2))
    k = base.orderBy("o_orderkey").limit(1).collect()[0].o_orderkey
    delete_from_table(
        spark,
        root,
        spark.createDataFrame([(k,)], "o_orderkey bigint"),
        "o_orderkey",
    )
    assert read_table(spark, root).filter(
        F.col("o_orderkey") == k
    ).isEmpty()
    append_table(
        spark,
        root,
        spark.createDataFrame(
            [(k, "REBORN", 1.0)],
            "o_orderkey bigint, o_orderpriority string, price double",
        ),
    )
    rows = (
        read_table(spark, root)
        .filter(F.col("o_orderkey") == k)
        .collect()
    )
    assert [r.o_orderpriority for r in rows] == ["REBORN"]


def test_dv_fold_clears_mask_and_preserves_content(spark, tmp_path):
    """OPTIMIZE folds the deletion vectors: post-fold manifest carries
    no dv_files, the compacted data physically lacks the deleted
    rows, and masked (v2) ≡ folded (v3) content."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        delete_from_table,
        optimize_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.repartition(4))
    delete_from_table(
        spark,
        root,
        base.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    before = _rowset(read_table(spark, root))
    optimize_table(spark, root, target_files=2)
    m3 = read_manifest(root)
    assert "dv_files" not in m3
    assert len(m3["files"]) == 2
    assert _rowset(read_table(spark, root)) == before
    # the raw files (no mask) must also lack the deleted rows now
    raw = spark.read.parquet(*m3["files"])
    assert raw.filter("o_orderkey % 5 = 0").isEmpty()


def test_dv_merge_after_delete_and_vacuum_protection(spark, tmp_path):
    """MERGE over a DV-carrying table plans against the MASKED
    snapshot (upserting a deleted key is an INSERT, and its stale
    tombstone cannot re-kill the new row because the rewrite changed
    the file basename); vacuum protects retained versions' sidecars
    and reclaims retired ones."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        delete_from_table,
        merge_table,
        vacuum,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    n_base = base.count()
    create_table(spark, root, base.repartition(4))
    k = base.orderBy("o_orderkey").limit(1).collect()[0].o_orderkey
    delete_from_table(
        spark,
        root,
        spark.createDataFrame([(k,)], "o_orderkey bigint"),
        "o_orderkey",
    )
    src = spark.createDataFrame(
        [(k, "UPSERTED", 9.0, False)],
        "o_orderkey bigint, o_orderpriority string, price double,"
        " _delete boolean",
    )
    merge_table(spark, root, src, "o_orderkey")
    rows = (
        read_table(spark, root)
        .filter(F.col("o_orderkey") == k)
        .collect()
    )
    assert [r.o_orderpriority for r in rows] == ["UPSERTED"]
    m3 = read_manifest(root)
    assert m3.get("dv_files")  # carried forward (inert for the rewrite)
    for f in m3["dv_files"]:
        assert os.path.exists(f)
    # retire v1/v2: the v3 manifest still references the dv sidecars,
    # so they must survive; nothing the kept versions reference dies
    vacuum(root, keep_last=1)
    for f in m3["dv_files"]:
        assert os.path.exists(f)
    assert read_table(spark, root).count() == n_base


def test_zorder_prunes_both_axes_linear_only_one(spark, tmp_path):
    """Z-order's point: under the linear o_orderkey clustering (v1)
    an o_custkey range prunes nothing (every file spans the full
    custkey range); after OPTIMIZE ZORDER (v2) BOTH axes prune, and
    multi-column pruning is lossless."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.io import table
    from morphl_model_user_search_intent_spark.sources.acid import (
        commit,
        commit_stats,
        _manifest_dir,
        _write_files,
        optimize_table_zorder,
        scan_table_multi,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    os.makedirs(_manifest_dir(root), exist_ok=True)
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    files = _write_files(
        base.repartitionByRange(16, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        root,
    )
    commit(
        root, files, "create", parent=0,
        stats=commit_stats(root, files, ["o_orderkey", "o_custkey"]),
    )
    mk, mc = base.agg(
        F.max("o_orderkey"), F.max("o_custkey")
    ).collect()[0]
    box = {
        "o_orderkey": (0.2 * mk, 0.3 * mk),
        "o_custkey": (0.4 * mc, 0.6 * mc),
    }
    cust_only = {"o_custkey": (0.4 * mc, 0.6 * mc)}

    def kept(version, ranges):
        df = scan_table_multi(spark, root, ranges, version=version)
        return len(df.inputFiles())

    # v1 linear: key axis prunes, cust axis cannot
    assert kept(1, {"o_orderkey": box["o_orderkey"]}) < 16
    assert kept(1, cust_only) == 16
    truth = {
        (r.o_orderkey, r.o_custkey)
        for r in scan_table_multi(spark, root, box, version=1).collect()
    }

    optimize_table_zorder(
        spark, root, ["o_orderkey", "o_custkey"], target_files=16
    )
    # v2 z-ordered: BOTH single-axis ranges prune
    assert kept(2, {"o_orderkey": box["o_orderkey"]}) < 16
    assert kept(2, cust_only) < 16
    # 2-D box prunes harder than either axis alone and stays lossless
    assert kept(2, box) <= min(
        kept(2, {"o_orderkey": box["o_orderkey"]}), kept(2, cust_only)
    )
    got = {
        (r.o_orderkey, r.o_custkey)
        for r in scan_table_multi(spark, root, box, version=2).collect()
    }
    assert got == truth


def test_composed_scan_file_funnel(spark, tmp_path):
    """The three pruning layers compose as a strict file funnel:
    all files → partition survivors → partition ∩ zone survivors,
    with the final read lossless vs the brute-force filter."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        delete_from_table,
        resolve_files,
        scan,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark,
        root,
        base.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        partition_cols=["o_year"],
        stats_cols=["o_orderkey"],
    )
    delete_from_table(
        spark,
        root,
        base.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    mk = base.agg(F.max("o_orderkey")).collect()[0][0]
    pf = {"o_year": 1995}
    rg = {"o_orderkey": (0.2 * mk, 0.4 * mk)}
    m = read_manifest(root)
    n_all = len(m["files"])
    n_part = len(resolve_files(m, pf))
    got = scan(spark, root, partition_filter=pf, ranges=rg)
    # inputFiles includes the DV sidecar scan — count data files only
    n_zone = len([f for f in got.inputFiles() if "/data/" in f])
    assert n_zone < n_part < n_all, (n_zone, n_part, n_all)
    want = base.filter(
        (F.col("o_year") == 1995)
        & F.col("o_orderkey").between(0.2 * mk, 0.4 * mk)
        & (F.col("o_orderkey") % 13 != 0)
    )
    assert _rowset(got.drop("o_year")) == _rowset(want.drop("o_year"))


def test_partition_evolution_prunes_per_vintage(spark, tmp_path):
    """r8 partition evolution: spec change is metadata-only (no file
    rewritten), and pruning respects each file's vintage — a filter
    on the EVOLVED column keeps every old-spec file (they predate it)
    while pruning new-spec files; results stay exact either way."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.io import table
    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        create_table_partitioned,
        evolve_partition_spec,
        resolve_files,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark,
        root,
        base.filter(F.col("o_year") != 1998).repartition(2),
        partition_cols=["o_year"],
    )
    m1 = read_manifest(root)
    evolve_partition_spec(root, ["o_year", "o_orderpriority"])
    m2 = read_manifest(root)
    assert m2["files"] == m1["files"]  # metadata-only
    assert m2["partition_cols"] == ["o_year", "o_orderpriority"]
    append_table_partitioned(
        spark, root, base.filter(F.col("o_year") == 1998)
    )
    m3 = read_manifest(root)
    old = set(m1["files"])
    new = set(m3["files"]) - old
    assert new
    # new-spec files record BOTH columns; old files only o_year
    for f in new:
        assert set(m3["partitions"][os.path.basename(f)]) == {
            "o_year", "o_orderpriority",
        }
    for f in old:
        assert set(m3["partitions"][os.path.basename(f)]) == {"o_year"}
    # priority-only filter: ALL old files kept, new files pruned
    kept = resolve_files(m3, {"o_orderpriority": "1-URGENT"})
    assert old <= set(kept)
    assert len(set(kept) & new) < len(new)
    # read stays exact across vintages
    got = read_table(
        spark, root, partition_filter={"o_orderpriority": "1-URGENT"}
    )
    want = base.filter(F.col("o_orderpriority") == "1-URGENT")
    assert (
        _rowset(got.drop("o_year")) == _rowset(want.drop("o_year"))
    )


def test_check_constraints_reject_atomically(spark, tmp_path):
    """r8 CHECK constraints: a violating append or merge is rejected
    BEFORE anything is written — table unchanged, version chain
    unchanged, no orphan files; valid writes pass; validation cost is
    ∝ the incoming delta (incoming rows only are filtered)."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        ConstraintViolation,
        add_constraint,
        append_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(500)
    create_table(spark, root, base)
    add_constraint(root, "price_nonneg", "price >= 0")
    add_constraint(root, "priority_set", "o_orderpriority IS NOT NULL")

    bad = spark.createDataFrame(
        [(999_001, "X", -5.0), (999_002, "Y", 3.0)],
        "o_orderkey bigint, o_orderpriority string, price double",
    )
    v1 = latest_version(root)
    data_files_before = sorted(os.listdir(os.path.join(root, "data")))
    with pytest.raises(ConstraintViolation, match="price_nonneg"):
        append_table(spark, root, bad)
    assert latest_version(root) == v1  # nothing committed
    assert sorted(
        os.listdir(os.path.join(root, "data"))
    ) == data_files_before  # nothing orphaned
    # merge upsert arm validated too
    src = bad.withColumn("_delete", F.lit(False))
    with pytest.raises(ConstraintViolation, match="price_nonneg"):
        merge_table(spark, root, src, "o_orderkey")
    assert latest_version(root) == v1
    # a valid write passes and commits
    ok = spark.createDataFrame(
        [(999_003, "Z", 7.0)],
        "o_orderkey bigint, o_orderpriority string, price double",
    )
    assert append_table(spark, root, ok) == v1 + 1
    assert read_table(spark, root).count() == 501


def test_schema_enforcement_on_append(spark, tmp_path):
    """r8 schema enforcement: a drifted append (missing / retyped /
    renamed columns) is rejected plan-only with the table unchanged;
    additive widening requires the explicit allow_evolution opt-in
    (and then behaves as q_table_add_column proves)."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        SchemaMismatch,
        append_table,
    )

    root = str(tmp_path / "t")
    create_table(spark, root, _base(spark).limit(100))
    v1 = latest_version(root)

    # missing column
    with pytest.raises(SchemaMismatch, match="missing=\\['price'\\]"):
        append_table(
            spark, root,
            spark.createDataFrame(
                [(1, "A")], "o_orderkey bigint, o_orderpriority string"
            ),
        )
    # retyped column
    with pytest.raises(SchemaMismatch, match="retyped=\\['price'\\]"):
        append_table(
            spark, root,
            spark.createDataFrame(
                [(1, "A", 1)],
                "o_orderkey bigint, o_orderpriority string, price int",
            ),
        )
    # additive widening without opt-in
    widened = spark.createDataFrame(
        [(1, "A", 1.0, "web")],
        "o_orderkey bigint, o_orderpriority string, price double,"
        " channel string",
    )
    with pytest.raises(SchemaMismatch, match="added=\\['channel'\\]"):
        append_table(spark, root, widened)
    assert latest_version(root) == v1  # all three rejected plan-only
    # with the opt-in it commits
    assert append_table(
        spark, root, widened, allow_evolution=True
    ) == v1 + 1


def test_acid_table_batch_source_prunes_tasks(spark):
    """r8 batch DataSource: the partition.<col> option prunes the
    TASK SET at planning time — partitions() emits one task per
    surviving file only — and the unpruned read equals read_table."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        ensure_partitioned_exercise,
        read_manifest,
        resolve_files,
    )
    from morphl_model_user_search_intent_spark.sources.pysource import (
        _AcidTableReader,
    )

    root = ensure_partitioned_exercise(spark, SF_DIR)
    m = read_manifest(root)
    all_parts = _AcidTableReader(root, None, {}).partitions()
    assert len(all_parts) == len(m["files"])
    pruned = _AcidTableReader(
        root, None, {"o_year": "1995"}
    ).partitions()
    want = resolve_files(m, {"o_year": 1995})
    assert len(pruned) == len(want) < len(m["files"])
    assert {p.value[0] for p in pruned} == set(want)
    # time travel through the source API: version=1 pins the
    # pre-merge manifest's exact file set
    m1 = read_manifest(root, 1)
    v1_parts = _AcidTableReader(root, 1, {}).partitions()
    assert {p.value[0] for p in v1_parts} == set(m1["files"])


def test_metadata_survives_clone_restore_optimize(spark, tmp_path):
    """r8 hardening: clone and restore carry the source/target
    version's FULL manifest metadata (a dropped DV list would
    resurrect deleted rows; a dropped partition map kills pruning);
    plain optimize on a partitioned table preserves the spec by
    delegating; flat merge/append on a partitioned table refuse."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        clone_table,
        create_table_partitioned,
        delete_from_table,
        optimize_table,
        restore_table,
    )

    # DV table → clone must keep masking
    src = str(tmp_path / "src")
    base = _base(spark).limit(400)
    create_table(spark, src, base.repartition(2))
    doomed = base.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey"
    )
    n_doomed = doomed.count()
    delete_from_table(spark, src, doomed, "o_orderkey")
    dst = str(tmp_path / "clone")
    clone_table(spark, src, dst)
    got = read_table(spark, dst)
    assert got.count() == 400 - n_doomed
    assert got.filter("o_orderkey % 5 = 0").isEmpty()

    # restore to the DV version keeps the mask too
    v_del = latest_version(src)
    # commit a further (mask-clearing) optimize, then restore to v_del
    optimize_table(spark, src, target_files=1)
    restore_table(spark, src, v_del)
    rgot = read_table(spark, src)
    assert rgot.count() == 400 - n_doomed
    assert rgot.filter("o_orderkey % 5 = 0").isEmpty()

    # partitioned table: flat merge/append refuse; optimize preserves
    proot = str(tmp_path / "p")
    pb = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark, proot, pb.repartition(4), ["o_year"]
    )
    with pytest.raises(ValueError, match="partitioned"):
        merge_table(
            spark,
            proot,
            pb.limit(1).withColumn("_delete", F.lit(False)),
            "o_orderkey",
        )
    with pytest.raises(ValueError, match="partitioned"):
        append_table(spark, proot, pb.limit(1))
    n_before = read_table(spark, proot).count()
    optimize_table(spark, proot, target_files=1)
    m = read_manifest(proot)
    assert m["partition_cols"] == ["o_year"]
    assert set(m["partitions"]) == {
        os.path.basename(f) for f in m["files"]
    }
    assert read_table(spark, proot).count() == n_before
    # pruning still works post-optimize
    pruned = read_table(
        spark, proot, partition_filter={"o_year": 1995}
    )
    assert 0 < pruned.count() < n_before


def test_dv_delete_cdc_write_side_matches_reconstruction(
    spark, tmp_path
):
    """r8: a DV delete's write-side change feed (cdc=True) must equal
    the dv-sidecar-diff reconstruction — the same dual-mechanism
    contract the MERGE CDC family has."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        delete_from_table,
        read_changes,
        table_changes,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(600)
    create_table(spark, root, base.repartition(3))
    delete_from_table(
        spark,
        root,
        base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        "o_orderkey",
        cdc=True,
    )
    m = read_manifest(root)
    assert m.get("change_files")  # write-side feed committed
    cols = ["o_orderkey", "o_orderpriority", "price", "_change_type"]
    write_side = {
        tuple(r)
        for r in read_changes(spark, root, 2, "o_orderkey")
        .select(*cols)
        .collect()
    }
    recon = {
        tuple(r)
        for r in table_changes(spark, root, 2, "o_orderkey")
        .select(*cols)
        .collect()
    }
    assert write_side == recon
    assert write_side  # non-vacuous
    assert {r[-1] for r in write_side} == {"delete"}


def test_random_sequences_with_dv_and_optimize_match_model(
    spark, tmp_path
):
    """r8 model-based sequence check over the FULL op set: random
    APPEND / MERGE / DV-DELETE / OPTIMIZE commits must equal a plain
    dict model at every retained version — the interplay coverage the
    single-op exhibits can't give (e.g. a merge after a DV delete
    re-inserting a masked key, an optimize folding mid-history,
    a delete whose tombstones land on a merge's appended files).
    Every merge must remove no data file and add one sidecar holding
    one tombstone per matched current row."""
    import random

    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        delete_from_table,
        list_versions,
        merge_table,
        optimize_table,
        read_table,
    )

    import pyarrow.parquet as pq

    rng = random.Random(20260816)
    root = str(tmp_path / "t")

    def df_of(rows):
        return spark.createDataFrame(
            rows, "o_orderkey bigint, o_orderpriority string, price double"
        )

    model: dict[int, tuple[str, float]] = {
        k: (f"P{k % 5}", float(k * 10)) for k in range(0, 300, 2)
    }
    create_table(
        spark, root, df_of([(k, p, v) for k, (p, v) in model.items()])
    )
    history = {1: dict(model)}

    next_key = 1000
    # merge / delete / merge / optimize first, then random ops
    ops = ["merge", "delete", "merge", "optimize"]
    for op in ops + [
        rng.choice(["append", "merge", "delete", "optimize"])
        for _ in range(6)
    ]:
        if op == "append":
            rows = [
                (next_key + i, "NEW", float(next_key + i))
                for i in range(rng.randint(1, 20))
            ]
            next_key += 100
            v = append_table(spark, root, df_of(rows))
            for k, p, val in rows:
                model[k] = (p, val)
        elif op == "merge":
            keys = sorted(model)
            upd = rng.sample(keys, min(15, len(keys)))
            gone = rng.sample(sorted(set(keys) - set(upd)), 3)
            ins = [(next_key + i, "INS", 1.0) for i in range(4)]
            next_key += 100
            src_rows = (
                [(k, "UPD", model[k][1] + 1.0, False) for k in upd]
                + [(k, p, v2, False) for k, p, v2 in ins]
                + [(k, "DEL", 0.0, True) for k in gone]
            )
            src = spark.createDataFrame(
                src_rows,
                "o_orderkey bigint, o_orderpriority string, "
                "price double, _delete boolean",
            )
            before = read_manifest(root)
            v = merge_table(spark, root, src, "o_orderkey")
            after = read_manifest(root)
            # merge-on-read: no data file leaves the manifest, and the
            # commit's one new sidecar holds one tombstone per matched
            # current row (updated + deleted keys)
            assert set(before["files"]) <= set(after["files"])
            (side,) = set(after["dv_files"]) - set(
                before.get("dv_files", [])
            )
            assert pq.read_metadata(side).num_rows == len(upd) + len(gone)
            for k in upd:
                model[k] = ("UPD", model[k][1] + 1.0)
            for k, p, val in ins:
                model[k] = (p, val)
            for k in gone:
                del model[k]
        elif op == "delete":
            keys = sorted(model)
            dele = rng.sample(keys, min(12, len(keys)))
            v = delete_from_table(
                spark,
                root,
                spark.createDataFrame(
                    [(k,) for k in dele], "o_orderkey bigint"
                ),
                "o_orderkey",
            )
            for k in dele:
                del model[k]
        else:
            v = optimize_table(
                spark, root, target_files=rng.randint(1, 3)
            )
        history[v] = dict(model)

    for v in list_versions(root):
        got = {
            r.o_orderkey: (r.o_orderpriority, r.price)
            for r in read_table(spark, root, v).collect()
        }
        assert got == history[v], f"version {v} diverged"


def test_merge_on_read_tombstones_matched_rows_and_folds(spark, tmp_path):
    """Merge-on-read physics: a merge removes no data file and writes
    ONE sidecar holding one tombstone per matched current row (updated
    and deleted keys alike, naming only pre-existing files); OPTIMIZE
    folds the mask — dv_fraction back to 0, content and change feed
    unchanged — and maybe_fold_dv fires only once the backlog passes
    its threshold."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        dv_fraction,
        maybe_fold_dv,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.repartition(3))
    m1 = read_manifest(root)
    merge_table(spark, root, _merge_source(spark, SF_DIR), "o_orderkey")
    m2 = read_manifest(root)
    assert set(m1["files"]) < set(m2["files"])
    assert m2["metrics"]["n_removed"] == 0
    (side,) = m2["dv_files"]
    matched = base.filter(
        (F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 13 == 0)
    ).count()
    assert pq.read_metadata(side).num_rows == matched
    assert _tombstoned(m2) <= {os.path.basename(f) for f in m1["files"]}
    merged = _rowset(read_table(spark, root))

    frac = dv_fraction(root)
    assert frac > 0
    assert maybe_fold_dv(spark, root, threshold=frac) is None
    assert maybe_fold_dv(spark, root, threshold=frac / 2) == 3
    assert dv_fraction(root) == 0.0
    assert not read_manifest(root).get("dv_files")
    assert _rowset(read_table(spark, root)) == merged
    # the fold changes no row: its change feed reads the removed files
    # through the parent's mask, so masked pre-images are no change
    assert table_changes(spark, root, 3, "o_orderkey").isEmpty()


def test_row_level_writes_on_different_keys_share_one_backlog(
    spark, tmp_path
):
    """Tombstones name row positions, not keys: a delete keyed on
    o_orderpriority, then a merge and an update keyed on o_orderkey,
    stack on one live DV backlog; dropping the column the delete
    matched on, an OPTIMIZE fold and the merge commit's change feed
    all agree with a Python model of the rows at every step."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import BooleanType, StructField, StructType

    from morphl_model_user_search_intent_spark.sources.acid import (
        delete_from_table,
        drop_column,
        update_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark).filter(F.col("o_orderkey") < 400)
    create_table(spark, root, base.repartition(3))
    model = {
        r.o_orderkey: (r.o_orderpriority, r.price) for r in base.collect()
    }

    def got():
        rows = read_table(spark, root).collect()
        out = {r.o_orderkey: (r.o_orderpriority, r.price) for r in rows}
        assert len(out) == len(rows), "a key reads twice"
        return out

    assert got() == model
    delete_from_table(
        spark,
        root,
        spark.createDataFrame([("1-URGENT",)], "o_orderpriority string"),
        on="o_orderpriority",
    )
    model = {k: v for k, v in model.items() if v[0] != "1-URGENT"}
    assert got() == model

    kept = sorted(model)
    gone = sorted(set(r.o_orderkey for r in base.collect()) - set(model))
    upd, dele = kept[:3], kept[3:5]
    src = (
        [(k, "MERGED", 1.5, False) for k in upd]
        + [(k, "x", 0.0, True) for k in dele]
        + [(gone[0], "BACK", 2.5, False), (10_000_001, "NEW", 3.5, False)]
    )
    schema = StructType(
        base.schema.fields + [StructField("_delete", BooleanType())]
    )
    pre_merge = dict(model)
    v_merge = merge_table(
        spark, root, spark.createDataFrame(src, schema), "o_orderkey"
    )
    for k, pri, price, d in src:
        if d:
            model.pop(k, None)
        else:
            model[k] = (pri, price)
    post_merge = dict(model)
    assert got() == model

    # one key the merge just replaced (its live row is in an appended
    # file), one untouched key, one key nobody holds (ignored)
    ups = [(upd[0], "UPDATED", 7.0), (kept[6], "UPDATED", 8.0),
           (20_000_000, "UPDATED", 9.0)]
    update_table(
        spark, root, spark.createDataFrame(ups, base.schema), "o_orderkey"
    )
    for k, pri, price in ups:
        if k in model:
            model[k] = (pri, price)
    assert got() == model
    assert len(read_manifest(root)["dv_files"]) == 3

    drop_column(spark, root, "o_orderpriority")
    assert {
        r.o_orderkey: r.price for r in read_table(spark, root).collect()
    } == {k: v[1] for k, v in model.items()}
    optimize_table(spark, root, target_files=1)
    assert not read_manifest(root).get("dv_files")
    assert {
        r.o_orderkey: r.price for r in read_table(spark, root).collect()
    } == {k: v[1] for k, v in model.items()}

    want = set()
    for k in set(pre_merge) | set(post_merge):
        a, b = pre_merge.get(k), post_merge.get(k)
        if a == b:
            continue
        if b is None:
            want.add((k, *a, "delete"))
        elif a is None:
            want.add((k, *b, "insert"))
        else:
            want |= {(k, *a, "update_preimage"),
                     (k, *b, "update_postimage")}
    feed = table_changes(spark, root, v_merge, "o_orderkey")
    assert {
        (r.o_orderkey, r.o_orderpriority, r.price, r._change_type)
        for r in feed.collect()
    } == want


def test_merge_on_mixed_column_map_keeps_readded_column(spark, tmp_path):
    """A merge on a HETEROGENEOUS column-mapped table (a column dropped
    and re-added, so older files lack the re-added physical) appends
    rows carrying the re-added column, and reads — before and after
    OPTIMIZE re-homogenizes the files — keep its values: merged and
    appended rows show theirs, untouched old rows read NULL."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        drop_column,
    )

    root = str(tmp_path / "t")
    rows = [
        (r.o_orderkey, r.o_orderpriority, r.price)
        for r in _base(spark).limit(300).collect()
    ]
    create_table(
        spark,
        root,
        spark.createDataFrame(
            rows, "o_orderkey bigint, o_orderpriority string, price double"
        ).repartition(2),
    )
    drop_column(spark, root, "o_orderpriority")
    appended = [(k + 5_000_000, p, "NEW") for k, _, p in rows[:20]]
    append_table(
        spark,
        root,
        spark.createDataFrame(
            appended, "o_orderkey bigint, price double, o_orderpriority string"
        ),
        allow_evolution=True,
    )
    cm = read_manifest(root)["colmap"]
    assert cm["mixed"] is True
    assert _colmap_lookup(cm, "o_orderpriority") != "o_orderpriority"

    ks = sorted(k for k, _, _ in rows)
    upd, gone, re_k = ks[:5], ks[5], appended[0][0]
    src = spark.createDataFrame(
        [(k, 1.0, "MERGED", False) for k in upd]
        + [
            (re_k, 2.0, "REMERGED", False),
            (9_000_000, 3.0, "INS", False),
            (gone, 0.0, "x", True),
        ],
        "o_orderkey bigint, price double, o_orderpriority string, "
        "_delete boolean",
    )
    merge_table(spark, root, src, "o_orderkey")

    want = {k: (p, None) for k, _, p in rows}
    want.update({k: (p, "NEW") for k, p, _ in appended})
    want.update({k: (1.0, "MERGED") for k in upd})
    want.update({re_k: (2.0, "REMERGED"), 9_000_000: (3.0, "INS")})
    del want[gone]

    def got():
        df = read_table(spark, root)
        assert df.columns == ["o_orderkey", "price", "o_orderpriority"]
        return {
            r.o_orderkey: (r.price, r.o_orderpriority) for r in df.collect()
        }

    assert got() == want
    optimize_table(spark, root, target_files=1)
    assert read_manifest(root)["colmap"]["mixed"] is False
    assert got() == want


def test_drop_partition_metadata_only_and_vacuum_reclaims(
    spark, tmp_path
):
    """r8 retention contract: DROP PARTITION touches no data file,
    time travel still reads the dropped years, and vacuum finally
    reclaims exactly the dropped partitions' exclusive files."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        drop_partition,
        resolve_files,
        vacuum,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark, root, base.repartition(2, "o_orderkey"), ["o_year"]
    )
    m1 = read_manifest(root)
    n_all = base.count()
    n_dropped_rows = base.filter(
        F.col("o_year").isin(1995, 1996)
    ).count()
    dropped_files = set(resolve_files(m1, {"o_year": [1995, 1996]}))
    assert dropped_files
    drop_partition(spark, root, {"o_year": [1995, 1996]})
    m2 = read_manifest(root)
    # metadata-only: every surviving file identical, none created
    assert set(m2["files"]) == set(m1["files"]) - dropped_files
    for f in dropped_files:
        assert os.path.exists(f)  # history still owns the bytes
    assert read_table(spark, root).count() == n_all - n_dropped_rows
    assert read_table(spark, root, version=1).count() == n_all
    # vacuum past v1: the dropped partitions' files are reclaimed
    vacuum(root, keep_last=1)
    for f in dropped_files:
        assert not os.path.exists(f)
    assert read_table(spark, root).count() == n_all - n_dropped_rows


def test_overwrite_partition_atomic_swap_and_guard(spark, tmp_path):
    """r8 dynamic partition overwrite: only the target partition's
    files are replaced (others carried verbatim), time travel still
    reads the original slice, and a frame with stray rows outside the
    target partitions is rejected before any commit."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        overwrite_partition,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark, root, base.repartition(2, "o_orderkey"), ["o_year"]
    )
    m1 = read_manifest(root)
    out1995 = {
        f
        for f in m1["files"]
        if m1["partitions"][os.path.basename(f)]["o_year"] != 1995
    }
    restated = base.filter(F.col("o_year") == 1995).select(
        "o_orderkey",
        F.lit("RESTATED").alias("o_orderpriority"),
        (F.col("price") * 2).alias("price"),
        "o_year",
    )
    overwrite_partition(spark, root, restated, {"o_year": 1995})
    m2 = read_manifest(root)
    assert out1995 <= set(m2["files"])  # untouched carried verbatim
    assert not (
        (set(m1["files"]) - out1995) & set(m2["files"])
    )  # 1995 files all replaced
    got = read_table(spark, root, partition_filter={"o_year": 1995})
    assert {r[0] for r in got.select("o_orderpriority").distinct().collect()} == {
        "RESTATED"
    }
    # time travel: original slice intact
    old = read_table(spark, root, version=1).filter("o_year = 1995")
    assert "RESTATED" not in {
        r[0] for r in old.select("o_orderpriority").distinct().collect()
    }
    # guard: stray rows outside the target partitions refuse pre-commit
    v_before = latest_version(root)
    with pytest.raises(ValueError, match="outside"):
        overwrite_partition(
            spark, root, base.limit(50), {"o_year": 1995}
        )
    assert latest_version(root) == v_before


def test_zorder_within_partition_funnel_and_carry(spark, tmp_path):
    """r8: Z-ordering ONE partition leaves every other partition's
    files verbatim, installs two-column zones on the clustered files,
    and the composed scan prunes partition → zone → residual as a
    strict funnel."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        optimize_table_zorder_partitioned,
        resolve_files,
        scan,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark, root, base.repartition(4, "o_orderkey"), ["o_year"]
    )
    m1 = read_manifest(root)
    other = {
        f
        for f in m1["files"]
        if m1["partitions"][os.path.basename(f)]["o_year"] != 1995
    }
    optimize_table_zorder_partitioned(
        spark, root, ["o_orderkey", "o_custkey"], {"o_year": 1995},
        target_files=8,
    )
    m2 = read_manifest(root)
    assert other <= set(m2["files"])  # carried verbatim
    new = set(m2["files"]) - set(m1["files"])
    assert new
    for f in new:
        b = os.path.basename(f)
        assert m2["partitions"][b] == {"o_year": 1995}
        assert set(m2["stats"][b]["cols"]) == {
            "o_orderkey", "o_custkey",
        }
    mk, mc = base.agg(
        F.max("o_orderkey"), F.max("o_custkey")
    ).collect()[0]
    pf = {"o_year": 1995}
    rg = {
        "o_orderkey": (0.2 * mk, 0.3 * mk),
        "o_custkey": (0.4 * mc, 0.6 * mc),
    }
    n_part = len(resolve_files(m2, pf))
    got = scan(spark, root, partition_filter=pf, ranges=rg)
    n_zone = len([f for f in got.inputFiles() if "/data/" in f])
    assert n_zone < n_part < len(m2["files"])
    want = base.filter(
        (F.col("o_year") == 1995)
        & F.col("o_orderkey").between(0.2 * mk, 0.3 * mk)
        & F.col("o_custkey").between(0.4 * mc, 0.6 * mc)
    )
    assert {
        (r.o_orderkey, r.o_custkey) for r in got.collect()
    } == {(r.o_orderkey, r.o_custkey) for r in want.collect()}


def test_dv_delete_partition_scoped(spark, tmp_path):
    """r8: a partition-scoped DV delete removes matching keys ONLY in
    the selected partitions (same keys elsewhere survive), and its
    match scan reads only the pruned files."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        delete_from_table,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark, root, base.repartition(2, "o_orderkey"), ["o_year"]
    )
    doomed = base.filter(F.col("o_orderkey") % 9 == 0).select(
        "o_orderkey"
    )
    delete_from_table(
        spark,
        root,
        doomed,
        "o_orderkey",
        partition_filter={"o_year": 1995},
    )
    got = read_table(spark, root)
    # 1995: the %9 keys are gone; other years: fully intact
    assert got.filter(
        (F.col("o_year") == 1995) & (F.col("o_orderkey") % 9 == 0)
    ).isEmpty()
    want_other = base.filter(F.col("o_year") != 1995).count()
    assert (
        got.filter(F.col("o_year") != 1995).count() == want_other
    )


# ---- round 9: ADVICE fixes -------------------------------------------


def _evolved_table(spark, tmp_path):
    """v1 = pre-1998 orders partitioned by (o_year); v2 = spec evolved
    to (o_year, o_orderpriority); v3 = the 1998 tail appended under
    the new spec.  Old-spec files record NO o_orderpriority value."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        create_table_partitioned,
        evolve_partition_spec,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark,
        root,
        base.filter(F.col("o_year") != 1998).repartition(2),
        partition_cols=["o_year"],
    )
    evolve_partition_spec(root, ["o_year", "o_orderpriority"])
    append_table_partitioned(
        spark, root, base.filter(F.col("o_year") == 1998)
    )
    return root, base


def test_drop_partition_refuses_uncovered_pre_evolution_files(
    spark, tmp_path
):
    """r9 ADVICE fix (high): dropping on a column added by partition
    evolution must NOT silently drop pre-evolution files (they record
    no value for that column and hold rows of every partition).  The
    op raises, the table is untouched; a drop on a column every file
    records still works; after OPTIMIZE rewrites everything under the
    current spec, the evolved-column drop succeeds and is exact."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        drop_partition,
        optimize_table,
    )

    root, base = _evolved_table(spark, tmp_path)
    n_all = base.count()
    v = latest_version(root)
    with pytest.raises(ValueError, match="predate"):
        drop_partition(spark, root, {"o_orderpriority": "1-URGENT"})
    assert latest_version(root) == v  # nothing committed
    assert read_table(spark, root).count() == n_all
    # a filter every file covers still drops exactly
    drop_partition(spark, root, {"o_year": 1992})
    want = base.filter(F.col("o_year") != 1992)
    assert read_table(spark, root).count() == want.count()
    # OPTIMIZE rewrites under the CURRENT spec -> evolved-column drop
    # becomes metadata-safe and exact
    optimize_table(spark, root)
    drop_partition(spark, root, {"o_orderpriority": "1-URGENT"})
    want2 = want.filter(F.col("o_orderpriority") != "1-URGENT")
    assert (
        _rowset(read_table(spark, root).drop("o_year"))
        == _rowset(want2.drop("o_year"))
    )


def test_overwrite_partition_refuses_uncovered_pre_evolution_files(
    spark, tmp_path
):
    """r9 ADVICE fix (high): overwriting on an evolved-spec column
    must not destroy pre-evolution files (their rows belong to
    arbitrary other partitions).  Raises pre-commit; a same-spec
    overwrite on the covered column stays exact."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        overwrite_partition,
    )

    root, base = _evolved_table(spark, tmp_path)
    n_all = base.count()
    restated = (
        base.filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("price", F.col("price") * 2)
    )
    v = latest_version(root)
    with pytest.raises(ValueError, match="predate"):
        overwrite_partition(
            spark, root, restated, {"o_orderpriority": "1-URGENT"}
        )
    assert latest_version(root) == v
    assert read_table(spark, root).count() == n_all
    # overwrite on the universally-covered column is unaffected
    r98 = base.filter(F.col("o_year") == 1998).withColumn(
        "price", F.lit(1.0)
    )
    overwrite_partition(spark, root, r98, {"o_year": 1998})
    got = read_table(spark, root, partition_filter={"o_year": 1998})
    assert {r.price for r in got.select("price").distinct().collect()} == {1.0}
    assert read_table(spark, root).count() == n_all


def test_string_partition_values_record_as_strings(spark, tmp_path):
    """r9 ADVICE fix (medium): a STRING partition column with
    numeric-looking values ('007', '1995', '1e3') must be recorded as
    strings in the manifest — guess-coercion ('007' -> 7) makes
    resolve_files prune the file against the caller's string filter
    and silently lose its rows."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        resolve_files,
    )

    rows = [
        ("007", 1), ("007", 2), ("1995", 3), ("1e3", 4), ("plain", 5),
    ]
    df = spark.createDataFrame(rows, ["bucket", "v"])
    root = str(tmp_path / "t")
    create_table_partitioned(spark, root, df, ["bucket"])
    m = read_manifest(root)
    recorded = {v["bucket"] for v in m["partitions"].values()}
    assert recorded == {"007", "1995", "1e3", "plain"}
    for want, n in [("007", 2), ("1995", 1), ("1e3", 1)]:
        got = read_table(
            spark, root, partition_filter={"bucket": want}
        )
        assert got.count() == n, want
        kept = resolve_files(m, {"bucket": want})
        assert len(kept) < len(m["files"])  # pruning still fires
    # a type-mismatched filter (int for a string column) must keep
    # the file (string-form tiebreak): false keep, never false prune
    assert read_table(
        spark, root, partition_filter={"bucket": "1995"}
    ).count() == 1


def test_rewrites_retire_inert_dv_entries(spark, tmp_path):
    """r9 ADVICE fix (medium): OPTIMIZE on a partitioned table must
    retire DV entries whose tombstoned files were rewritten — a
    verbatim carry keeps dv_fraction pinned above the fold threshold
    so maybe_fold_dv re-triggers a full rewrite after every batch.
    Partial optimize keeps only the untouched partitions' tombstones
    live; full optimize clears the list."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        delete_from_table,
        dv_fraction,
        maybe_fold_dv,
        optimize_table_partitioned,
    )

    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    ).filter(F.col("o_year").isin(1995, 1996))
    root = str(tmp_path / "t")
    create_table_partitioned(
        spark, root, base.repartition(2, "o_orderkey"), ["o_year"]
    )
    doomed = base.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey"
    )
    delete_from_table(spark, root, doomed, on="o_orderkey")
    m = read_manifest(root)
    assert m.get("dv_files")
    want = base.join(doomed, "o_orderkey", "anti")
    # partial optimize (1995 only): 1996 tombstones stay live
    optimize_table_partitioned(spark, root, {"o_year": 1995})
    m2 = read_manifest(root)
    assert m2.get("dv_files")  # 1996 backlog still masked
    assert (
        _rowset(read_table(spark, root).drop("o_year"))
        == _rowset(want.drop("o_year"))
    )
    import pyarrow.parquet as pq

    live_bases = {os.path.basename(f) for f in m2["files"]}
    for d in m2["dv_files"]:
        masked = set(pq.read_table(d).column("_file").to_pylist())
        assert masked <= live_bases  # no inert entry carried
    # the full fold: the whole backlog folds, list clears
    maybe_fold_dv(spark, root, threshold=0.0)
    m3 = read_manifest(root)
    assert not m3.get("dv_files")
    assert dv_fraction(root) == 0.0
    assert maybe_fold_dv(spark, root) is None  # policy converges
    assert (
        _rowset(read_table(spark, root).drop("o_year"))
        == _rowset(want.drop("o_year"))
    )


def test_acid_table_source_residual_filter_post_evolution(
    spark, tmp_path
):
    """r9 ADVICE fix (medium): the acid_table batch source keeps
    pre-evolution files under an evolved-column filter (correct), but
    read() must then apply the filter as a residual ROW predicate —
    matching read_table exactly, no stray rows from other
    partitions."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.pysource import (
        AcidTableSource,
    )

    root, base = _evolved_table(spark, tmp_path)
    try:
        spark.dataSource.register(AcidTableSource)
    except Exception:
        pass
    got = (
        spark.read.format("acid_table")
        .option("root", root)
        .option("partition.o_orderpriority", "1-URGENT")
        .load()
    )
    want = base.filter(F.col("o_orderpriority") == "1-URGENT")
    assert (
        _rowset(got.drop("o_year")) == _rowset(want.drop("o_year"))
    )


def test_acid_table_source_masks_before_residual_filter(spark, tmp_path):
    """A tombstone names a row's position in the RAW file, so the
    acid_table source must drop tombstoned positions before its
    residual row filter: masking after the filter would read shifted
    positions.  A flat table with a DV delete, then a partition spec
    evolved to o_orderpriority and partitioned rows appended, reads
    under ``partition.o_orderpriority`` exactly like read_table plus
    the same filter."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        delete_from_table,
        evolve_partition_spec,
    )
    from morphl_model_user_search_intent_spark.sources.pysource import (
        AcidTableSource,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.repartition(2))
    delete_from_table(
        spark,
        root,
        base.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    evolve_partition_spec(root, ["o_orderpriority"])
    append_table_partitioned(
        spark,
        root,
        base.limit(40).withColumn(
            "o_orderkey", F.col("o_orderkey") + 30_000_000
        ),
    )
    try:
        spark.dataSource.register(AcidTableSource)
    except Exception:
        pass
    got = (
        spark.read.format("acid_table")
        .option("root", root)
        .option("partition.o_orderpriority", "1-URGENT")
        .load()
    )
    want = read_table(spark, root).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    assert want.filter(F.col("o_orderkey") >= 30_000_000).count() > 0
    assert sorted(_rowset(got)) == sorted(_rowset(want))
    assert got.count() == want.count()


def test_indexed_manifest_resolution_equals_linear_walk(
    spark, tmp_path
):
    """r9 indexed manifest: every commit with partition values also
    serializes the partition->files index (pidx), and indexed
    resolution returns exactly the linear walk's file set for every
    filter shape — single value, IN-list, evolved (uncovered) column,
    multi-column, missing column."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        resolve_files,
    )

    root, base = _evolved_table(spark, tmp_path)
    m = read_manifest(root)
    # r10 two-level manifest: descriptors group files by recorded
    # partition-value tuple — the descriptor list IS the index
    descs = dict.get(m, "chunks")
    assert descs, "format-2 manifest expected"
    dcols = set()
    for d in descs:
        dcols.update(d["pvals"] or {})
    assert dcols == {"o_year", "o_orderpriority"}
    linear = {
        "files": m["files"],
        "partitions": m.get("partitions", {}),
    }
    for f in [
        {"o_year": 1995},
        {"o_year": [1995, 1996]},
        {"o_orderpriority": "1-URGENT"},  # old files kept (uncovered)
        {"o_year": 1998, "o_orderpriority": "1-URGENT"},
        {"o_year": "1995"},  # string-form tiebreak: never lossy
        {"nonexistent": 1},
    ]:
        got = resolve_files(m, f)
        want = resolve_files(linear, f)
        assert sorted(got) == sorted(want), f
    # chunk resolution never hydrates the full list: a one-partition
    # filter on a FRESH manifest object loads only matching chunks
    m2 = read_manifest(root)
    sub = resolve_files(m2, {"o_year": 1995})
    assert len(sub) < len(m["files"])
    assert len(m2._chunk_cache) < len(descs)


def test_rename_column_metadata_only_time_travel_and_pruning(
    spark, tmp_path
):
    """r9 column mapping: RENAME rewrites zero data files, time
    travel returns each version's own logical names, partition
    pruning fires on the renamed partition column, and writes after
    the rename land under the stable physical names."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        create_table_partitioned,
        rename_column,
        resolve_files,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark,
        root,
        base.filter(F.col("o_year") != 1998).repartition(2),
        partition_cols=["o_year"],
    )
    m1 = read_manifest(root)
    rename_column(spark, root, "price", "amount")
    rename_column(spark, root, "o_year", "order_year")
    m3 = read_manifest(root)
    assert m3["files"] == m1["files"]  # metadata-only, twice
    # current read: new names; time travel: original names
    assert set(read_table(spark, root).columns) == {
        "o_orderkey", "o_orderpriority", "amount", "order_year",
    }
    assert set(read_table(spark, root, version=1).columns) == {
        "o_orderkey", "o_orderpriority", "price", "o_year",
    }
    # pruning fires on the RENAMED partition column
    from morphl_model_user_search_intent_spark.sources.acid import (
        _filter_to_physical,
    )

    pruned = resolve_files(
        m3, _filter_to_physical(m3["colmap"], {"order_year": 1995})
    )
    assert 0 < len(pruned) < len(m3["files"])
    got = read_table(
        spark, root, partition_filter={"order_year": 1995}
    )
    want = base.filter(F.col("o_year") == 1995)
    assert got.count() == want.count()
    # append under the new logical names, then read both vintages
    append_table_partitioned(
        spark,
        root,
        base.filter(F.col("o_year") == 1998).select(
            "o_orderkey",
            "o_orderpriority",
            F.col("price").alias("amount"),
            F.col("o_year").alias("order_year"),
        ),
    )
    assert read_table(spark, root).count() == base.count()
    assert (
        read_table(spark, root)
        .filter(F.col("amount").isNull())
        .count()
        == 0
    )


def test_rename_refused_when_constraint_references_column(
    spark, tmp_path
):
    """r9: renaming a column a CHECK constraint references is refused
    (the predicate text would silently stop binding)."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        add_constraint,
        create_table,
        rename_column,
    )

    root = str(tmp_path / "t")
    create_table(spark, root, _base(spark).limit(100))
    add_constraint(root, "pos_price", "price >= 0")
    with pytest.raises(ValueError, match="constraint"):
        rename_column(spark, root, "price", "amount")
    rename_column(spark, root, "o_orderpriority", "prio")  # unaffected


def test_drop_column_never_resurrects_and_guards(spark, tmp_path):
    """r9 column mapping: DROP hides the column from every snapshot
    read from that version on (files untouched), a same-name re-add
    reads NULL for all pre-drop rows (fresh physical name), and the
    guards refuse dropping a partition column and the last column; the
    column a live DV delete matched on drops like any other."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        create_table,
        create_table_partitioned,
        delete_from_table,
        drop_column,
    )

    root = str(tmp_path / "t")
    df = _base(spark).filter(F.col("o_orderkey") % 2 == 0)
    create_table(spark, root, df)
    m1 = read_manifest(root)
    drop_column(spark, root, "o_orderpriority")
    m2 = read_manifest(root)
    assert m2["files"] == m1["files"]  # metadata-only
    assert set(read_table(spark, root).columns) == {
        "o_orderkey", "price",
    }
    # re-add the NAME with new content: fresh physical, no resurrect
    append_table(
        spark,
        root,
        df.limit(50).select(
            (F.col("o_orderkey") + 30000000).alias("o_orderkey"),
            "price",
            F.lit("READDED").alias("o_orderpriority"),
        ),
        allow_evolution=True,
    )
    got = read_table(spark, root)
    old = got.filter(F.col("o_orderkey") < 30000000)
    assert old.filter(F.col("o_orderpriority").isNotNull()).count() == 0
    new = got.filter(F.col("o_orderkey") >= 30000000)
    assert new.filter(
        F.col("o_orderpriority") == "READDED"
    ).count() == new.count() == 50
    # physical names diverge: retired vs fresh id-suffixed
    cmap = read_manifest(root)["colmap"]
    entry = [e for e in cmap["cols"] if e["name"] == "o_orderpriority"]
    assert entry and entry[0]["physical"] != "o_orderpriority"
    assert "o_orderpriority" in cmap["retired"]
    # heterogeneity flag: False until the re-add, True after — and a
    # map MISSING the key must be treated as mixed (pre-flag staged
    # manifests; the sf0.1 sweep caught a fast-path regression here)
    assert cmap.get("mixed", True) is True
    assert read_manifest(root, 2)["colmap"]["mixed"] is False
    # guards
    with pytest.raises(ValueError, match="only column"):
        r2 = str(tmp_path / "one")
        create_table(spark, r2, df.select("o_orderkey"))
        drop_column(spark, r2, "o_orderkey")
    r3 = str(tmp_path / "part")
    create_table_partitioned(
        spark,
        r3,
        df.withColumn("bucket", F.col("o_orderkey") % 3),
        ["bucket"],
    )
    with pytest.raises(ValueError, match="partition column"):
        drop_column(spark, r3, "bucket")
    # a live DV backlog names row positions, so the column the delete
    # matched on drops like any other and the mask still holds
    r4 = str(tmp_path / "dv")
    create_table(spark, r4, df)
    delete_from_table(
        spark,
        r4,
        df.limit(10).select("o_orderkey"),
        on="o_orderkey",
    )
    want = sorted(r.price for r in read_table(spark, r4).collect())
    drop_column(spark, r4, "o_orderkey")
    assert read_table(spark, r4).columns == ["o_orderpriority", "price"]
    assert sorted(r.price for r in read_table(spark, r4).collect()) == want


def test_mapped_table_merge_delete_restore_clone(spark, tmp_path):
    """r9 column mapping composes with the rest of the table layer:
    MERGE and DV DELETE on a renamed table (logical source / key),
    RESTORE across the rename resurrects the old logical schema, and
    a shallow clone carries the map."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        clone_table,
        create_table,
        delete_from_table,
        merge_table,
        rename_column,
        restore_table,
    )

    root = str(tmp_path / "t")
    df = _base(spark)
    create_table(spark, root, df)
    rename_column(spark, root, "price", "amount")
    # MERGE with a LOGICAL-schema source
    src = (
        df.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.col("price") * 2).alias("amount"),
        )
        .withColumn("_delete", F.col("o_orderkey") % 14 == 0)
    )
    merge_table(spark, root, src, on="o_orderkey")
    got = read_table(spark, root)
    n_del = df.filter(F.col("o_orderkey") % 14 == 0).count()
    assert got.count() == df.count() - n_del
    doubled = got.filter(F.col("o_orderkey") % 7 == 0)
    ref = df.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 14 != 0)
    )
    assert abs(
        doubled.agg(F.sum("amount")).collect()[0][0]
        - 2 * ref.agg(F.sum("price")).collect()[0][0]
    ) < 1e-6
    # DV DELETE with the logical key name
    delete_from_table(
        spark,
        root,
        got.filter(F.col("o_orderkey") % 11 == 0).select("o_orderkey"),
        on="o_orderkey",
    )
    after = read_table(spark, root)
    assert after.filter(F.col("o_orderkey") % 11 == 0).count() == 0
    # RESTORE to v1: original names, original content
    restore_table(spark, root, 1)
    r = read_table(spark, root)
    assert set(r.columns) == {"o_orderkey", "o_orderpriority", "price"}
    assert r.count() == df.count()
    # clone from the renamed version carries the colmap
    dst = str(tmp_path / "c")
    clone_table(spark, root, dst, version=2)
    assert set(read_table(spark, dst).columns) == {
        "o_orderkey", "o_orderpriority", "amount",
    }


def test_acid_table_source_serves_logical_schema_on_mapped_table(
    spark, tmp_path
):
    """r9: the acid_table batch source serves a column-mapped table
    under its LOGICAL schema — renamed names, dropped column hidden,
    pre-drop rows NULL for a re-added column, filters on the renamed
    partition column translated and exact."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        rename_column,
    )
    from morphl_model_user_search_intent_spark.sources.pysource import (
        AcidTableSource,
    )

    root, base = _evolved_table(spark, tmp_path)
    rename_column(spark, root, "price", "amount")
    rename_column(spark, root, "o_year", "order_year")
    try:
        spark.dataSource.register(AcidTableSource)
    except Exception:
        pass
    got = (
        spark.read.format("acid_table")
        .option("root", root)
        .option("partition.order_year", "1995")
        .load()
    )
    assert set(got.columns) == {
        "o_orderkey", "o_orderpriority", "amount", "order_year",
    }
    want = base.filter(F.col("o_year") == 1995)
    assert got.count() == want.count()
    assert (
        abs(
            got.agg(F.sum("amount")).collect()[0][0]
            - want.agg(F.sum("price")).collect()[0][0]
        )
        < 1e-4
    )


def test_constraints_version_travel_restore_and_clone(spark, tmp_path):
    """r9 versioned constraints: ADD/DROP CONSTRAINT are manifest
    commits, so the governing rule set is the VERSION's — writing
    through a restored v_n is checked against v_n's constraints (a
    later, stricter rule does not silently govern the restored
    table), and a clone carries the source's set."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        ConstraintViolation,
        add_constraint,
        append_table,
        clone_table,
        drop_constraint,
        restore_table,
        table_constraints,
        create_table,
    )

    root = str(tmp_path / "t")
    df = _base(spark).limit(200)
    create_table(spark, root, df)  # v1: no constraints
    v2 = add_constraint(root, "pos", "price >= 0")
    assert v2 == 2 and table_constraints(root) == {"pos": "price >= 0"}
    assert table_constraints(root, version=1) == {}
    # the constraint binds writes now
    bad = df.limit(5).withColumn("price", F.lit(-1.0))
    with pytest.raises(ConstraintViolation):
        append_table(spark, root, bad)
    # v3: stricter rule; v4: restore v2 -> governed by v2's set again
    add_constraint(root, "big", "price >= 1000")
    with pytest.raises(ConstraintViolation):
        append_table(
            spark, root, df.limit(5).withColumn("price", F.lit(5.0))
        )
    restore_table(spark, root, 2)
    append_table(
        spark, root, df.limit(5).withColumn("price", F.lit(5.0))
    )  # allowed: 'big' is gone with the restore
    with pytest.raises(ConstraintViolation):
        append_table(spark, root, bad)  # 'pos' still governs
    # history kept every state
    assert set(table_constraints(root, version=3)) == {"pos", "big"}
    # drop is a commit too
    drop_constraint(root, "pos")
    append_table(spark, root, bad)  # now legal
    # clone carries the SOURCE VERSION's constraint set
    dst = str(tmp_path / "c")
    clone_table(spark, root, dst, version=3)
    assert set(table_constraints(dst)) == {"pos", "big"}


def test_update_mor_is_o_batch_and_folds(spark, tmp_path):
    """r9 MoR UPDATE: one commit = tombstones + post-image appends,
    ZERO pre-existing data files rewritten; masked read shows exactly
    the post-images; OPTIMIZE folds the backlog with content intact;
    a duplicate-key batch is refused; unmatched keys are ignored
    (SQL UPDATE, not upsert)."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table,
        dv_fraction,
        optimize_table,
        update_table,
    )

    root = str(tmp_path / "t")
    df = _base(spark)
    create_table(spark, root, df.repartition(4, "o_orderkey"))
    m1 = read_manifest(root)
    upd = df.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("TOUCHED").alias("o_orderpriority"),
        (F.col("price") * 2).alias("price"),
    )
    # unmatched keys ignored: shift half the batch out of range
    ghost = upd.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 90000000
    )
    update_table(
        spark, root, upd.unionByName(ghost), on="o_orderkey"
    )
    m2 = read_manifest(root)
    assert set(m1["files"]) <= set(m2["files"])  # nothing rewritten
    assert m2.get("dv_files")
    got = read_table(spark, root)
    assert got.count() == df.count()  # update, not insert
    assert (
        got.filter(F.col("o_orderkey") >= 90000000).count() == 0
    )
    touched = got.filter(F.col("o_orderkey") % 7 == 0)
    assert {
        r[0]
        for r in touched.select("o_orderpriority").distinct().collect()
    } == {"TOUCHED"}
    want = _rowset(
        df.withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 7 == 0, "TOUCHED"
            ).otherwise(F.col("o_orderpriority")),
        ).withColumn(
            "price",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("price") * 2
            ).otherwise(F.col("price")),
        )
    )
    assert _rowset(got) == want
    # duplicate post-image refused
    with pytest.raises(ValueError, match="duplicate key"):
        update_table(
            spark, root, upd.unionByName(upd), on="o_orderkey"
        )
    # fold clears the mask, content intact
    optimize_table(spark, root)
    assert not read_manifest(root).get("dv_files")
    assert dv_fraction(root) == 0.0
    assert _rowset(read_table(spark, root)) == want


def test_hidden_partitioning_prunes_on_raw_predicates(
    spark, tmp_path
):
    """r9 hidden partitioning: layout = year(o_orderdate) x
    bucket(o_orderkey, 8) with neither as a data column; raw-column
    predicates prune through the transform spec (date range -> year
    values, key IN-list -> buckets), planning-side and write-side
    transform evaluation agree on real data, appends route through
    the transforms, and results are exact."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        _derive_hidden_filters,
        append_table_partitioned,
        create_table_transformed,
        resolve_files,
        scan,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table_transformed(
        spark,
        root,
        base.filter(F.year("o_orderdate") != 1998).repartition(2),
        transforms=[
            {"name": "o_year", "src": "o_orderdate", "kind": "year"},
            {
                "name": "key_bucket",
                "src": "o_orderkey",
                "kind": "bucket",
                "param": 8,
            },
        ],
    )
    m = read_manifest(root)
    # the data schema carries ONLY raw columns
    assert set(read_table(spark, root).columns) == {
        "o_orderkey", "o_orderdate", "price",
    }
    # recorded values = transform of the rows (write side == spec)
    for b, vals in m["partitions"].items():
        assert set(vals) == {"o_year", "key_bucket"}
        assert 1995 <= vals["o_year"] <= 2001 and vals["o_year"] != 1998
        assert 0 <= vals["key_bucket"] < 8
    # date-range predicate prunes years; bucket axis intact
    pf, hidden = _derive_hidden_filters(
        m, None, {"o_orderdate": ("1995-02-01", "1996-11-15")}
    )
    assert pf == {"o_year": [1995, 1996]} and hidden == {"o_year"}
    kept = resolve_files(m, pf)
    assert 0 < len(kept) < len(m["files"]) / 2
    # key IN-list routes to its buckets
    keys = [3, 11, 19, 1027]
    pf2, _ = _derive_hidden_filters(m, {"o_orderkey": keys}, None)
    assert pf2["key_bucket"] == [3]
    kept2 = resolve_files(m, pf2)
    assert len(kept2) <= len(m["files"]) / 4  # 1-of-8 buckets
    # exactness end-to-end on both axes
    got = scan(
        spark,
        root,
        partition_filter={"o_orderkey": keys},
        ranges={"o_orderdate": ("1995-02-01", "1996-11-15")},
    )
    want = base.filter(
        F.col("o_orderkey").isin(keys)
        & F.col("o_orderdate").between("1995-02-01", "1996-11-15")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # appends route through the transforms
    append_table_partitioned(
        spark, root, base.filter(F.year("o_orderdate") == 1998)
    )
    m2 = read_manifest(root)
    new = set(m2["files"]) - set(m["files"])
    assert new
    for f in new:
        assert m2["partitions"][os.path.basename(f)]["o_year"] == 1998
    assert read_table(spark, root).count() == base.count()


def test_time_travel_by_timestamp(spark, tmp_path):
    """r9 TIMESTAMP AS OF: the resolver picks the latest version
    committed at-or-before the asked wall-clock instant, boundary
    conditions included (exactly-at, between commits, before-create
    raises)."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        create_table,
        read_table_as_of,
        version_as_of,
    )

    root = str(tmp_path / "t")
    df = _base(spark).limit(300)
    create_table(spark, root, df.limit(100))
    append_table(spark, root, df.limit(200).subtract(df.limit(100)))
    append_table(spark, root, df.subtract(df.limit(200)))
    ts = {v: read_manifest(root, v)["ts"] for v in (1, 2, 3)}
    assert version_as_of(root, ts[1]) == 1  # exactly-at boundary
    assert version_as_of(root, (ts[1] + ts[2]) / 2) == 1
    assert version_as_of(root, ts[2]) == 2
    assert version_as_of(root, ts[3] + 3600) == 3
    with pytest.raises(ValueError, match="no version"):
        version_as_of(root, ts[1] - 1)
    assert read_table_as_of(spark, root, ts[2]).count() == 200
    assert read_table_as_of(spark, root, ts[3]).count() == 300


def test_review_fixes_destructive_tiebreak_clone_transforms_nulls(
    spark, tmp_path
):
    """r9 review fixes: (a) type-mismatched filters select partitions
    for destructive ops via the string-form tiebreak (no silent no-op
    / duplication); (b) a clone of a hidden-partitioned table carries
    the transform spec; (c) add_constraint refuses predicates on
    renamed columns; (d) substring collisions don't block unrelated
    renames; (e) NULL partition values survive the typed dir-value
    parse."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        add_constraint,
        append_table_partitioned,
        clone_table,
        create_table,
        create_table_partitioned,
        create_table_transformed,
        drop_partition,
        rename_column,
        scan,
    )

    # (a) string partition column, int filter: drop still selects
    rows = [("1995", i) for i in range(6)] + [("x", 9)]
    df = spark.createDataFrame(rows, ["bucket", "v"])
    r1 = str(tmp_path / "a")
    create_table_partitioned(spark, r1, df, ["bucket"])
    drop_partition(spark, r1, {"bucket": 1995})  # int vs recorded str
    assert read_table(spark, r1).count() == 1
    # (b) clone carries transforms
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    r2 = str(tmp_path / "b")
    create_table_transformed(
        spark,
        r2,
        base.filter(F.year("o_orderdate") != 1998),
        transforms=[
            {"name": "o_year", "src": "o_orderdate", "kind": "year"}
        ],
    )
    r2c = str(tmp_path / "bc")
    clone_table(spark, r2, r2c)
    assert read_manifest(r2c).get("transforms")
    append_table_partitioned(
        spark, r2c, base.filter(F.year("o_orderdate") == 1998)
    )  # would crash without the spec (no o_year data column)
    got = scan(
        spark, r2c, ranges={"o_orderdate": ("1998-01-01", "1998-12-31")}
    )
    want = base.filter(F.year("o_orderdate") == 1998)
    assert got.count() == want.count()
    # (c)+(d) constraint/rename interactions
    r3 = str(tmp_path / "c")
    create_table(spark, r3, _base(spark).limit(50))
    rename_column(spark, r3, "price", "amount")
    with pytest.raises(ValueError, match="RENAMED"):
        add_constraint(r3, "pos", "amount >= 0")
    add_constraint(r3, "key_pos", "o_orderkey >= 0")  # unrenamed: fine
    # substring collision must NOT block: constraint names o_orderkey,
    # renaming 'o_order' -> no such col; rename o_orderpriority works
    rename_column(spark, r3, "o_orderpriority", "prio")
    # (e) NULL partition value round-trips as the hive sentinel string
    r4 = str(tmp_path / "d")
    df4 = spark.createDataFrame(
        [(1, 10), (None, 20), (2, 30)], "day int, v int"
    )
    create_table_partitioned(spark, r4, df4, ["day"])
    m4 = read_manifest(r4)
    vals = {v["day"] for v in m4["partitions"].values()}
    assert "__HIVE_DEFAULT_PARTITION__" in vals
    assert read_table(spark, r4).count() == 3
    # pruning on day=1 keeps only its file + never the null file
    assert read_table(
        spark, r4, partition_filter={"day": 1}
    ).count() == 1


def test_review2_partition_scoped_delete_and_hidden_residuals(
    spark, tmp_path
):
    """r9 second review pass: (a) a partition-scoped DV delete on a
    table with pre-evolution (unrecorded) files tombstones ONLY rows
    inside the requested partition; (b) scan/read_table on a hidden-
    partitioned table stay exact when flat-written files (no recorded
    values — a MoR update's post-images) join the manifest, and
    read_table accepts a hidden-name filter; (c) an invalid UNMATCHED
    row does not abort a MoR update."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        add_constraint,
        create_table,
        create_table_transformed,
        delete_from_table,
        evolve_partition_spec,
        scan,
        update_table,
    )

    # (a) flat create (files record NOTHING), evolve to (o_year),
    # partition-scoped delete of key K at 1995 only
    root = str(tmp_path / "a")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table(spark, root, base)
    evolve_partition_spec(root, ["o_year"])
    doomed = base.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey"
    )
    n_target = base.join(doomed, "o_orderkey", "semi").filter(
        F.col("o_year") == 1995
    ).count()
    n_other = base.join(doomed, "o_orderkey", "semi").filter(
        F.col("o_year") != 1995
    ).count()
    assert n_target and n_other  # keys exist on both sides
    delete_from_table(
        spark,
        root,
        doomed,
        on="o_orderkey",
        partition_filter={"o_year": 1995},
    )
    got = read_table(spark, root)
    kept_keys = got.join(doomed, "o_orderkey", "semi")
    assert kept_keys.filter(F.col("o_year") == 1995).count() == 0
    assert kept_keys.count() == n_other  # out-of-scope rows SURVIVE

    # (b) hidden-partitioned table + MoR update (flat post-images)
    r2 = str(tmp_path / "b")
    b2 = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table_transformed(
        spark,
        r2,
        b2,
        transforms=[
            {"name": "o_year", "src": "o_orderdate", "kind": "year"}
        ],
    )
    upd = b2.filter(F.col("o_orderkey") % 9 == 0).withColumn(
        "price", F.col("price") * 3
    )
    update_table(spark, r2, upd, on="o_orderkey")
    want95 = b2.filter(F.year("o_orderdate") == 1995).withColumn(
        "price",
        F.when(
            F.col("o_orderkey") % 9 == 0, F.col("price") * 3
        ).otherwise(F.col("price")),
    )
    got95 = scan(
        spark, r2, ranges={"o_orderdate": ("1995-01-01", "1995-12-31")}
    )
    assert sorted(map(tuple, got95.collect())) == sorted(
        map(tuple, want95.collect())
    )
    # hidden-name filter through read_table (residual = transform)
    got95b = read_table(spark, r2, partition_filter={"o_year": 1995})
    assert got95b.count() == want95.count()

    # (c) invalid UNMATCHED row ignored by MoR update
    r3 = str(tmp_path / "c")
    create_table(spark, r3, _base(spark).limit(100))
    add_constraint(r3, "pos", "price >= 0")
    upd3 = _base(spark).limit(10).withColumn(
        "price", F.col("price") + 1
    )
    ghost = (
        _base(spark)
        .limit(1)
        .select(
            (F.col("o_orderkey") + 99999999).alias("o_orderkey"),
            "o_orderpriority",
            F.lit(-5.0).alias("price"),
        )
    )
    update_table(spark, r3, upd3.unionByName(ghost), on="o_orderkey")
    assert (
        read_table(spark, r3).filter(F.col("price") < 0).count() == 0
    )


def test_transformed_table_full_lifecycle(spark, tmp_path):
    """r9 hidden partitioning composes with the whole table layer:
    partition-confined MERGE (candidate files derived from the
    source's TRANSFORMED tuples), partial OPTIMIZE, DROP PARTITION
    and OVERWRITE by hidden value — all routing writes through the
    transform spec and staying exact."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_transformed,
        drop_partition,
        merge_table_partitioned,
        optimize_table_partitioned,
        overwrite_partition,
        resolve_files,
    )

    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    root = str(tmp_path / "t")
    create_table_transformed(
        spark,
        root,
        base.repartition(2),
        transforms=[
            {"name": "o_year", "src": "o_orderdate", "kind": "year"}
        ],
    )
    m1 = read_manifest(root)
    # MERGE confined to 1995 (all source rows in that year)
    src = (
        base.filter(F.year("o_orderdate") == 1995)
        .filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("price", F.col("price") * 2)
        .withColumn("_delete", F.col("o_orderkey") % 21 == 0)
    )
    merge_table_partitioned(spark, root, src, on="o_orderkey")
    m2 = read_manifest(root)
    # untouched years' files carried by reference
    out95 = {
        f
        for f in m1["files"]
        if m1["partitions"][os.path.basename(f)]["o_year"] != 1995
    }
    assert out95 <= set(m2["files"])
    got = read_table(spark, root)
    n_del = base.filter(
        (F.year("o_orderdate") == 1995) & (F.col("o_orderkey") % 21 == 0)
    ).count()
    assert got.count() == base.count() - n_del
    doubled = got.filter(
        (F.year("o_orderdate") == 1995)
        & (F.col("o_orderkey") % 7 == 0)
    )
    ref = base.filter(
        (F.year("o_orderdate") == 1995)
        & (F.col("o_orderkey") % 7 == 0)
        & (F.col("o_orderkey") % 21 != 0)
    )
    assert abs(
        doubled.agg(F.sum("price")).collect()[0][0]
        - 2 * ref.agg(F.sum("price")).collect()[0][0]
    ) < 1e-4
    # partial OPTIMIZE of the touched year only
    v = optimize_table_partitioned(spark, root, {"o_year": 1995})
    m3 = read_manifest(root, v)
    assert out95 <= set(m3["files"])  # others still by reference
    assert read_table(spark, root).count() == got.count()
    # DROP PARTITION by hidden value
    n96 = read_table(spark, root).filter(
        F.year("o_orderdate") == 1996
    ).count()
    assert n96 > 0
    drop_partition(spark, root, {"o_year": 1996})
    after = read_table(spark, root)
    assert after.filter(F.year("o_orderdate") == 1996).count() == 0
    assert after.count() == got.count() - n96
    # OVERWRITE a year by hidden value (restated frame has only raw
    # columns; the stray guard evaluates the transform)
    restated = base.filter(F.year("o_orderdate") == 1997).withColumn(
        "price", F.lit(1.0)
    )
    overwrite_partition(spark, root, restated, {"o_year": 1997})
    g97 = read_table(spark, root).filter(
        F.year("o_orderdate") == 1997
    )
    assert {r.price for r in g97.select("price").distinct().collect()} == {1.0}
    # stray guard fires for out-of-partition rows
    with pytest.raises(ValueError, match="outside"):
        overwrite_partition(
            spark, root, base.limit(50), {"o_year": 1997}
        )
    # pruning still fires on the final manifest
    mf = read_manifest(root)
    kept = resolve_files(mf, {"o_year": 1995})
    assert 0 < len(kept) < len(mf["files"])


def test_full_optimize_clears_mixed_flag(spark, tmp_path):
    """r9: a full OPTIMIZE on a heterogeneous mapped table (post
    re-add) re-homogenizes the files and clears colmap['mixed'],
    restoring the single-footer read fast path — with content intact
    (old rows still NULL for the re-added column)."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        create_table,
        drop_column,
        optimize_table,
    )

    root = str(tmp_path / "t")
    df = _base(spark).limit(120)
    create_table(spark, root, df)
    drop_column(spark, root, "o_orderpriority")
    append_table(
        spark,
        root,
        df.limit(20).select(
            (F.col("o_orderkey") + 5_000_000).alias("o_orderkey"),
            "price",
            F.lit("NEW").alias("o_orderpriority"),
        ),
        allow_evolution=True,
    )
    assert read_manifest(root)["colmap"]["mixed"] is True
    before = _rowset(read_table(spark, root))
    optimize_table(spark, root)
    m = read_manifest(root)
    assert m["colmap"]["mixed"] is False
    assert _rowset(read_table(spark, root)) == before
    old = read_table(spark, root).filter(
        F.col("o_orderkey") < 5_000_000
    )
    assert old.filter(F.col("o_orderpriority").isNotNull()).count() == 0


def test_format1_manifest_migration(spark, tmp_path):
    """Round-10 format migration: a table whose latest manifest is the
    PRE-round-10 single-JSON form (inline files/partitions/pidx) stays
    fully readable — snapshot read, partition pruning, time travel —
    and the first commit on top of it migrates to the two-level form
    with identical state."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        _build_pidx,
        _manifest_path,
        append_table_partitioned,
        create_table_partitioned,
        resolve_files,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )
    create_table_partitioned(
        spark,
        root,
        base.filter(F.col("o_year") != 1998).repartition(2),
        partition_cols=["o_year"],
    )
    # rewrite v1 as a FORMAT-1 manifest (what a pre-round-10 engine
    # committed): inline files + partitions + pidx, no chunks
    m = read_manifest(root, 1)
    v1 = {
        "version": 1,
        "parent": 0,
        "op": "create",
        "ts": m["ts"],
        "files": m["files"],
        "partition_cols": ["o_year"],
        "partitions": m.get("partitions", {}),
        "pidx": _build_pidx(m["files"], m.get("partitions", {})),
    }
    os.remove(_manifest_path(root, 1))
    with open(_manifest_path(root, 1), "w") as fh:
        json.dump(v1, fh)

    def rs(df):
        return {
            (r.o_orderkey, round(r.price, 2), r.o_year)
            for r in df.collect()
        }

    # the old format reads exactly like before: full read + pruning
    old = read_manifest(root, 1)
    assert dict.get(old, "chunks") is None
    full = rs(read_table(spark, root))
    assert full == rs(base.filter(F.col("o_year") != 1998))
    pruned = resolve_files(old, {"o_year": 1995})
    assert 0 < len(pruned) < len(old["files"])
    one_year = read_table(
        spark, root, partition_filter={"o_year": 1995}
    )
    assert rs(one_year) == rs(base.filter(F.col("o_year") == 1995))

    # first delta commit on the format-1 parent MIGRATES: v2 is
    # two-level, with state = v1 files + the appended delta
    append_table_partitioned(
        spark, root, base.filter(F.col("o_year") == 1998)
    )
    m2 = read_manifest(root, 2)
    assert dict.get(m2, "chunks"), "migration commit must be format 2"
    assert set(m2["files"]) >= set(old["files"])
    assert rs(read_table(spark, root)) == rs(base)
    # pruning works on both vintages through the chunk descriptors
    assert rs(
        read_table(spark, root, partition_filter={"o_year": 1998})
    ) == rs(base.filter(F.col("o_year") == 1998))
    # time travel back to the format-1 version still serves it
    assert rs(read_table(spark, root, version=1)) == full


def test_commit_delta_rejects_stale_removal(spark, tmp_path):
    """A delta commit whose removal set references files the parent
    doesn't hold fails loudly (caller planned against a stale
    snapshot) instead of silently publishing a wrong manifest."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        commit_delta,
    )

    root = str(tmp_path / "t")
    create_table(spark, root, _base(spark))
    m = read_manifest(root)
    with pytest.raises(ValueError, match="not referenced"):
        commit_delta(
            root, m, "merge",
            removed=[os.path.join(root, "data", "nope.parquet")],
        )


def test_chunk_sharing_and_vacuum_reclaims_chunks(spark, tmp_path):
    """Carried chunks are SHARED across versions byte-for-byte (the
    O(delta) commit property), and vacuum removes exactly the chunk
    files no retained version references."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        _chunks_dir,
        append_table,
    )

    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        create_table_partitioned,
    )

    root = str(tmp_path / "t")
    basep = _base(spark).withColumn(
        "g", (F.col("o_orderkey") % 2).cast("bigint")
    )
    create_table_partitioned(spark, root, basep, partition_cols=["g"])
    m1 = read_manifest(root, 1)
    by_pv1 = {
        json.dumps(d["pvals"]): d["id"]
        for d in dict.get(m1, "chunks")
    }
    # append touching ONLY partition g=0: g=1's chunk must carry by
    # reference (identical id); g=0's tail coalesces into a new chunk.
    # Two 5-row files, so OPTIMIZE below has a small-file tail to pack
    append_table_partitioned(
        spark, root, basep.filter("g = 0").limit(10).repartition(2)
    )
    m2 = read_manifest(root, 2)
    by_pv2 = {
        json.dumps(d["pvals"]): d["id"]
        for d in dict.get(m2, "chunks")
    }
    assert by_pv2['{"g": 1}'] == by_pv1['{"g": 1}']
    assert by_pv2['{"g": 0}'] != by_pv1['{"g": 0}']
    ids1 = set(by_pv1.values())
    # optimize packs g=0's tail: g=0 gets a fresh chunk
    optimize_table(spark, root, target_files=1)
    m3 = read_manifest(root, 3)
    ids3 = {d["id"] for d in dict.get(m3, "chunks")}
    vacuum(root, keep_last=1)
    on_disk = {
        f[: -len(".json")]
        for f in os.listdir(_chunks_dir(root))
        if f.endswith(".json")
    }
    assert ids3 <= on_disk
    assert not (ids1 - ids3) & on_disk, "retired chunks must go"
    # the survivor still reads completely: every manifest file opens
    surv = read_table(spark, root)
    assert surv.count() > 0
    assert len(surv.inputFiles()) == m3["nfiles"]


def test_operation_metrics_across_lifecycle(spark, tmp_path):
    """Round-10 operationMetrics: every lifecycle commit records its
    file churn (rows too when the writer computed stats), surfaced by
    describe_history — create/append/merge/MoR-delete/optimize, and
    clone/restore record their provenance."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        clone_table,
        delete_from_table,
        describe_history,
        restore_table,
    )

    root = str(tmp_path / "t")
    create_table(spark, root, _base(spark))
    append_table(spark, root, _base(spark).limit(7))
    merge_table(spark, root, _merge_source(spark, SF_DIR),
                "o_orderkey")
    delete_from_table(
        spark, root,
        _base(spark).select("o_orderkey").limit(3),
        on="o_orderkey",
    )
    optimize_table(spark, root, target_files=1)
    hist = {
        r.op: r
        for r in describe_history(spark, root).collect()
    }
    assert hist["create"].n_added > 0
    assert hist["create"].n_removed == 0
    assert hist["append"].n_added > 0 and hist["append"].n_removed == 0
    # MoR merge: appends its upserts and removes no file
    assert hist["merge"].n_added > 0 and hist["merge"].n_removed == 0
    # MoR delete: zero file churn — the whole point
    assert hist["delete"].n_added == 0
    assert hist["delete"].n_removed == 0
    # optimize folds the DV backlog and rewrites the layout
    assert hist["optimize"].n_added >= 1
    assert hist["optimize"].n_removed == sum(
        h.n_added - h.n_removed for h in hist.values()
        if h.op != "optimize"
    )
    # versions and parents are contiguous; ts monotone non-decreasing
    vs = sorted(
        describe_history(spark, root).collect(),
        key=lambda r: r.version,
    )
    assert [r.version for r in vs] == list(range(1, 6))
    assert all(r.parent == r.version - 1 for r in vs)
    assert all(a.ts <= b.ts for a, b in zip(vs, vs[1:]))

    # clone and restore record provenance in their metrics
    dst = str(tmp_path / "c")
    clone_table(spark, root, dst)
    cm = read_manifest(dst, 1)
    assert cm["metrics"]["cloned_version"] == 5
    restore_table(spark, root, 1)
    rm = read_manifest(root, 6)
    assert rm["metrics"]["restored_version"] == 1
    assert rm["metrics"]["n_added"] == 0  # descriptors carried


def test_transform_evolution_per_vintage_pruning(spark, tmp_path):
    """Round-10 transform evolution: year→month mid-history is one
    metadata-only commit; a raw-date scan prunes the OLD vintage on
    its recorded years and the NEW vintage on its recorded months
    (finer granularity biting), and the result is exactly the plain
    filter's."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_transformed,
        append_table_partitioned,
        evolve_transform_spec,
        scan,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table_transformed(
        spark,
        root,
        base.filter(F.year("o_orderdate") != 1998).repartition(2),
        transforms=[
            {"name": "o_year", "src": "o_orderdate", "kind": "year"},
        ],
    )
    m1 = read_manifest(root, 1)
    evolve_transform_spec(
        root,
        [{"name": "o_month", "src": "o_orderdate", "kind": "month"}],
    )
    m2 = read_manifest(root, 2)
    # metadata-only: identical file set, spec + retired entry carried
    assert m2["files"] == m1["files"]
    assert m2["partition_cols"] == ["o_month"]
    assert [t["name"] for t in m2["transforms"]] == [
        "o_month", "o_year",
    ]
    append_table_partitioned(
        spark, root, base.filter(F.year("o_orderdate") == 1998)
    )
    m3 = read_manifest(root, 3)
    new_files = set(m3["files"]) - set(m2["files"])
    # new vintage records MONTH values, old vintage keeps years
    parts = m3.get("partitions", {})
    for f in new_files:
        assert set(parts[os.path.basename(f)]) == {"o_month"}
    lo, hi = "1997-09-01", "1998-03-15"
    got = scan(spark, root, ranges={"o_orderdate": (lo, hi)})
    want = base.filter(F.col("o_orderdate").between(lo, hi))
    assert got.count() == want.count()
    assert sorted(got.columns) == sorted(want.columns)
    # pruning bites on BOTH vintages: the scan lists fewer old-
    # vintage files than the table holds, and only ~3/12 months of
    # the 1998 tail
    listed = {os.path.basename(f) for f in got.inputFiles()}
    old_listed = [
        b for b in listed if set(parts.get(b, {})) == {"o_year"}
    ]
    new_listed = [
        b for b in listed if set(parts.get(b, {})) == {"o_month"}
    ]
    n_old = sum(
        1 for b in parts if set(parts[b]) == {"o_year"}
    )
    assert 0 < len(old_listed) < n_old
    assert 0 < len(new_listed) < len(new_files)
    months = {
        parts[b]["o_month"] for b in new_listed
    }
    assert months <= {199801, 199802, 199803}


def test_delta_append_coalesces_tail_chunks(spark, tmp_path):
    """Round-10 LSM tail coalescing: repeated micro-batch appends do
    NOT accrete one descriptor per commit — each append absorbs its
    partition's under-filled tail chunk, so the descriptor list stays
    ~one partial chunk per partition, and hydrated state is exact."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        create_table_partitioned,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        (F.col("o_orderkey") % 2).alias("g"),
    )
    create_table_partitioned(
        spark, root, base.filter("o_orderkey % 10 = 0"),
        partition_cols=["g"],
    )
    for i in range(1, 9):
        append_table_partitioned(
            spark, root, base.filter(f"o_orderkey % 10 = {i}")
        )
    m = read_manifest(root)
    descs = dict.get(m, "chunks")
    # 2 partitions, every chunk under-filled: coalescing keeps ~2
    # descriptors, never 2 per commit (= 18 without coalescing)
    assert len(descs) <= 4, [d["n"] for d in descs]
    assert m["nfiles"] == len(m["files"])
    got = read_table(spark, root).count()
    assert got == base.filter("o_orderkey % 10 < 9").count()


def test_review10_chunk_membership_routing(spark, tmp_path):
    """Round-10 review fixes 3+4: data files are uuid-named, so chunk
    [lo, hi] basename bounds prune nothing — stats_for and
    commit_delta's removal loop must route through the Manifest's
    exact membership map and never open a non-matching chunk."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        commit_delta,
        create_table_partitioned,
        resolve_files,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        (F.col("o_orderkey") % 4).cast("bigint").alias("g"),
    ).repartition(3)
    create_table_partitioned(
        spark, root, base, partition_cols=["g"],
        stats_cols=["o_orderkey"],
    )
    # fresh manifest object: nothing cached yet
    m = read_manifest(root)
    descs = dict.get(m, "chunks")
    g0_ids = {d["id"] for d in descs if d["pvals"] == {"g": 0}}
    assert 0 < len(g0_ids) < len(descs)
    files = resolve_files(m, {"g": 0})
    assert set(m._chunk_cache) == g0_ids, "resolution loads g=0 only"
    # stats_for on the just-resolved files: ZERO extra chunk reads
    st = m.stats_for(files)
    assert set(m._chunk_cache) == g0_ids
    assert set(st) == {os.path.basename(f) for f in files}
    assert all("rows" in s for s in st.values())
    # removal commit touches only the chunk holding the removed file
    calls: list[str] = []
    orig = m.load_chunk
    m.load_chunk = lambda d: (calls.append(d["id"]), orig(d))[1]
    commit_delta(root, m, "rm-one", removed=[files[0]])
    assert set(calls) <= g0_ids, calls
    m2 = read_manifest(root)
    assert m2["nfiles"] == m["nfiles"] - 1
    assert files[0] not in m2["files"]


def test_review10_vacuum_sweeps_orphan_chunks(spark, tmp_path):
    """Round-10 review fix 5: chunk files written by a commit that
    then failed (lost publish race) are unreferenced forever — the
    orphan_grace sweep must reclaim them without touching chunks any
    retained manifest references."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        _chunks_dir,
    )

    root = str(tmp_path / "t")
    create_table(spark, root, _base(spark))
    live = {d["id"] for d in dict.get(read_manifest(root), "chunks")}
    orphan = os.path.join(_chunks_dir(root), "c-deadbeef00.json")
    with open(orphan, "w") as fh:
        fh.write('{"files": [], "partitions": {}, "stats": {}}')
    old = os.path.getmtime(orphan) - 3600
    os.utime(orphan, (old, old))
    # plain vacuum (no grace) must NOT touch it — cheap history
    # retirement stays cheap
    vacuum(root, keep_last=1)
    assert os.path.exists(orphan)
    removed = vacuum(root, keep_last=1, orphan_grace=600)
    assert orphan in removed
    assert not os.path.exists(orphan)
    on_disk = {
        f[: -len(".json")]
        for f in os.listdir(_chunks_dir(root))
        if f.endswith(".json")
    }
    assert live <= on_disk
    assert read_table(spark, root).count() == _base(spark).count()


def test_review10_transform_name_reuse_rejected(spark, tmp_path):
    """Round-10 review fix 1 (reproduced data loss): re-using a hidden
    transform NAME with a different definition would mis-prune the old
    vintage's files — evolve_transform_spec must reject it; re-stating
    an identical definition stays a no-op carry."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_transformed,
        evolve_transform_spec,
        scan,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    year_t = {"name": "p", "src": "o_orderdate", "kind": "year"}
    create_table_transformed(
        spark, root, base.repartition(2), transforms=[year_t]
    )
    with pytest.raises(ValueError, match="already defined"):
        evolve_transform_spec(
            root,
            [{"name": "p", "src": "o_orderdate", "kind": "month"}],
        )
    # identical re-statement: allowed, metadata-only, reads unchanged
    v = evolve_transform_spec(root, [dict(year_t)])
    assert v == 2
    m2 = read_manifest(root, 2)
    assert m2["transforms"] == [year_t]
    lo, hi = "1996-03-01", "1996-09-30"
    got = scan(spark, root, ranges={"o_orderdate": (lo, hi)})
    want = base.filter(F.col("o_orderdate").between(lo, hi))
    assert got.count() == want.count()
    # a proper evolution (new name) still prunes both vintages
    v3 = evolve_transform_spec(
        root,
        [{"name": "p_m", "src": "o_orderdate", "kind": "month"}],
    )
    assert v3 == 3
    m3 = read_manifest(root, 3)
    assert [t["name"] for t in m3["transforms"]] == ["p_m", "p"]
    got3 = scan(spark, root, ranges={"o_orderdate": (lo, hi)})
    assert got3.count() == want.count()


def test_branch_wap_lifecycle(spark, tmp_path):
    """Round-10 branches/WAP: fork is metadata-only (shared chunk
    inodes), main is isolated until publish, publish is a zero-churn
    fast-forward that carries DV + schema blocks, a diverged main
    refuses it, and drop_branch reclaims only unpublished data."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        _chunks_dir,
        append_table,
        create_branch,
        delete_from_table,
        drop_branch,
        publish_branch,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.repartition(4))
    before = _rowset(read_table(spark, root))

    broot = create_branch(root, "staging")
    # fork shares chunk files BY INODE (hard link, no copy)
    m1 = read_manifest(root, 1)
    b1 = read_manifest(broot, 1)
    assert [d["id"] for d in dict.get(b1, "chunks")] == [
        d["id"] for d in dict.get(m1, "chunks")
    ]
    d0 = dict.get(m1, "chunks")[0]["id"] + ".json"
    assert os.path.sameopenfile(
        os.open(os.path.join(_chunks_dir(root), d0), os.O_RDONLY),
        os.open(os.path.join(_chunks_dir(broot), d0), os.O_RDONLY),
    )
    assert b1["metrics"]["branched_from"] == 1

    # stage: merge + MoR delete on the branch; main unchanged
    merge_table(spark, broot, _merge_source(spark, SF_DIR),
                "o_orderkey")
    delete_from_table(
        spark, broot,
        base.select("o_orderkey").filter("o_orderkey % 1000 = 1"),
        on="o_orderkey",
    )
    assert latest_version(root) == 1
    assert _rowset(read_table(spark, root)) == before
    staged = _rowset(read_table(spark, broot))

    # publish: fast-forward, zero file churn, DV carried
    v = publish_branch(root, "staging")
    assert v == 2
    m2 = read_manifest(root, 2)
    assert m2["metrics"]["n_added"] == 0
    assert m2["metrics"]["n_removed"] == 0
    assert m2["metrics"]["published_branch"] == "staging"
    assert m2.get("dv_files"), "staged MoR backlog must publish"
    assert _rowset(read_table(spark, root)) == staged

    # diverged main refuses a second fast-forward from the old fork
    broot2 = create_branch(root, "late")
    append_table(spark, broot2, base.limit(3))
    append_table(spark, root, base.limit(5))  # main moves on
    with pytest.raises(CommitConflict, match="fast-forward"):
        publish_branch(root, "late")

    # drop an UNPUBLISHED branch: its staged data files reclaim;
    # published 'staging' files referenced by main must survive
    late_files = set(read_manifest(broot2)["files"])
    new_late = {f for f in late_files if "/branches/late/" in f}
    assert new_late
    removed = set(drop_branch(root, "late"))
    assert new_late <= removed
    removed_pub = set(drop_branch(root, "staging"))
    assert not removed_pub & set(read_manifest(root)["files"])
    got = _rowset(read_table(spark, root))
    want = staged | _rowset(
        spark.createDataFrame(base.limit(5).collect(), base.schema)
    )
    assert got == want


def test_tag_protects_version_from_vacuum(spark, tmp_path):
    """Round-10 tags: immutable named pointers that hold their
    version (manifest AND files) past the vacuum horizon; deleting
    the tag releases it."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        delete_tag,
        list_refs,
        tag_table,
        tag_version,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.repartition(2))
    v1_state = _rowset(read_table(spark, root))
    tag_table(root, "audit-q3", version=1)
    with pytest.raises(CommitConflict, match="already exists"):
        tag_table(root, "audit-q3", version=1)  # immutable
    merge_table(spark, root, _merge_source(spark, SF_DIR),
                "o_orderkey")
    optimize_table(spark, root, target_files=1)
    vacuum(root, keep_last=1)
    # v1 survives BECAUSE of the tag; untagged v2 retired
    assert 1 in list_versions(root)
    assert 2 not in list_versions(root)
    assert tag_version(root, "audit-q3") == 1
    assert _rowset(
        read_table(spark, root, version=tag_version(root, "audit-q3"))
    ) == v1_state
    assert list_refs(root)["audit-q3"]["kind"] == "tag"
    delete_tag(root, "audit-q3")
    vacuum(root, keep_last=1)
    assert list_versions(root) == [3]


def test_vacuum_protects_live_branch_references(spark, tmp_path):
    """A live branch references main's fork-point data files; main's
    vacuum must not retire them while the branch can read them."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        create_branch,
        drop_branch,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.repartition(4))
    broot = create_branch(root, "slow-audit")
    fork_files = set(read_manifest(broot, 1)["files"])
    # main rewrites everything (four files under half the one-file
    # target are the small-file tail) and vacuums the old version away
    optimize_table(spark, root, target_files=1)
    vacuum(root, keep_last=1)
    assert all(os.path.exists(f) for f in fork_files)
    assert _rowset(read_table(spark, broot)) == _rowset(base)
    drop_branch(root, "slow-audit")
    vacuum(root, keep_last=1)  # released: now reclaimable
    assert not any(os.path.exists(f) for f in fork_files)


def test_column_defaults_explicit_null_and_pre_default_reject(
    spark, tmp_path
):
    """Defaults fill OMITTED columns only: an explicit NULL stays
    NULL (Delta's semantics), an append omitting the column BEFORE
    any default is declared is still a schema mismatch, and time
    travel to the pre-declaration version shows no default block."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        SchemaMismatch,
        append_table,
        set_column_default,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(200).withColumn(
        "channel", F.lit("seed")
    )
    create_table(spark, root, base)
    small = _base(spark).filter(F.col("o_orderkey") % 97 == 3).limit(5)
    with pytest.raises(SchemaMismatch):
        append_table(spark, root, small)  # no default yet: missing col
    v_pre = latest_version(root)
    set_column_default(spark, root, "channel", "'feed'")
    assert read_manifest(root)["schema_meta"]["defaults"] == {
        "channel": "'feed'"
    }
    assert read_manifest(root, v_pre).get("schema_meta") is None
    append_table(spark, root, small)  # omitted → filled
    append_table(  # explicit NULL stays NULL — defaults never coerce
        spark,
        root,
        _base(spark)
        .filter(F.col("o_orderkey") % 97 == 5)
        .limit(5)
        .withColumn("channel", F.lit(None).cast("string")),
    )
    got = dict(
        read_table(spark, root)
        .groupBy("channel")
        .count()
        .collect()
    )
    assert got.get("feed") == 5
    assert got.get(None) == 5
    assert got.get("seed") == 200


def test_generated_column_validates_explicit_values(spark, tmp_path):
    """A writer supplying a generated column must match the declared
    expression — mismatches reject atomically, matches commit."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        GeneratedColumnMismatch,
        append_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(100)
    create_table(
        spark,
        root,
        base,
        schema_meta={
            "generated": {
                "price_bucket": "CAST(floor(price / 100.0) AS BIGINT)"
            }
        },
    )
    v1 = latest_version(root)
    good = (
        _base(spark)
        .filter(F.col("o_orderkey") % 97 == 7)
        .limit(5)
        .withColumn(
            "price_bucket",
            F.expr("CAST(floor(price / 100.0) AS BIGINT)"),
        )
    )
    append_table(spark, root, good)
    bad = (
        _base(spark)
        .filter(F.col("o_orderkey") % 97 == 11)
        .limit(5)
        .withColumn("price_bucket", F.lit(-1).cast("bigint"))
    )
    with pytest.raises(GeneratedColumnMismatch):
        append_table(spark, root, bad)
    assert latest_version(root) == v1 + 1  # reject left no commit
    rows = read_table(spark, root).collect()
    assert all(
        r.price_bucket == int(r.price // 100) for r in rows
    )


def test_add_generated_column_backfills_existing_rows(
    spark, tmp_path
):
    """Declaring a generated column on a POPULATED table backfills in
    the same commit, and later appends compute it."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        add_generated_column,
        append_table,
    )

    root = str(tmp_path / "t")
    create_table(spark, root, _base(spark).limit(100))
    add_generated_column(
        spark, root, "pb", "CAST(floor(price / 50.0) AS BIGINT)"
    )
    append_table(
        spark,
        root,
        _base(spark).filter(F.col("o_orderkey") % 97 == 13).limit(7),
    )
    rows = read_table(spark, root).collect()
    assert len(rows) == 107
    assert all(r.pb == int(r.price // 50) for r in rows)
    om = read_manifest(root, latest_version(root) - 1)["metrics"]
    assert om["n_added"] >= 1 and om["n_removed"] >= 1  # backfill


def test_identity_refuses_explicit_and_blocks_are_disjoint(
    spark, tmp_path
):
    """GENERATED ALWAYS: supplying the identity column is refused;
    two appends draw disjoint contiguous blocks; the watermark rides
    the manifest and survives metadata-only commits."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        add_constraint,
        append_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(
        spark,
        root,
        base.filter(F.col("o_orderkey") % 5 == 0),
        schema_meta={
            "identity": {
                "col": "sk",
                "order": ["o_orderkey"],
                "buckets": 16,
                "high": 0,
            }
        },
    )
    n1 = read_table(spark, root).count()
    assert read_manifest(root)["schema_meta"]["identity"]["high"] == n1
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        append_table(
            spark,
            root,
            base.limit(3).withColumn("sk", F.lit(1).cast("bigint")),
        )
    add_constraint(root, "pos_price", "price >= 0")  # metadata-only
    append_table(spark, root, base.filter(F.col("o_orderkey") % 5 == 1))
    n2 = read_table(spark, root).count()
    assert read_manifest(root)["schema_meta"]["identity"]["high"] == n2
    sks = sorted(
        r.sk for r in read_table(spark, root).select("sk").collect()
    )
    assert sks == list(range(1, n2 + 1))  # disjoint, gap-free here


def test_identity_contended_appends_never_collide(spark, tmp_path):
    """Two appends racing on the watermark: the loser detects the
    moved schema_meta at commit time, reclaims its files, re-assigns
    against the new high, and rewrites — ids stay collision-free and
    dense."""
    import threading

    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(
        spark,
        root,
        base.filter(F.col("o_orderkey") % 7 == 0),
        schema_meta={
            "identity": {
                "col": "sk",
                "order": ["o_orderkey"],
                "buckets": 16,
                "high": 0,
            }
        },
    )
    errs = []

    def run(sl):
        try:
            append_table(
                spark, root, base.filter(F.col("o_orderkey") % 7 == sl)
            )
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    ts = [threading.Thread(target=run, args=(s,)) for s in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    n = read_table(spark, root).count()
    sks = sorted(
        r.sk for r in read_table(spark, root).select("sk").collect()
    )
    assert sks == list(range(1, n + 1))
    assert read_manifest(root)["schema_meta"]["identity"]["high"] == n


def test_row_tracking_hidden_stable_and_carried(spark, tmp_path):
    """Row ids are hidden from normal reads, stable across OPTIMIZE
    and merge-updates, fresh for merge-inserts, and the spec carries
    through clone and restore."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        clone_table,
        restore_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(
        spark,
        root,
        base,
        schema_meta={
            "identity": {
                "col": "_row_id",
                "order": ["o_orderkey"],
                "buckets": 64,
                "high": 0,
                "hidden": True,
            }
        },
    )
    assert "_row_id" not in read_table(spark, root).columns
    ids0 = {
        r.o_orderkey: r._row_id
        for r in read_table(spark, root, with_row_ids=True)
        .select("o_orderkey", "_row_id")
        .collect()
    }
    merge_table(spark, root, _merge_source(spark, SF_DIR), "o_orderkey")
    optimize_table(spark, root, target_files=2)
    after = {
        r.o_orderkey: r._row_id
        for r in read_table(spark, root, with_row_ids=True)
        .select("o_orderkey", "_row_id")
        .collect()
    }
    n0 = len(ids0)
    for k, rid in after.items():
        if k in ids0:
            assert rid == ids0[k], "surviving row changed id"
        else:
            assert rid > n0, "insert drew a non-fresh id"
    # clone carries the ledger; restore resurrects pre-merge ids
    clone = str(tmp_path / "c")
    clone_table(spark, root, clone)
    assert read_manifest(clone)["schema_meta"]["identity"]["hidden"]
    restore_table(spark, root, 1)
    back = {
        r.o_orderkey: r._row_id
        for r in read_table(spark, root, with_row_ids=True)
        .select("o_orderkey", "_row_id")
        .collect()
    }
    assert back == ids0


def test_enable_row_tracking_backfill_then_append(spark, tmp_path):
    """Row tracking enabled on an EXISTING table: one backfill
    rewrite assigns ids; later appends draw fresh ids above the
    watermark."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        enable_row_tracking,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.filter(F.col("o_orderkey") % 3 == 0))
    n0 = read_table(spark, root).count()
    enable_row_tracking(spark, root, order=["o_orderkey"])
    append_table(spark, root, base.filter(F.col("o_orderkey") % 3 == 1))
    got = read_table(spark, root, with_row_ids=True)
    assert got.filter(F.col("_row_id").isNull()).count() == 0
    assert (
        got.select(F.countDistinct("_row_id").alias("d")).collect()[0].d
        == got.count()
    )
    assert (
        got.filter(F.col("o_orderkey") % 3 == 1)
        .agg(F.min("_row_id").alias("m"))
        .collect()[0]
        .m
        == n0 + 1
    )
    with pytest.raises(ValueError, match="already has an identity"):
        enable_row_tracking(spark, root, order=["o_orderkey"])


def test_partitioned_writes_apply_schema_features(spark, tmp_path):
    """The PARTITIONED append/merge paths are not a feature bypass:
    defaults fill, identity ids assign update-stable within touched
    partitions, and the watermark advances — same contract as the
    flat writers."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        create_table_partitioned,
        merge_table_partitioned,
        set_column_default,
    )

    root = str(tmp_path / "t")
    base = _base(spark).withColumn(
        "bucket", (F.col("o_orderkey") % 3).cast("bigint")
    )
    create_table_partitioned(
        spark,
        root,
        base.filter(F.col("o_orderkey") % 2 == 0).limit(300),
        ["bucket"],
        schema_meta={
            "identity": {
                "col": "_row_id",
                "order": ["o_orderkey"],
                "buckets": 16,
                "high": 0,
                "hidden": True,
            }
        },
    )
    n0 = read_table(spark, root).count()
    assert (
        read_manifest(root)["schema_meta"]["identity"]["high"] == n0
    )
    set_column_default(spark, root, "o_orderpriority", "'BACKFILL'")
    # partitioned append OMITTING the defaulted column → filled;
    # identity ids keep assigning above the watermark
    extra = (
        base.filter(F.col("o_orderkey") % 2 == 1)
        .limit(50)
        .drop("o_orderpriority")
    )
    append_table_partitioned(spark, root, extra)
    got = read_table(spark, root, with_row_ids=True)
    assert got.filter(F.col("_row_id").isNull()).count() == 0
    assert (
        got.select(F.countDistinct("_row_id").alias("d"))
        .collect()[0].d
        == n0 + 50
    )
    assert (
        got.filter(F.col("o_orderpriority") == "BACKFILL").count()
        == 50
    )
    # partitioned merge: updates keep ids, inserts draw fresh
    ids_before = {
        r.o_orderkey: r._row_id
        for r in got.select("o_orderkey", "_row_id").collect()
    }
    some = read_table(spark, root).limit(20)
    upd = some.withColumn("price", F.col("price") + 1).withColumn(
        "_delete", F.lit(False)
    )
    ins = (
        some.withColumn(
            "o_orderkey", F.col("o_orderkey") + 50000000
        )
        .withColumn("_delete", F.lit(False))
    )
    merge_table_partitioned(
        spark, root, upd.unionByName(ins), "o_orderkey"
    )
    after = {
        r.o_orderkey: r._row_id
        for r in read_table(spark, root, with_row_ids=True)
        .select("o_orderkey", "_row_id")
        .collect()
    }
    hi = n0 + 50
    for k, rid in after.items():
        if k in ids_before:
            assert rid == ids_before[k]
        else:
            assert rid > hi
    assert (
        read_manifest(root)["schema_meta"]["identity"]["high"]
        == hi + 20
    )


def test_execute_dml_statement_semantics(spark, tmp_path):
    """The SQL DML executor: UPDATE's simultaneous assignment reads
    the OLD row for every SET expression; MERGE without an INSERT arm
    ignores unmatched source rows; MERGE without an UPDATE arm still
    inserts; statements outside the subset raise."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sql_surface import (
        execute_dml,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(100)
    create_table(spark, root, base)
    k0 = {r.o_orderkey for r in base.select("o_orderkey").collect()}
    before = {
        r.o_orderkey: (r.o_orderpriority, r.price)
        for r in read_table(spark, root).collect()
    }
    # simultaneous assignment: price uses OLD priority, priority uses
    # OLD price — withColumn chaining would see the new values
    execute_dml(
        spark,
        root,
        """
        UPDATE t SET
          o_orderpriority = concat(o_orderpriority, '|',
                                   CAST(CAST(price AS BIGINT) AS STRING)),
          price = CAST(length(o_orderpriority) AS DOUBLE)
        WHERE o_orderkey % 2 = 0
        """,
        key="o_orderkey",
    )
    for r in read_table(spark, root).collect():
        op, pr = before[r.o_orderkey]
        if r.o_orderkey % 2 == 0:
            assert r.o_orderpriority == f"{op}|{int(pr)}"
            assert r.price == float(len(op))
        else:
            assert (r.o_orderpriority, r.price) == (op, pr)
    # MERGE with no INSERT arm: unmatched rows are ignored
    upd = (
        read_table(spark, root)
        .limit(10)
        .withColumn("price", F.lit(1.5))
    )
    stranger = upd.withColumn(
        "o_orderkey", F.col("o_orderkey") + 90000000
    )
    upd.unionByName(stranger).createOrReplaceTempView("dml_nm_src")
    execute_dml(
        spark,
        root,
        "MERGE INTO t USING dml_nm_src "
        "ON t.o_orderkey = dml_nm_src.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET *",
        key="o_orderkey",
    )
    now = read_table(spark, root)
    assert now.count() == 100  # no strangers inserted
    assert now.filter("price = 1.5").count() == 10
    # MERGE with no UPDATE arm: matched rows untouched, inserts land
    execute_dml(
        spark,
        root,
        "MERGE INTO t USING dml_nm_src "
        "ON t.o_orderkey = dml_nm_src.o_orderkey "
        "WHEN NOT MATCHED THEN INSERT *",
        key="o_orderkey",
    )
    assert read_table(spark, root).count() == 110
    # plain WHEN MATCHED THEN DELETE (no AND)
    stranger.createOrReplaceTempView("dml_del_src")
    execute_dml(
        spark,
        root,
        "MERGE INTO t USING dml_del_src "
        "ON t.o_orderkey = dml_del_src.o_orderkey "
        "WHEN MATCHED THEN DELETE",
        key="o_orderkey",
    )
    left = read_table(spark, root)
    assert left.count() == 100
    assert {
        r.o_orderkey for r in left.select("o_orderkey").collect()
    } == k0
    with pytest.raises(ValueError, match="unsupported DML"):
        execute_dml(spark, root, "TRUNCATE TABLE t", key="o_orderkey")
    with pytest.raises(ValueError, match="SET names unknown"):
        execute_dml(
            spark, root,
            "UPDATE t SET nope = 1 WHERE o_orderkey = 1",
            key="o_orderkey",
        )


def test_merge_into_unmatched_delete_cond_row_still_inserts(
    spark, tmp_path
):
    """Review fix: a source row that satisfies the MATCHED-only
    DELETE condition but whose key is NOT in the table routes to the
    INSERT arm (SQL MERGE semantics), never silently vanishes."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sql_surface import (
        execute_dml,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(50)
    create_table(spark, root, base)
    keys = [r.o_orderkey for r in base.select("o_orderkey").collect()]
    matched_del = base.filter(
        F.col("o_orderkey") == keys[0]
    ).withColumn("is_del", F.lit(1))
    unmatched_del = (
        base.filter(F.col("o_orderkey") == keys[1])
        .withColumn("o_orderkey", F.col("o_orderkey") + 70000000)
        .withColumn("is_del", F.lit(1))
    )
    matched_del.unionByName(unmatched_del).createOrReplaceTempView(
        "mi_edge_src"
    )
    execute_dml(
        spark,
        root,
        "MERGE INTO t USING mi_edge_src "
        "ON t.o_orderkey = mi_edge_src.o_orderkey "
        "WHEN MATCHED AND mi_edge_src.is_del = 1 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        key="o_orderkey",
    )
    got = {
        r.o_orderkey
        for r in read_table(spark, root)
        .select("o_orderkey")
        .collect()
    }
    assert keys[0] not in got  # matched delete applied
    assert keys[1] + 70000000 in got  # unmatched is_del row INSERTED
    assert len(got) == 50


def test_update_recomputes_generated_and_refuses_set(spark, tmp_path):
    """Review fix: MoR UPDATE cascades generated columns when a
    dependency changes, and the SQL surface refuses SET on a
    generated column."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sql_surface import (
        execute_dml,
    )

    root = str(tmp_path / "t")
    create_table(
        spark,
        root,
        _base(spark).limit(80),
        schema_meta={
            "generated": {
                "price_bucket": "CAST(floor(price / 100.0) AS BIGINT)"
            }
        },
    )
    execute_dml(
        spark,
        root,
        "UPDATE t SET price = price * 200 WHERE o_orderkey % 2 = 0",
        key="o_orderkey",
    )
    rows = read_table(spark, root).collect()
    assert len(rows) == 80
    assert all(r.price_bucket == int(r.price // 100) for r in rows)
    with pytest.raises(ValueError, match="generated column"):
        execute_dml(
            spark,
            root,
            "UPDATE t SET price_bucket = 0 WHERE o_orderkey % 2 = 0",
            key="o_orderkey",
        )


def test_mor_update_preserves_row_ids(spark, tmp_path):
    """Review fix: the MoR DV UPDATE path works on a row-tracked
    table and the post-image keeps the replaced row's id."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        update_table,
    )

    root = str(tmp_path / "t")
    create_table(
        spark,
        root,
        _base(spark).limit(60),
        schema_meta={
            "identity": {
                "col": "_row_id",
                "order": ["o_orderkey"],
                "buckets": 16,
                "high": 0,
                "hidden": True,
            }
        },
    )
    ids0 = {
        r.o_orderkey: r._row_id
        for r in read_table(spark, root, with_row_ids=True)
        .select("o_orderkey", "_row_id")
        .collect()
    }
    post = (
        read_table(spark, root)
        .filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("price", F.col("price") * 3)
    )
    update_table(spark, root, post, "o_orderkey")
    after = {
        r.o_orderkey: (r._row_id, r.price)
        for r in read_table(spark, root, with_row_ids=True).collect()
    }
    assert len(after) == 60
    for k, (rid, _) in after.items():
        assert rid == ids0[k], "MoR update changed a row id"


def test_overwrite_partition_row_tracked_fresh_ids(spark, tmp_path):
    """A partition restatement on a row-tracked table draws FRESH ids
    (delete+insert semantics) and never collides with live ids."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table_partitioned,
        overwrite_partition,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(90).withColumn(
        "bucket", (F.col("o_orderkey") % 2).cast("bigint")
    )
    create_table_partitioned(
        spark,
        root,
        base,
        ["bucket"],
        schema_meta={
            "identity": {
                "col": "_row_id",
                "order": ["o_orderkey"],
                "buckets": 16,
                "high": 0,
                "hidden": True,
            }
        },
    )
    keep_ids = {
        r._row_id
        for r in read_table(spark, root, with_row_ids=True)
        .filter("bucket = 1")
        .select("_row_id")
        .collect()
    }
    restated = (
        read_table(spark, root)
        .filter("bucket = 0")
        .withColumn("price", F.lit(9.99))
    )
    overwrite_partition(spark, root, restated, {"bucket": 0})
    got = read_table(spark, root, with_row_ids=True)
    assert got.filter(F.col("_row_id").isNull()).count() == 0
    new_ids = {
        r._row_id
        for r in got.filter("bucket = 0").select("_row_id").collect()
    }
    assert not (new_ids & keep_ids)
    assert (
        got.select(F.countDistinct("_row_id").alias("d")).collect()[0].d
        == got.count()
    )


def test_vacuum_time_based_retention(spark, tmp_path):
    """VACUUM RETAIN: versions committed inside the window survive
    past keep_last; outside it, version-count retention applies
    unchanged."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(60)
    create_table(spark, root, base.filter(F.col("o_orderkey") % 3 == 0))
    append_table(spark, root, base.filter(F.col("o_orderkey") % 3 == 1))
    append_table(spark, root, base.filter(F.col("o_orderkey") % 3 == 2))
    # all three commits happened "just now": a 1-hour window keeps
    # every version even though keep_last=1 would retire two
    vacuum(root, keep_last=1, retain_seconds=3600)
    assert list_versions(root) == [1, 2, 3]
    assert read_table(spark, root, version=1).count() > 0
    # a zero-second window degrades to pure version-count retention
    vacuum(root, keep_last=1, retain_seconds=0)
    assert list_versions(root) == [3]


def test_streaming_ingest_into_row_tracked_table(spark, tmp_path):
    """Exactly-once streaming ingest composes with row tracking: each
    micro-batch draws a fresh id block, a REPLAYED batch no-ops
    before assignment (ids never double-draw), and the final table
    has dense distinct ids."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(90)
    create_table(
        spark,
        root,
        base.limit(0),
        schema_meta={
            "identity": {
                "col": "_row_id",
                "order": ["o_orderkey"],
                "buckets": 16,
                "high": 0,
                "hidden": True,
            }
        },
    )
    slices = [
        base.filter(F.col("o_orderkey") % 3 == s) for s in range(3)
    ]
    for bid, sl in enumerate(slices):
        append_table(spark, root, sl, txn_app="ingest", txn_version=bid)
    high_before = read_manifest(root)["schema_meta"]["identity"]["high"]
    # at-least-once delivery: batch 1 replays — must no-op BEFORE any
    # id is drawn, or the watermark would gap
    append_table(spark, root, slices[1], txn_app="ingest", txn_version=1)
    assert (
        read_manifest(root)["schema_meta"]["identity"]["high"]
        == high_before
    )
    got = read_table(spark, root, with_row_ids=True)
    n = got.count()
    ids = sorted(r._row_id for r in got.select("_row_id").collect())
    assert ids == list(range(1, n + 1))
    assert n == high_before


def test_execute_utility_statement_surface(spark, tmp_path):
    """The utility-statement executor routes onto the library ops:
    constraints gate writes, defaults declare/drop, rename/drop
    column, OPTIMIZE compacts, VACUUM RETAIN keeps the window,
    RESTORE rolls back, DESCRIBE HISTORY returns the ledger."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        ConstraintViolation,
        append_table,
    )
    from morphl_model_user_search_intent_spark.sql_surface import (
        execute_utility,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(100)
    create_table(spark, root, base)
    execute_utility(
        spark, root,
        "ALTER TABLE t ADD CONSTRAINT pos CHECK (price >= 0)",
    )
    with pytest.raises(ConstraintViolation):
        append_table(
            spark, root,
            base.limit(2).withColumn("price", F.lit(-1.0)),
        )
    execute_utility(spark, root, "ALTER TABLE t DROP CONSTRAINT pos")
    execute_utility(
        spark, root,
        "ALTER TABLE t ALTER COLUMN o_orderpriority SET DEFAULT 'X'",
    )
    append_table(
        spark, root,
        base.limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 80000000)
        .drop("o_orderpriority"),
    )
    assert (
        read_table(spark, root)
        .filter("o_orderpriority = 'X'")
        .count()
        == 3
    )
    execute_utility(
        spark, root,
        "ALTER TABLE t ALTER COLUMN o_orderpriority DROP DEFAULT",
    )
    # a second small append: OPTIMIZE packs the small-file tail
    append_table(
        spark, root,
        base.limit(2).withColumn("o_orderkey", F.col("o_orderkey") + 90000000),
    )
    v_opt = execute_utility(spark, root, "OPTIMIZE t")
    assert read_manifest(root, v_opt)["op"] == "optimize"
    execute_utility(
        spark, root,
        "ALTER TABLE t RENAME COLUMN o_orderpriority TO prio",
    )
    assert "prio" in read_table(spark, root).columns
    execute_utility(spark, root, "VACUUM t RETAIN 1 HOURS")
    assert len(list_versions(root)) >= 2  # window keeps everything
    hist = execute_utility(spark, root, "DESCRIBE HISTORY t")
    assert hist.count() == len(list_versions(root))
    v1_rows = 100
    execute_utility(
        spark, root, f"RESTORE TABLE t TO VERSION AS OF 1"
    )
    assert read_table(spark, root).count() == v1_rows
    with pytest.raises(ValueError, match="unsupported utility"):
        execute_utility(spark, root, "ANALYZE TABLE t")


def test_partitioned_backfills_generated_and_row_tracking(
    spark, tmp_path
):
    """Generated-column and row-tracking backfills work on POPULATED
    partitioned tables: the rewrite preserves the hive layout (pruning
    still works) and later partitioned appends keep computing."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        add_generated_column,
        append_table_partitioned,
        create_table_partitioned,
        enable_row_tracking,
        resolve_files,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(120).withColumn(
        "bucket", (F.col("o_orderkey") % 3).cast("bigint")
    )
    create_table_partitioned(spark, root, base, ["bucket"])
    add_generated_column(
        spark, root, "pb", "CAST(floor(price / 50.0) AS BIGINT)"
    )
    enable_row_tracking(spark, root, order=["o_orderkey"])
    # layout preserved: partition pruning resolves a strict subset
    m = read_manifest(root)
    pruned = resolve_files(m, {"bucket": "1"})
    assert 0 < len(pruned) < (
        dict.get(m, "nfiles") or len(m["files"])
    )
    append_table_partitioned(
        spark,
        root,
        base.limit(10)
        .withColumn("o_orderkey", F.col("o_orderkey") + 60000000)
        .drop("pb"),
    )
    got = read_table(spark, root, with_row_ids=True)
    rows = got.collect()
    assert len(rows) == 130
    assert all(r.pb == int(r.price // 50) for r in rows)
    assert len({r._row_id for r in rows}) == 130


def test_identity_start_step_and_feature_binding_guards(
    spark, tmp_path
):
    """START WITH / INCREMENT BY shapes the identity values (the
    watermark still counts positions), and rename/drop refuse any
    column bound into the write-side features — as a name, inside an
    expression, or as an identity order key."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        drop_column,
        drop_column_default,
        rename_column,
        set_column_default,
    )

    root = str(tmp_path / "t")
    base = _base(spark).limit(40)
    create_table(
        spark,
        root,
        base.limit(25),
        schema_meta={
            "identity": {
                "col": "sk",
                "order": ["o_orderkey"],
                "buckets": 8,
                "high": 0,
                "start": 100,
                "step": 5,
            },
            "generated": {
                "pb": "CAST(floor(price / 100.0) AS BIGINT)"
            },
        },
    )
    append_table(spark, root, base.subtract(base.limit(25)))
    got = read_table(spark, root)
    n = got.count()
    sks = sorted(r.sk for r in got.select("sk").collect())
    assert sks == [100 + 5 * i for i in range(n)]
    assert (
        read_manifest(root)["schema_meta"]["identity"]["high"] == n
    )
    # binding guards: identity col / order key / generated name /
    # generated dependency all refuse rename and drop
    with pytest.raises(ValueError, match="identity/row-id column"):
        rename_column(spark, root, "sk", "sk2")
    with pytest.raises(ValueError, match="ORDER"):
        rename_column(spark, root, "o_orderkey", "ok")
    with pytest.raises(ValueError, match="GENERATED column"):
        drop_column(spark, root, "pb")
    with pytest.raises(ValueError, match="referenced by the expression"):
        rename_column(spark, root, "price", "amount")
    set_column_default(spark, root, "o_orderpriority", "'D'")
    with pytest.raises(ValueError, match="declared DEFAULT"):
        drop_column(spark, root, "o_orderpriority")
    drop_column_default(root, "o_orderpriority")
    rename_column(spark, root, "o_orderpriority", "prio")
    assert "prio" in read_table(spark, root).columns


def test_bloom_index_skips_files_and_never_loses_rows(
    spark, tmp_path
):
    """The bloom index actually prunes (a one-key lookup reads far
    fewer files than the table holds), false-positive rate is sane on
    absent keys, uncovered post-index files are always read, and
    vacuum retires sidecars with their versions."""
    import os as _os

    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table,
        build_bloom_index,
        lookup_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(
        spark, root, base.repartition(16, "o_orderkey")
    )
    build_bloom_index(spark, root, "o_orderkey")
    m = read_manifest(root)
    assert m["bloom"]["col"] == "o_orderkey"
    keys = [r.o_orderkey for r in base.limit(3).collect()]
    got = lookup_table(spark, root, "o_orderkey", keys)
    assert {r.o_orderkey for r in got.collect()} == set(keys)
    # pruning physics: count files the probe keeps for ONE key
    from morphl_model_user_search_intent_spark.sources.acid import (
        _bloom_geometry,
        _bloom_hash2,
    )
    import numpy as np

    kept = 0
    for r in spark.read.parquet(*m["bloom"]["files"]).collect():
        words = np.frombuffer(r.bits, dtype=np.uint64)
        h1, h2 = _bloom_hash2(str(keys[0]))
        if all(
            words[p >> 6] & np.uint64(1 << (p & 63))
            for p in ((h1 + i * h2) % r.m for i in range(r.k))
        ):
            kept += 1
    assert kept < 8, f"one key 'present' in {kept}/16 files"
    # absent keys: false-positive rate sane (sidecar-level check,
    # 200 probes against every file's bitset)
    fp = 0
    blooms = spark.read.parquet(*m["bloom"]["files"]).collect()
    for probe in range(10**9, 10**9 + 200):
        h1, h2 = _bloom_hash2(str(probe))
        for r in blooms:
            words = np.frombuffer(r.bits, dtype=np.uint64)
            if all(
                words[p >> 6] & np.uint64(1 << (p & 63))
                for p in ((h1 + i * h2) % r.m for i in range(r.k))
            ):
                fp += 1
    assert fp <= 0.05 * 200 * len(blooms), f"fp rate blown: {fp}"
    # post-index append: its files carry no bloom rows → always read
    extra = base.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 40000000
    )
    append_table(spark, root, extra)
    new_keys = [
        r.o_orderkey for r in extra.select("o_orderkey").collect()
    ]
    got2 = lookup_table(spark, root, "o_orderkey", new_keys)
    assert got2.count() == 5  # uncovered files served the rows
    # the inherited pointer survives unrelated commits
    assert read_manifest(root)["bloom"]["col"] == "o_orderkey"
    # vacuum: index sidecars of retained versions survive; after the
    # pointer ages out of every retained manifest the files reclaim
    sidecars = read_manifest(root)["bloom"]["files"]
    vacuum(root, keep_last=1)
    assert all(_os.path.exists(f) for f in sidecars)


def _pin_matches_inference(spark, root):
    """Every data and deletion-vector dir under ``root``: the schema
    pinned from the first footer equals Spark's own inference over the
    same files.  Returns the dirs checked."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        _read_parquet,
    )

    checked = []
    for sub in ("data", "dv"):
        d = os.path.join(root, sub)
        if not os.path.isdir(d):
            continue
        # reversed: the pin must pick Spark's (sorted) first file
        files = sorted(
            (
                os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet")
            ),
            reverse=True,
        )
        assert (
            _read_parquet(spark, files).schema
            == spark.read.parquet(*files).schema
        ), f"{root}/{sub}"
        checked.append(sub)
    return checked


def test_pinned_schema_equals_inference_on_every_table_shape(
    spark, tmp_path
):
    """The footer-pinned scan schema is Spark's inferred one on every
    table shape the layer writes: plain, partitioned, column-mapped
    (homogeneous rename and heterogeneous drop + re-add), identity /
    row-tracked, deletion-vector sidecars, and sidecars rewritten
    driver-side by pyarrow (which must keep Spark's footer key)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        _SPARK_SCHEMA_KEY,
        append_table,
        create_table_partitioned,
        delete_from_table,
        drop_column,
        optimize_table_partitioned,
        rename_column,
    )

    base = _base(spark).limit(300)
    plain = str(tmp_path / "plain")
    create_table(spark, plain, base.repartition(3))
    merge_table(spark, plain, _merge_source(spark, SF_DIR), "o_orderkey")
    # the merge's tombstone sidecar is pinned like the data files
    assert _pin_matches_inference(spark, plain) == ["data", "dv"]

    mapped = str(tmp_path / "mapped")
    create_table(spark, mapped, base.repartition(2))
    rename_column(spark, mapped, "price", "amount")
    drop_column(spark, mapped, "o_orderpriority")
    append_table(
        spark,
        mapped,
        base.limit(20).select(
            (F.col("o_orderkey") + 5_000_000).alias("o_orderkey"),
            F.col("price").alias("amount"),
            F.lit("NEW").alias("o_orderpriority"),
        ),
        allow_evolution=True,
    )
    assert read_manifest(mapped)["colmap"]["mixed"] is True
    assert _pin_matches_inference(spark, mapped) == ["data"]

    tracked = str(tmp_path / "tracked")
    create_table(
        spark,
        tracked,
        base.repartition(2),
        schema_meta={
            "identity": {
                "col": "_row_id",
                "order": ["o_orderkey"],
                "buckets": 64,
                "high": 0,
                "hidden": True,
            }
        },
    )
    assert "_row_id" in spark.read.parquet(
        *read_manifest(tracked)["files"]
    ).columns
    assert _pin_matches_inference(spark, tracked) == ["data"]

    part = str(tmp_path / "part")
    pbase = _pbase(spark).filter(F.col("o_year").isin(1995, 1996))
    create_table_partitioned(
        spark, part, pbase.repartition(2, "o_orderkey"), ["o_year"]
    )
    # a shuffled (not broadcast) match mixes both years' files in one
    # sidecar, so the partial optimize below must rewrite it
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        delete_from_table(
            spark,
            part,
            pbase.filter(F.col("o_orderkey") % 10 == 3).select(
                "o_orderkey"
            ),
            on="o_orderkey",
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    sidecars = set(read_manifest(part)["dv_files"])
    # partial optimize: the 1996 survivors of a mixed sidecar are
    # rewritten driver-side by pyarrow into a new sidecar
    optimize_table_partitioned(spark, part, {"o_year": 1995})
    rewritten = set(read_manifest(part)["dv_files"]) - sidecars
    assert rewritten
    for f in rewritten:
        assert _SPARK_SCHEMA_KEY in pq.read_metadata(f).metadata
    assert _pin_matches_inference(spark, part) == ["data", "dv"]

    # files not written by Spark carry no key: plain inference
    foreign = str(tmp_path / "foreign")
    os.makedirs(os.path.join(foreign, "data"))
    pq.write_table(
        pa.table({"k": [1, 2], "s": ["a", None]}),
        os.path.join(foreign, "data", "f.parquet"),
    )
    assert _pin_matches_inference(spark, foreign) == ["data"]


def test_snapshot_reads_launch_no_job_and_writes_stay_capped(
    spark, tmp_path
):
    """Building a snapshot read — DV mask included — and enforcing an
    append's schema against it are plan-only: zero Spark jobs.  One
    DV delete and one merge on a DV-carrying table stay under pinned
    job ceilings (schema inference would add one job per scanned file
    set; a ``distinct`` on the merge keys, one per action)."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        _enforce_schema,
        delete_from_table,
    )

    root = str(tmp_path / "t")
    base = _base(spark)
    create_table(spark, root, base.repartitionByRange(4, "o_orderkey"))
    delete_from_table(
        spark,
        root,
        base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        on="o_orderkey",
    )
    assert read_manifest(root).get("dv_files")

    df, jobs = jobs_during(spark, lambda: read_table(spark, root))
    assert jobs == [], f"read_table built with jobs {jobs}"
    _, jobs = jobs_during(
        spark, lambda: _enforce_schema(spark, root, df, False)
    )
    assert jobs == [], f"_enforce_schema ran jobs {jobs}"

    doomed = base.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey"
    )
    _, jobs = jobs_during(
        spark,
        lambda: delete_from_table(spark, root, doomed, on="o_orderkey"),
    )
    # the tombstone write (+ its broadcasts); 5 with inference
    assert len(jobs) <= 3, f"delete ran {len(jobs)} jobs"
    _, jobs = jobs_during(
        spark,
        lambda: merge_table(
            spark, root, _merge_source(spark, SF_DIR), "o_orderkey"
        ),
    )
    # tombstone write + upsert write (+ broadcasts); 7 when the merge
    # rewrote every touched file, 11 with inference
    assert len(jobs) <= 4, f"merge ran {len(jobs)} jobs"
