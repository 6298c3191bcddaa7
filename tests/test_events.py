"""Event-time operator gates beyond the oracle: the chunked
sessionizer must equal the serial one on a PLANTED hot-key fixture
(the skew shape SKEW.md documents as q_sessionize's residual risk)."""

from __future__ import annotations

import datetime as dt
import os

from morphl_model_user_search_intent_spark import REGISTRY

from conftest import dispatch_of


def _planted_skew_dir(spark, tmp_path) -> str:
    """Synthetic events.parquet with one user holding ~30% of all
    events, including multi-midnight-spanning sessions (10-minute cadence
    with 115-minute breaks every 41 events (the 515-minute cycle does
    not divide 24 h, so session boundaries DRIFT across midnights)) — the exact shape
    that serializes q_sessionize's per-user window and exercises
    q_sessionize_chunked's cross-chunk merge path."""
    base = dt.datetime(2024, 3, 1, 22, 0, 0)
    rows = []
    eid = 0
    # hot user 999: 900 events over ~3 days; 10-min gaps keep one
    # session ALIVE across midnights, the 115-min break every 41
    # events forces splits that phase 2 must NOT merge
    t = base
    for i in range(900):
        t = t + dt.timedelta(minutes=10 if i % 41 else 115)
        rows.append((999, eid, t, round(0.01 * (i % 500), 2)))
        eid += 1
    # 30 normal users, 70 events each, hourly (every event its own
    # session)
    for u in range(30):
        for i in range(70):
            ts = base + dt.timedelta(hours=i, seconds=u * 7)
            rows.append((u, eid, ts, round(0.05 * (i % 100), 2)))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    out = str(tmp_path / "skew")
    df.coalesce(4).write.parquet(os.path.join(out, "events.parquet"))
    return out


def test_chunked_sessionize_matches_serial_on_planted_hot_user(
    spark, tmp_path
):
    sf_dir = _planted_skew_dir(spark, tmp_path)
    # .fresh: the registry plan cache must not alias the two queries'
    # results for this throwaway fixture dir
    serial = {
        (r.user_id, r.session_id): (
            r.n_events,
            r.session_start,
            r.session_end,
            r.session_value,
        )
        for r in REGISTRY["q_sessionize"].fresh(spark, sf_dir).collect()
    }
    chunked = {
        (r.user_id, r.session_id): (
            r.n_events,
            r.session_start,
            r.session_end,
            r.session_value,
        )
        for r in REGISTRY["q_sessionize_chunked"]
        .fresh(spark, sf_dir)
        .collect()
    }
    assert chunked == serial
    # the fixture really exercised the merge: the hot user has a
    # session that crosses a midnight (start and end on different
    # days), which phase 1 split into per-day chunks
    crossing = [
        v
        for (u, _s), v in serial.items()
        if u == 999 and v[1].date() != v[2].date()
    ]
    assert crossing, "fixture produced no midnight-crossing session"
    # and the hot user's sessions did split on the 2-hour breaks
    assert sum(1 for (u, _s) in serial if u == 999) > 10


def test_chunked_sessionize_is_grain_independent(spark, tmp_path):
    """The chunk column is an implementation knob, not a semantic
    one: day, hour, 6-hour, and even a PATHOLOGICAL interleaved
    chunking (event_id % 3 — chunks that are not time intervals, so
    local sessions from different chunks overlap) must all produce
    the identical session set.  The interleaved case specifically
    exercises the running-max merge frontier: lag(s_end) would
    compare against the wrong predecessor there."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.io import table
    from morphl_model_user_search_intent_spark.operators.events import (
        sessionize_chunked,
    )

    sf_dir = _planted_skew_dir(spark, tmp_path)
    ev = table(spark, sf_dir, "events")

    def rows(chunk):
        return {
            (r.user_id, r.session_id): (
                r.n_events,
                r.session_start,
                r.session_end,
                r.session_value,
            )
            for r in sessionize_chunked(ev, chunk).collect()
        }

    by_day = rows(F.col("ts").cast("date"))
    by_hour = rows(F.date_trunc("hour", F.col("ts")))
    by_6h = rows(
        (F.unix_micros(F.col("ts")) / F.lit(6 * 3600 * 1_000_000))
        .cast("bigint")
    )
    interleaved = rows((F.col("event_id") % 3).cast("int"))
    serial = {
        (r.user_id, r.session_id): (
            r.n_events,
            r.session_start,
            r.session_end,
            r.session_value,
        )
        for r in REGISTRY["q_sessionize"].fresh(spark, sf_dir).collect()
    }
    assert by_day == serial
    assert by_hour == serial
    assert by_6h == serial
    assert interleaved == serial


def test_auto_dispatch_picks_chunked_on_skew_and_matches_serial(
    spark, tmp_path
):
    """Round-5 verdict item 7: sessionize_auto must (a) pick the
    monolithic plan on the balanced driver fixture, (b) flip to the
    chunked plan on the planted 30%-hot-user fixture, and (c) return
    serial-identical rows either way — the dispatch changes physics,
    never results."""
    # balanced fixture → monolithic (sf0.01: hottest user holds
    # ~0.9% of events; sf0.001 is NOT balanced — its hottest user
    # holds 8.8%, and the dispatcher correctly flips to chunked there)
    bal = REGISTRY["q_sessionize_auto"].fresh(spark, "/root/testdata/sf0.01")
    bal.collect()
    assert dispatch_of(bal, "sessionize_dispatch_") == "monolithic"

    # planted hot key → chunked, rows identical to the serial form
    sf_dir = _planted_skew_dir(spark, tmp_path)
    hot = REGISTRY["q_sessionize_auto"].fresh(spark, sf_dir)
    auto = {
        (r.user_id, r.session_id): (
            r.n_events,
            r.session_start,
            r.session_end,
            r.session_value,
        )
        for r in hot.collect()
    }
    assert dispatch_of(hot, "sessionize_dispatch_") == "chunked"
    serial = {
        (r.user_id, r.session_id): (
            r.n_events,
            r.session_start,
            r.session_end,
            r.session_value,
        )
        for r in REGISTRY["q_sessionize"].fresh(spark, sf_dir).collect()
    }
    assert auto == serial


def test_max_key_share_estimates_the_planted_share(spark, tmp_path):
    from morphl_model_user_search_intent_spark.io import table
    from morphl_model_user_search_intent_spark.operators.events import (
        max_key_share,
    )

    sf_dir = _planted_skew_dir(spark, tmp_path)
    # planted: 900 of 3000 events on one user → true share 0.30; the
    # 10% sample only needs order-of-magnitude fidelity
    share = max_key_share(table(spark, sf_dir, "events"), fraction=0.3)
    assert 0.15 < share < 0.45
    balanced = max_key_share(
        table(spark, "/root/testdata/sf0.01", "events"), fraction=0.3
    )
    assert balanced < 0.05
