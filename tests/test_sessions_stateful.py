"""Sessionization, funnel, cohort retention and event transitions vs
brute-force oracles."""

import datetime

import pytest
from pyspark.sql import Row

from gliner_spark.operators.sessions import session_stats, sessionize


def _ts(minute):
    return datetime.datetime(2025, 1, 1, 0, 0, 0) + datetime.timedelta(
        minutes=minute
    )


EVENTS = [
    # user 1: sessions [0, 5, 10], [60, 62], [200]  (gap 30 min)
    (1, 0), (1, 5), (1, 10), (1, 60), (1, 62), (1, 200),
    # user 2: single session
    (2, 0), (2, 29),
    # user 3: two back-to-back boundary (exactly gap → same session? gap
    # strictly greater starts new; 30-min gap == threshold stays)
    (3, 0), (3, 30),
]


@pytest.fixture(scope="module")
def events_df(spark):
    return spark.createDataFrame(
        [Row(user_id=u, event_id=i, ts=_ts(m))
         for i, (u, m) in enumerate(EVENTS)]
    )


def test_sessionize_boundaries(spark, events_df):
    out = sessionize(events_df, gap_seconds=1800, order_cols=("event_id",))
    by_user = {}
    for r in out.collect():
        by_user.setdefault(r.user_id, []).append((r.ts, r.session_idx))
    for u in by_user:
        by_user[u].sort()
    assert [s for _t, s in by_user[1]] == [1, 1, 1, 2, 2, 3]
    assert [s for _t, s in by_user[2]] == [1, 1]
    # exactly-at-gap stays in the same session (strict > starts new)
    assert [s for _t, s in by_user[3]] == [1, 1]


def test_session_stats(spark, events_df):
    s = sessionize(events_df, gap_seconds=1800, order_cols=("event_id",))
    stats = {(r.user_id, r.session_idx): (r.n_events, r.duration_us)
             for r in session_stats(s).collect()}
    assert stats[(1, 1)] == (3, 10 * 60 * 1_000_000)
    assert stats[(1, 3)] == (1, 0)
    assert stats[(2, 1)] == (2, 29 * 60 * 1_000_000)


def test_sessionize_on_events_table(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = sessionize(ev, gap_seconds=600, order_cols=("event_id",))
    assert out.count() == ev.count()
    # session ids deterministic across runs
    a = sorted((r.event_id, r.session_id) for r in out.collect())
    b = sorted(
        (r.event_id, r.session_id)
        for r in sessionize(ev, gap_seconds=600,
                            order_cols=("event_id",)).collect()
    )
    assert a == b


# --------------------------------------------------------------- funnel


def _fev(spark, rows):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (u, t, base + dt.timedelta(seconds=s))
            for u, t, s in rows
        ],
        "user_id long, event_type string, ts timestamp",
    )


def _funnel_py(rows, steps):
    import collections

    by_user = collections.defaultdict(
        lambda: {s: [] for s in steps}
    )
    for u, t, s in rows:
        if t in steps:
            by_user[u][t].append(s)
    out = {}
    for u, arrs in by_user.items():
        prev = None
        stage = 0
        first = last = None
        for s in steps:
            cand = [
                x for x in sorted(arrs[s])
                if prev is None or x > prev
            ]
            if not cand:
                break
            prev = cand[0]
            stage += 1
            if first is None:
                first = prev
            last = prev
        out[u] = (stage, first, last)
    return out


def test_funnel_basic_and_order_enforced(spark):
    from gliner_spark.operators.sessions import funnel

    rows = [
        (1, "signup", 0), (1, "click", 10), (1, "purchase", 20),
        (2, "click", 0), (2, "signup", 10), (2, "purchase", 20),
        (3, "purchase", 0), (3, "click", 1), (3, "signup", 2),
        (4, "signup", 5),
        (5, "other", 1),
    ]
    got = {
        r["user_id"]: (r["stage"], r["ts_first_us"], r["ts_last_us"])
        for r in funnel(
            _fev(spark, rows), ("signup", "click", "purchase")
        ).collect()
    }
    assert got[1][0] == 3
    # user 2's only click precedes their signup, so the chain stops at
    # stage 1 even though a purchase exists later
    assert got[2][0] == 1
    assert got[3][0] == 1
    assert got[4][0] == 1
    assert 5 not in got  # no step events at all
    # full python replay
    expect = _funnel_py(rows, ("signup", "click", "purchase"))
    base_us = int(
        __import__("datetime").datetime(
            2024, 1, 1
        ).timestamp() * 1_000_000
    )
    for u, (st, fi, la) in expect.items():
        assert got[u][0] == st
        if st > 0:
            assert got[u][1] == base_us + fi * 1_000_000
            assert got[u][2] == base_us + la * 1_000_000


def test_funnel_matches_python_pseudorandom(spark):
    from gliner_spark.operators.sessions import funnel

    steps = ("a", "b", "c", "d")
    types = ["a", "b", "c", "d", "x"]
    rows = [
        (i % 17, types[(i * 7 + i * i) % 5], (i * 13) % 400)
        for i in range(600)
    ]
    # dedupe (user, type, ts) collisions to keep the replay simple
    rows = sorted(set(rows))
    got = {
        r["user_id"]: (r["stage"], r["ts_first_us"], r["ts_last_us"])
        for r in funnel(_fev(spark, rows), steps).collect()
    }
    expect = _funnel_py(rows, steps)
    assert set(got) == {
        u for u, v in expect.items()
    }
    for u, (st, fi, la) in expect.items():
        assert got[u][0] == st, u


def test_funnel_strictly_after_ties_do_not_chain(spark):
    from gliner_spark.operators.sessions import funnel

    rows = [(1, "a", 0), (1, "b", 0), (2, "a", 0), (2, "b", 1)]
    got = {
        r["user_id"]: r["stage"]
        for r in funnel(_fev(spark, rows), ("a", "b")).collect()
    }
    assert got == {1: 1, 2: 2}


# ------------------------------------------------------ cohort_retention


def test_cohort_retention_matches_python(spark):
    from gliner_spark.operators.sessions import cohort_retention

    rows = []
    for i in range(400):
        u = i % 29
        d = (i * 7 + u * u) % 21
        rows.append((u, "x", d * 86400 + (i % 5) * 3600))
    ev = _fev(spark, rows)
    got = {
        (r["cohort"], r["period"]): (
            r["n_active"], r["n_cohort"], r["retention"]
        )
        for r in cohort_retention(ev).collect()
    }
    import collections
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    act = {(u, s // 86400) for u, _t, s in rows}
    first = {}
    for u, d in sorted(act):
        first.setdefault(u, d)
    sizes = collections.Counter(first.values())
    mat = collections.Counter(
        (first[u], d) for u, d in act
    )
    assert len(got) == len(mat)
    for (c, d), n in mat.items():
        key = (base + dt.timedelta(days=c), base + dt.timedelta(days=d))
        na, nc, ret = got[key]
        assert na == n and nc == sizes[c]
        assert abs(ret - n / sizes[c]) < 1e-12


def test_cohort_retention_full_first_period(spark):
    from gliner_spark.operators.sessions import cohort_retention

    rows = [(1, "x", 0), (2, "x", 10), (1, "x", 86400 + 5)]
    out = {
        (r["cohort"], r["period"]): r["retention"]
        for r in cohort_retention(_fev(spark, rows)).collect()
    }
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    assert out[(b, b)] == 1.0  # cohort period itself is always 100%
    assert out[(b, b + dt.timedelta(days=1))] == 0.5


# ------------------------------------------------------ event_transitions


def test_event_transitions_matches_python(spark):
    from gliner_spark.operators.sessions import event_transitions

    rows = []
    for i in range(300):
        rows.append(
            (i % 13, ["a", "b", "c"][(i * 7) % 3], i)  # unique ts per user? no: i seconds, distinct overall
        )
    ev = _fev(spark, rows)
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in event_transitions(ev).collect()
    }
    import collections

    seqs = collections.defaultdict(list)
    for u, t, s in rows:
        seqs[u].append((s, t))
    cnt = collections.Counter()
    for u, evs in seqs.items():
        evs.sort()
        for (_s1, a), (_s2, b) in zip(evs, evs[1:]):
            cnt[(a, b)] += 1
    tot = collections.Counter()
    for (a, _b), n in cnt.items():
        tot[a] += n
    assert len(got) == len(cnt)
    for k, n in cnt.items():
        assert got[k][0] == n
        assert abs(got[k][1] - n / tot[k[0]]) < 1e-12
