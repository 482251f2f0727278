"""G32 sessionization / G33 as-of join / G34 stratified sampling."""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F


def _ts(h, m=0, s=0, us=0):
    return dt.datetime(2024, 1, 1, h, m, s, us)


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, user_id=u, ts=t, value=v) for i, (u, t, v) in enumerate(rows)]
    )


# ---------------------------------------------------------------------------
# sessionize / session_stats
# ---------------------------------------------------------------------------


def test_sessionize_gap_boundaries(spark):
    from email_address_parser_spark.operators.sessions import sessionize

    rows = [
        (1, _ts(0), 1.0),          # 0: session 1
        (1, _ts(0, 30), 1.0),      # 1: +30min, same session
        (1, _ts(2, 30), 1.0),      # 2: +2h > gap -> session 2
        (1, _ts(2, 30, 0, 1), 1.0),  # 3: +1us, same session
        (2, _ts(0), 1.0),          # 4: other user, own numbering
    ]
    out = {
        r.event_id: r
        for r in sessionize(_events(spark, rows), gap_s=3600).collect()
    }
    assert [out[i].session_idx for i in range(5)] == [1, 1, 2, 2, 1]
    assert [out[i].is_session_start for i in range(5)] == [
        True, False, True, False, True,
    ]
    assert out[2].session_id == "1:2"
    assert out[4].session_id == "2:1"


def test_sessionize_gap_is_inclusive(spark):
    """An event EXACTLY gap_s after the previous one stays in the session
    (the rule is 'gap > gap_s starts a new one')."""
    from email_address_parser_spark.operators.sessions import sessionize

    rows = [(1, _ts(0), 1.0), (1, _ts(1), 1.0), (1, _ts(2, 0, 0, 1), 1.0)]
    out = sorted(
        sessionize(_events(spark, rows), gap_s=3600).collect(),
        key=lambda r: r.event_id,
    )
    assert [r.session_idx for r in out] == [1, 1, 2]


def test_session_stats_rollup(spark):
    from email_address_parser_spark.operators.sessions import session_stats

    rows = [
        (1, _ts(0), 2.5),
        (1, _ts(0, 45), 1.25),
        (1, _ts(5), 4.0),
        (2, _ts(3), 10.0),
    ]
    out = {
        (r.user_id, r.session_idx): r
        for r in session_stats(_events(spark, rows), gap_s=3600).collect()
    }
    assert len(out) == 3
    s11 = out[(1, 1)]
    assert s11.n_events == 2
    assert s11.duration_s == 45 * 60.0
    assert s11.sum_value_e4 == 25000 + 12500
    assert out[(1, 2)].n_events == 1 and out[(1, 2)].duration_s == 0.0
    assert out[(2, 1)].session_id == "2:1"


def test_sessionize_partition_invariant(spark):
    from email_address_parser_spark.operators.sessions import sessionize

    rows = [(u, _ts(h, m), 1.0) for u in (1, 2, 3) for h in range(8) for m in (0, 20)]
    df = _events(spark, rows)
    a = sorted(map(tuple, sessionize(df, gap_s=1800).collect()))
    b = sorted(map(tuple, sessionize(df.repartition(7), gap_s=1800).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------


def _asof(spark, left_rows, right_rows, **kw):
    from email_address_parser_spark.operators.asof import asof_join

    return asof_join(
        _events(spark, left_rows), _events(spark, right_rows), **kw
    ).collect()


def test_asof_picks_latest_at_or_before(spark):
    right = [(1, _ts(1), 1.0), (1, _ts(3), 1.0), (1, _ts(5), 1.0)]
    left = [(1, _ts(4), 0.0)]
    (r,) = _asof(spark, left, right)
    assert r.asof_event_id == 1  # the _ts(3) row, not _ts(1) or _ts(5)
    assert r.asof_ts == _ts(3)


def test_asof_equal_ts_matches_and_ties_take_greatest_id(spark):
    # two right rows at the exact left ts: at-or-before includes them,
    # greatest right event_id wins
    right = [(1, _ts(1), 1.0), (1, _ts(4), 1.0), (1, _ts(4), 2.0)]
    left = [(1, _ts(4), 0.0)]
    (r,) = _asof(spark, left, right)
    assert r.asof_event_id == 2
    assert r.asof_ts == _ts(4)


def test_asof_no_match_is_null_and_keys_dont_leak(spark):
    right = [(1, _ts(5), 1.0), (2, _ts(0), 1.0)]
    left = [(1, _ts(2), 0.0), (3, _ts(9), 0.0)]
    out = {r.user_id: r for r in _asof(spark, left, right)}
    assert len(out) == 2
    assert out[1].asof_event_id is None  # user 1's only click is later
    assert out[3].asof_event_id is None  # user 3 has no clicks at all


def test_asof_keeps_all_left_columns_and_is_partition_invariant(spark):
    from email_address_parser_spark.operators.asof import asof_join

    right_rows = [(u, _ts(h), float(h)) for u in (1, 2) for h in range(0, 10, 2)]
    left_rows = [(u, _ts(h, 30), 0.0) for u in (1, 2) for h in range(10)]
    left, right = _events(spark, left_rows), _events(spark, right_rows)
    out = asof_join(left, right)
    assert set(left.columns) <= set(out.columns)
    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(tuple, asof_join(left.repartition(5), right.repartition(3)).collect())
    )
    assert a == b
    assert len(a) == len(left_rows)


# ---------------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------------


def test_stratified_sample_exact_n_per_stratum(spark):
    from email_address_parser_spark.operators.sampling import stratified_sample

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 4}") for i in range(100)]
    )
    out = stratified_sample(docs, "source", n_per_stratum=7).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r.stratum, []).append(r)
    assert set(by_stratum) == {"s0", "s1", "s2", "s3"}
    for rows in by_stratum.values():
        assert len(rows) == 7
        assert sorted(r.stratum_rank for r in rows) == list(range(1, 8))
    # small strata are taken whole, not padded
    tiny = spark.createDataFrame([Row(doc_id=1, source="only")])
    assert len(stratified_sample(tiny, "source", n_per_stratum=7).collect()) == 1


def test_stratified_sample_deterministic(spark):
    from email_address_parser_spark.operators.sampling import stratified_sample

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 3}") for i in range(60)]
    )
    a = sorted(map(tuple, stratified_sample(docs, "source", 5).collect()))
    b = sorted(
        map(tuple, stratified_sample(docs.repartition(11), "source", 5).collect())
    )
    assert a == b
    # a different salt draws a different sample
    c = sorted(
        map(tuple, stratified_sample(docs, "source", 5, salt="other").collect())
    )
    assert a != c


# ---------------------------------------------------------------------------
# rolling_agg
# ---------------------------------------------------------------------------


def test_rolling_window_inclusive_bounds_and_peers(spark):
    from email_address_parser_spark.operators.rolling import rolling_agg

    rows = [
        (1, _ts(0, 0, 0), 1.0),    # 0
        (1, _ts(0, 0, 10), 2.0),   # 1: 10s later
        (1, _ts(0, 0, 20), 4.0),   # 2: frame [10s,20s] -> excludes event 0
        (1, _ts(0, 0, 20), 8.0),   # 3: same-ts peer of 2 -> counted BOTH ways
        (2, _ts(0, 0, 20), 16.0),  # 4: other key
    ]
    out = {
        r.event_id: r
        for r in rolling_agg(_events(spark, rows), window_s=10).collect()
    }
    assert [out[i].n_trailing for i in range(5)] == [1, 2, 3, 3, 1]
    # frame is inclusive both ends: event 1 at exactly -10s still in frame
    assert out[1].sum_value_e4_trailing == 10000 + 20000
    # RANGE peers: events 2 and 3 see identical frames including each other
    assert out[2].sum_value_e4_trailing == out[3].sum_value_e4_trailing == 140000
    assert out[4].sum_value_e4_trailing == 160000


def test_rolling_single_exchange(spark):
    from email_address_parser_spark.operators.rolling import rolling_agg
    from tests.plans import count_exchanges
    from email_address_parser_spark.sources.testdata import load_table

    df = rolling_agg(load_table(spark, "/root/testdata/sf0.001", "events"))
    assert count_exchanges(df) == 1
