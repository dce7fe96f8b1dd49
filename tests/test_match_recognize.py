"""SQL MATCH_RECOGNIZE front door (extensions/match_recognize.py):
parser subset, lowering onto the NFA, measures incl. join-back."""

import datetime as dt

import pytest

from flink_1_11_1_spark.extensions.match_recognize import (
    _parse_quant,
    match_recognize,
)


def _events(spark, rows):
    """rows: (event_id, seconds-offset, type, value) for user 1."""
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(1, eid, base + dt.timedelta(seconds=s), t, float(v)) for eid, s, t, v in rows],
        "user_id long, event_id long, ts timestamp, event_type string, value double",
    )


def test_quantifier_parse():
    assert _parse_quant("A") == ("A", 1, 1, True)
    assert _parse_quant("A+") == ("A", 1, None, True)
    assert _parse_quant("A*") == ("A", 0, None, True)
    assert _parse_quant("A?") == ("A", 0, 1, True)
    assert _parse_quant("A{2}") == ("A", 2, 2, True)
    assert _parse_quant("A{2,}") == ("A", 2, None, True)
    assert _parse_quant("A{1,3}") == ("A", 1, 3, True)
    # reluctant forms (SQL `+?` family)
    assert _parse_quant("A+?") == ("A", 1, None, False)
    assert _parse_quant("A*?") == ("A", 0, None, False)
    assert _parse_quant("A??") == ("A", 0, 1, False)
    assert _parse_quant("A{1,3}?") == ("A", 1, 3, False)
    with pytest.raises(ValueError):
        _parse_quant("A++")
    with pytest.raises(ValueError):
        _parse_quant("A{2}?")


_MR = """
SELECT * FROM ev MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_id, COUNT(B.*) AS n_b,
           LAST(B.event_id) AS b_last, FIRST(C.event_id) AS c_id,
           LAST(C.value) AS c_value
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B+ C)
  WITHIN INTERVAL '1' HOUR
  DEFINE A AS A.event_type = 'A', B AS B.event_type = 'B',
         C AS C.event_type = 'C'
)
"""


def test_pattern_plus_with_joinback_measure(spark):
    ev = _events(
        spark,
        [(1, 0, "A", 1), (2, 10, "B", 2), (3, 20, "B", 3), (4, 30, "C", 4),
         (5, 100, "A", 5), (6, 110, "X", 6), (7, 120, "C", 7)],
    )
    rows = match_recognize(spark, _MR, events=ev).collect()
    assert len(rows) == 1  # second A dies at X (strict contiguity)
    r = rows[0]
    assert (r.a_id, r.n_b, r.b_last, r.c_id, r.c_value) == (1, 2, 3, 4, 4.0)


def test_optional_unmatched_measure_is_null(spark):
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_id, FIRST(B.event_id) AS m_id,
               FIRST(C.event_id) AS c_id
      PATTERN (A B? C)
      DEFINE A AS A.event_type = 'A', B AS B.event_type = 'B',
             C AS C.event_type = 'C'
    )
    """
    ev = _events(spark, [(1, 0, "A", 0), (2, 10, "C", 0),
                         (3, 100, "A", 0), (4, 110, "B", 0), (5, 120, "C", 0)])
    got = sorted(
        (r.a_id, r.m_id, r.c_id) for r in match_recognize(spark, sql, events=ev).collect()
    )
    assert got == [(1, None, 2), (3, 4, 5)]


def test_cross_variable_define(spark):
    """B AS B.value > A.value (IterativeCondition): only the pair whose
    purchase value exceeds the click value matches."""
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
      PATTERN (A B)
      DEFINE A AS A.event_type = 'A',
             B AS B.event_type = 'B' AND B.value > A.value
    )
    """
    ev = _events(
        spark,
        [(1, 0, "A", 5), (2, 10, "B", 9),   # 9 > 5 → match
         (3, 100, "A", 5), (4, 110, "B", 3)],  # 3 < 5 → no match
    )
    got = sorted((r.a_id, r.b_id) for r in match_recognize(spark, sql, events=ev).collect())
    assert got == [(1, 2)]


def test_cross_variable_first_ref(spark):
    """C AS C.value > FIRST(A.value) with A{2}: compares against the
    first bound A row, not the last."""
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_id, LAST(C.event_id) AS c_id
      PATTERN (A{2} C)
      DEFINE A AS A.event_type = 'A',
             C AS C.event_type = 'C' AND C.value > FIRST(A.value)
    )
    """
    # A(7) A(1) C(5): 5 > FIRST=7 false → dead; A(2) A(9) C(5): 5 > 2 → match
    ev = _events(spark, [(1, 0, "A", 7), (2, 10, "A", 1), (3, 20, "C", 5),
                         (4, 100, "A", 2), (5, 110, "A", 9), (6, 120, "C", 5)])
    got = sorted((r.a_id, r.c_id) for r in match_recognize(spark, sql, events=ev).collect())
    assert got == [(4, 6)]


def test_all_rows_per_match(spark):
    sql = _MR.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
    ev = _events(
        spark,
        [(1, 0, "A", 1), (2, 10, "B", 2), (3, 20, "B", 3), (4, 30, "C", 4)],
    )
    rows = match_recognize(spark, sql, events=ev).orderBy("event_id").collect()
    assert [(r.event_id, r.classifier) for r in rows] == [
        (1, "A"), (2, "B"), (3, "B"), (4, "C")
    ]
    assert {r.a_id for r in rows} == {1}  # FINAL-semantics measure on every row


def test_prev_navigation(spark):
    """PREV(D.value) lag pre-pass: three consecutive drops, greedy
    non-overlapping under PAST LAST ROW."""
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(D.event_id) AS d_first, LAST(D.event_id) AS d_last
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (D{3})
      DEFINE D AS D.value < PREV(D.value)
    )
    """
    # values 9 8 7 6 5 4 3: drops at ids 2..7 (six) → matches (2,4), (5,7)
    ev = _events(spark, [(i, i * 10, "X", 10 - i) for i in range(1, 8)])
    got = sorted(
        (r.d_first, r.d_last) for r in match_recognize(spark, sql, events=ev).collect()
    )
    assert got == [(2, 4), (5, 7)]


def test_prev_cross_variable_mix_rejected(spark):
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(A.event_id) AS a_id
      PATTERN (A B)
      DEFINE A AS A.event_type = 'A',
             B AS B.value > A.value AND B.value < PREV(B.value)
    )
    """
    with pytest.raises(ValueError, match="mixes PREV"):
        match_recognize(spark, sql, events=_events(spark, [(1, 0, "A", 1)]))


def test_missing_define_rejected(spark):
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(A.event_id) AS a_id
      PATTERN (A B)
      DEFINE A AS A.event_type = 'A'
    )
    """
    with pytest.raises(ValueError, match="no DEFINE"):
        match_recognize(spark, sql, events=_events(spark, [(1, 0, "A", 1)]))


def test_skip_to_next_overlapping_runs(spark):
    # A A C with PATTERN (A+ C): past_last -> one maximal match;
    # to_next -> both the 2-A and the 1-A suffix match.
    base = [(1, 0, "A", 0), (2, 10, "A", 0), (3, 20, "C", 0)]
    sql_past = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_first, COUNT(A.*) AS n_a
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ C)
      DEFINE A AS A.event_type = 'A', C AS C.event_type = 'C'
    )
    """
    sql_next = sql_past.replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
    past = match_recognize(spark, sql_past, events=_events(spark, base)).collect()
    nxt = match_recognize(spark, sql_next, events=_events(spark, base)).collect()
    assert sorted((r.a_first, r.n_a) for r in past) == [(1, 2)]
    assert sorted((r.a_first, r.n_a) for r in nxt) == [(1, 2), (2, 1)]


def test_streaming_joinback_rejected(spark, tmp_path):
    ev = _events(spark, [(1, 0, "A", 1)])
    p = str(tmp_path / "ev")
    ev.write.parquet(p)
    stream = spark.readStream.schema(ev.schema).parquet(p)
    with pytest.raises(ValueError, match="streaming MATCH_RECOGNIZE"):
        match_recognize(spark, _MR, events=stream)


def test_skip_to_parse_and_validation(spark):
    bad = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES LAST(B.event_id) AS b_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO FIRST Z
      PATTERN (A B)
      DEFINE A AS A.event_type = 'A', B AS B.event_type = 'B'
    )
    """
    ev = _events(spark, [(1, 0, "A", 1.0), (2, 5, "B", 1.0)])
    with pytest.raises(ValueError, match="not a pattern variable"):
        match_recognize(spark, bad, events=ev)


def test_s10_sql_front_door_stream_equals_batch(spark, tmp_path):
    """The SQL MATCH_RECOGNIZE front door on a STREAMING source routes
    to the keyed-state NFA backend (StreamExecMatch's streaming-first
    contract) and must equal the batch twin of the same SQL text."""
    from flink_1_11_1_spark.streaming import replay

    from .conftest import SF_SMOKE

    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES LAST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B)
      WITHIN INTERVAL '2' DAY
      DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
    )
    """
    d = str(tmp_path / "replay_mr_sql")
    replay.write_replay(spark, SF_SMOKE, d, parts=4)
    stream = replay.events_stream(spark, d)
    got, _ = replay.run_stream(
        match_recognize(spark, sql, events=stream), "append", "s10_mr_sql"
    )
    batch = match_recognize(spark, sql, sf_dir=SF_SMOKE).collect()
    key = lambda rows: {(r.user_id, r.a_id, r.b_id) for r in rows}  # noqa: E731
    assert key(got) == key(batch)
    assert len(batch) > 0


def test_multikey_stream_equals_batch(spark, tmp_path):
    """Round-10 depth item: multi-column PARTITION BY on a STREAMING
    source — the composite key is decomposed map-side (split + cast)
    instead of the batch join-back, and the stream must equal the
    batch twin of the same SQL text."""
    from pyspark.sql import functions as F

    from flink_1_11_1_spark.streaming import replay

    from .conftest import SF_SMOKE

    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id, dy
      ORDER BY ts, event_id
      MEASURES FIRST(V.event_id) AS v_first, COUNT(V.*) AS n_views,
               LAST(P.event_id) AS p_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (V+ P)
      DEFINE V AS V.event_type = 'view', P AS P.event_type = 'purchase'
    )
    """
    dy = F.dayofmonth("ts").cast("long")
    d = str(tmp_path / "replay_mr_mk")
    replay.write_replay(spark, SF_SMOKE, d, parts=4)
    stream = replay.events_stream(spark, d).withColumn("dy", dy)
    got, _ = replay.run_stream(
        match_recognize(spark, sql, events=stream), "append", "s_mr_mk"
    )
    from flink_1_11_1_spark import catalog as _catalog

    ev = _catalog.load_table(spark, SF_SMOKE, "events").withColumn("dy", dy)
    batch = match_recognize(spark, sql, events=ev).collect()
    key = lambda rows: {  # noqa: E731
        (r.user_id, r.dy, r.v_first, r.n_views, r.p_id) for r in rows
    }
    assert key(got) == key(batch)
    assert len(batch) > 0
    # the decomposed components keep their source types
    sdf = match_recognize(spark, sql, events=stream)
    assert dict(sdf.dtypes)["user_id"] == dict(ev.dtypes)["user_id"]
    assert dict(sdf.dtypes)["dy"] == "bigint"


def test_multikey_stream_rejects_non_roundtrip_key_type(spark, tmp_path):
    """A DOUBLE key column cannot round-trip through the composite key
    on the streaming path — loud error, not silent corruption."""
    from pyspark.sql import functions as F

    ev = _events(spark, [(1, 0, "A", 1.0)]).withColumn(
        "fkey", F.col("value")
    )
    p = str(tmp_path / "mr_mk_bad")
    ev.write.parquet(p)
    stream = spark.readStream.schema(ev.schema).parquet(p)
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id, fkey
      ORDER BY ts, event_id
      MEASURES LAST(A.event_id) AS a_id
      ONE ROW PER MATCH
      PATTERN (A)
      DEFINE A AS A.event_type = 'A'
    )
    """
    with pytest.raises(ValueError, match="round-trip"):
        match_recognize(spark, sql, events=stream)


def test_aggregate_measures_hand_computed(spark):
    """SUM/AVG/MIN/MAX over a quantified variable's rows (Flink
    aggregate measures), decimal-exact accumulation."""
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES SUM(B.value) AS s, AVG(B.value) AS m,
               MIN(B.value) AS lo, MAX(B.value) AS hi,
               LAST(C.event_id) AS c_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B+ C)
      DEFINE A AS A.event_type = 'A', B AS B.event_type = 'B',
             C AS C.event_type = 'C'
    )
    """
    ev = _events(
        spark,
        [(1, 0, "A", 1.0), (2, 5, "B", 2.5), (3, 9, "B", 4.0), (4, 12, "C", 9.0)],
    )
    rows = match_recognize(spark, sql, events=ev).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.s, r.m, r.lo, r.hi, r.c_id) == (6.5, 3.25, 2.5, 4.0, 4)

    # a measure column that only a quoted identifier can name: the
    # aggregates and the LAST join-back resolve it by exact name
    quoted = sql.replace(
        "LAST(C.event_id) AS c_id",
        "LAST(B.`unit price, in ``$``.`) AS last_b",
    ).replace("B.value)", "B.`unit price, in ``$``.`)")
    odd = ev.withColumnRenamed("value", "unit price, in `$`.")
    r = match_recognize(spark, quoted, events=odd).collect()[0]
    assert (r.s, r.m, r.lo, r.hi, r.last_b) == (6.5, 3.25, 2.5, 4.0, 4.0)


def test_aggregate_measures_streaming_rejected(spark, tmp_path):
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES SUM(B.value) AS s
      ONE ROW PER MATCH
      PATTERN (A B)
      DEFINE A AS A.event_type = 'A', B AS B.event_type = 'B'
    )
    """
    ev = _events(spark, [(1, 0, "A", 1.0)])
    p = str(tmp_path / "mr_agg_stream")
    ev.write.parquet(p)
    stream = spark.readStream.schema(ev.schema).parquet(p)
    with pytest.raises(ValueError, match="bounded join-back"):
        match_recognize(spark, sql, events=stream)


def test_running_measures_hand_computed(spark):
    """RUNNING semantics: each ALL-ROWS output row sees only the match
    prefix — on the V rows of V+ P, COUNT grows and P is unbound."""
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES RUNNING COUNT(V.*) AS nv, RUNNING LAST(P.event_id) AS p_seen,
               CLASSIFIER() AS classifier
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (V{2} P)
      DEFINE V AS V.event_type = 'V', P AS P.event_type = 'P'
    )
    """
    ev = _events(spark, [(1, 0, "V", 0.0), (2, 5, "V", 0.0), (3, 9, "P", 0.0)])
    rows = sorted(
        match_recognize(spark, sql, events=ev).collect(), key=lambda r: r.event_id
    )
    assert [(r.event_id, r.nv, r.p_seen, r.classifier) for r in rows] == [
        (1, 1, None, "V"),
        (2, 2, None, "V"),
        (3, 2, 3, "P"),
    ]


def test_running_requires_all_rows(spark):
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES RUNNING COUNT(V.*) AS nv
      ONE ROW PER MATCH
      PATTERN (V P)
      DEFINE V AS V.event_type = 'V', P AS P.event_type = 'P'
    )
    """
    ev = _events(spark, [(1, 0, "V", 0.0)])
    with pytest.raises(ValueError, match="ALL ROWS"):
        match_recognize(spark, sql, events=ev)


def test_logical_offset_navigation(spark):
    """FIRST/LAST(V.col, n): the (n+1)-th mapped row from either end;
    NULL out of range (Flink logical offsets)."""
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(V.event_id) AS v1, FIRST(V.event_id, 1) AS v2,
               LAST(V.event_id, 1) AS v_penult, LAST(V.event_id, 5) AS v_oob,
               LAST(V.value, 2) AS v3_val, LAST(P.event_id) AS p_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (V{3} P)
      DEFINE V AS V.event_type = 'V', P AS P.event_type = 'P'
    )
    """
    ev = _events(
        spark,
        [(1, 0, "V", 1.5), (2, 4, "V", 2.5), (3, 8, "V", 3.5), (4, 12, "P", 9.0)],
    )
    rows = match_recognize(spark, sql, events=ev).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.v1, r.v2, r.v_penult, r.v_oob, r.v3_val, r.p_id) == (
        1, 2, 2, None, 1.5, 4
    )


def test_logical_offset_rejects_running_and_aggregates(spark):
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES SUM(V.value, 1) AS s
      ONE ROW PER MATCH
      PATTERN (V P)
      DEFINE V AS V.event_type = 'V', P AS P.event_type = 'P'
    )
    """
    ev = _events(spark, [(1, 0, "V", 0.0)])
    with pytest.raises(ValueError, match="logical offset"):
        match_recognize(spark, sql, events=ev)


def test_backtracking_closes_the_greedy_delta(spark):
    """The round-7 backtracking tier closes the documented
    deterministic-greedy delta vs Flink's NFA ([cep]nfa/NFA.java):

    PATTERN (A+ B), A := value >= 10, B := value >= 50, rows
    [10, 60, 90].  Rows 60/90 satisfy BOTH conditions; the overlap is
    not provably disjoint, so match_recognize auto-selects the
    branching fold and emits Flink's answer — A+ = [10, 60], B = 90
    (the regex-greedy allocation).  Forcing backtracking=False
    reproduces the legacy deterministic-greedy behavior (A+ absorbs
    everything, no match), and the prescribed mutually-exclusive
    DEFINE keeps the native-lowered path with the identical result."""
    sql_overlap = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_first, LAST(B.event_id) AS b_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ B)
      DEFINE A AS A.value >= 10, B AS B.value >= 50
    )
    """
    ev = _events(spark, [(1, 0, "x", 10), (2, 10, "x", 60), (3, 20, "x", 90)])
    rows = match_recognize(spark, sql_overlap, events=ev).collect()
    assert [(r.a_first, r.b_id) for r in rows] == [(1, 3)]

    # explicit opt-out: the deterministic-greedy legacy behavior
    assert match_recognize(
        spark, sql_overlap, events=ev, backtracking=False).collect() == []

    # the mutually-exclusive dispatch stays on the greedy/lowered path
    # (auto-detection proves disjointness) with the same final answer
    sql_disjoint = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_first, LAST(B.event_id) AS b_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ B)
      DEFINE A AS A.value >= 10 AND A.value < 50, B AS B.value >= 50
    )
    """
    rows = match_recognize(spark, sql_disjoint, events=ev).collect()
    assert [(r.a_first, r.b_id) for r in rows] == [(1, 2)]


def test_backtracking_optional_overlap(spark):
    """A B? C with B and C satisfiable by the same row: the branching
    fold skips the optional when taking it would kill the match
    (Flink parity); when both bindings complete, the greedy one (B
    taken) wins."""
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_id, LAST(C.event_id) AS c_id,
               COUNT(B.*) AS nb
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B? C)
      DEFINE A AS A.value < 50, B AS B.value >= 50, C AS C.value >= 50
    )
    """
    # one high row: backtrack binds it to C (optional skipped)
    ev = _events(spark, [(1, 0, "x", 10), (2, 10, "x", 60)])
    rows = match_recognize(spark, sql, events=ev).collect()
    assert [(r.a_id, r.c_id, r.nb) for r in rows] == [(1, 2, 0)]
    # two high rows: greedy takes the optional
    ev = _events(spark, [(1, 0, "x", 10), (2, 10, "x", 60), (3, 20, "x", 70)])
    rows = match_recognize(spark, sql, events=ev).collect()
    assert [(r.a_id, r.c_id, r.nb) for r in rows] == [(1, 3, 1)]


def test_range_prover_keeps_disjoint_ranges_on_fast_path(spark):
    """Numeric-range dispatch (value bands) is provably disjoint: the
    auto-detection must NOT select backtracking (the deterministic
    fold/lowering applies), and the result is the expected band match."""
    from flink_1_11_1_spark.extensions.match_recognize import (
        _needs_backtracking, _ranges_disjoint, _state_ranges)
    from flink_1_11_1_spark.streaming.nfa import PatternSeq

    p = (PatternSeq.begin("A", "value >= 10 AND value < 50").one_or_more()
         .followed_by("B", "value >= 50"))
    assert not _needs_backtracking(p.states)
    p2 = (PatternSeq.begin("A", "value >= 10").one_or_more()
          .followed_by("B", "value >= 50"))
    assert _needs_backtracking(p2.states)

    # boundary semantics: [_, 50) vs [50, _] disjoint; [_, 50] vs
    # [50, _] touch at an included point -> NOT disjoint
    lo = {"v": (float("-inf"), False, 50.0, False)}
    lo_incl = {"v": (float("-inf"), False, 50.0, True)}
    hi = {"v": (50.0, True, float("inf"), False)}
    assert _ranges_disjoint(lo, hi)
    assert not _ranges_disjoint(lo_incl, hi)

    class S:
        name, py_cond, sql_cond = "A", None, None
        cond = "value >= 10 AND value < 50 AND other = 3"

    r = _state_ranges(S())
    assert r["value"] == (10.0, True, 50.0, False)
    assert r["other"] == (3.0, True, 3.0, True)

    # end-to-end: the banded SQL runs the greedy path with the same
    # answer the backtracking mode gives (no fork is possible)
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_first, LAST(B.event_id) AS b_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ B)
      DEFINE A AS A.value >= 10 AND A.value < 50, B AS B.value >= 50
    )
    """
    ev = _events(spark, [(1, 0, "x", 10), (2, 10, "x", 20), (3, 20, "x", 60)])
    rows = match_recognize(spark, sql, events=ev).collect()
    assert [(r.a_first, r.b_id) for r in rows] == [(1, 3)]


def test_reluctant_quantifier(spark):
    """A+? B (reluctant): the SHORTEST A+ that completes wins — over
    [10, 60, 90] that is A=[10], B=60; the greedy twin binds
    A=[10, 60], B=90.  A pattern may not END reluctant (Flink rule)."""
    sql = """
    SELECT * FROM ev MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(A.event_id) AS a_first, LAST(A.event_id) AS a_last,
               LAST(B.event_id) AS b_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+? B)
      DEFINE A AS A.value >= 10, B AS B.value >= 50
    )
    """
    ev = _events(spark, [(1, 0, "x", 10), (2, 10, "x", 60), (3, 20, "x", 90)])
    rows = match_recognize(spark, sql, events=ev).collect()
    assert [(r.a_first, r.a_last, r.b_id) for r in rows] == [(1, 1, 2)]

    # a pattern cannot END reluctant: via SQL the bounded-final rule
    # already rejects every reluctant-capable final quantifier
    with pytest.raises(ValueError, match="final state|reluctant"):
        match_recognize(spark, sql.replace("(A+? B)", "(A B+?)"), events=ev)


def test_reluctant_needs_backtracking_mode():
    from flink_1_11_1_spark.streaming.nfa import PatternSeq

    p = (PatternSeq.begin("A", "value >= 10").one_or_more().reluctant()
         .followed_by("B", "value >= 50"))
    with pytest.raises(ValueError, match="with_backtracking"):
        p._check()
    p.with_backtracking()._check()  # fine
    # manually-built reluctant FINAL state (unreachable via SQL parse)
    bad = (PatternSeq.begin("A", "value >= 10")
           .followed_by("B", "value >= 50").times(2)
           .reluctant().with_backtracking())
    with pytest.raises(ValueError, match="END with a reluctant"):
        bad._check()


# ---------------- composable table-factor placement (round 9) ---------


_FACTOR_MR = """MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES LAST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B)
  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
)"""


@pytest.fixture()
def factor_env(spark):
    from flink_1_11_1_spark.table_env import TableEnvironment

    _events(spark, [
        (1, 0, "click", 1), (2, 10, "purchase", 2),
        (3, 20, "click", 3), (4, 30, "view", 4),
        (5, 40, "click", 5), (6, 50, "purchase", 6),
    ]).createOrReplaceTempView("mrf_ev")
    spark.createDataFrame(
        [(1, "gold")], "user_id long, tier string"
    ).createOrReplaceTempView("mrf_dim")
    yield TableEnvironment(spark)
    spark.catalog.dropTempView("mrf_ev")
    spark.catalog.dropTempView("mrf_dim")


def test_mr_factor_alias_and_projection(factor_env):
    """MATCH_RECOGNIZE as a table primary (Calcite SqlMatchRecognize):
    aliased, explicitly projected, filtered."""
    rows = factor_env.execute_sql(
        f"SELECT m.a_id FROM mrf_ev {_FACTOR_MR} AS m "
        "WHERE m.b_id > 2 ORDER BY m.a_id"
    ).collect()
    assert [r.a_id for r in rows] == [5]


def test_mr_factor_join_and_cte(factor_env):
    rows = factor_env.execute_sql(
        f"""WITH funnel AS (SELECT * FROM mrf_ev {_FACTOR_MR})
        SELECT d.tier, count(*) AS n
        FROM funnel f JOIN mrf_dim d ON f.user_id = d.user_id
        GROUP BY d.tier"""
    ).collect()
    assert [(r.tier, r.n) for r in rows] == [("gold", 2)]


def test_mr_factor_insert_into(factor_env, tmp_path):
    p = str(tmp_path / "mrf_sink")
    factor_env.execute_sql(
        f"""CREATE TABLE mrf_sink (user_id BIGINT, a_id BIGINT) WITH (
        'connector'='filesystem', 'path'='{p}', 'format'='parquet')"""
    )
    factor_env.execute_sql(
        f"INSERT INTO mrf_sink SELECT m.user_id, m.a_id "
        f"FROM mrf_ev {_FACTOR_MR} m"
    )
    got = sorted(
        r.a_id for r in factor_env.spark.read.parquet(p).collect()
    )
    assert got == [1, 5]
    factor_env.execute_sql("DROP TABLE mrf_sink")


def test_mr_factor_standalone_unchanged(factor_env):
    """The standalone statement shape still routes through the original
    front door (proven-entry path untouched)."""
    rows = factor_env.execute_sql(
        f"SELECT * FROM mrf_ev {_FACTOR_MR}"
    ).collect()
    assert sorted(r.a_id for r in rows) == [1, 5]


def test_mr_factor_subquery_source_raises(factor_env):
    with pytest.raises(ValueError, match="named table/view"):
        factor_env.execute_sql(
            f"SELECT * FROM (SELECT * FROM mrf_ev) {_FACTOR_MR}"
        )


def test_mr_factor_literal_safety(factor_env):
    row = factor_env.execute_sql(
        "SELECT 'FROM t MATCH_RECOGNIZE (x)' AS s"
    ).collect()[0]
    assert row.s == "FROM t MATCH_RECOGNIZE (x)"


# ---------------- SQL:2016 SUBSET union variables (round 9) -----------


_SUBSET_EVENTS = [
    (1, 0, "view", 5), (2, 10, "click", 10), (3, 20, "view", 7),
    (4, 30, "click", 20), (5, 40, "purchase", 100),
    (6, 50, "view", 3), (7, 60, "purchase", 50),
]


def test_subset_measures_all_forms(spark):
    """FIRST/LAST/COUNT over a union variable, plus join-back
    MIN/MAX/SUM and offset navigation."""
    ev = _events(spark, _SUBSET_EVENTS)
    rows = match_recognize(spark, """
    SELECT * FROM e MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(U.event_id) AS u_first, LAST(U.event_id) AS u_last,
               FIRST(U.event_id, 1) AS u_second, COUNT(U.*) AS u_n,
               MIN(U.value) AS u_min, MAX(U.value) AS u_max,
               SUM(U.value) AS u_sum, LAST(C.event_id) AS c_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B C)
      SUBSET U = (A, B)
      DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click',
             C AS C.event_type = 'purchase'
    )""", events=ev).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.u_first, r.u_last, r.u_second, r.u_n) == (3, 4, 4, 2)
    assert (r.u_min, r.u_max, r.u_sum) == (7.0, 20.0, 27.0)
    assert r.c_id == 5


def test_subset_in_define(spark):
    """FIRST/LAST(U.col) inside DEFINE routes to the fold (tuple
    navigation); running semantics bind the current row for members."""
    ev = _events(spark, _SUBSET_EVENTS)
    rows = match_recognize(spark, """
    SELECT * FROM e MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES LAST(C.event_id) AS c_id, FIRST(U.value) AS u_first_val
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B C)
      SUBSET U = (A, B)
      DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click',
             C AS C.event_type = 'purchase' AND C.value > FIRST(U.value)
    )""", events=ev).collect()
    assert [(r.c_id, r.u_first_val) for r in rows] == [(5, 7.0)]


def test_subset_fold_equivalence(spark):
    """A measures-only SUBSET query returns identical rows through the
    deterministic-greedy path and the forced branching fold."""
    ev = _events(spark, _SUBSET_EVENTS)
    sql = """
    SELECT * FROM e MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(S.event_id) AS s_first, LAST(S.event_id) AS s_last,
               COUNT(S.*) AS n_all
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (V+ P)
      SUBSET S = (V, P)
      DEFINE V AS V.event_type = 'view', P AS P.event_type = 'purchase'
    )"""
    a = sorted(
        tuple(r) for r in match_recognize(spark, sql, events=ev).collect()
    )
    b = sorted(
        tuple(r)
        for r in match_recognize(
            spark, sql, events=ev, backtracking=True
        ).collect()
    )
    assert a == b and len(a) == 1
    assert a[0][1:] == (6, 7, 2)


def test_subset_validation_errors(spark):
    ev = _events(spark, _SUBSET_EVENTS)
    base = """
    SELECT * FROM e MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES LAST(A.event_id) AS a_id
      ONE ROW PER MATCH PATTERN (A B) {subset}
      DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click')"""
    with pytest.raises(ValueError, match="not[\\s\\S]*pattern variables"):
        match_recognize(spark, base.format(subset="SUBSET U = (A, Z)"), events=ev)
    with pytest.raises(ValueError, match="collides"):
        match_recognize(spark, base.format(subset="SUBSET A = (B)"), events=ev)
    with pytest.raises(ValueError, match="collides"):
        match_recognize(
            spark,
            base.format(subset="SUBSET U = (A), U = (B)"),
            events=ev,
        )


# ---------------- multi-column PARTITION BY (round 9) -----------------


def test_multi_key_partition_by(spark):
    """PARTITION BY k1, k2 (Flink/Calcite key lists): composite-key
    matching with component columns restored on the output."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # (region, user) = ('eu', 1): click then purchase -> match
        ("eu", 1, 1, base, "click"), ("eu", 1, 2, base + dt.timedelta(seconds=9), "purchase"),
        # same user id in another region: NO adjacency across regions
        ("us", 1, 3, base + dt.timedelta(seconds=5), "click"),
        ("us", 1, 4, base + dt.timedelta(seconds=20), "view"),
        # ('us', 2): match
        ("us", 2, 5, base + dt.timedelta(seconds=30), "click"),
        ("us", 2, 6, base + dt.timedelta(seconds=40), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "region string, user_id long, event_id long, ts timestamp, event_type string"
    )
    out = match_recognize(spark, """
    SELECT * FROM e MATCH_RECOGNIZE (
      PARTITION BY region, user_id ORDER BY ts, event_id
      MEASURES LAST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B)
      DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
    )""", events=ev)
    assert out.columns == ["region", "user_id", "a_id", "b_id"]
    got = sorted((r.region, r.user_id, r.a_id, r.b_id) for r in out.collect())
    assert got == [("eu", 1, 1, 2), ("us", 2, 5, 6)]


def test_multi_key_streaming_executes(spark, tmp_path):
    """Round 10: multi-column PARTITION BY works on streams (the
    round-9 raise is gone) — the composite key decomposes map-side and
    the stream equals the batch twin."""
    from flink_1_11_1_spark.streaming import replay

    from .conftest import SF_SMOKE

    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id, event_type ORDER BY ts, event_id
      MEASURES LAST(A.event_id) AS a_id
      ONE ROW PER MATCH PATTERN (A)
      DEFINE A AS A.value >= 0 AND A.event_type <> '__flush__'
    )"""
    d = str(tmp_path / "replay_mk")
    replay.write_replay(spark, SF_SMOKE, d, parts=2)
    stream = replay.events_stream(spark, d)
    got, _ = replay.run_stream(
        match_recognize(spark, sql, events=stream), "append", "s_mk_exec"
    )
    batch = match_recognize(spark, sql, sf_dir=SF_SMOKE).collect()
    key = lambda rows: {  # noqa: E731
        (r.user_id, r.event_type, r.a_id) for r in rows
    }
    assert key(got) == key(batch) and len(batch) > 0


def test_subset_measures_band_vs_classifier(spark):
    """Randomized band (seeded): SUBSET measures must equal the same
    quantities recomputed from the ALL ROWS classifier stream of the
    identical pattern — FIRST/LAST/COUNT over the union are pure
    functions of the per-row labels."""
    import random

    rng = random.Random(909)
    types = ["view", "click", "purchase"]
    rows = []
    eid = 0
    for _ in range(200):
        eid += 1
        rows.append((eid, 10 * eid, rng.choice(types), rng.randint(1, 9)))
    ev = _events(spark, rows)
    one = """
    SELECT * FROM e MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(U.event_id) AS u_first, LAST(U.event_id) AS u_last,
               COUNT(U.*) AS u_n, LAST(C.event_id) AS c_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B* C)
      SUBSET U = (A, B)
      DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click',
             C AS C.event_type = 'purchase'
    )"""
    allrows = one.replace(
        "FIRST(U.event_id) AS u_first, LAST(U.event_id) AS u_last,\n"
        "               COUNT(U.*) AS u_n, LAST(C.event_id) AS c_id\n"
        "      ONE ROW PER MATCH",
        "LAST(C.event_id) AS c_id ALL ROWS PER MATCH",
    )
    got = {
        r.c_id: (r.u_first, r.u_last, r.u_n)
        for r in match_recognize(spark, one, events=ev).collect()
    }
    per_row = match_recognize(spark, allrows, events=ev).collect()
    want: dict = {}
    for r in sorted(per_row, key=lambda r: r.event_id):
        if r.classifier in ("A", "B"):
            f, l, n = want.get(r.c_id, (None, None, 0))
            want[r.c_id] = (f if f is not None else r.event_id, r.event_id, n + 1)
    assert got == want and len(got) > 5


def test_subset_measures_streaming(spark, tmp_path):
    """SUBSET measures over ts/event_id/COUNT work on the streaming
    backend too (nav_of is a pure projection over the match frame)."""
    import datetime as dt

    from flink_1_11_1_spark.streaming import replay

    base = dt.datetime(2024, 1, 1)
    cols = "user_id long, event_id long, ts timestamp, event_type string, value double"
    f1 = spark.createDataFrame(
        [(1, 1, base, "view", 1.0),
         (1, 2, base + dt.timedelta(seconds=5), "view", 2.0)], cols)
    f2 = spark.createDataFrame(
        [(1, 3, base + dt.timedelta(seconds=9), "purchase", 9.0)], cols)
    f3 = spark.createDataFrame(
        [(1, 99, base + dt.timedelta(days=30), "__flush__", 0.0)], cols)
    d = str(tmp_path / "replay_subset")
    replay.write_replay_frames([f1, f2, f3], d)
    stream = replay.events_stream(spark, d)
    out = match_recognize(spark, """
    SELECT * FROM e MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES FIRST(S.event_id) AS s_first, LAST(S.event_id) AS s_last,
               COUNT(S.*) AS n_all
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (V+ P)
      SUBSET S = (V, P)
      DEFINE V AS V.event_type = 'view', P AS P.event_type = 'purchase'
    )""", events=stream)
    got, _ = replay.run_stream(out, "append", "s_subset_mr")
    assert [(r.s_first, r.s_last, r.n_all) for r in got] == [(1, 3, 3)]


# -------------------- round 11: greedy quantified FINAL states --------


def test_quantified_final_pattern_greedy_longest(spark):
    """PATTERN (A B{1,3}) — valid Flink 1.11, previously rejected:
    greedy takes the longest run up to the cap; end of partition closes
    a shorter run."""
    rows = [
        # user 1: V C C C C → one match, B count capped at 3
        *[(1, i, f"2026-01-01 00:0{i}:00", t)
          for i, t in enumerate(["view", "click", "click", "click", "click"])],
        # user 2: V C C <end> → finalize closes at 2
        *[(2, 10 + i, f"2026-01-01 00:0{i}:00", t)
          for i, t in enumerate(["view", "click", "click"])],
        # user 3: V C V → break row closes at 1
        *[(3, 20 + i, f"2026-01-01 00:0{i}:00", t)
          for i, t in enumerate(["view", "click", "view"])],
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts_s string, event_type string"
    ).selectExpr(
        "user_id", "event_id", "cast(ts_s as timestamp) ts", "event_type",
        "cast(1.0 as double) value", "cast(null as string) props")
    df.createOrReplaceTempView("mr_qf_ev")
    out = match_recognize(spark, """
      SELECT * FROM mr_qf_ev MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES count(B.*) AS nb
        PATTERN (A B{1,3})
        DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'
      )""")
    got = sorted((r.user_id, r.nb) for r in out.collect())
    assert got == [(1, 3), (2, 2), (3, 1)]


def test_quantified_final_one_or_more(spark):
    """PATTERN (A B+) — unbounded greedy final (fold path)."""
    rows = [(1, i, f"2026-01-01 00:0{i}:00", t)
            for i, t in enumerate(
                ["view", "click", "click", "click", "click", "click"])]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts_s string, event_type string"
    ).selectExpr(
        "user_id", "event_id", "cast(ts_s as timestamp) ts", "event_type",
        "cast(1.0 as double) value", "cast(null as string) props")
    df.createOrReplaceTempView("mr_qf_plus")
    out = match_recognize(spark, """
      SELECT * FROM mr_qf_plus MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES count(B.*) AS nb
        PATTERN (A B+)
        DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'
      )""")
    assert [(r.user_id, r.nb) for r in out.collect()] == [(1, 5)]


def test_quantified_final_subset_navigation(spark):
    """SUBSET union navigated from a QUANTIFIED last state through the
    front door (the round-10 lesson's silently-unlowered shape): each C
    repetition must clear the first U row's value."""
    rows = [
        # click(10) view(20) view(30) view(5) → C takes 2 (third fails)
        (1, 0, "2026-01-01 00:00:00", "click", 10.0),
        (1, 1, "2026-01-01 00:01:00", "view", 20.0),
        (1, 2, "2026-01-01 00:02:00", "view", 30.0),
        (1, 3, "2026-01-01 00:03:00", "view", 5.0),
        # click(10) view(11) view(12) view(13) view(14) → cap at 3
        (2, 10, "2026-01-01 00:00:00", "click", 10.0),
        (2, 11, "2026-01-01 00:01:00", "view", 11.0),
        (2, 12, "2026-01-01 00:02:00", "view", 12.0),
        (2, 13, "2026-01-01 00:03:00", "view", 13.0),
        (2, 14, "2026-01-01 00:04:00", "view", 14.0),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id bigint, event_id bigint, ts_s string, "
        "event_type string, value double",
    ).selectExpr(
        "user_id", "event_id", "cast(ts_s as timestamp) ts", "event_type",
        "value", "cast(null as string) props")
    df.createOrReplaceTempView("mr_qf_subset")
    sql = """
      SELECT * FROM mr_qf_subset MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES count(C.*) AS nc, first(U.value) AS u0
        PATTERN (A C{1,3})
        SUBSET U = (A, C)
        DEFINE A AS A.event_type = 'click',
               C AS C.event_type = 'view' AND C.value >= FIRST(U.value)
      )"""
    got = sorted((r.user_id, r.nc, r.u0)
                 for r in match_recognize(spark, sql).collect())
    assert got == [(1, 2, 10.0), (2, 3, 10.0)]


def test_quantified_final_stream_equals_batch(spark, tmp_path):
    """Streaming twin: the flush sentinel is a breaking row for strict
    quantified-final runs, so the stream equals the batch finalize."""
    from .conftest import SF_SMOKE

    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES first(A.event_id) AS a_id, count(B.*) AS nb
      ONE ROW PER MATCH
      PATTERN (A B{1,3})
      WITHIN INTERVAL '2' DAY
      DEFINE A AS A.event_type = 'click', B AS B.event_type = 'view'
    )
    """
    from flink_1_11_1_spark.streaming import replay

    d = str(tmp_path / "replay_mr_qf")
    replay.write_replay(spark, SF_SMOKE, d, parts=4)
    stream = replay.events_stream(spark, d)
    got, _ = replay.run_stream(
        match_recognize(spark, sql, events=stream), "append", "s_mr_qf"
    )
    batch = match_recognize(spark, sql, sf_dir=SF_SMOKE).collect()
    key = lambda rows: {(r.user_id, r.a_id, r.nb) for r in rows}  # noqa: E731
    assert key(got) == key(batch)
    assert len(batch) > 0 and any(r.nb > 1 for r in batch)


def test_quantified_final_past_last_break_starts_next_match(spark):
    """The round-11 past_last fix: a break-completed match ends BEFORE
    the completing event, so that event (here the next A) must start
    the next match instead of being swallowed by the skip."""
    rows = [
        (1, 0, "2026-01-01 00:00:00", "click"),
        (1, 1, "2026-01-01 00:01:00", "view"),
        (1, 2, "2026-01-01 00:02:00", "click"),   # breaks match 1, starts match 2
        (1, 3, "2026-01-01 00:03:00", "view"),
        (1, 4, "2026-01-01 00:04:00", "signup"),  # breaks match 2
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts_s string, event_type string"
    ).selectExpr(
        "user_id", "event_id", "cast(ts_s as timestamp) ts", "event_type",
        "cast(1.0 as double) value", "cast(null as string) props")
    df.createOrReplaceTempView("mr_qf_pl")
    out = match_recognize(spark, """
      SELECT * FROM mr_qf_pl MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES first(A.event_id) AS a_id, count(B.*) AS nb
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B{1,3})
        DEFINE A AS A.event_type = 'click', B AS B.event_type = 'view'
      )""")
    got = sorted((r.a_id, r.nb) for r in out.collect())
    assert got == [(0, 1), (2, 1)]


def test_quantified_final_all_rows_per_match(spark):
    """ALL ROWS PER MATCH over a quantified final: one output row per
    consumed event with the per-row classifier and the final measure."""
    rows = [(1, i, f"2026-01-01 00:0{i}:00", t)
            for i, t in enumerate(["view", "click", "click", "view"])]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts_s string, event_type string"
    ).selectExpr(
        "user_id", "event_id", "cast(ts_s as timestamp) ts", "event_type",
        "cast(1.0 as double) value", "cast(null as string) props")
    df.createOrReplaceTempView("mr_qf_ar")
    out = match_recognize(spark, """
      SELECT * FROM mr_qf_ar MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES count(B.*) AS nb
        ALL ROWS PER MATCH
        PATTERN (A B{1,3})
        DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'
      )""")
    got = [(r.user_id, r.nb, r.event_id) for r in out.collect()]
    assert got == [(1, 2, 0), (1, 2, 1), (1, 2, 2)]
