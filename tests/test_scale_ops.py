"""Scale-path operators: salting rewrites, bucketed co-located joins,
fluent Pattern API."""

import pytest

from pyspark.sql import functions as F

from flink_1_11_1_spark import catalog
from flink_1_11_1_spark.operators import skew
from flink_1_11_1_spark.streaming.nfa import PatternSeq

from . import pattern_oracle
from .conftest import SF_SMOKE


def test_salted_agg_equals_plain(spark):
    orders = catalog.load_table(spark, SF_SMOKE, "orders")
    got = {
        r.o_orderpriority: (r.n, round(r.s, 2), r.mx)
        for r in skew.salted_agg(
            orders,
            ["o_orderpriority"],
            {
                "n": ("count", "*"),
                "s": ("sum", "o_totalprice"),
                "mx": ("max", "o_totalprice"),
            },
            num_salts=8,
        ).collect()
    }
    want = {
        r.o_orderpriority: (r.n, round(r.s, 2), r.mx)
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.max("o_totalprice").alias("mx"),
        )
        .collect()
    }
    assert got == want


def _session_set(rows, names):
    return {
        tuple(
            [getattr(r, k) for k in ("user_id",)]
            + [r.session_start, r.session_end]
            + [
                round(getattr(r, n), 6)
                if isinstance(getattr(r, n), float) else getattr(r, n)
                for n in names
            ]
        )
        for r in rows
    }


def test_salted_session_agg_equals_plain(spark):
    """Gap-safe pre-bucket session aggregation (round 12 — VERDICT r11
    next #5): identical sessions + aggregates to the unsalted
    session_agg on real events, bucket boundaries included."""
    from flink_1_11_1_spark.operators.windows import session_agg

    ev = catalog.load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "value")
    aggs = {"n": ("count", "*"), "s": ("sum", "value"),
            "mx": ("max", "value")}
    got = skew.salted_session_agg(
        ev, "ts", "30 minutes", ["user_id"], aggs, bucket="6 hours")
    want = session_agg(
        ev, "ts", "30 minutes", ["user_id"],
        [F.count("*").alias("n"), F.sum("value").alias("s"),
         F.max("value").alias("mx")])
    names = ["n", "s", "mx"]
    assert _session_set(got.collect(), names) == _session_set(
        want.select(*got.columns).collect(), names)


def test_salted_session_agg_boundary_edges(spark):
    """Crafted sessions that straddle, touch, and exactly-abut bucket
    boundaries: chains across several buckets, an exact-gap non-merge,
    and a sub-gap cross-boundary merge."""
    import datetime as dt

    from flink_1_11_1_spark.operators.windows import session_agg

    base = dt.datetime(2024, 1, 1)  # bucket width 1 hour below

    def t(minutes):
        return base + dt.timedelta(minutes=minutes)

    rows = [
        # u1: chain crossing two hour-boundaries (55, 65, 115, 125 —
        # all 10-minute steps, gap 15m → ONE session across 3 buckets)
        (1, t(55), 1.0), (1, t(65), 2.0), (1, t(115), 3.0), (1, t(125), 4.0),
        # wait — 65 → 115 is 50m > gap; split there.  Kept as two
        # boundary-crossing pairs instead (55+65 merge, 115+125 merge).
        # u2: exact-gap abutment across the boundary (50, 65 with gap
        # 15m → MERGED: Spark's session merge is inclusive at
        # next_first == prev_last + gap, unlike Flink's strict gap)
        (2, t(50), 1.0), (2, t(65), 1.0),
        # u3: sub-gap cross-boundary merge (59, 61)
        (3, t(59), 5.0), (3, t(61), 7.0),
        # u4: single event exactly at a bucket boundary
        (4, t(60), 9.0),
        # u5: dense chain covering a whole bucket (every 10m for 3h)
        *[(5, t(m), float(m)) for m in range(0, 181, 10)],
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double")
    aggs = {"n": ("count", "*"), "s": ("sum", "value"),
            "mn": ("min", "value")}
    got = skew.salted_session_agg(
        ev, "ts", "15 minutes", ["user_id"], aggs, bucket="1 hour")
    want = session_agg(
        ev, "ts", "15 minutes", ["user_id"],
        [F.count("*").alias("n"), F.sum("value").alias("s"),
         F.min("value").alias("mn")])
    names = ["n", "s", "mn"]
    assert _session_set(got.collect(), names) == _session_set(
        want.select(*got.columns).collect(), names)
    # u2's exact-gap pair merges (inclusive); u5's chain is one session
    per_user = {r.user_id: r.n for r in got.groupBy("user_id").agg(
        F.count("*").alias("n")).collect()}
    assert per_user[2] == 1 and per_user[5] == 1


def test_salted_join_equals_plain(spark):
    cust = catalog.load_table(spark, SF_SMOKE, "customer")
    nation = catalog.load_table(spark, SF_SMOKE, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    got = skew.salted_join(cust, nation, ["c_nationkey"], num_salts=4)
    want = cust.join(nation, ["c_nationkey"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # left join keeps unmatched probe rows exactly once
    nation_partial = nation.where("c_nationkey < 5")
    got_l = skew.salted_join(cust, nation_partial, ["c_nationkey"], 4, "left")
    want_l = cust.join(nation_partial, ["c_nationkey"], "left")
    assert sorted(map(tuple, got_l.collect())) == sorted(map(tuple, want_l.collect()))


def test_salted_join_splits_shuffle_num_salts_ways(spark):
    """The salted join's shuffle keys must include the salt: both sides
    hash-partition on (key, _salt), so one hot key's rows land on
    num_salts reducers instead of one (the point of the rewrite)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cust = catalog.load_table(spark, SF_SMOKE, "customer")
        nation = catalog.load_table(spark, SF_SMOKE, "nation").withColumnRenamed(
            "n_nationkey", "c_nationkey"
        )
        got = skew.salted_join(cust, nation, ["c_nationkey"], num_salts=4)
        got.collect()  # finalize AQE plan
        plan = got._jdf.queryExecution().executedPlan().toString()

        # balanced-paren capture (CLAUDE.md: [^)]* dies on a ')' inside —
        # partitioning expressions can wrap keys in cast(...)/etc.)
        def _partitionings(text):
            out, needle = [], "hashpartitioning("
            pos = text.find(needle)
            while pos >= 0:
                depth, j = 1, pos + len(needle)
                while j < len(text) and depth:
                    depth += {"(": 1, ")": -1}.get(text[j], 0)
                    j += 1
                out.append(text[pos + len(needle) : j - 1])
                pos = text.find(needle, j)
            return out

        parts = _partitionings(plan)
        salted = [p for p in parts if "c_nationkey" in p and "_salt" in p]
        assert len(salted) >= 2, f"join inputs not partitioned on (key, salt): {parts}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketing both sides on the join key co-locates the join: the
    SortMergeJoin runs without Exchange on either input (the engine's
    pre-partitioning answer for repeated big-big joins)."""
    orders = catalog.load_table(spark, SF_SMOKE, "orders")
    lineitem = catalog.load_table(spark, SF_SMOKE, "lineitem")
    spark.sql("DROP TABLE IF EXISTS t_bucket_orders")
    spark.sql("DROP TABLE IF EXISTS t_bucket_lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").format("parquet").saveAsTable("t_bucket_orders")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").format("parquet").saveAsTable("t_bucket_lineitem")
    )
    try:
        joined = (
            spark.table("t_bucket_orders").hint("merge")
            .join(
                spark.table("t_bucket_lineitem").hint("merge"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
        )
        assert joined.count() == lineitem.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located, no shuffle
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_orders")
        spark.sql("DROP TABLE IF EXISTS t_bucket_lineitem")


def _pairs(matches) -> set[tuple[int, int, int]]:
    return {(r.user_id, r.ids[0], r.ids[1]) for r in matches.collect()}


def test_pattern_api_compiles_to_cep(spark, duck):
    ev = catalog.load_table(spark, SF_SMOKE, "events")
    fluent = (
        PatternSeq.begin("a", "event_type = 'view'")
        .followed_by("b", "event_type = 'click'")
        .within("1 hour")
        .match_batch(ev)
    )
    want = pattern_oracle.pattern_pairs(
        duck, "event_type = 'view'", "event_type = 'click'", 3600
    )
    assert want and _pairs(fluent) == want


def test_pattern_custom_conditions(spark, duck):
    ev = catalog.load_table(spark, SF_SMOKE, "events")
    m = (
        PatternSeq.begin("a", "event_type = 'click'")
        .followed_by("b", "event_type = 'error'")
        .within("30 minutes")
        .match_batch(ev)
    )
    rows = m.collect()
    clicks = {r.event_id for r in ev.where("event_type = 'click'").collect()}
    errors = {r.event_id for r in ev.where("event_type = 'error'").collect()}
    assert all(r.ids[0] in clicks and r.ids[1] in errors for r in rows)
    assert all((r.end_ts - r.start_ts).total_seconds() <= 1800 for r in rows)
    assert len(rows) > 0
    assert {(r.user_id, r.ids[0], r.ids[1]) for r in rows} == (
        pattern_oracle.pattern_pairs(
            duck, "event_type = 'click'", "event_type = 'error'", 1800
        )
    )


def test_pattern_api_validation():
    with pytest.raises(ValueError, match="unsupported interval"):
        PatternSeq.begin("a", "x = 1").followed_by("b", "y = 1").within("soon")


def test_pattern_next_strict_contiguity(spark, duck):
    """next_() matches only immediately-adjacent A,B per key."""
    ev = catalog.load_table(spark, SF_SMOKE, "events")
    view = PatternSeq.begin("a", "event_type = 'view'")
    s_rows = _pairs(
        view.next_("b", "event_type = 'click'").within("1 hour").match_batch(ev)
    )
    r_rows = _pairs(
        view.followed_by("b", "event_type = 'click'").within("1 hour").match_batch(ev)
    )
    assert s_rows  # non-vacuous
    assert s_rows <= r_rows  # strict is a subset of relaxed
    # every strict match is truly adjacent: no event between a_id and b_id
    all_ev = ev.select("user_id", "event_id", "ts").collect()
    by_user = {}
    for r in sorted(all_ev, key=lambda r: (r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r.event_id)
    for u, a, b in s_rows:
        seq = by_user[u]
        assert seq.index(b) == seq.index(a) + 1
    assert s_rows == pattern_oracle.pattern_pairs(
        duck, "event_type = 'view'", "event_type = 'click'", 3600, strict=True
    )


def test_pattern_next_stream_equals_batch(spark):
    import tempfile

    from flink_1_11_1_spark.streaming import replay

    pat = (
        PatternSeq.begin("a", "event_type = 'view'")
        .next_("b", "event_type = 'click'")
        .within("1 hour")
    )
    d = tempfile.mkdtemp(prefix="strict_replay_")
    try:
        replay.write_replay(spark, SF_SMOKE, d, parts=4)
        stream = replay.events_stream(spark, d).select(
            "user_id", "event_id", "event_type", "ts"
        )
        got, _ = replay.run_stream(pat.match_stream(stream), "append", "strict_cep")
        want = _pairs(pat.match_batch(catalog.load_table(spark, SF_SMOKE, "events")))
        # the flush sentinel (user -1) breaks no real key's contiguity
        got_s = {(r.user_id, r.ids[0], r.ids[1]) for r in got if r.user_id >= 0}
        assert want and got_s == want
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_connected_streams_threshold_filter(spark):
    """Control stream updates per-key thresholds; data filtered by the
    threshold valid at each row's time.  Batch twin: as-of join."""
    import tempfile

    from flink_1_11_1_spark.operators import joins
    from flink_1_11_1_spark.streaming import connect, replay

    ev = catalog.load_table(spark, SF_SMOKE, "events")
    data = ev.select(
        F.col("event_type").alias("key"), "ts", "event_id", "value"
    )
    # deterministic control rows: per event_type, thresholds at day 5/15
    control = spark.createDataFrame(
        [
            (t, f"2024-01-{d:02d} 00:00:00", thr)
            for t in ["click", "purchase", "error", "signup", "view"]
            for d, thr in [(5, 40.0), (15, 70.0)]
        ],
        ["key", "ts_s", "threshold"],
    ).select("key", F.col("ts_s").cast("timestamp").alias("ts"), "threshold")

    d1 = tempfile.mkdtemp(prefix="conn_c_")
    d2 = tempfile.mkdtemp(prefix="conn_d_")
    try:
        replay.write_replay_frames([control], d1)
        half = data.where("event_id < 500")
        rest = data.where("event_id >= 500")
        replay.write_replay_frames([half, rest], d2)
        c_schema = spark.read.parquet(d1 + "/chunk_000.parquet").schema
        d_schema = spark.read.parquet(d2 + "/chunk_000.parquet").schema
        c_stream = spark.readStream.schema(c_schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(d1 + "/chunk_*.parquet")
        d_stream = spark.readStream.schema(d_schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(d2 + "/chunk_*.parquet")
        out = connect.dynamic_threshold_filter(c_stream, d_stream)
        got, _ = replay.run_stream(out, "append", "conn_thr")
        # batch twin: as-of join data -> latest control at-or-before ts
        want = joins.asof_join(
            data, control.withColumnRenamed("ts", "c_ts"),
            on=["key"], left_time="ts", right_time="c_ts",
            right_cols=["threshold"],
        )
        want_rows = want.where(
            F.col("value") >= F.coalesce(F.col("threshold"), F.lit(float("-inf")))
        ).collect()
        assert {(r.key, r.event_id) for r in got} == {
            (r.key, r.event_id) for r in want_rows
        }
        assert 0 < len(got) < data.count()  # filter actually filtered
    finally:
        import shutil

        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_connected_streams_same_ts_control_applies(spark, tmp_path):
    """Round-13 review: at a timestamp TIE, the control update must
    apply to the same-ts data row (the declared batch twin is an
    INCLUSIVE as-of join) — the fold previously processed data-before-
    control on ties and used the old threshold."""
    import tempfile

    from flink_1_11_1_spark.streaming import connect, replay

    control = spark.createDataFrame(
        [("k", "2024-01-10 10:00:00", 70.0)], ["key", "ts_s", "threshold"]
    ).select("key", F.col("ts_s").cast("timestamp").alias("ts"), "threshold")
    data = spark.createDataFrame(
        [("k", "2024-01-10 10:00:00", 1, 50.0),
         ("k", "2024-01-10 10:00:00", 2, 80.0)],
        ["key", "ts_s", "event_id", "value"],
    ).select("key", F.col("ts_s").cast("timestamp").alias("ts"),
             "event_id", "value")
    d1, d2 = str(tmp_path / "c"), str(tmp_path / "d")
    replay.write_replay_frames([control], d1)
    replay.write_replay_frames([data], d2)
    c_stream = spark.readStream.schema(control.schema).option(
        "maxFilesPerTrigger", 1).parquet(d1 + "/chunk_*.parquet")
    d_stream = spark.readStream.schema(data.schema).option(
        "maxFilesPerTrigger", 1).parquet(d2 + "/chunk_*.parquet")
    out = connect.dynamic_threshold_filter(c_stream, d_stream)
    got, _ = replay.run_stream(out, "append", "conn_tie")
    # value 50 < new threshold 70 -> dropped; value 80 passes with thr 70
    assert {(r.event_id, r.threshold) for r in got} == {(2, 70.0)}
