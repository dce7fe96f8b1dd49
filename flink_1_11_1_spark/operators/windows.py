"""Group windows (SURVEY.md §3.6): tumble / hop / session / count.

Reference parity: SQL ``GROUP BY TUMBLE/HOP/SESSION(ts, ...)`` and the
Table API ``Tumble/Slide/Session`` classes (flink-table-api-java
api/{Tumble,Slide,Session}.java; runtime WindowOperator + assigners in
flink-table-runtime-blink operators/window/).  Spark's ``window()`` /
``session_window()`` are the same assigners; these helpers add the
auxiliary columns Flink exposes (window_start/end, per-key session ids)
and the count-window assigner Spark lacks.

All helpers work on batch AND streaming DataFrames (add
``withWatermark`` upstream for streams).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tumble_agg(
    df: DataFrame,
    ts: str,
    size: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """GROUP BY TUMBLE(ts, size) — window_start/window_end + keys + aggs."""
    return (
        df.groupBy(F.window(ts, size), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def hop_agg(
    df: DataFrame,
    ts: str,
    size: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """GROUP BY HOP(ts, slide, size) — each row lands in size/slide windows."""
    return (
        df.groupBy(F.window(ts, size, slide), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def session_agg(
    df: DataFrame,
    ts: str,
    gap: str | Column,
    keys: Sequence[str],
    aggs: Sequence[Column],
    with_session_id: bool = False,
) -> DataFrame:
    """GROUP BY SESSION(ts, gap) — merged per-key sessions.

    ``gap`` may be a literal interval string OR a Column expression —
    Flink's ``SessionWindowTimeGapExtractor`` / ``withDynamicGap``
    (public tree flink-streaming-java .../windowing/assigners/
    DynamicEventTimeSessionWindows.java): the merge gap is evaluated
    per row, so e.g. different event types can carry different
    inactivity budgets.  Spark's native session_window accepts the
    same shape, so the dynamic variant stays whole-stage-codegen'd.
    Gotcha: a dynamic gap must be CalendarIntervalType — build it with
    ``make_interval(...)``; an ANSI ``INTERVAL`` literal's
    DayTimeIntervalType is rejected by the session-window analyzer.

    ``with_session_id`` adds a 0-based per-key session index (ordered by
    session start) — Flink's windows are identified by bounds, but the
    declared Q36 shape numbers sessions, so the batch helper can too.
    (Session-id numbering needs a per-key ordered scan: batch only.)
    """
    out = (
        df.groupBy(F.session_window(ts, gap), *keys)
        .agg(*aggs)
        .withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )
    if with_session_id:
        if df.isStreaming:
            raise ValueError(
                "with_session_id is batch-only: session-id numbering is "
                "a per-key ordered scan (non-time window), which Spark "
                "streaming rejects — number sessions downstream of the "
                "sink instead"
            )
        w = Window.partitionBy(*keys).orderBy("session_start")
        out = out.withColumn("sid", F.row_number().over(w) - 1)
    return out


def count_tumble(
    df: DataFrame,
    keys: Sequence[str],
    size: int,
    order: Sequence[str | Column],
) -> DataFrame:
    """Tumbling COUNT window per key (KeyedStream.countWindow(size)):
    adds ``count_window`` = 0-based window index within the key.

    Batch formulation: row_number over a deterministic per-key order.
    (A streaming count window needs keyed state:
    ``KeyedStream.process_with_state``.)
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(
        "count_window", ((F.row_number().over(w) - 1) / size).cast("long")
    )


def window_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    size: str,
) -> DataFrame:
    """DataStream window join (JoinedStreams: ``a.join(b).where(key)
    .window(TumblingEventTimeWindows.of(size))``): pairs that share the
    key AND the tumbling window.  Realized as an equi-join on
    (keys, window bucket) — one shuffle, no time-range residual.
    """
    wcol = "_w"
    while wcol in left.columns or wcol in right.columns:
        wcol += "_"  # never clobber a caller column (round-13 review)
    lw = left.withColumn(wcol, F.window(left_ts, size))
    rw = right.withColumn(wcol, F.window(right_ts, size))
    out = lw.join(rw, [*keys, wcol])
    return out.withColumn("window_start", F.col(f"{wcol}.start")).drop(wcol)
