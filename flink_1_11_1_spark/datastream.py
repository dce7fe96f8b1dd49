"""DataStream API façade (Flink 1.11 ``flink-streaming-java``).

Reference parity: ``flink-streaming-java/src/main/java/org/apache/
flink/streaming/api/datastream/{DataStream,KeyedStream,
WindowedStream}.java`` and ``environment/StreamExecutionEnvironment
.java`` — the fluent program shape

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    (env.from_collection(rows, schema)
        .key_by("user_id")
        .window(TumblingEventTimeWindows.of("10 minutes"))
        .sum("amount"))

re-expressed over DataFrames (SURVEY.md §4.3: each fluent call wraps a
Transformation there, a LogicalPlan node here).  Bounded inputs run as
batch DataFrames (Flink 1.12's batch-on-DataStream semantics: final
result per key, not per-record running emissions — the delta Flink
itself documents for bounded execution); unbounded inputs (a streaming
DataFrame from ``table_env.TableSpec.stream`` / ``ddl.stream_table``)
flow through the same operators where Spark supports them.

User functions: expression STRINGS take the native JVM path (full
codegen); Python callables run via Arrow ``mapInPandas``/
``applyInPandas`` (the documented slow path — same tiering as Flink's
own Python DataStream API, which ships rows to a Beam worker).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .session import configure

__all__ = [
    "StreamExecutionEnvironment", "DataStream", "KeyedStream",
    "WindowedStream", "TumblingEventTimeWindows",
    "SlidingEventTimeWindows", "EventTimeSessionWindows",
]


# ------------------------------------------------------ window assigners

@dataclass
class WindowAssigner:
    kind: str            # tumble | slide | session
    size: str            # interval string
    slide: str | None = None


class TumblingEventTimeWindows:
    """``TumblingEventTimeWindows.of(Time.minutes(10))`` — interval as
    a Spark duration string ("10 minutes")."""

    @staticmethod
    def of(size: str) -> WindowAssigner:
        return WindowAssigner("tumble", size)


class SlidingEventTimeWindows:
    @staticmethod
    def of(size: str, slide: str) -> WindowAssigner:
        return WindowAssigner("slide", size, slide)


class EventTimeSessionWindows:
    @staticmethod
    def with_gap(gap: str) -> WindowAssigner:
        return WindowAssigner("session", gap)


# ---------------------------------------------------------- environment

class StreamExecutionEnvironment:
    """``StreamExecutionEnvironment`` shape over a SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = configure(spark)

    @classmethod
    def get_execution_environment(
            cls, spark: SparkSession) -> StreamExecutionEnvironment:
        return cls(spark)

    def set_parallelism(self, n: int) -> "StreamExecutionEnvironment":
        """``env.setParallelism``: maps onto the shuffle partition
        count (the knob that decides per-stage task fan-out here)."""
        self.spark.conf.set("spark.sql.shuffle.partitions", str(n))
        return self

    def get_parallelism(self) -> int:
        return int(self.spark.conf.get("spark.sql.shuffle.partitions"))

    # -- accumulators (RuntimeContext.addAccumulator / IntCounter;
    #    results via JobExecutionResult.getAccumulatorResult) ----------
    def register_accumulator(self, name: str, zero=0):
        """Register a counter accumulator; rich callables add to it via
        ``ctx.add_accumulator_value(name, v)`` and the driver reads it
        with ``get_accumulator_result`` after an action ran (Spark
        accumulators: task-side adds fold on task completion).

        Delta from Flink's once-per-job accumulators: the adds happen
        inside transformations (mapInPandas), where Spark does NOT
        guarantee exactly-once updates — a retried task, or a SECOND
        action re-executing the lineage, double-counts.  Read the
        result after exactly one action, and ``.cache()`` the stream
        first if anything downstream will trigger another."""
        if not hasattr(self, "_accs"):
            self._accs = {}
        self._accs[name] = self.spark.sparkContext.accumulator(zero)
        return self

    def get_accumulator_result(self, name: str):
        return self._accs[name].value

    def from_collection(self, data: Sequence, schema=None) -> DataStream:
        """``env.fromCollection`` — a bounded inline source."""
        return DataStream(self.spark.createDataFrame(data, schema=schema),
                          env=self)

    def from_dataframe(self, df: DataFrame) -> DataStream:
        """Engine-native bridge: wrap any (batch or streaming)
        DataFrame — the ``env.addSource(...)`` slot; sources come from
        ``sources/`` / ``table_env`` / ``ddl.stream_table``."""
        return DataStream(df, env=self)

    add_source = from_dataframe

    def execute(self, job_name: str = "job") -> None:
        """``env.execute()``: a no-op here — Spark actions run eagerly
        at each sink (documented architectural delta: Flink builds a
        JobGraph and submits once; Spark runs a job per action)."""
        return None


def _rowtime_meta(df: DataFrame) -> str | None:
    # remember the assigned event-time column on the plan's schema
    for f_ in df.schema.fields:
        if f_.metadata.get("__rowtime__"):
            return f_.name
    return None


# ------------------------------------------------------------ DataStream

class RuntimeContext:
    """Flink ``RichFunction`` runtime context slice: broadcast
    variables (DataSet ``withBroadcastSet``) and accumulators
    (``IntCounter`` family) — [java]DataSet.java /
    api/common/functions/RuntimeContext.java.  Passed as the second
    argument to map/flat_map/filter callables that declare one."""

    def __init__(self, bc: dict, accs: dict):
        self._bc = bc
        self._accs = accs

    def get_broadcast_variable(self, name: str) -> list:
        if name not in self._bc:
            raise KeyError(f"no broadcast set {name!r} "
                           f"(known: {sorted(self._bc)})")
        return self._bc[name].value

    def add_accumulator_value(self, name: str, value=1) -> None:
        if name not in self._accs:
            raise KeyError(f"accumulator {name!r} not registered on the "
                           f"environment (known: {sorted(self._accs)})")
        self._accs[name] += value


def _wants_ctx(fn: Callable) -> bool:
    import inspect

    try:
        params = [
            p for p in inspect.signature(fn).parameters.values()
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
    except (TypeError, ValueError):
        return False
    return len(params) >= 2


class DataStream:
    def __init__(self, df: DataFrame, env: StreamExecutionEnvironment,
                 rowtime: str | None = None):
        self.df = df
        self._env = env
        self._rowtime = rowtime or _rowtime_meta(df)
        self._bc: dict = {}

    def _wrap(self, df: DataFrame) -> DataStream:
        out = DataStream(df, self._env, self._rowtime)
        out._bc = self._bc
        return out

    def _ctx(self) -> RuntimeContext:
        return RuntimeContext(self._bc, getattr(self._env, "_accs", {}))

    # -- stateless transforms -----------------------------------------
    def map(self, fn: str | Sequence[str] | Callable,
            output_type: str | None = None) -> DataStream:
        """``DataStream.map``: expression string(s) → native projection
        (one output column per expression, ``AS`` aliases honored);
        Python callable (Row -> tuple) → Arrow ``mapInPandas`` with
        ``output_type`` as the result schema DDL."""
        if isinstance(fn, str):
            fn = [fn]
        if not callable(fn):
            return self._wrap(self.df.selectExpr(*fn))
        if output_type is None:
            raise ValueError("a Python map() needs output_type (schema DDL)")
        from pyspark.sql import Row
        from pyspark.sql.types import StructType

        names = [f_.name for f_ in StructType.fromDDL(output_type).fields]
        ctx = self._ctx() if _wants_ctx(fn) else None

        def run(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                # to_dict (not itertuples): leading-underscore columns
                # survive, and Row(**d) keeps the field order
                rows = [
                    tuple(fn(Row(**d)) if ctx is None
                          else fn(Row(**d), ctx))
                    for d in pdf.to_dict("records")
                ]
                yield pd.DataFrame(rows, columns=names)

        return self._wrap(self.df.mapInPandas(run, schema=output_type))

    def flat_map(self, fn: Callable, output_type: str) -> DataStream:
        """``DataStream.flatMap``: the callable yields 0..n tuples per
        input row (Collector.collect parity); Arrow-batched."""
        from pyspark.sql import Row
        from pyspark.sql.types import StructType

        names = [f_.name for f_ in StructType.fromDDL(output_type).fields]
        ctx = self._ctx() if _wants_ctx(fn) else None

        def run(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                out = [
                    tuple(t) for d in pdf.to_dict("records")
                    for t in (fn(Row(**d)) if ctx is None
                              else fn(Row(**d), ctx))
                ]
                yield pd.DataFrame(out, columns=names)

        return self._wrap(self.df.mapInPandas(run, schema=output_type))

    def filter(self, fn: str | Column | Callable) -> DataStream:
        if isinstance(fn, (str, Column)):
            return self._wrap(self.df.filter(fn))
        from pyspark.sql import Row

        ctx = self._ctx() if _wants_ctx(fn) else None

        def run(batches: Iterator) -> Iterator:
            for pdf in batches:
                mask = [
                    bool(fn(Row(**d)) if ctx is None else fn(Row(**d), ctx))
                    for d in pdf.to_dict("records")
                ]
                yield pdf[mask]

        return self._wrap(self.df.mapInPandas(run, schema=self.df.schema))

    def union(self, *others: DataStream) -> DataStream:
        out = self.df
        for o in others:
            out = out.union(o.df)
        return self._wrap(out)

    def connect(self, other: DataStream):
        """``DataStream.connect``: the tagged union the two-input
        operators consume (``__side`` 0 = this stream, 1 = other;
        schemas null-padded to their union).  The keyed CoProcess
        tier over this shape lives in ``streaming/connect.py``."""
        left = self.df.withColumn("__side", F.lit(0))
        right = other.df.withColumn("__side", F.lit(1))
        return self._wrap(
            left.unionByName(right, allowMissingColumns=True))

    # -- partitioning markers -----------------------------------------
    def key_by(self, *fields: str) -> KeyedStream:
        return KeyedStream(self, list(fields))

    def rebalance(self) -> DataStream:
        return self._wrap(self.df.repartition(
            self.df.sparkSession.sparkContext.defaultParallelism))

    def broadcast(self) -> DataStream:
        return self._wrap(F.broadcast(self.df))

    # -- DataSet niches (SURVEY §3.4; [java]DataSet.java) ---------------
    def sort_partition(self, field: str | Column,
                       order: str = "asc") -> DataStream:
        """DataSet ``sortPartition``: sort WITHIN each physical
        partition, no shuffle (Spark ``sortWithinPartitions``).
        Chained calls compose as secondary sort keys on the same
        partitioning, like Flink's builder."""
        col = F.col(field) if isinstance(field, str) else field
        key = col.desc() if order.lower().startswith("desc") else col.asc()
        base = getattr(self, "_sp_base", self.df)
        keys = getattr(self, "_sp_keys", []) + [key]
        out = self._wrap(base.sortWithinPartitions(*keys))
        out._sp_base, out._sp_keys = base, keys
        return out

    def partition_custom(self, partitioner: Callable | str, field: str,
                         num_partitions: int | None = None) -> DataStream:
        """DataSet ``partitionCustom``: co-locate rows by a caller
        partition function (key -> int).  An expression string stays
        native (repartition on the computed id); a Python callable
        runs as a vectorized pandas transform.  Delta vs Flink,
        documented: rows with equal partitioner results land in ONE
        physical partition (the co-location contract), but the
        id -> physical-partition mapping is Spark's hash of the id,
        not the identity."""
        n = num_partitions or self.df.sparkSession.sparkContext \
            .defaultParallelism
        if callable(partitioner):
            from pyspark.sql.functions import pandas_udf

            # no type hints: they would resolve against module globals
            # (pandas isn't imported there), so declare the UDF type
            # via the returnType argument alone
            def _pid(s):
                return s.map(partitioner).astype("int32")

            pid = pandas_udf(_pid, "int")(F.col(field))
        else:
            pid = F.expr(partitioner).cast("int")
        tagged = self.df.withColumn("__custom_part", pid)
        out = tagged.repartition(n, F.col("__custom_part")) \
            .drop("__custom_part")
        return self._wrap(out)

    def with_broadcast_set(self, name: str, other: DataStream) -> DataStream:
        """DataSet ``withBroadcastSet``: materialize the (bounded)
        other stream and ship it to every task as a broadcast
        variable; rich callables receive it via
        ``RuntimeContext.get_broadcast_variable(name)`` (declare a
        second ``ctx`` parameter on the map/flat_map/filter fn)."""
        if other.df.isStreaming:
            raise ValueError("broadcast sets are bounded (DataSet API)")
        sc = self.df.sparkSession.sparkContext
        rows = other.df.collect()
        out = self._wrap(self.df)
        out._bc = {**self._bc, name: sc.broadcast(rows)}
        return out

    # -- event time ----------------------------------------------------
    def assign_timestamps_and_watermarks(
            self, ts_col: str, max_out_of_orderness: str) -> DataStream:
        """BoundedOutOfOrderness watermark strategy: streaming inputs
        get ``withWatermark``; bounded inputs just record the rowtime
        column (batch ignores watermarks, same as Flink batch mode).
        A source that already carries a watermark on ``ts_col`` (e.g.
        a DDL-declared stream) keeps it — Spark disallows redefining."""
        raw = self.df
        has_wm = "spark.watermarkDelayMs" in \
            raw.schema[ts_col].metadata if ts_col in raw.columns else False
        df = raw
        if raw.isStreaming and not has_wm:
            df = raw.withWatermark(ts_col, max_out_of_orderness)
        out = DataStream(df, self._env, rowtime=ts_col)
        # kept for allowed_lateness (watermark widening needs the
        # pre-watermark plan: Spark disallows redefining) and for the
        # side-output adapter (its own stateless consumer of the raw
        # source)
        out._pre_wm = raw if not has_wm else None
        out._wm_delay = max_out_of_orderness
        return out

    # -- sinks ---------------------------------------------------------
    def print(self, n: int = 20) -> None:  # noqa: A003 - Flink name
        self.df.show(n, truncate=False)

    def add_sink(self, path: str, fmt: str = "parquet",
                 mode: str = "append", checkpoint: str | None = None):
        """Bounded: eager file write.  Unbounded: the exactly-once
        streaming file sink from ``sources/files.py`` (returns the
        StreamingQuery; checkpoint defaults beside the sink path)."""
        if self.df.isStreaming:
            from .sources.files import write_stream_files

            return write_stream_files(
                self.df, path, checkpoint or f"{path}__ckpt", fmt=fmt)
        self.df.write.mode(mode).format(fmt).save(path)
        return None

    def execute_and_collect(self, limit: int | None = None):
        df = self.df.limit(limit) if limit else self.df
        return iter(df.collect())


# ------------------------------------------------------------ KeyedStream

class KeyedStream:
    def __init__(self, stream: DataStream, keys: list[str]):
        self._stream = stream
        self._keys = keys

    @property
    def df(self) -> DataFrame:
        return self._stream.df

    # -- running aggregates (bounded → final per key) ------------------
    def _field_agg(self, field: str, agg: Callable[[str], Column]
                   ) -> DataStream:
        others = [c for c in self.df.columns
                  if c not in self._keys and c != field]
        aggs = [agg(field).alias(field)] + \
            [F.first(c).alias(c) for c in others]
        out = self.df.groupBy(*self._keys).agg(*aggs) \
            .select(*self.df.columns)  # original column order
        return self._stream._wrap(out)

    def sum(self, field: str) -> DataStream:  # noqa: A003 - Flink name
        """``KeyedStream.sum``: bounded result = the final running
        value per key; non-key non-agg fields take an arbitrary row's
        value (Flink documents the same 'arbitrary' contract)."""
        return self._field_agg(field, F.sum)

    def min(self, field: str) -> DataStream:  # noqa: A003
        return self._field_agg(field, F.min)

    def max(self, field: str) -> DataStream:  # noqa: A003
        return self._field_agg(field, F.max)

    def _by(self, field: str, asc: bool) -> DataStream:
        """min_by/max_by: the whole row achieving the extreme, ties by
        first arrival order (here: earliest in a deterministic
        total order over the remaining columns)."""
        order = [F.col(field).asc() if asc else F.col(field).desc()] + \
            [F.col(c) for c in self.df.columns if c != field]
        w = Window.partitionBy(*self._keys).orderBy(*order)
        return self._stream._wrap(
            self.df.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1").drop("__rn"))

    def min_by(self, field: str) -> DataStream:
        return self._by(field, asc=True)

    def max_by(self, field: str) -> DataStream:
        return self._by(field, asc=False)

    def reduce(self, fn: Callable, output_same: bool = True) -> DataStream:
        """``KeyedStream.reduce``: pairwise fold of whole rows.
        Bounded result = the final fold per key (Arrow per-key stage;
        the fold order is the rowtime order if assigned, else the
        stable input order)."""
        import functools

        from pyspark.sql import Row

        cols = list(self.df.columns)
        rowtime = self._stream._rowtime

        def fold(pdf):
            import pandas as pd

            if rowtime is not None and rowtime in pdf.columns:
                pdf = pdf.sort_values(rowtime, kind="stable")
            rows = [Row(**d) for d in pdf.to_dict("records")]
            acc = functools.reduce(fn, rows)
            return pd.DataFrame([tuple(acc)], columns=cols)

        return self._stream._wrap(
            self.df.groupBy(*self._keys).applyInPandas(
                fold, schema=self.df.schema))

    # -- two-input joins ----------------------------------------------
    def interval_join(self, other: KeyedStream) -> "IntervalJoinBuilder":
        """``KeyedStream.intervalJoin(other).between(lo, hi)`` —
        pairs sharing the key with ``other.ts ∈ [self.ts + lo,
        self.ts + hi]``.  Both sides need
        ``assign_timestamps_and_watermarks`` upstream; key column
        names must match (Flink joins on key equality)."""
        if self._stream._rowtime is None or other._stream._rowtime is None:
            raise ValueError("interval_join needs "
                             "assign_timestamps_and_watermarks on BOTH sides")
        if len(self._keys) != len(other._keys):
            raise ValueError("interval_join: key arity differs")
        return IntervalJoinBuilder(self, other)

    def window_join(self, other: KeyedStream, assigner: WindowAssigner
                    ) -> DataStream:
        """``a.join(b).where(k).equalTo(k).window(assigner)`` — pairs
        sharing the key AND the tumbling window
        (``operators/windows.window_join``: one equi-join on
        (key, bucket), no time-range residual)."""
        from .operators.windows import window_join as _wj

        if assigner.kind != "tumble":
            raise ValueError("window_join supports tumbling windows "
                             "(JoinedStreams over sliding: use "
                             "interval_join)")
        if self._keys != other._keys:
            raise ValueError("window_join: key columns must match")
        out = _wj(self.df, other.df.withColumnRenamed(
            other._stream._rowtime, "__rts"),
            self._keys, self._stream._rowtime, "__rts", assigner.size)
        return self._stream._wrap(out.drop("__rts"))

    # -- windows -------------------------------------------------------
    def window(self, assigner: WindowAssigner) -> WindowedStream:
        if self._stream._rowtime is None:
            raise ValueError(
                "event-time windows need "
                "assign_timestamps_and_watermarks(...) upstream")
        return WindowedStream(self, assigner)

    def count_window(self, size: int,
                     slide: int | None = None) -> CountWindowedStream:
        """``countWindow(size[, slide])``: tumbling, or sliding count
        windows (fire every ``slide`` elements over the last ``size``)."""
        return CountWindowedStream(self, size, slide)

    def process(self, fn: Callable, schema: str,
                state_fold: bool = False) -> DataStream:
        """``KeyedProcessFunction`` slot: bounded inputs run the
        callable per key over the rowtime-ordered pandas frame
        (``fn(key_tuple, pdf) -> pdf``); the streaming stateful twin
        is ``process_with_state``."""
        rowtime = self._stream._rowtime

        def run(key, pdf):
            if rowtime is not None and rowtime in pdf.columns:
                pdf = pdf.sort_values(rowtime, kind="stable")
            return fn(key, pdf)

        return self._stream._wrap(
            self.df.groupBy(*self._keys).applyInPandas(run, schema=schema))

    def process_with_state(self, fn: Callable, schema: str,
                           state_schema: str,
                           output_mode: str = "append") -> DataStream:
        """The streaming ``KeyedProcessFunction`` tier: the callable
        gets ``(key_tuple, frames_iterator, GroupState)`` per trigger
        and yields output frames — Spark's ``applyInPandasWithState``
        under Flink's name (the same backend every keyed-state operator
        in ``streaming/`` runs on).  Bounded inputs: use
        ``process`` — state across a single bounded pass is the fold
        itself."""
        from pyspark.sql.streaming.state import GroupStateTimeout

        if not self.df.isStreaming:
            raise ValueError("process_with_state needs a streaming "
                             "input; bounded inputs use process()")
        configure(self.df.sparkSession)
        out = self.df.groupBy(*self._keys).applyInPandasWithState(
            fn, schema, state_schema, output_mode,
            GroupStateTimeout.NoTimeout)
        return self._stream._wrap(out)


class IntervalJoinBuilder:
    """``intervalJoin(...).between(lower, upper)`` (Flink
    KeyedStream.intervalJoin → IntervalJoined.between).  Output = left
    columns + the right side's non-key columns, with the right rowtime
    renamed ``<name>_r``; right key columns are dropped (equal to the
    left's by the join).  Non-key column names must otherwise be
    unique across the two sides."""

    def __init__(self, left: KeyedStream, right: KeyedStream):
        self._l = left
        self._r = right

    def between(self, lower: str, upper: str, how: str = "inner"
                ) -> DataStream:
        from .operators.joins import interval_join as _ij

        l, r = self._l, self._r
        rts = r._stream._rowtime
        rdf = r.df.withColumnRenamed(rts, f"{rts}_r")
        rkeys = []
        for i, k in enumerate(r._keys):
            rdf = rdf.withColumnRenamed(k, f"__rk{i}")
            rkeys.append(f"__rk{i}")
        on = F.lit(True)
        for lk, rk in zip(l._keys, rkeys):
            on = on & (F.col(lk) == F.col(rk))
        out = _ij(l.df, rdf, on, l._stream._rowtime, f"{rts}_r",
                  lower, upper, how=how)
        return l._stream._wrap(out.drop(*rkeys))


# --------------------------------------------------------- window streams

class WindowedStream:
    def __init__(self, keyed: KeyedStream, assigner: WindowAssigner):
        self._keyed = keyed
        self._assigner = assigner

    def allowed_lateness(self, lateness: str) -> WindowedStream:
        """``WindowedStream.allowedLateness``: late rows within the
        extra bound still reach their window.  Spark has one knob —
        the watermark delay — so the effective delay becomes
        ``out_of_orderness + lateness`` and each late arrival RE-FIRES
        its window when the aggregate is consumed in update mode
        (UpsertStreamWriter renders the +I/+U revisions — the S18
        contract).  Needs the pre-watermark source (assign the
        watermark through the façade, not at the source)."""
        from .streaming.pattern import _parse_interval

        ks = self._keyed
        st = ks._stream
        raw = getattr(st, "_pre_wm", None)
        delay = getattr(st, "_wm_delay", None)
        if not st.df.isStreaming:
            return self  # batch ignores lateness (no watermark drops)
        if raw is None or delay is None:
            raise ValueError(
                "allowed_lateness needs the façade-assigned watermark "
                "(assign_timestamps_and_watermarks on the raw source)")
        total_s = _parse_interval(delay) + _parse_interval(lateness)
        widened = DataStream(
            raw.withWatermark(st._rowtime, f"{total_s} seconds"),
            st._env, rowtime=st._rowtime)
        widened._pre_wm = raw
        widened._wm_delay = f"{total_s} seconds"
        return WindowedStream(KeyedStream(widened, ks._keys),
                              self._assigner)

    def side_output_late_data(self, sink_path: str,
                              checkpoint: str | None = None):
        """``WindowedStream.sideOutputLateData(tag)``: starts the
        dual-watermark side-output capture
        (``streaming/late.LateSideOutput``) over the raw source —
        window-level rule from this window's size, so captured rows
        are exactly the aggregate's ``numRowsDroppedByWatermark``.
        Returns the side StreamingQuery; read the captured rows from
        ``sink_path`` with ``spark.read.parquet``."""
        from .streaming.late import LateSideOutput

        ks = self._keyed
        st = ks._stream
        raw = getattr(st, "_pre_wm", None)
        delay = getattr(st, "_wm_delay", None)
        if raw is None or delay is None or not st.df.isStreaming:
            raise ValueError(
                "side_output_late_data needs a streaming source with a "
                "façade-assigned watermark")
        size = self._assigner.size if self._assigner.kind == "tumble" \
            else None
        adapter = LateSideOutput(st._rowtime, delay, sink_path,
                                 window_size=size)
        return (raw.writeStream.foreachBatch(adapter)
                .option("checkpointLocation",
                        checkpoint or f"{sink_path}__ckpt")
                .start())

    def _grouped(self):
        a, ks = self._assigner, self._keyed
        ts = ks._stream._rowtime
        if a.kind == "tumble":
            wcol = F.window(ts, a.size)
            struct = "window"
        elif a.kind == "slide":
            wcol = F.window(ts, a.size, a.slide)
            struct = "window"
        else:
            wcol = F.session_window(ts, a.size)
            struct = "session_window"
        return ks.df.groupBy(wcol, *ks._keys), struct

    def aggregate(self, *aggs: Column) -> DataStream:
        """``WindowedStream.aggregate(AggregateFunction)`` with the
        aggregate expressed as Spark agg Columns — window_start/end
        appended like ``operators/windows.tumble_agg``."""
        g, struct = self._grouped()
        out = (g.agg(*aggs)
               .withColumn("window_start", F.col(f"{struct}.start"))
               .withColumn("window_end", F.col(f"{struct}.end"))
               .drop(struct))
        return self._keyed._stream._wrap(out)

    def sum(self, field: str) -> DataStream:  # noqa: A003
        return self.aggregate(F.sum(field).alias(field))

    def reduce(self, fn: Callable) -> DataStream:
        """Per-window whole-row fold (Arrow per (key, window) group)."""
        import functools

        from pyspark.sql import Row

        ks = self._keyed
        ts = ks._stream._rowtime
        a = self._assigner
        if a.kind != "tumble":
            raise ValueError("reduce() on slide/session: use aggregate()")
        cols = list(ks.df.columns)
        bucketed = ks.df.withColumn("__w", F.window(ts, a.size))

        def fold(pdf):
            import pandas as pd

            pdf = pdf.sort_values(ts, kind="stable")
            rows = [Row(**{c: d[c] for c in cols})
                    for d in pdf.to_dict("records")]
            acc = functools.reduce(fn, rows)
            first = pdf.iloc[0]["__w"]
            return pd.DataFrame(
                [tuple(acc) + (first["start"], first["end"])],
                columns=cols + ["window_start", "window_end"])

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in ks.df.schema.fields
        ) + ", window_start timestamp, window_end timestamp"
        out = bucketed.groupBy("__w", *ks._keys).applyInPandas(
            fold, schema=schema)
        return ks._stream._wrap(out)


class CountWindowedStream:
    """``KeyedStream.countWindow(n[, slide])`` — tumbling count windows
    via ``operators/windows.count_tumble`` (index per key in rowtime
    order, else a deterministic column order); sliding count windows
    fire at every ``slide``-th element over the trailing ``size``
    (Flink CountTrigger + CountEvictor pair): row ``rn`` (1-based)
    belongs to every window ``k`` with ``k*slide`` in
    ``[rn, rn + size - 1]`` — assigned by one sequence+explode, so the
    fan-out is the inherent ceil(size/slide) copies per row."""

    def __init__(self, keyed: KeyedStream, size: int,
                 slide: int | None = None):
        self._keyed = keyed
        self._size = size
        self._slide = slide

    def _assigned(self) -> DataFrame:
        from .operators.windows import count_tumble

        ks = self._keyed
        order = [ks._stream._rowtime] if ks._stream._rowtime else \
            [c for c in ks.df.columns if c not in ks._keys]
        if self._slide is None:
            return count_tumble(ks.df, ks._keys, self._size, order=order)
        w = Window.partitionBy(*ks._keys).orderBy(*order)
        size, slide = self._size, self._slide
        d = ks.df.withColumn("__rn", F.row_number().over(w))
        # smallest k with k*slide >= rn .. largest with k*slide <= rn+size-1
        lo = F.ceil(F.col("__rn") / F.lit(slide)).cast("long")
        hi = F.floor((F.col("__rn") + F.lit(size - 1)) / F.lit(slide)) \
            .cast("long")
        return (d.withColumn("__k", F.explode(F.sequence(lo, hi)))
                .withColumn("count_window", F.col("__k") - 1)
                .drop("__k", "__rn"))

    def aggregate(self, *aggs: Column) -> DataStream:
        ks = self._keyed
        out = self._assigned().groupBy(*ks._keys, "count_window").agg(*aggs)
        if self._slide is not None:
            # Flink fires a sliding count window only when its slide
            # point is reached: complete windows have exactly
            # min(size, k*slide at-or-under the key's row count) rows —
            # emit only windows whose fire element exists
            ks2 = self._keyed
            order = [ks2._stream._rowtime] if ks2._stream._rowtime else \
                [c for c in ks2.df.columns if c not in ks2._keys]
            w = Window.partitionBy(*ks2._keys).orderBy(*order)
            totals = (ks2.df.withColumn("__rn", F.row_number().over(w))
                      .groupBy(*ks2._keys)
                      .agg(F.max("__rn").alias("__n")))
            out = (out.join(totals, list(ks2._keys))
                   .where((F.col("count_window") + 1) * self._slide
                          <= F.col("__n"))
                   .drop("__n"))
        return ks._stream._wrap(out)

    def sum(self, field: str) -> DataStream:  # noqa: A003
        return self.aggregate(F.sum(field).alias(field))
