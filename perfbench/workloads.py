"""The workloads.  Each fills ``run.ops``, ``run.e2e`` and, on a traced
run, ``run.layers``.

Timing rules shared by all of them: every distinct operation runs once
untimed before timing starts; the timed phase is a closed loop of whole
passes over a seeded order of the operations (or, for
``stream_ingest``, an open loop) lasting about ``run.seconds``; results are
compared with an independent computation only after timing ends.  On a
traced run the timed phase also runs every operation instrumented, and
``trace.overhead_s`` is the instrumented minus the uninstrumented mean
operation time.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import time

from perfbench import harness
from perfbench.harness import Op, quantile


def _canon_sorted(cols, rows):
    from flink_1_11_1_spark import testing

    keyed = sorted(zip(testing.canon_rows(list(cols), list(rows)), rows))
    return list(cols), [r for _, r in keyed]


def _same(got, want) -> tuple[bool, str]:
    """Order-insensitive comparison of (cols, rows) pairs."""
    from flink_1_11_1_spark import testing

    return testing.compare(*_canon_sorted(*got), *_canon_sorted(*want))


def _closed_loop(run, one_pass) -> None:
    """Whole passes: at least one, and another only while it is expected
    to end within ``run.seconds``.  Every run thus times the same
    operations, whatever their speed."""
    t_start = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        one_pass()
        now = time.perf_counter()
        if (now - t_start) + (now - t_pass) > run.seconds:
            return


def _timed_phase(run, ops, do_op) -> tuple[list[Op], list[Op]]:
    """Closed-loop passes over ``ops``.  On a traced run every operation
    runs twice in a row, once uninstrumented and once instrumented
    (spans, job groups, event log), alternating which goes first, and
    ``trace.overhead_s`` is the difference of the two mean times.
    Returns (uninstrumented ops, instrumented ops)."""
    plain: list[Op] = []
    traced: list[Op] = []

    def one_pass():
        for k, item in enumerate(ops):
            both = (False, True) if k % 2 == 0 else (True, False)
            for on in both if run.trace else (False,):
                run.instrument(on)
                (traced if on else plain).append(do_op(item))
        run.instrument(False)

    _closed_loop(run, one_pass)
    if run.trace:
        run.layers["trace.overhead_s"] = (
            statistics.mean(o.latency for o in traced) - statistics.mean(o.latency for o in plain))
    return plain, traced


# ------------------------------------------------------------------ sql_mix

# A fixed, family-stratified sample of the oracle-bearing relational
# entries (42 declared queries; x_tpch_*, x_tpcds_*, x_mr_*, x_cep_*
# registry entries), so every seed times the same queries.
SQL_READS = (
    "q03", "q05", "q22", "q34", "q36",
    "x_tpch_q9", "x_tpcds_rollup", "x_tpcds_yoy", "x_mr_agg", "x_cep_funnel3",
)
SQL_WRITES = {
    "w_segments": (
        "c_mktsegment STRING, o_orderpriority STRING, n BIGINT, qty DOUBLE",
        "SELECT c_mktsegment, o_orderpriority, count(*) AS n, sum(l_quantity) AS qty "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment, o_orderpriority",
    ),
}
# a pass runs every read this many times and every write this many
# times (24 operations, 2 of them writes, with the two pipelines)
READS_PER_PASS = 2
WRITES_PER_PASS = 2
# the iterative pipeline (a chain of jobs per call) and the pair-join one
ITERATIVE = "x_graph_sssp"
DEDUP = "x_semdedup"


def sql_mix(run) -> None:
    """Relational reads, Flink-DDL sink writes and the dedup/graph
    pipelines (``harness.LLM_PIPELINES``) in one closed loop.  Reads
    set ``latency_p50_s``; every operation counts in
    ``throughput_per_s``, where the pipelines take most of the time."""
    from flink_1_11_1_spark import declared
    from flink_1_11_1_spark.extensions import registry
    from flink_1_11_1_spark.table_env import TableEnvironment

    spark, tr = run.spark, run.tracer
    entries = registry.queries()
    tenv = TableEnvironment(spark)
    rng = random.Random(run.seed)
    results: dict[str, tuple] = {}  # op_id -> (name, cols, rows) of reads
    sinks: dict[str, tuple] = {}  # op_id -> (name, sink path) of writes
    ids = itertools.count()

    def read(name: str, kind: str) -> Op:
        op_id = f"op{next(ids)}"
        t0 = time.perf_counter()
        with tr.span("op", op_id):
            run.group(f"{op_id}.build")
            if name in declared.QUERIES:
                with tr.span("declared.spark_text", op_id):
                    text = declared.spark_text(name)
                with tr.span("spark.analyze", op_id):
                    df = spark.sql(text)
            else:
                with tr.span("extensions.build", op_id):
                    df = entries[name](spark, run.fixture)
            with tr.span("spark.plan", op_id):
                df._jdf.queryExecution().executedPlan()
            run.group(f"{op_id}.exec")
            with tr.span("spark.exec", op_id):
                rows = df.collect()
            run.group(None)
        results[op_id] = (name, df.columns, rows)
        return Op(name, kind, time.perf_counter() - t0, op_id=op_id)

    def write(name: str, kind: str) -> Op:
        op_id = f"op{next(ids)}"
        schema, select = SQL_WRITES[name]
        path = os.path.join(run.work, "sinks", op_id)
        tenv.execute_sql(
            f"CREATE TABLE sink_{op_id} ({schema}) WITH "
            f"('connector'='filesystem', 'path'='{path}', 'format'='parquet')")
        t0 = time.perf_counter()
        with tr.span("op", op_id):
            run.group(f"{op_id}.exec")
            with tr.span("ddl.execute_sql", op_id):
                tenv.execute_sql(f"INSERT INTO sink_{op_id} {select}")
            run.group(None)
        sinks[op_id] = (name, path)
        return Op(name, "write", time.perf_counter() - t0, op_id=op_id)

    def do(item):
        kind, name = item
        return _guarded(write if kind == "write" else read, name, kind)

    # seeded order of one pass: a permutation of the reads and pipelines,
    # with the writes at seeded positions
    reads = [("read", r) for r in SQL_READS]
    pipelines = [("pipeline", p) for p in harness.LLM_PIPELINES]
    writes = [("write", w) for w in sorted(SQL_WRITES)]
    order = reads * READS_PER_PASS + pipelines
    rng.shuffle(order)
    for w in writes * WRITES_PER_PASS:
        order.insert(rng.randrange(len(order) + 1), w)

    run.instrument(False)
    with run.phase("warmup"):  # untimed, but checked like the rest
        warm = [do(item) for item in reads + pipelines + writes]
    with run.phase("timed"):
        timed, traced = _timed_phase(run, order, do)
    run.ops = warm + timed + traced
    with run.phase("check"):
        _check_sql(run, results, sinks)
    _sql_metrics(run, timed, traced, results, len(order))


def _guarded(fn, name, kind) -> Op:
    """An operation that raises counts as failed; it is not retried."""
    t0 = time.perf_counter()
    try:
        return fn(name, kind)
    except Exception as e:  # noqa: BLE001 - every engine error is a failed op
        return Op(name, kind, time.perf_counter() - t0, ok=False, error=repr(e)[:300])


def _check_sql(run, results, sinks) -> None:
    """Compare every read and every sink with its DuckDB oracle."""
    from flink_1_11_1_spark import declared, testing
    from flink_1_11_1_spark.extensions import registry

    con = testing.duckdb_connect(run.fixture)
    want: dict[str, tuple] = {}
    for name in SQL_READS + harness.LLM_PIPELINES:
        sql = (declared.oracle_text(declared.QUERIES[name]) if name in declared.QUERIES
               else registry.oracle_sql()[name])
        want[name] = testing.run_duckdb(con, sql)
    for name, (_, select) in SQL_WRITES.items():
        want[name] = testing.run_duckdb(con, select)
    by_id = {op.op_id: op for op in run.ops}
    for op_id, (name, cols, rows) in results.items():
        _mark(by_id[op_id], _same((cols, [tuple(r) for r in rows]), want[name]))
    for op_id, (name, path) in sinks.items():
        df = run.spark.read.parquet(path)
        _mark(by_id[op_id], _same((df.columns, [tuple(r) for r in df.collect()]), want[name]))


def _sql_metrics(run, timed, traced, results, pass_len: int) -> None:
    reads_t = [o.latency for o in timed if o.kind == "read"]
    writes_t = [o.latency for o in timed if o.kind == "write"]
    elapsed = sum(o.latency for o in timed)
    run.e2e["latency_p50_s"] = (statistics.median(reads_t), len(reads_t))
    run.e2e["latency_p90_s"] = (quantile(reads_t, 0.9), len(reads_t))
    run.e2e["throughput_per_s"] = (len(timed) / elapsed, len(timed))
    run.notes["read_p50_s"] = statistics.median(reads_t)
    run.notes["read_p90_s"] = quantile(reads_t, 0.9)
    run.notes["write_p50_s"] = statistics.median(writes_t) if writes_t else None
    run.notes["writes"] = len(writes_t)
    passes = len(timed) // pass_len
    run.notes["batch_s"] = sum(o.latency for o in timed if o.kind == "pipeline") / passes
    run.notes["op_s"] = {o.name: round(o.latency, 3) for o in timed}

    if run.trace:
        _sql_layers(run, traced, results)


def _sql_layers(run, traced, results) -> None:
    """Per-operation layer figures of the traced phase."""
    n = len(traced)
    run.span_means({
        "declared.spark_text_s": "declared.spark_text",
        "spark.analyze_s": "spark.analyze",
        "spark.plan_s": "spark.plan",
        "spark.exec_s": "spark.exec",
        "ddl.execute_sql_s": "ddl.execute_sql",
        "extensions.build_s": "extensions.build",
    }, n)
    log = run.event_log()

    def groups(o):
        return (f"{o.op_id}.build", f"{o.op_id}.exec")

    run.sched_layers(log, traced, groups)
    run.layers["extensions.build_jobs"] = log.jobs_of(
        f"{o.op_id}.build" for o in traced) / n
    run.layers["operators.iterate_jobs"] = log.jobs_of(
        g for o in traced if o.name == ITERATIVE for g in groups(o)) / n
    dedup = [o for o in traced if o.name == DEDUP]
    join_rows = log.summary(g for o in dedup for g in groups(o))["join_rows"]
    out_rows = sum(len(results[o.op_id][2]) for o in dedup if o.op_id in results)
    run.layers["dedup.pair_yield"] = out_rows / join_rows if join_rows else 0.0
    for name in harness.LLM_PIPELINES:
        mine = [o for o in traced if o.name == name]
        k = max(len(mine), 1)
        run.layers[f"extensions.build_s.{name}"] = sum(
            _span(run, "extensions.build", o.op_id) for o in mine) / k
        run.layers[f"spark.exec_s.{name}"] = sum(
            _span(run, "spark.exec", o.op_id) for o in mine) / k
        run.layers[f"sched.jobs.{name}"] = log.jobs_of(
            g for o in mine for g in groups(o)) / k


def _mark(op: Op, verdict: tuple[bool, str]) -> None:
    if not verdict[0]:
        op.ok, op.error = False, verdict[1]


def _span(run, name: str, op_id: str) -> float:
    return sum(s["end"] - s["start"] for s in run.tracer.spans
               if s["name"] == name and s["op"] == op_id)


from perfbench.stream import stream_ingest  # noqa: E402

WORKLOAD_FNS = {"sql_mix": sql_mix, "stream_ingest": stream_ingest}
