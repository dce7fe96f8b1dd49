"""``stream_ingest``: open-loop event ingest into two streaming queries.

A generator thread writes seeded event chunks into a replay directory
(the ``streaming/replay.write_replay_frames`` layout: one
``chunk_NNN.parquet`` per chunk, strictly increasing mtimes) at a fixed
rate.  Two Structured Streaming queries read the directory (the
directory itself: a glob over the chunk files, as
``streaming/replay.events_stream`` reads, makes Spark list the matched
files with a Spark job on every trigger once there are more than 32)
with a watermark and write parquet sinks:

- ``win``: event-time tumbling-window count and sum per event type;
- ``cep``: keyed-state CEP, ``nfa.PatternSeq.match_stream`` of
  click -> purchase within 10 minutes per user.

Event-to-result latency of a chunk is the end of the later of the two
micro-batches that committed it minus the chunk's scheduled write time.
The batch that read each chunk comes from each query's file-source log
in its checkpoint; batch end times come from ``StreamingQueryProgress``.

Capacity comes from a drain after the open loop: a fixed backlog of
``DRAIN_CHUNKS`` chunks lands at once, and each query reads it at most
``MAX_FILES`` chunks per micro-batch.  It is the events per second of
micro-batch time over the drain batches that read a full ``MAX_FILES``
chunks, leaving out the first drain batch (which also lists the new
files; the later ones take them from the source's cache), taken for
the slower query.  It does not depend on the offered rate.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.harness import Op, quantile

CHUNK_RATE = 4.0  # chunks per second offered in the open loop
PER_CHUNK = 25  # events per chunk
WARM_CHUNKS = 2  # per warm-up round; two rounds run before timing
MAX_FILES = 16  # maxFilesPerTrigger: chunks one micro-batch reads at most
DRAIN_CHUNKS = 5 * MAX_FILES  # the backlog the capacity figure drains
DELAY_S = 120  # watermark delay
WINDOW_S = 300
# Out-of-order events stay newer than any watermark (which trails the
# newest earlier chunk by DELAY_S).  Late events (from the open loop on)
# are older than the watermark the first warm-up round establishes, and
# a batch drops rows against the previous batch's watermark, so they
# are dropped for certain.
OOO_MAX_S = DELAY_S // 2
LATE_FROM = 2 * WARM_CHUNKS


class Replay:
    """Writes chunks on a schedule; remembers when each was due and done."""

    def __init__(self, seed: int, out_dir: str):
        self.seed, self.dir = seed, out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.next = 0
        self.due: dict[int, float] = {}
        self.done: dict[int, float] = {}
        self.tables: dict[int, object] = {}
        self._mtime = 0.0

    def chunks(self, n: int) -> list[tuple[int, object]]:
        first, self.next = self.next, self.next + n
        tables = inputs.stream_chunks(self.seed, first, n, PER_CHUNK, LATE_FROM, OOO_MAX_S)
        out = list(zip(range(first, first + n), tables))
        self.tables.update(out)
        return out

    def write(self, chunks: list[tuple[int, object]], due: float | None = None) -> list[int]:
        """Write chunks under names the stream ignores, then rename them
        all, so that many chunks land within a millisecond or so; ``due``
        defaults to the time of the renames."""
        staged = []
        for c, table in chunks:
            tmp = os.path.join(self.dir, f".chunk_{c:03d}.tmp")
            pq.write_table(table, tmp)
            self._mtime = max(time.time(), self._mtime + 0.002)
            os.utime(tmp, (self._mtime, self._mtime))
            staged.append((c, tmp))
        due = time.time() if due is None else due
        for c, tmp in staged:
            os.rename(tmp, os.path.join(self.dir, f"chunk_{c:03d}.parquet"))
        done = time.time()
        for c, _ in chunks:
            self.due[c], self.done[c] = due, done
        return [c for c, _ in chunks]

    def write_now(self, n: int) -> list[int]:
        return self.write(self.chunks(n))

    def open_loop(self, seconds: float) -> list[int]:
        """Write ``seconds * CHUNK_RATE`` chunks on schedule (own thread)."""
        todo = self.chunks(int(round(seconds * CHUNK_RATE)))

        def gen():
            t0 = time.time()
            for k, (c, table) in enumerate(todo):
                due = t0 + k / CHUNK_RATE
                time.sleep(max(0.0, due - time.time()))
                self.write([(c, table)], due)

        th = threading.Thread(target=gen, name="chunk-generator")
        th.start()
        th.join()
        return [c for c, _ in todo]


def _source_offsets(ckpt: str) -> dict[int, int]:
    """chunk number -> file-source log offset, from the source's
    metadata log (the log advances only when new files arrive, so its
    offsets are not micro-batch ids)."""
    out = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    stem = os.path.basename(e["path"]).split(".")[0]
                    out[int(stem.split("_")[1])] = e["batchId"]
    return out


def _chunk_batches(ckpt: str, progress: list[dict]) -> dict[int, int]:
    """chunk number -> id of the micro-batch that read it: the batch
    whose source offset range (start, end] holds the chunk's offset."""
    ranges = []
    for p in progress:
        src = p["sources"][0]
        start = (src.get("startOffset") or {}).get("logOffset", -1)
        end = (src.get("endOffset") or {}).get("logOffset", -1)
        if end > start:
            ranges.append((start, end, p["batchId"]))
    return {
        c: next(b for lo, hi, b in ranges if lo < off <= hi)
        for c, off in _source_offsets(ckpt).items()
    }


def _drain_rate(progress: list[dict], chunk_batch: dict[int, int], drained: list[int],
                per_batch: int) -> float:
    """Input rows per second of trigger time over the micro-batches that
    read ``per_batch`` of the ``drained`` chunks, except the first
    micro-batch that read any of them."""
    counts: dict[int, int] = {}
    for c in drained:
        counts[chunk_batch[c]] = counts.get(chunk_batch[c], 0) + 1
    first = min(counts)
    full = {b for b, n in counts.items() if n == per_batch and b != first}
    ps = [p for p in progress if p["batchId"] in full]
    if not ps:
        raise RuntimeError(f"no drain batch read {per_batch} chunks: {counts}")
    return sum(p["numInputRows"] for p in ps) / (
        sum(p["durationMs"]["triggerExecution"] for p in ps) / 1000)


def _batch_end(p: dict) -> float:
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000


def stream_ingest(run) -> None:
    from pyspark.sql import functions as F

    from flink_1_11_1_spark.streaming import nfa

    spark, tr = run.spark, run.tracer
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    replay = Replay(run.seed, os.path.join(run.work, "replay"))
    replay.write_now(WARM_CHUNKS)
    schema = spark.read.parquet(os.path.join(replay.dir, "chunk_000.parquet")).schema
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", MAX_FILES)
        .parquet(replay.dir)
        .withWatermark("ts", f"{DELAY_S} seconds")
    )
    win = (
        events.groupBy(F.window("ts", f"{WINDOW_S} seconds"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("window.start").alias("wstart"), "event_type", "n", "total")
    )
    with tr.span("streaming.match_stream"):
        pattern = (
            nfa.PatternSeq.begin("a", "event_type = 'click'")
            .followed_by("b", "event_type = 'purchase'")
            .within("10 minutes")
        )
        cep = pattern.match_stream(events.select("user_id", "event_id", "ts", "event_type"))
    queries = {}
    for name, df in (("win", win), ("cep", cep)):
        with tr.span("streaming.start"):
            queries[name] = (
                df.writeStream.format("parquet").outputMode("append")
                .option("path", os.path.join(run.work, f"sink_{name}"))
                .option("checkpointLocation", os.path.join(run.work, f"ckpt_{name}"))
                .queryName(name).start()
            )

    def settle():
        for q in queries.values():
            q.processAllAvailable()

    try:
        run.instrument(False)
        with run.phase("warmup"):  # the first batches are cold
            settle()
            replay.write_now(WARM_CHUNKS)
            settle()
        # a traced run also runs the open loop instrumented; which of the
        # two goes first alternates with the seed
        phases = [("plain", False)] + ([("traced", True)] if run.trace else [])
        if run.seed % 2:
            phases.reverse()
        loops = {}
        with run.phase("timed"):
            for phase, on in phases:
                run.instrument(on)
                with tr.span("open_loop"):
                    loops[phase] = replay.open_loop(run.seconds)
                settle()
            run.instrument(False)
        with run.phase("drain"):
            drained = replay.write_now(DRAIN_CHUNKS)
            settle()
        progress = {n: [json.loads(p.json) for p in q.recentProgress]
                    for n, q in queries.items()}
        late_rows = sum(op.get("numRowsDroppedByWatermark", 0)
                        for ps in progress.values() for p in ps for op in p["stateOperators"])
    finally:
        for q in queries.values():
            q.stop()

    with open(os.path.join(run.work, "progress.json"), "w", encoding="utf-8") as f:
        json.dump(progress, f)
    chunk_batch = {n: _chunk_batches(os.path.join(run.work, f"ckpt_{n}"), progress[n])
                   for n in queries}
    ends = {n: {p["batchId"]: _batch_end(p) for p in ps} for n, ps in progress.items()}

    def committed(c: int) -> float:
        return max(ends[n][chunk_batch[n][c]] for n in queries)

    e2r = {c: committed(c) - replay.due[c] for c in replay.due}
    plain = loops["plain"]
    lat = [e2r[c] for c in plain]
    eps = min(_drain_rate(progress[n], chunk_batch[n], drained, MAX_FILES) for n in queries)
    run.e2e["latency_p50_s"] = (statistics.median(lat), len(lat))
    run.e2e["latency_p90_s"] = (quantile(lat, 0.9), len(lat))
    run.e2e["throughput_per_s"] = (eps, len(drained) * PER_CHUNK)
    run.notes.update(e2r_p50_s=statistics.median(lat), e2r_p90_s=quantile(lat, 0.9),
                     stream_eps=eps, chunks=len(lat), late_rows=late_rows)

    # correctness, outside the timed region
    with run.phase("check"):
        bad = _check(run, replay, chunk_batch["win"])
    run.ops = [Op(f"chunk{c}", "chunk", e2r[c], ok=c not in bad, error=bad.get(c, ""))
               for c in sorted(replay.due)]

    if run.trace:
        traced = loops["traced"]
        tl = [e2r[c] for c in traced]
        run.layers["trace.overhead_s"] = statistics.mean(tl) - statistics.mean(lat)
        _layers(run, progress, chunk_batch, replay, set(traced), late_rows, queries)


def _layers(run, progress, chunk_batch, replay, traced, late_rows, queries) -> None:
    """Per-micro-batch layer figures over the traced open-loop phase."""
    bids = {n: {chunk_batch[n][c] for c in traced} for n in queries}
    ps = [(n, p) for n, pl in progress.items() for p in pl if p["batchId"] in bids[n]]
    k = max(len(ps), 1)

    def mean_ms(key):
        return sum(p["durationMs"].get(key, 0) for _, p in ps) / k / 1000

    run.layers.update({
        "stream.trigger_s": mean_ms("triggerExecution"),
        "stream.add_batch_s": mean_ms("addBatch"),
        "stream.get_batch_s": mean_ms("getBatch"),
        "stream.latest_offset_s": mean_ms("latestOffset"),
        "stream.wal_commit_s": mean_ms("walCommit"),
        "stream.state_commit_s": sum(
            op.get("commitTimeMs", 0) for _, p in ps for op in p["stateOperators"]) / k / 1000,
        "stream.state_rows": sum(
            pl[-1]["stateOperators"][0]["numRowsTotal"] for pl in progress.values()
            if pl and pl[-1]["stateOperators"]),
        "stream.state_bytes": sum(
            pl[-1]["stateOperators"][0]["memoryUsedBytes"] for pl in progress.values()
            if pl and pl[-1]["stateOperators"]),
        "stream.late_rows": late_rows,
    })
    win = chunk_batch["win"]
    starts = {p["batchId"]: _batch_end(p) - p["durationMs"]["triggerExecution"] / 1000
              for p in progress["win"]}
    backlog = [
        sum(1 for c in replay.done if replay.done[c] <= starts[b] and win[c] >= b)
        for b in bids["win"] if b in starts
    ]
    run.layers["stream.backlog_files"] = statistics.mean(backlog) if backlog else 0.0
    lags = [replay.done[c] - replay.due[c] for c in traced]
    run.layers["gen.lag_p90_s"] = quantile(lags, 0.9)
    log = run.event_log()
    qid = {n: q.id for n, q in queries.items()}
    ops = [Op(f"{n}:{p['batchId']}", "batch", p["durationMs"]["triggerExecution"] / 1000,
              op_id=f"stream:{qid[n]}:{p['batchId']}") for n, p in ps]
    run.sched_layers(log, ops, lambda o: (o.op_id,))


def _check(run, replay, win_batch: dict[int, int]) -> dict[int, str]:
    """Compare both sinks with a batch computation over the same events;
    return {chunk: reason} for every chunk whose results are wrong."""
    import pandas as pd

    from flink_1_11_1_spark.streaming import nfa

    spark = run.spark
    ev = pd.concat([t.to_pandas().assign(chunk=c) for c, t in replay.tables.items()])
    ev["ts"] = ev["ts"].dt.tz_convert(None)  # naive UTC, as the session zone
    # late events are exactly those before the epoch of the stream
    epoch = pd.Timestamp(inputs.STREAM_EPOCH)
    late = (ev["ts"] < epoch) & (ev["chunk"] >= LATE_FROM)
    kept = ev[~late].copy()
    kept["wstart"] = kept["ts"].dt.floor(f"{WINDOW_S}s")
    want = kept.groupby(["wstart", "event_type"]).agg(
        n=("event_id", "size"), total=("value", "sum"), chunks=("chunk", lambda s: set(s)))
    got = spark.read.parquet(os.path.join(run.work, "sink_win")).toPandas()
    got["wstart"] = pd.to_datetime(got["wstart"]).dt.tz_localize(None)
    bad: dict[int, str] = {}
    seen = set()
    for r in got.itertuples():
        key = (r.wstart, r.event_type)
        seen.add(key)
        w = want.loc[key] if key in want.index else None
        if w is None or w.n != r.n or abs(w.total - r.total) > 1e-6 * max(1.0, abs(w.total)):
            # a window that should not exist blames every chunk with an
            # event in it (a late row kept), or else every chunk
            chunks = (w.chunks if w is not None else
                      set(ev[ev["ts"].dt.floor(f"{WINDOW_S}s") == r.wstart]["chunk"])
                      or set(replay.tables))
            for c in chunks:
                bad[c] = f"window {key}: got n={r.n} total={r.total}"
    # windows every run must have emitted: the last batch with data
    # evicts up to the watermark left by the batches before it
    last = max(win_batch.values())
    before = ev[ev["chunk"].map(win_batch) < last]["ts"].max()
    closed = before - pd.Timedelta(seconds=DELAY_S + WINDOW_S + inputs.CHUNK_SPAN_S)
    for key, w in want.iterrows():
        if key[0] <= closed and key not in seen:
            for c in w.chunks:
                bad[c] = f"window {key} missing"

    cols = ["user_id", "event_id", "ts", "event_type"]
    pattern = (
        nfa.PatternSeq.begin("a", "event_type = 'click'")
        .followed_by("b", "event_type = 'purchase'")
        .within("10 minutes")
    )
    allev = spark.createDataFrame(ev[cols])
    batch = {(r.user_id, tuple(r.ids)) for r in pattern.match_batch(allev).collect()}
    stream = {(r.user_id, tuple(r.ids)) for r in
              spark.read.parquet(os.path.join(run.work, "sink_cep")).collect()}
    chunk_of = dict(zip(ev["event_id"], ev["chunk"]))
    for _, ids in batch ^ stream:
        for i in ids:
            bad[chunk_of[i]] = f"cep match {ids} differs"
    return bad
