"""The three workloads, driven only through the package's public functions.

Each workload returns a ``Result``: the operation log, the oracle check, the
end-to-end figures and (traced runs) the per-layer figures. Timing happens
only around calls into the package.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import threading
import time
from bisect import bisect_left
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kinesis_data_counter_spark import Config, get_spark
from kinesis_data_counter_spark.jq import eval_jq_object
from kinesis_data_counter_spark.operators.counter import (
    assemble_counters,
    merge_partials,
    partial_counter,
    union_counter_results,
)
from kinesis_data_counter_spark.sources import parse_json_records, split_corrupt_records
from kinesis_data_counter_spark.sources.replay_source import (
    KinesisReplayDataSource,
    open_shard_records,
    write_shard_files,
)
from kinesis_data_counter_spark.streaming.handler import (
    TimeWindowEvent,
    handle_time_window_event,
    make_intermediate_event,
)
from kinesis_data_counter_spark.streaming.sinks import kinesis_writer, serialized_lines

from perfbench import gen
from perfbench.fake_kinesis import FakeKinesisFactory, PutLog
from perfbench.stats import OP_TIMEOUT_MS, OpLog, median, percentile, timed_op
from perfbench.trace import Tracer, event_log_totals

# Each workload does a fixed amount of work per measured second, so every
# run of one seed does the same operations and a failed op's censored
# latency (the run's length) does not jump with how many ops fit in.
BACKLOG_RECORDS = 120_000
DRAINS_PER_S = 0.4  # 4 drains in a 10 s run
LAMBDA_NONFINAL = 2  # non-final invokes per (shard, window) before the final
LAMBDA_PER_EVENT = 500  # records per event; the reference buffers <= 1000
SECONDS_PER_WINDOW = 10  # one window of invokes (13 ops) per 10 s
TAIL_RATE = 1000  # records per second offered by the open loop
TAIL_TICK_S = 0.01
# longer than one micro-batch takes on the seed (~2 s), so batches start
# on the trigger's fixed cadence instead of back to back, where the lag
# settled in one of two regimes from run to run
TAIL_TRIGGER = "3 seconds"
TAIL_PREFIX = 40  # records written before the stream opens (schema sample)


@dataclass
class Result:
    ops: OpLog
    check: gen.Check
    records_per_s: float
    run_ms: float  # measured length of the op loop
    input_sha256: str
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    sample: list[float] | None = None  # latency sample, if not one per op


class Session:
    """The Spark session plus the benchmark's per-run state."""

    def __init__(self, work: str, tracer: Tracer):
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.groups: set[str] = set()
        self.layers: dict[str, float] = {}
        self._op = 0

    def setup(self) -> None:
        """get_spark, then a warm-up counter job on a tiny shard directory."""
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        tiny = os.path.join(self.work, "warmup")
        recs, arrivals, lines = gen.backlog_lines(0, 64, span_ms=120_000)
        write_shard_files(iter(lines), tiny, gen.NUM_SHARDS)
        cfg = Config.from_dict(gen.config_dict())
        with self.tracer.span("session.warmup"):
            t = time.perf_counter()
            df = open_shard_records(self.spark, tiny, ts_col="ts")
            self.layers["sources.open_records_ms"] = (time.perf_counter() - t) * 1e3
            serialized_lines(union_counter_results(
                assemble_counters(df, cfg, gen.ARN))).collect()
        t2 = time.perf_counter()
        self.layers["session.get_spark_s"] = t1 - t0
        self.layers["session.warmup_s"] = t2 - t1
        self.warmup_dir = tiny

    def close(self) -> None:
        """Stop the session, then the JVM the gateway launched, and wait
        for it (and with it the Python workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def next_op(self, kind: str, measured: bool = True) -> str:
        """A new op id; traced runs tag its Spark jobs with it, and the
        event-log counters average over the ``measured`` ops."""
        self._op += 1
        op = f"{kind}-{self._op}"
        self.tracer.op = op
        if self.tracer.enabled:
            if measured:
                self.groups.add(op)
            self.spark.sparkContext.setJobGroup(op, op)
        return op

    def config(self, two_level: bool = False) -> Config:
        t = time.perf_counter()
        with self.tracer.span("config.from_dict"):
            cfg = Config.from_dict(gen.config_dict(two_level))
        self.layers["config.from_dict_ms"] = (time.perf_counter() - t) * 1e3
        return cfg

    # -- trace-only probes ---------------------------------------------------

    def probe_tail_reads(self, path: str, label: str) -> None:
        """Time ``latestOffset()`` and a ``read()`` of the last ~1000 lines of
        the largest shard, straight on the stream reader."""
        reader = KinesisReplayDataSource({"path": path}).streamReader(None)
        t = time.perf_counter()
        with self.tracer.span("sources.latest_offset"):
            end = reader.latestOffset()
        t1 = time.perf_counter()
        shard = max(end, key=end.get)
        parts = reader.partitions({shard: max(0, end[shard] - 1000)}, {shard: end[shard]})
        with self.tracer.span("sources.tail_read"):
            rows = sum(b.num_rows for p in parts for b in reader.read(p))
        t2 = time.perf_counter()
        self.layers[f"sources.latest_offset_ms.{label}"] = (t1 - t) * 1e3
        self.layers[f"sources.tail_read_ms.{label}"] = (t2 - t1) * 1e3
        self.layers[f"sources.tail_read_rows.{label}"] = rows

    def probe_jq(self) -> None:
        program = gen.config_dict()["counters"][3]["jq_expr"]
        row = {"event_source_arn": gen.ARN, "window_start": gen.BASE_MS,
               "window_end": gen.BASE_MS + gen.WINDOW_MS, "counter_id": "not_found",
               "counter_type": "count", "value": 7}
        n = 2000
        t = time.perf_counter()
        for _ in range(n):
            eval_jq_object(program, row)
        self.layers["jq.eval_object_us"] = (time.perf_counter() - t) / n * 1e6

    def count_corrupt(self, path: str) -> None:
        """Records of a shard directory that do not decode to a JSON object."""
        from pyspark.sql import types as T

        self.spark.dataSource.register(KinesisReplayDataSource)
        raw = self.spark.read.format("kinesis_replay").option("path", path).load()
        schema = T.StructType([T.StructField("user_id", T.LongType())])
        _, bad = split_corrupt_records(parse_json_records(raw, schema, value_col="data"))
        self.layers["sources.corrupt_records"] = bad.count()

    def spark_totals(self, log_dir: str) -> dict[str, float]:
        """Per-op averages of the event-log counters over the measured ops."""
        tot = event_log_totals(log_dir, self.groups)
        return {f"spark.{k}": v / max(len(self.groups), 1) for k, v in tot.items()}


def _row_key(row: dict, shard: str = "") -> tuple[gen.Key, int]:
    if row.get("counter_id") is not None:
        return (row["counter_id"], int(row["window_start"]), shard), int(row["value"])
    if row.get("name") == gen.JQ_NAME:
        return ("not_found", int(row["time"]), shard), int(row["value"])
    raise ValueError(f"unrecognised result row {row}")


# ---------------------------------------------------------------------------
# backlog_drain
# ---------------------------------------------------------------------------


def backlog_drain(sess: Session, seed: int, seconds: float) -> Result:
    tr = sess.tracer
    recs, arrivals, lines = gen.backlog_lines(seed, BACKLOG_RECORDS)
    path = os.path.join(sess.work, "backlog")
    write_shard_files(iter(lines), path, gen.NUM_SHARDS)
    digest = gen.files_digest([os.path.join(path, f) for f in os.listdir(path)])
    expected = gen.backlog_oracle(recs, arrivals).expected()
    del recs, arrivals, lines
    cfg = sess.config()
    if tr.enabled:
        sess.probe_tail_reads(path, "early")

    ops = OpLog()
    got: list[tuple[gen.Key, int]] = []
    scan_ms: list[float] = []
    plan_ms: list[float] = []

    def drain():
        with tr.span("drain"):
            with tr.span("sources.open_shard_records"):
                df = open_shard_records(sess.spark, path, ts_col="ts")
            t = time.perf_counter()
            with tr.span("counter.plan_build"):
                union = union_counter_results(assemble_counters(df, cfg, gen.ARN))
            plan_ms.append((time.perf_counter() - t) * 1e3)
            with tr.span("sinks.serialized_lines"):
                return serialized_lines(union).collect()

    # an unmeasured first drain: the first pass over real-sized data was the
    # most variable sample (JIT, Python workers), not the steady state
    sess.next_op("warm", measured=False)
    timed_op(OpLog(), drain)
    plan_ms.clear()
    start = time.perf_counter()
    for _ in range(max(2, round(seconds * DRAINS_PER_S))):
        sess.next_op("drain")
        out, err, _ = timed_op(ops, drain)
        if err is None:
            got = [_row_key(json.loads(r.line)) for r in out]
        if tr.enabled:
            sess.next_op("scan", measured=False)
            t = time.perf_counter()
            with tr.span("sources.scan_only"):
                open_shard_records(sess.spark, path, ts_col="ts").write.format(
                    "noop").mode("overwrite").save()
            scan_ms.append((time.perf_counter() - t) * 1e3)
    run_ms = (time.perf_counter() - start) * 1e3
    tr.op = None

    check = gen.compare(expected, got)
    ok = [ms for ms, bad in zip(ops.latencies_ms, ops.failed) if not bad]
    rate = BACKLOG_RECORDS / (median(ok) / 1e3) if ok else 0.0
    res = Result(ops, check, rate, run_ms, digest)
    res.detail["drain_records_per_s"] = rate
    if tr.enabled:
        sess.probe_tail_reads(path, "late")
        sess.count_corrupt(path)
        res.layers["sources.scan_records_per_s"] = BACKLOG_RECORDS / (median(scan_ms) / 1e3)
        res.layers["counter.agg_s"] = max(0.0, (median(ok) - median(scan_ms)) / 1e3) if ok else 0.0
        res.layers["counter.plan_build_ms"] = median(plan_ms)
    return res


# ---------------------------------------------------------------------------
# lambda_invokes
# ---------------------------------------------------------------------------


def lambda_invokes(sess: Session, seed: int, seconds: float) -> Result:
    tr = sess.tracer
    windows = max(1, round(seconds / SECONDS_PER_WINDOW))
    plan, oracle = gen.lambda_plan(seed, windows, LAMBDA_NONFINAL, LAMBDA_PER_EVENT)
    digest = gen.plan_digest(plan)
    cfg = sess.config(two_level=True)
    if tr.enabled:
        sess.probe_tail_reads(sess.warmup_dir, "early")

    ops = OpLog()
    got: list[tuple[gen.Key, int]] = []
    explained: set[gen.Key] = set()
    lat: dict[str, list[float]] = {"nonfinal": [], "final": [], "level2": []}
    jobs: list[int] = []
    state_bytes = 0
    item_failures = 0
    corrupt_sent = 0
    records = 0
    busy_s = 0.0
    sc = sess.spark.sparkContext
    start = time.perf_counter()
    for window_ops in plan:
        ws = window_ops[0].window_start_ms
        states: dict[str, dict] = {}
        inters: list[dict] = []
        failed_finals = False
        for op in window_ops:
            op_id = sess.next_op("invoke")
            ev = TimeWindowEvent(
                records=op.records, window_start_ms=ws, window_end_ms=ws + gen.WINDOW_MS,
                event_source_arn=gen.ARN, shard_id=op.shard_id,
                state=states.get(op.shard_id, {}), is_final_invoke_for_window=op.final)
            kind = "final" if op.final else "nonfinal"

            def invoke(ev=ev, kind=kind):
                with tr.span(f"handler.invoke_{kind}"):
                    return handle_time_window_event(sess.spark, cfg, ev)

            resp, err, ms = timed_op(ops, invoke)
            lat[kind].append(ms)
            records += len(op.records)
            busy_s += ms / 1e3
            if tr.enabled:
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(op_id)))
            if err is not None:
                if op.final:  # the window's rows for this shard never come
                    failed_finals = True
                    explained.update((c, ws, op.shard_id) for c in gen.COUNTER_IDS
                                     if c not in gen.DISTINCT_IDS)
                continue
            states[op.shard_id] = resp.state
            state_bytes = max(state_bytes, len(json.dumps(resp.state)))
            item_failures += len(resp.batch_item_failures)
            corrupt_sent += op.corrupt
            got.extend(_row_key(r, op.shard_id) for r in resp.outputs)
            inters.extend(resp.intermediate_records)

        sess.next_op("level2")
        with tr.span("handler.make_intermediate_event"):
            ev2 = make_intermediate_event(
                inters, gen.AGG_ARN, ws, ws + gen.WINDOW_MS)

        def level2(ev2=ev2):
            with tr.span("handler.invoke_level2"):
                return handle_time_window_event(sess.spark, cfg, ev2)

        resp, err, ms = timed_op(ops, level2)
        lat["level2"].append(ms)
        busy_s += ms / 1e3
        if err is None:
            got.extend(_row_key(r) for r in resp.outputs)
        if failed_finals or err is not None:
            explained.add(("users", ws, ""))
    run_ms = (time.perf_counter() - start) * 1e3
    tr.op = None

    check = gen.compare(oracle.expected(), got, explained)
    res = Result(ops, check, records / busy_s if busy_s else 0.0, run_ms, digest)
    res.detail.update(
        windows=windows,
        batch_item_failures=item_failures,
        corrupt_records_sent_to_completed_invokes=corrupt_sent,
        errors=sorted(set(ops.errors)),
    )
    if tr.enabled:
        for kind, vals in lat.items():
            res.layers[f"handler.invoke_{kind}_ms_p50"] = median(vals) if vals else 0.0
        res.layers["handler.spark_jobs_per_invoke"] = median(jobs) if jobs else 0.0
        res.layers["handler.state_bytes_max"] = state_bytes
        res.layers["handler.batch_item_failures"] = item_failures
        sess.probe_tail_reads(sess.warmup_dir, "late")
    return res


# ---------------------------------------------------------------------------
# live_tail
# ---------------------------------------------------------------------------


class _ShardAppender:
    """Appends pre-serialized lines to the shard files and remembers, per
    shard, the line count after each tick and that tick's creation stamp."""

    def __init__(self, path: str, payloads: gen.TailPayloads):
        os.makedirs(path, exist_ok=True)
        self.fds = [
            os.open(os.path.join(path, f"{gen.shard_name(s)}.jsonl"),
                    os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
            for s in range(gen.NUM_SHARDS)
        ]
        self.p = payloads
        self.next = 0
        self.lines = [0] * gen.NUM_SHARDS
        self.ends: list[list[int]] = [[] for _ in range(gen.NUM_SHARDS)]
        self.stamps: list[list[int]] = [[] for _ in range(gen.NUM_SHARDS)]
        self.sent: list[tuple[int, int]] = []  # (payload index, stamp)

    def send(self, n: int, stamp_ms: int) -> None:
        buf: list[list[str]] = [[] for _ in range(gen.NUM_SHARDS)]
        lo, hi = self.next, min(self.next + n, len(self.p.templates))
        for i in range(lo, hi):
            buf[self.p.shards[i]].append(self.p.templates[i] % stamp_ms)
            self.sent.append((i, stamp_ms))
        self.next = hi
        for s, chunk in enumerate(buf):
            if chunk:
                os.write(self.fds[s], "".join(chunk).encode())
                self.lines[s] += len(chunk)
                self.ends[s].append(self.lines[s])
                self.stamps[s].append(stamp_ms)

    def stamp_of(self, shard: int, end_offset: int) -> int:
        """Creation stamp of line ``end_offset - 1`` of ``shard``."""
        return self.stamps[shard][bisect_left(self.ends[shard], end_offset)]

    def stamps_between(self, shard: int, lo: int, hi: int) -> list[tuple[int, int]]:
        """(stamp, line count) of the ticks that wrote lines [lo, hi) of ``shard``."""
        ends, out = self.ends[shard], []
        j = bisect_left(ends, lo + 1)
        while j < len(ends) and lo < hi:
            n = min(ends[j], hi) - lo
            out.append((self.stamps[shard][j], n))
            lo += n
            j += 1
        return out

    def close(self) -> None:
        for fd in self.fds:
            os.close(fd)


_PARTIAL_SCHEMA = (
    "event_source_arn string, shard_id string, counter_id string, "
    "counter_type string, counter_version string, "
    "window struct<start: timestamp, end: timestamp>, "
    "row_count bigint, hll_sketch string"
)


def live_tail(sess: Session, seed: int, seconds: float) -> Result:
    tr = sess.tracer
    spark = sess.spark
    ticks = int(round(seconds / TAIL_TICK_S))
    per_tick = int(round(TAIL_RATE * TAIL_TICK_S))
    payloads = gen.TailPayloads.make(seed, TAIL_PREFIX + ticks * per_tick)
    path = os.path.join(sess.work, "tail")
    app = _ShardAppender(path, payloads)
    app.send(TAIL_PREFIX, int(time.time() * 1000))
    cfg = sess.config()

    acc = spark.sparkContext.accumulator({"lines": [], "calls": 0}, PutLog())
    writer = kinesis_writer(gen.OUT_ARN, client_factory=FakeKinesisFactory(acc))
    sink_done: dict[int, float] = {}
    sink_ms: list[float] = []
    plan_ms: list[float] = []

    def on_batch(df, batch_id):
        sess.next_op("batch")
        t = time.perf_counter()
        with tr.span("sinks.batch", batch=batch_id):
            with tr.span("counter.plan_build"):
                parts = union_counter_results({
                    spec.id: partial_counter(df, spec, ts_col="ts", shard_col="shard_id",
                                             event_source_arn=gen.ARN)
                    for spec in cfg.counters
                })
            plan_ms.append((time.perf_counter() - t) * 1e3)
            with tr.span("sinks.kinesis_writer"):
                writer(parts, batch_id)
        sink_done[batch_id] = time.time()
        sink_ms.append((time.perf_counter() - t) * 1e3)

    sdf = open_shard_records(spark, path, streaming=True, ts_col="ts")
    query = (sdf.writeStream.foreachBatch(on_batch)
             .trigger(processingTime=TAIL_TRIGGER)
             .option("checkpointLocation", os.path.join(sess.work, "checkpoint"))
             .start())
    try:
        _wait(lambda: sink_done or query.exception(), 120, "first micro-batch")
        if tr.enabled:
            sess.probe_tail_reads(path, "early")
        loop = gen.OpenLoop(TAIL_TICK_S, lambda i, due: app.send(per_tick, int(due * 1000)))
        start_wall = time.time() + 0.05
        start = time.perf_counter()
        gen_thread = threading.Thread(
            target=loop.run, args=(start_wall, ticks, lambda: query.exception() is not None),
            name="open-loop", daemon=True)
        gen_thread.start()
        gen_thread.join(seconds + 60)
        measured_ms = (time.perf_counter() - start) * 1e3
        written = sum(app.lines)
        last = query.lastProgress
        done_rows = _offset_total(last["sources"][0]["endOffset"]) if last else 0
        backlog_end = written - done_rows
        if tr.enabled:
            sess.probe_tail_reads(path, "late")
        # drain what was written, then stop
        _wait(lambda: query.exception() or (
            query.lastProgress and
            _offset_total(query.lastProgress["sources"][0]["endOffset"]) >= written
            and query.lastProgress["batchId"] in sink_done), 120, "catch-up")
        progress = list(query.recentProgress)
        error = query.exception()
    finally:
        query.stop()
        app.close()

    # one op per micro-batch with data. The latency sample is every record's
    # lag from creation to its batch reaching the sink; the per-batch
    # figure (lag_p50_ms in the detail record) is the newest record's lag.
    ops = OpLog()
    record_lag: list[float] = []
    batch_rates: list[float] = []
    trig: dict[str, list[float]] = {}
    per_batch: list[int] = []
    for p in progress:
        src = p["sources"][0]
        lo = _offsets(src["startOffset"])
        hi = _offsets(src["endOffset"])
        # numInputRows counts every scan of the batch; offsets count records
        rows = sum(end - lo.get(s, 0) for s, end in hi.items())
        if not rows:
            continue
        newest = max(
            app.stamp_of(int(s.split("-")[1]), end)
            for s, end in hi.items() if end > lo.get(s, 0)
        )
        if newest < start_wall * 1000:
            continue  # warm-up batch: only the prefix records
        done = sink_done.get(p["batchId"])
        lag = (done * 1000 - newest) if done is not None else measured_ms
        err = None if done is not None else "batch did not reach the sink"
        if err is None and lag > OP_TIMEOUT_MS:
            err = f"timeout: {lag:.0f} ms"
        ops.record(lag, err)
        for sh, end in hi.items():
            for stamp, n in app.stamps_between(int(sh.split("-")[1]), lo.get(sh, 0), end):
                record_lag.extend([(done * 1000 - stamp) if done else measured_ms] * n)
        batch_rates.append(rows / max(p["durationMs"].get("triggerExecution", 0), 1) * 1e3)
        per_batch.append(rows)
        for k, v in p["durationMs"].items():
            trig.setdefault(k, []).append(v)
    if error is not None:
        ops.record(measured_ms, f"query failed: {str(error)[:200]}")
        record_lag.append(measured_ms)

    # level-2: merge every partial the sink emitted and check it
    put = acc.value
    got: list[tuple[gen.Key, int]] = []
    if put["lines"]:
        parts = spark.createDataFrame([(ln,) for ln, _ in put["lines"]], "line string").select(
            F.from_json("line", _PARTIAL_SCHEMA).alias("p")).select("p.*").withColumn(
            "hll_sketch", F.unbase64("hll_sketch"))
        for spec in cfg.counters:
            for r in merge_partials(parts, spec).collect():
                got.append(((r.counter_id, int(r.window_start), ""), int(r.value)))
    oracle = gen.Oracle()
    for i, stamp in app.sent:
        oracle.add(payloads.recs[i], stamp)
    check = gen.compare(oracle.expected(), got)

    # median over batches: the last, catch-up batch is small and would
    # drag a pooled rate down by its fixed per-batch cost
    rate = median(batch_rates) if batch_rates else 0.0
    res = Result(ops, check, rate, measured_ms, payloads.digest())
    res.sample = record_lag
    newest = ops.censored_sample(measured_ms)
    res.detail.update(
        batches=len(per_batch), sent=len(app.sent),
        lag_newest_p50_ms=median(newest) if newest else 0.0,
        lag_newest_p90_ms=percentile(newest, 90) if newest else 0.0,
    )
    res.layers["gen.late_ms_p90"] = percentile(loop.late_ms, 90) if loop.late_ms else 0.0
    res.layers["gen.records"] = len(app.sent)
    if tr.enabled:
        names = {"triggerExecution": "trigger", "latestOffset": "latest_offset",
                 "addBatch": "add_batch", "walCommit": "wal_commit",
                 "commitOffsets": "commit_offsets", "queryPlanning": "query_planning"}
        for k, short in names.items():
            vals = trig.get(k, [])
            res.layers[f"runner.{short}_ms_p50"] = median(vals) if vals else 0.0
        res.layers["runner.batches"] = len(per_batch)
        res.layers["runner.records_per_batch_p50"] = median(per_batch) if per_batch else 0
        res.layers["runner.backlog_records_end"] = backlog_end
        res.layers["sinks.write_ms_p50"] = median(sink_ms) if sink_ms else 0.0
        res.layers["sinks.put_calls"] = put["calls"]
        res.layers["sinks.bytes_out"] = sum(len(ln) + 1 for ln, _ in put["lines"])
        res.layers["counter.plan_build_ms"] = median(plan_ms) if plan_ms else 0.0
        sess.count_corrupt(path)
    return res


def _offsets(offset) -> dict[str, int]:
    """Per-shard offsets from a progress record."""
    if not offset:
        return {}
    # the Python data source's offsets arrive as the repr of a dict
    parsed = ast.literal_eval(offset) if isinstance(offset, str) else offset
    return dict(parsed or {})


def _offset_total(offset) -> int:
    return sum(_offsets(offset).values())


def _wait(cond, timeout_s: float, what: str) -> None:
    deadline = time.perf_counter() + timeout_s
    while not cond():
        if time.perf_counter() > deadline:
            raise TimeoutError(f"waited {timeout_s:.0f} s for {what}")
        time.sleep(0.05)


WORKLOADS = {
    "backlog_drain": backlog_drain,
    "lambda_invokes": lambda_invokes,
    "live_tail": live_tail,
}
