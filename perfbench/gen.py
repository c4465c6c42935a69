"""Seeded input generation and the exact oracle for the counter benchmark.

Everything here is deterministic in the seed and needs no Spark session:
the same seed gives byte-identical shard files, invoke events and tail
payloads. The oracle follows the reference engine's semantics: a record
that does not decode to a JSON object is a failure and is never counted
(counter.go:241-252), and windows are 1-minute tumbling windows on the
record's arrival time (run.go:148-159).
"""

from __future__ import annotations

import base64
import hashlib
import math
import random
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

ARN = "arn:aws:kinesis:us-east-1:111122223333:stream/bench-input"
AGG_ARN = "arn:aws:kinesis:us-east-1:111122223333:stream/bench-aggregate"
OUT_ARN = "arn:aws:kinesis:us-east-1:111122223333:stream/bench-output"

WINDOW_MS = 60_000
BASE_MS = 1_700_000_040_000  # minute-aligned epoch millis
NUM_SHARDS = 4
USER_DOMAIN = 1_000_000
CORRUPT_EVERY = 1000
HLL_EPS = 0.05  # counter_test.go:66

JQ_NAME = "hits.not_found"
COUNTERS = (
    ("records", "count"),
    ("errors", "count"),
    ("users", "approx_count_distinct"),
    ("not_found", "count"),
)
COUNTER_IDS = tuple(c for c, _ in COUNTERS)
DISTINCT_IDS = frozenset(c for c, kind in COUNTERS if kind != "count")


def config_dict(two_level: bool = False) -> dict:
    """The 4-counter config: count *, a target_expr count, HLL distinct and a
    jq-reshaped count. ``two_level`` routes the distinct counter through the
    aggregate stream (the Lambda deployment's level-2 merge)."""
    users = {
        "id": "users",
        "counter_type": "approx_count_distinct",
        "target_column": "user_id",
        "input_stream_arn": ARN,
    }
    if two_level:
        users["aggregate_stream_arn"] = AGG_ARN
    return {
        "counters": [
            {"id": "records", "counter_type": "count", "target_column": "*",
             "input_stream_arn": ARN},
            {"id": "errors", "counter_type": "count",
             "target_expr": "status >= 500", "input_stream_arn": ARN},
            users,
            {"id": "not_found", "counter_type": "count",
             "target_expr": "if(status == 404, path, nil)",
             "input_stream_arn": ARN,
             "jq_expr": '{"time": .window_start, "name": "%s", "value": .value}'
             % JQ_NAME},
        ]
    }


def window_start(arrival_ms: int) -> int:
    return arrival_ms // WINDOW_MS * WINDOW_MS


def shard_of(pk: str) -> int:
    """md5(partition key) % shards — the PutRecord routing rule."""
    return int(hashlib.md5(pk.encode()).hexdigest(), 16) % NUM_SHARDS


def shard_name(i: int) -> str:
    return f"shard-{i:03d}"


@dataclass(frozen=True)
class Rec:
    """One generated record, before it gets an arrival time."""

    index: int
    user_id: int
    status: int
    path: str
    corrupt: bool

    @property
    def pk(self) -> str:
        return f"u{self.user_id}"

    def template(self) -> str:
        """The record's wire line with ``%d`` where the arrival stamp goes.

        A corrupt record is the same line cut short after the stamp, so it
        fails to decode as JSON.
        """
        head = '{"__pk":"%s","__arrival_ms":%%d' % self.pk
        if self.corrupt:
            return head + ',"user_id":'
        return head + ',"user_id":%d,"status":%d,"path":"%s"}' % (
            self.user_id, self.status, self.path)

    def line(self, arrival_ms: int) -> str:
        return self.template() % arrival_ms


def make_records(rng: random.Random, n: int, start_index: int = 0) -> list[Rec]:
    """``n`` records with Zipf-like user ids (P(k) ~ 1/k over USER_DOMAIN),
    ~5% 5xx and ~10% 404 statuses, and one corrupt record per CORRUPT_EVERY."""
    log_domain = math.log(USER_DOMAIN)
    out = []
    for j in range(n):
        i = start_index + j
        user = int(math.exp(rng.random() * log_domain)) - 1
        r = rng.random()
        status = 503 if r < 0.05 else (404 if r < 0.15 else 200)
        path = f"/p/{rng.randrange(50)}"
        out.append(Rec(i, user, status, path, i % CORRUPT_EVERY == CORRUPT_EVERY - 1))
    return out


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------

Key = tuple[str, int, str]  # (counter_id, window_start, shard_id or "")


@dataclass
class Oracle:
    """Exact per-(counter, window[, shard]) values under the reference's
    semantics: corrupt records are counted as failures, not in windows."""

    counts: dict[Key, int] = field(default_factory=lambda: defaultdict(int))
    users: dict[Key, set[int]] = field(default_factory=lambda: defaultdict(set))
    failures: int = 0

    def add(self, rec: Rec, arrival_ms: int, shard: str = "",
            distinct_shard: str | None = None) -> None:
        """Count one record. ``distinct_shard`` keys the distinct counter
        separately (the two-level topology merges it across shards)."""
        if rec.corrupt:
            self.failures += 1
            return
        ws = window_start(arrival_ms)
        self.counts[("records", ws, shard)] += 1
        self.counts[("errors", ws, shard)] += rec.status >= 500
        self.counts[("not_found", ws, shard)] += rec.status == 404
        ushard = shard if distinct_shard is None else distinct_shard
        self.users[("users", ws, ushard)].add(rec.user_id)

    def expected(self) -> dict[Key, int]:
        out = dict(self.counts)
        out.update({k: len(v) for k, v in self.users.items()})
        return out


@dataclass
class Check:
    """Result of comparing a run's rows with the oracle."""

    expected_rows: int = 0
    matched: int = 0
    wrong: int = 0
    missing: int = 0
    extra: int = 0
    known_defect_rows: int = 0
    explained_by_failed_ops: int = 0
    hll_max_rel_err: float = 0.0
    examples: list[str] = field(default_factory=list)

    @property
    def bad_rows(self) -> int:
        return self.wrong + self.missing + self.extra

    @property
    def unexplained(self) -> int:
        return self.bad_rows - self.known_defect_rows - self.explained_by_failed_ops

    def wrong_result_share(self) -> float:
        return self.bad_rows / self.expected_rows if self.expected_rows else 0.0

    def note(self, msg: str) -> None:
        if len(self.examples) < 8:
            self.examples.append(msg)


def compare(
    expected: dict[Key, int],
    got: Iterable[tuple[Key, int]],
    explained: set[Key] | frozenset = frozenset(),
) -> Check:
    """Compare result rows with the oracle.

    Counts must match exactly and distinct estimates within HLL_EPS.
    A wrong or missing row whose key is in ``explained`` belongs to an
    operation that already counted as failed. An unexpected row in the
    epoch-0 window is the seed's known corrupt-record defect: a corrupt
    line gets arrival time 0 and is counted there. Both still count as
    wrong results; they are only kept apart from unexplained mismatches.
    """
    chk = Check(expected_rows=len(expected))
    seen: set[Key] = set()
    for key, value in got:
        if key in seen or key not in expected:
            chk.extra += 1
            if key[1] == 0:
                chk.known_defect_rows += 1
            chk.note(f"unexpected row {key}={value}")
            continue
        seen.add(key)
        exact = expected[key]
        if key[0] in DISTINCT_IDS:
            err = abs(value - exact) / exact if exact else float(value != 0)
            if key not in explained:
                chk.hll_max_rel_err = max(chk.hll_max_rel_err, err)
            ok = err <= HLL_EPS
        else:
            ok = value == exact
        if ok:
            chk.matched += 1
        else:
            chk.wrong += 1
            chk.explained_by_failed_ops += key in explained
            chk.note(f"wrong {key}: got {value}, exact {exact}")
    for key in expected.keys() - seen:
        chk.missing += 1
        chk.explained_by_failed_ops += key in explained
        chk.note(f"missing {key}")
    return chk


# ---------------------------------------------------------------------------
# backlog_drain: a shard directory covering a few 1-minute windows
# ---------------------------------------------------------------------------


def backlog_lines(seed: int, n: int, span_ms: int = 5 * WINDOW_MS):
    """(records, [(pk, line)]) for the backlog, arrivals spread over ``span_ms``.

    The default packs enough records into each window (~12k distinct users
    out of 24k at 120k records) for the lgK=16 HLL sketches to leave their
    exact list/set mode, which holds about 6k coupons, and go dense."""
    rng = random.Random(f"backlog-{seed}")
    recs = make_records(rng, n)
    arrivals = [BASE_MS + i * span_ms // n for i in range(n)]
    lines = [(r.pk, r.line(a)) for r, a in zip(recs, arrivals)]
    return recs, arrivals, lines


def backlog_oracle(recs: list[Rec], arrivals: list[int]) -> Oracle:
    o = Oracle()
    for r, a in zip(recs, arrivals):
        o.add(r, a)
    return o


# ---------------------------------------------------------------------------
# lambda_invokes: time-window events, k non-final + 1 final per (shard, window)
# ---------------------------------------------------------------------------


@dataclass
class InvokePlan:
    """One input-stream invoke; the carried state is filled in at call time."""

    window_start_ms: int
    shard_id: str
    final: bool
    records: list[dict]  # {"sequence_number", "data": base64 JSON}
    corrupt: int


def lambda_plan(seed: int, windows: int, nonfinal: int, per_event: int):
    """Per window: for each round, one invoke per shard; the last round is
    the final invoke of every shard. Returns (plan per window, oracle)."""
    rng = random.Random(f"lambda-{seed}")
    oracle = Oracle()
    plan: list[list[InvokePlan]] = []
    index = 0
    for w in range(windows):
        ws = BASE_MS + w * WINDOW_MS
        by_shard: dict[int, list[Rec]] = defaultdict(list)
        need = (nonfinal + 1) * per_event
        # draw until every shard has its events' worth of md5-routed records
        while min((len(by_shard[s]) for s in range(NUM_SHARDS)), default=0) < need:
            (rec,) = make_records(rng, 1, index)
            index += 1
            s = shard_of(rec.pk)
            if len(by_shard[s]) < need:
                by_shard[s].append(rec)
        ops: list[InvokePlan] = []
        for rnd in range(nonfinal + 1):
            for s in range(NUM_SHARDS):
                chunk = by_shard[s][rnd * per_event:(rnd + 1) * per_event]
                arrival = ws + 1000 * rnd
                for rec in chunk:
                    oracle.add(rec, arrival, shard_name(s), distinct_shard="")
                ops.append(InvokePlan(
                    window_start_ms=ws,
                    shard_id=shard_name(s),
                    final=rnd == nonfinal,
                    records=[
                        {"sequence_number": str(rec.index),
                         "data": base64.b64encode(rec.line(arrival).encode()).decode()}
                        for rec in chunk
                    ],
                    corrupt=sum(rec.corrupt for rec in chunk),
                ))
        plan.append(ops)
    return plan, oracle


def plan_digest(plan: list[list[InvokePlan]]) -> str:
    h = hashlib.sha256()
    for ops in plan:
        for op in ops:
            h.update(f"{op.window_start_ms}|{op.shard_id}|{op.final}\n".encode())
            for r in op.records:
                h.update(f"{r['sequence_number']}:{r['data']}\n".encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# live_tail: pre-serialized payloads sent by an open loop
# ---------------------------------------------------------------------------


@dataclass
class TailPayloads:
    """Records whose wire lines are serialized ahead of time; only the
    creation stamp is formatted in at send time."""

    recs: list[Rec]
    templates: list[str]
    shards: list[int]

    @classmethod
    def make(cls, seed: int, n: int) -> "TailPayloads":
        recs = make_records(random.Random(f"tail-{seed}"), n)
        return cls(recs, [r.template() + "\n" for r in recs],
                   [shard_of(r.pk) for r in recs])

    def digest(self) -> str:
        h = hashlib.sha256()
        for s, t in zip(self.shards, self.templates):
            h.update(f"{s}|{t}".encode())
        return h.hexdigest()


def files_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class OpenLoop:
    """Sends tick ``i`` at ``start + i * period_s`` whether or not the system
    keeps up. Lateness is measured from each tick's due time, so a stall in
    the sender shows as lateness on every tick it delays."""

    def __init__(
        self,
        period_s: float,
        send: Callable[[int, float], None],
        clock: Callable[[], float] = time.time,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.period_s = period_s
        self.send = send
        self.clock = clock
        self.sleep = sleep
        self.late_ms: list[float] = []

    def run(self, start: float, ticks: int, stop: Callable[[], bool] = lambda: False) -> int:
        """Send up to ``ticks`` ticks; returns how many were sent."""
        for i in range(ticks):
            if stop():
                return i
            due = start + i * self.period_s
            now = self.clock()
            if now < due:
                self.sleep(due - now)
                now = self.clock()
            self.late_ms.append((now - due) * 1000.0)
            self.send(i, due)
        return ticks
