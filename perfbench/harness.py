"""Measurement helpers shared by the workloads: percentiles, host steal,
in-memory spans, the exactly-once/order checker, result hashing and the
Spark status-store readers.

Nothing here imports pyspark at module level, so the self-tests run
without a JVM.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import re
import threading
import time
from collections import Counter
from collections.abc import Callable, Iterable, Sequence
from contextlib import contextmanager

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# -- statistics ---------------------------------------------------------------


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default), ``0 <= q <= 100``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)


def tail_percentile(values: Sequence[float], q: float, beyond: int = 10) -> float:
    """The ``q``-th percentile, refusing a tail the sample cannot support:
    at least ``beyond`` samples must lie above it (1000 samples for p99)."""
    if len(values) * (100.0 - q) / 100.0 < beyond:
        raise ValueError(
            f"p{q:g} needs {math.ceil(beyond * 100 / (100 - q))} samples, "
            f"got {len(values)}"
        )
    return percentile(values, q)


# -- host steal ---------------------------------------------------------------


def parse_cpu_line(stat_text: str) -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat.

    Columns: user nice system idle iowait irq softirq steal guest
    guest_nice. Guest time is already counted in user/nice, so the total
    is the sum of the first eight columns.
    """
    for line in stat_text.splitlines():
        fields = line.split()
        if fields and fields[0] == "cpu":
            cols = [int(x) for x in fields[1:9]]
            cols += [0] * (8 - len(cols))
            return cols[7], sum(cols)
    raise ValueError("no aggregate cpu line in /proc/stat")


class StealMeter:
    """Share of host CPU time stolen by the hypervisor between ``start``
    and ``stop``; 0.0 where /proc/stat is unavailable."""

    def __init__(self, path: str = "/proc/stat"):
        self.path = path
        self._start: tuple[int, int] | None = None

    def _read(self) -> tuple[int, int] | None:
        try:
            with open(self.path) as f:
                return parse_cpu_line(f.read())
        except (OSError, ValueError):
            return None

    def start(self) -> None:
        self._start = self._read()

    def share(self) -> float:
        end = self._read()
        if self._start is None or end is None or end[1] <= self._start[1]:
            return 0.0
        return (end[0] - self._start[0]) / (end[1] - self._start[1])


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) written out at the end.

    Disabled, ``span`` yields without recording, so the untraced run
    pays one attribute check per call.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._origin = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "start": time.perf_counter() - self._origin,
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._origin

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a finished top-level span from two ``perf_counter`` readings
        (for phases that begin and end on different threads)."""
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {
                        "id": len(self.spans),
                        "name": name,
                        "parent": None,
                        "start": start - self._origin,
                        "end": end - self._origin,
                        **attrs,
                    }
                )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# -- one run ------------------------------------------------------------------


class Run:
    """State of one benchmark run, filled in by a workload function.

    ``e2e`` holds the end-to-end metrics, ``layer`` the per-layer ones;
    ``attempted``/``failed`` count timed operations, and ``problems``
    describes every failed operation or output check.
    """

    def __init__(self, spark, tracer: Tracer, work: str, rng, seconds: float,
                 latency_limit_s: float, started: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.rng = rng
        self.seconds = seconds
        self.latency_limit_s = latency_limit_s
        self.started = started
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s: float | None = None
        self._warmup_at: float | None = None

    def warmup_starts(self) -> None:
        self._warmup_at = time.perf_counter()

    def timing_starts(self, at: float | None = None) -> None:
        """Mark the first timed operation (now, or at a scheduled time):
        set-up and warm-up end here."""
        at = time.perf_counter() if at is None else at
        self.setup_s = at - self.started
        warm = self._warmup_at if self._warmup_at is not None else at
        self.layer["session.warmup_s"] = at - warm
        self.tracer.record("session.warmup", warm, at)


# -- output checks ------------------------------------------------------------


def id_key(message_id: str) -> tuple[int, int]:
    ms, seq = message_id.split("-")
    return int(ms), int(seq)


def check_delivery(
    produced: Iterable[str],
    delivered: Sequence[str],
    key_of: Callable[[str], object] = lambda _: None,
) -> tuple[list[str], set[str]]:
    """Check one group's delivery: every produced id reaches the handler
    exactly once, and ids sharing ``key_of(id)`` arrive in ``(ms, seq)``
    order (the default, one key for all, is the strict global order).

    Returns (problems, bad ids); both are empty when the delivery is
    correct.
    """
    expected = set(produced)
    counts = Counter(delivered)
    problems: list[str] = []
    bad: set[str] = set()
    dups = sorted(m for m, c in counts.items() if c > 1)
    missing = sorted(expected - counts.keys())
    extra = sorted(counts.keys() - expected)
    for what, ids in (("duplicated", dups), ("missing", missing), ("unexpected", extra)):
        if ids:
            problems.append(f"{len(ids)} {what} ids, e.g. {ids[0]}")
            bad.update(ids)
    last: dict[object, tuple[str, tuple[int, int]]] = {}
    disorder = []
    for m in delivered:
        k, pos = key_of(m), id_key(m)
        prev = last.get(k)
        if prev is not None and pos <= prev[1] and m not in bad:
            disorder.append(f"{prev[0]} -> {m}")
            bad.add(m)
        last[k] = (m, pos)
    if disorder:
        problems.append(f"{len(disorder)} out of order, e.g. {disorder[0]}")
    return problems, bad


class ListParam:
    """Accumulator param collecting a list (duck-types pyspark's
    ``AccumulatorParam``, so this module needs no pyspark import)."""

    def zero(self, value: list) -> list:
        return []

    def addInPlace(self, a: list, b: list) -> list:
        a.extend(b)
        return a


class IdRecorder:
    """Executor-side handler for ``ordering="by_key"``: appends each
    delivered id to a list accumulator and acks it (None is the
    reference's auto-ack). Module-level so workers import it by name."""

    def __init__(self, acc):
        self.acc = acc

    def __call__(self, message_id: str, payload: dict) -> None:
        self.acc.add([message_id])


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "~" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_hash(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    canonicalized (floats by their exact repr), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return f"{len(canon)}:{h.hexdigest()[:16]}"


# -- Spark status store -------------------------------------------------------

#: Per-stage fields read from ``AppStatusStore.lastStageAttempt``.
STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",  # ns in the store; scaled below
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_records": "inputRecords",
}


def stage_totals(sc, stage_ids: Iterable[int]) -> dict[str, float]:
    """Sum ``STAGE_FIELDS`` over the last attempt of each stage.

    Stages skipped because their shuffle output was reused never ran;
    they count as zero and are not counted in ``stages``.
    """
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["stages"] = out["tasks"] = 0
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(int(sid))
        except Py4JJavaError:
            continue
        tasks = sd.numCompleteTasks()
        if not tasks:  # skipped: its shuffle output was reused
            continue
        for key, attr in STAGE_FIELDS.items():
            out[key] += getattr(sd, attr)()
        out["stages"] += 1
        out["tasks"] += tasks
    out["executor_cpu_ms"] /= 1e6
    return out


def group_jobs(sc, group: str) -> tuple[list[int], list[int]]:
    """Job ids and stage ids of one job group, from the status tracker."""
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    stages: list[int] = []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.extend(info.stageIds)
    return jobs, sorted(set(stages))
