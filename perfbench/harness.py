"""Measurement primitives of the benchmark: the result checksum (in
Spark and in Python), the percentile rule, spans with self time,
failure counting, py4j call counting, process CPU time and the Spark
status-store counters.

Nothing in the engine package is patched: spans wrap the benchmark's
own calls, and :class:`LayerProxy` wraps the registry's references to
package modules, never the modules themselves.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0
# 2^31 - 1: each row hash is folded into [0, 2^31-1) before summing, so
# the sum cannot overflow a long under ANSI mode below 2^32 rows.
HASH_MOD = 2147483647


# --------------------------------------------------------------------
# checksum
# --------------------------------------------------------------------
def checksum_frame(df):
    """One-row aggregate that forces every output column of ``df``:
    ``(rows, hash)`` with ``hash = sum(pmod(xxhash64(all cols), 2^31-1))``.

    Order-insensitive (a sum over rows) and column-complete, so Catalyst
    cannot prune any projection the way it can under ``count()``. A plain
    ``sum(xxhash64(...))`` overflows a long under ANSI mode."""
    from pyspark.sql import functions as F

    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    row_hash = F.pmod(F.xxhash64(*cols), F.lit(HASH_MOD)) if cols else F.lit(0)
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash), F.lit(0)).cast("long").alias("hash"),
    )


def checksum(df) -> tuple[int, int]:
    row = checksum_frame(df).collect()[0]
    return int(row["rows"]), int(row["hash"])


# The same checksum computed in Python over rows typed by a Spark
# schema, so an oracle's rows can be compared with an engine result
# without collecting the engine's rows. Spark's xxhash64 is standard
# XXH64 over each value's little-endian bytes, seeded 42 and chained
# column to column; NULLs leave the running hash unchanged.
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5, _M = 9650029242287828579, 2870177450012600261, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` (unsigned result)."""
    n, i, seed = len(data), 0, seed & _M
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def _hash_value(v, dtype, seed: int) -> int:
    """Spark's xxhash64 step for one value of type ``dtype``. Raises
    TypeError for a value that does not fit the type."""
    import calendar
    import datetime as dt
    import struct
    from decimal import Decimal

    from pyspark.sql import types as T

    if v is None:
        return seed
    if isinstance(dtype, T.BooleanType):
        return xxh64(struct.pack("<i", 1 if v else 0), seed)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        return xxh64(struct.pack("<i", _integral(v)), seed)
    if isinstance(dtype, T.LongType):
        return xxh64(struct.pack("<q", _integral(v)), seed)
    if isinstance(dtype, T.DoubleType):
        f = float(v)
        return xxh64(struct.pack("<d", 0.0 if f == 0.0 else f), seed)
    if isinstance(dtype, T.FloatType):
        f = float(v)
        return xxh64(struct.pack("<f", 0.0 if f == 0.0 else f), seed)
    if isinstance(dtype, T.StringType):
        if not isinstance(v, str):
            raise TypeError(f"{v!r} is not a string")
        return xxh64(v.encode("utf-8"), seed)
    if isinstance(dtype, T.TimestampType):
        if not isinstance(v, dt.datetime):
            raise TypeError(f"{v!r} is not a timestamp")
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        us = calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
        return xxh64(struct.pack("<q", us), seed)
    if isinstance(dtype, T.DateType):
        if isinstance(v, dt.datetime) or not isinstance(v, dt.date):
            raise TypeError(f"{v!r} is not a date")
        return xxh64(struct.pack("<i", (v - dt.date(1970, 1, 1)).days), seed)
    if isinstance(dtype, T.DecimalType):
        unscaled = Decimal(v).scaleb(dtype.scale)
        if unscaled != unscaled.to_integral_value():
            raise TypeError(f"{v!r} does not fit {dtype}")
        u = int(unscaled)
        if dtype.precision <= 18:
            return xxh64(struct.pack("<q", u), seed)
        return xxh64(u.to_bytes((u.bit_length() + 8) // 8, "big", signed=True), seed)
    if isinstance(dtype, T.ArrayType):
        for e in v:
            seed = _hash_value(e, dtype.elementType, seed)
        return seed
    raise TypeError(f"no hash for {dtype}")


def _integral(v) -> int:
    if isinstance(v, bool) or int(v) != v:
        raise TypeError(f"{v!r} is not integral")
    return int(v)


def py_checksum(rows, schema) -> tuple[int, int]:
    """:func:`checksum` of ``rows`` (tuples in ``schema``'s column
    order) computed in Python."""
    total = 0
    for row in rows:
        h = 42
        for v, field_ in zip(row, schema.fields):
            h = _hash_value(v, field_.dataType, h)
        signed = h - (1 << 64) if h >= 1 << 63 else h
        total += signed % HASH_MOD
    return len(rows), total


# --------------------------------------------------------------------
# percentiles
# --------------------------------------------------------------------
def nearest_rank(values: list[float], q: float) -> float:
    """Nearest-rank quantile: the ``ceil(q*n)``-th smallest value."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(1, math.ceil(q * len(s) - 1e-9))
    return s[k - 1]


P90_MIN_SAMPLES = 100


def p90(values: list[float]) -> float | None:
    """The 90th percentile (nearest rank), or ``None`` below 100
    samples: from 100 on, at least ten samples lie above it."""
    if len(values) < P90_MIN_SAMPLES:
        return None
    return nearest_rank(values, 0.9)


# --------------------------------------------------------------------
# operations and failures
# --------------------------------------------------------------------
@dataclass
class Phase:
    kind: str  # build | plan | exec
    key: str  # the layer the phase calls into, e.g. "sync.build"
    dur: float
    group: str  # Spark job group of the jobs it launched
    py4j: int


@dataclass
class OpRecord:
    """One operation: its wall time, its phases, and the checksums of
    the results it forced. ``key`` names what the operation computes, so
    every pass's record of one key must carry the same checksums."""

    id: str
    key: str
    wall: float = 0.0
    phases: list = field(default_factory=list)
    results: list = field(default_factory=list)
    udf_nodes: int = 0
    error: str | None = None


def count_failures(records: list[OpRecord], reference: dict, failed_keys: set) -> tuple[int, int, list[str]]:
    """``(attempted, failed, reasons)`` over timed operations. An
    operation fails when it raised, when its checksums differ from the
    checked reference of its key, or when its key failed the run's
    correctness check; it counts once however many ways it failed."""
    failed, reasons = 0, []
    for r in records:
        why = None
        if r.error is not None:
            why = r.error
        elif r.key in failed_keys:
            why = "output failed the correctness check"
        elif r.key not in reference:
            why = "no checked reference result"
        elif r.results != reference[r.key]:
            why = f"checksum {r.results} != reference {reference[r.key]}"
        if why is not None:
            failed += 1
            if len(reasons) < 20:
                reasons.append(f"{r.id}: {why}"[:300])
    return len(records), failed, reasons


# --------------------------------------------------------------------
# spans
# --------------------------------------------------------------------
@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


class Tracer:
    """In-memory span recorder. When ``enabled`` is false every span is
    a no-op, so untraced passes run the same calls without recording.

    Spans carry an operation id; a span opened inside another inherits
    its operation and records it as parent."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.py4j_calls = 0
        self._sc = None
        self._group = None

    def bind(self, spark) -> None:
        """Count py4j sends made by this process while enabled."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        original = client.send_command

        def counted(*args, **kwargs):
            if self.enabled:
                self.py4j_calls += 1
            return original(*args, **kwargs)

        client.send_command = counted

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None):
        """Record ``name``; with ``group`` set, Spark jobs launched inside
        are tagged with that job group so the status store can attribute
        them afterwards."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(self._next, name, time.perf_counter(), 0.0,
                 parent.id if parent else None, op, group)
        self._next += 1
        self._stack.append(s)
        prev_group = self._group
        if group is not None:
            self._set_group(group)
        try:
            yield s
        finally:
            if group is not None:
                self._set_group(prev_group)
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(group, group)


class OpRun:
    """Runs one operation's phases under the tracer. Each phase is a
    ``build``/``plan``/``exec`` span (a direct child of the ``op`` span)
    wrapping a span named after the layer it calls into; in traced
    passes each phase's Spark jobs carry their own job group."""

    def __init__(self, tracer: Tracer, rec: OpRecord) -> None:
        self.tracer = tracer
        self.rec = rec
        self.plans: list = []  # physical plans, read after the op span

    def phase(self, kind: str, key: str, fn):
        group = f"{self.rec.id}|{kind}|{len(self.rec.phases)}"
        tr = self.tracer
        with tr.span(kind, group=group if tr.enabled else None), tr.span(key):
            calls0, t0 = tr.py4j_calls, time.perf_counter()
            out = fn()
            dur, calls = time.perf_counter() - t0, tr.py4j_calls - calls0
        self.rec.phases.append(Phase(kind, key, dur, group, calls))
        return out

    def force(self, df, key: str) -> tuple[int, int]:
        """Plan and execute :func:`checksum_frame` of ``df``: planning
        is timed to ``executedPlan``, execution to the collected row."""

        def plan():
            forced = checksum_frame(df)
            return forced, forced._jdf.queryExecution().executedPlan()

        forced, physical = self.phase("plan", key, plan)
        row = self.phase("exec", key, lambda: forced.collect()[0])
        self.plans.append(physical)
        result = (int(row["rows"]), int(row["hash"]))
        self.rec.results.append(result)
        return result


@contextmanager
def operation(tracer: Tracer, op_id: str, key: str, records: list):
    """Time one operation and append its record to ``records``. An
    exception inside is recorded on the operation (it counts as failed)
    instead of ending the pass."""
    rec = OpRecord(op_id, key)
    run = OpRun(tracer, rec)
    t0 = time.perf_counter()
    with tracer.span("op", op=op_id):
        try:
            yield run
        except Exception as e:  # noqa: BLE001 - one failing op must not end the run
            rec.error = f"{type(e).__name__}: {str(e)[:200]}"
    rec.wall = time.perf_counter() - t0
    if tracer.enabled:
        rec.udf_nodes = sum(python_udf_nodes(p.toString()) for p in run.plans)
    records.append(rec)


class LayerProxy:
    """Stands in for a package module in a caller's namespace: each call
    to one of the module's public functions runs inside a span named
    ``<layer>.<function>`` with its own job group. Calls made inside the package do not go
    through the proxy, so no span lands inside the package."""

    def __init__(self, module, layer: str, tracer: Tracer) -> None:
        self._module = module
        self._layer = layer
        self._tracer = tracer

    def __getattr__(self, name: str):
        attr = getattr(self._module, name)
        if name.startswith("_") or isinstance(attr, type) or not callable(attr):
            return attr
        tracer = self._tracer

        def call(*args, **kwargs):
            span_name = f"{self._layer}.{name}"
            group = None
            if tracer.enabled:
                op = tracer._stack[-1].op if tracer._stack else None
                group = f"{op}|{span_name}|{tracer._next}"
            with tracer.span(span_name, group=group):
                return attr(*args, **kwargs)

        return call


def span_rows(spans: list[Span]) -> list[dict]:
    st = self_times(spans)
    return [
        {"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
         "start": s.start, "end": s.end, "self": st[s.id]}
        for s in sorted(spans, key=lambda s: s.start)
    ]


def layer_self_time(spans: list[Span]) -> dict[str, float]:
    """Sum of self time per span name."""
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


def reconcile_gaps(spans: list[Span], op_span: str = "op") -> list[float]:
    """For every operation span, ``|build+plan+exec - wall| / wall``
    where build/plan/exec are its phase spans."""
    phases: dict[int, float] = {}
    for s in spans:
        if s.name in ("build", "plan", "exec") and s.parent is not None:
            phases[s.parent] = phases.get(s.parent, 0.0) + s.dur
    return [
        abs(phases.get(s.id, 0.0) - s.dur) / s.dur
        for s in spans
        if s.name == op_span and s.dur > 0
    ]


# --------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------
STAGE_FIELDS = (
    ("executorRunTime", "task_run_s", 1e-3),
    ("executorCpuTime", "task_cpu_s", 1e-9),
    ("shuffleReadBytes", "shuffle_read_mb", 1 / MB),
    ("shuffleWriteBytes", "shuffle_write_mb", 1 / MB),
    ("shuffleFetchWaitTime", "shuffle_fetch_wait_s", 1e-3),
    ("memoryBytesSpilled", "spill_mb", 1 / MB),
    ("diskBytesSpilled", "spill_mb", 1 / MB),
    ("inputBytes", "input_mb", 1 / MB),
    ("outputBytes", "output_mb", 1 / MB),
    ("jvmGcTime", "gc_s", 1e-3),
    ("numFailedTasks", "failed_tasks", 1),
    ("numTasks", "tasks", 1),
)


def empty_counters() -> dict[str, float]:
    out = {"jobs": 0.0, "stages": 0.0}
    for _, name, _ in STAGE_FIELDS:
        out[name] = 0.0
    return out


def group_counters(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages and summed stage metrics of the jobs in ``groups``,
    read from the in-process status store (no UI needed). Skipped
    stages (reused shuffle output) are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    no_status = sc._gateway.jvm.java.util.ArrayList()
    out = empty_counters()
    stage_ids: set[int] = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for jname, name, scale in STAGE_FIELDS:
                out[name] += float(getattr(st, jname)()) * scale
    return out


def persisted_state(spark) -> tuple[int, float]:
    """(persisted RDD count, storage-memory MB of their blocks)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    mem = 0
    for info in jsc.sc().getRDDStorageInfo():
        mem += info.memSize()
    return n, mem / MB


def release_persisted(spark) -> None:
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet().toArray()):
        rdds.get(rid).unpersist(True)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root_pid`` and every process below it: this process, the
    JVM it started and the JVM's Python workers. Time the hypervisor steals
    is not in it, unlike wall time."""
    root_pid = root_pid or os.getpid()
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p in parent and p != root_pid:
            p = parent[p]
        if p == root_pid:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall and process-tree CPU seconds of a ``with`` block."""

    def __enter__(self):
        self.wall = self.cpu = 0.0
        self._t0, self._c0 = time.perf_counter(), tree_cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s() - self._c0


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        values = [int(x) for x in f.readline().split()[1:]]
    return values[7], sum(values[:8])


def python_udf_nodes(plan_text: str) -> int:
    import re

    return len(re.findall(r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|"
                          r"MapInPandas|MapInArrow|FlatMapCoGroupsInPandas|"
                          r"AggregateInPandas|WindowInPandas)\b", plan_text))


def nproc() -> int:
    return len(os.sched_getaffinity(0))
