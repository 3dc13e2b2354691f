"""Op timing, spans and the Spark event-log reader of the traced run.

Every workload drives the package through :class:`Recorder`. With
tracing off it only times each op call. With tracing on it also keeps
spans (name, start, end, parent, op id) in memory, tags the Spark jobs
of every op call with ``setJobGroup`` so the event log can be split per
op, and writes everything to one JSON file when the run ends.

Spark plans lazily, so a span around a call that returns a DataFrame
would time planning only. A traced op therefore first materializes
cumulative prefixes of its plan to the noop sink (the "ladder"); a
layer's self time is the difference between successive prefixes, and
the last layer's self time is the op's own wall minus the longest
prefix. The self times of an op thus sum to its traced wall; how far
that wall sits from the untraced one is the tracing overhead, which the
traced run measures by interleaving plain (unladdered, untagged) ops of
the same kind.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable


def noop(df) -> None:
    """Materialize a DataFrame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Recorder:
    """Closed-loop op timing plus, when ``trace`` is on, spans and job
    groups. One instance per run; single-threaded by design."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.plain: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.spans: list[dict] = []
        self.op_kind: dict[str, str] = {}
        self.op_turns: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.measuring = False
        self.last_s = 0.0
        self.op_time = 0.0  # seconds of measured op calls so far
        self._n = 0
        self._call: str | None = None  # op id while a traced call runs
        self._t0 = time.perf_counter()

    def _span(self, name: str, op_id: str, parent: str | None,
              t0: float, t1: float) -> None:
        self.spans.append({"name": name, "op": op_id, "parent": parent,
                           "start": round(t0 - self._t0, 6),
                           "end": round(t1 - self._t0, 6)})

    def _group(self, group: str | None, desc: str = "") -> None:
        sc = self.spark.sparkContext
        if group is None:  # PySpark has no clearJobGroup
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, desc, False)

    def op(self, kind: str, fn: Callable[[], object], *,
           ladder: list[tuple[str, Callable[[], object]]] = (),
           turns: int = 0, plain: bool = False):
        """Run one op; returns its result, or None when it raised.

        ``ladder``: (layer name, prefix thunk) pairs run before the op in
        traced mode, each timed as a child span. ``plain``: in traced
        mode, run this op without ladder or job group, as the untraced
        reference for the tracing overhead."""
        self._n += 1
        op_id = f"{kind}-{self._n}"
        # warm-up ops run untraced: spans describe measured ops only
        traced = self.trace and self.measuring and not plain
        if self.measuring:
            self.attempted += 1
        t_start = time.perf_counter()
        try:
            if traced:
                self.op_kind[op_id] = kind
                self.op_turns[op_id] = turns
                for name, thunk in ladder:
                    self._group(f"{op_id}/ladder", name)
                    t0 = time.perf_counter()
                    thunk()
                    self._span(name, op_id, op_id, t0, time.perf_counter())
                self._group(op_id, kind)
                self._call = op_id
            t0 = time.perf_counter()
            out = fn()
            t1 = time.perf_counter()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            if self.measuring:  # a failed op still spent measured time
                self.op_time += time.perf_counter() - t_start
            return None
        finally:
            if traced:
                self._call = None
                self._group(None)
        self.last_s = t1 - t0
        if traced:
            self._span(kind, op_id, None, t_start, t1)
            self._span(f"{kind}.call", op_id, op_id, t0, t1)
        if self.measuring:
            self.op_time += t1 - t0
            (self.plain if self.trace and plain else self.samples)[kind] \
                .append(t1 - t0)
        return out

    @contextlib.contextmanager
    def span(self, name: str):
        """A span for eager driver-side work inside a traced op call
        (where a prefix difference would be noise); a no-op otherwise."""
        op_id, t0 = self._call, time.perf_counter()
        try:
            yield
        finally:
            if op_id is not None:
                self._span(name, op_id, f"{op_id}.call", t0,
                           time.perf_counter())

    def direct(self, kind: str) -> list[dict[str, float]]:
        """Per traced op of ``kind``: every child span's duration by
        name (ladder prefixes, the call, and spans inside the call)."""
        by_op: dict[str, dict[str, float]] = defaultdict(dict)
        for s in self.spans:
            if s["parent"] is not None and self.op_kind.get(s["op"]) == kind:
                by_op[s["op"]][s["name"]] = s["end"] - s["start"]
        return list(by_op.values())

    def count(self, name: str, value: float) -> None:
        if self.measuring:
            self.counts[name].append(value)

    def check(self, ok: bool, what: str) -> None:
        """An output check outside timing; a failure counts as a failed
        op."""
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def traced_walls(self, kind: str) -> list[float]:
        """Call walls of the traced ops of ``kind`` (ladder excluded)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == f"{kind}.call"]

    def self_times(self, kind: str) -> dict[str, list[float]]:
        """Per-layer self times of every traced op of ``kind``: ladder
        prefix differences, and the op call minus the longest prefix."""
        by_op: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] == s["op"] and self.op_kind.get(s["op"]) == kind:
                by_op[s["op"]].append(s)
        out: dict[str, list[float]] = defaultdict(list)
        for spans in by_op.values():
            prev = 0.0
            for s in spans:  # ladder prefixes in run order, then the call
                dur = s["end"] - s["start"]
                out[s["name"]].append(dur - prev)
                if not s["name"].endswith(".call"):
                    prev = dur
        return out

    def write_trace(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "op_kind": self.op_kind,
                       "samples": self.samples, "plain": self.plain,
                       **extra}, fh)


# --- Spark event log ---------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run/CPU/GC time, input bytes
    and records, shuffle bytes, and bytes to/from the Python workers,
    from the uncompressed event log(s) under ``log_dir``."""
    stage_group: dict[int, str] = {}
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True))
    files += [f for f in glob.glob(os.path.join(log_dir, "*"))
              if os.path.isfile(f) and not os.path.basename(f)
              .startswith(".")]
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    per[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e.get("Stage ID"))
                    tm = e.get("Task Metrics")
                    if g is None or not tm:
                        continue
                    d = per[g]
                    d["tasks"] += 1
                    d["run_ms"] += tm.get("Executor Run Time", 0)
                    d["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    d["gc_ms"] += tm.get("JVM GC Time", 0)
                    d["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                    d["input_records"] += tm["Input Metrics"]["Records Read"]
                    d["shuffle_bytes"] += (tm["Shuffle Write Metrics"]
                                           ["Shuffle Bytes Written"])
                    for a in (e.get("Task Info") or {}).get("Accumulables",
                                                             []):
                        if a.get("Name") in (_PY_SENT, _PY_BACK):
                            d["python_bytes"] += float(a.get("Update") or 0)
    return {g: dict(v) for g, v in per.items()}


def spark_layer(events: dict[str, dict], op_kind: dict[str, str],
                op_turns: dict[str, int]) -> dict[str, float]:
    """The ``spark.*`` layer metrics over the traced op calls (ladder
    prefixes excluded)."""
    ops = [g for g in events if g in op_kind]
    n = len(op_kind) or 1

    def tot(k: str) -> float:
        return sum(events[g].get(k, 0.0) for g in ops)

    run = tot("run_ms") or 1.0
    turns = sum(op_turns.values())
    return {
        "spark.jobs_per_op": tot("jobs") / n,
        "spark.tasks_per_op": tot("tasks") / n,
        "spark.input_bytes_per_turn": tot("input_bytes") / turns
        if turns else 0.0,
        "spark.shuffle_bytes_per_op": tot("shuffle_bytes") / n,
        "spark.python_bytes_per_op": tot("python_bytes") / n,
        "spark.gc_frac": tot("gc_ms") / run,
        "spark.cpu_frac": tot("cpu_ms") / run,
    }
