"""Benchmark machinery that knows nothing about the engine's semantics:
in-memory spans, the process-tree RSS sampler, the closed loop and the
statistics the result line reports."""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np


# -- spans ------------------------------------------------------------------------


@dataclass
class Span:
    op_id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans


class Tracer:
    """Spans kept in memory (name, layer, start, end, parent, op id) and
    written out when the run ends.  Only operations started with
    ``traced=True`` record; elsewhere ``span`` costs one attribute read."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()

    @contextmanager
    def op(self, op_id: int, traced: bool):
        self._tls.op_id = op_id if traced else None
        self._tls.stack = []
        try:
            with self.span("op", "harness"):
                yield
        finally:
            self._tls.op_id = None

    @contextmanager
    def span(self, name: str, layer: str):
        op_id = getattr(self._tls, "op_id", None)
        if op_id is None:
            yield
            return
        stack = self._tls.stack
        s = Span(op_id, name, layer, time.perf_counter(),
                 parent=stack[-1] if stack else None)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            s.end = time.perf_counter()

    def op_spans(self) -> dict[int, list[Span]]:
        out = defaultdict(list)
        for s in self.spans:
            out[s.op_id].append(s)
        return out

    def self_ms(self) -> dict[int, dict[str, float]]:
        """Per op, per layer: span time not covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            out[s.op_id][s.layer] += 1e3 * max(0.0, (s.end - s.start) - child[i])
        return out

    def as_records(self) -> list[dict]:
        return [
            {"op": s.op_id, "name": s.name, "layer": s.layer,
             "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


# -- memory -----------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants (JVM and Python
    workers are children of the driver process)."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Background thread sampling the process tree's RSS every 50 ms."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(me))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- closed loop -----------------------------------------------------------------------


@dataclass
class OpRecord:
    """One executed operation."""

    op_id: int
    round: int
    template: str
    key: str
    traced: bool
    latency_s: float = 0.0
    items: int = 0  # result points returned / samples or docs written
    ok: bool = False
    error: str = ""
    exec: dict = field(default_factory=dict)  # Spark harvest (traced ops)
    trace_cost_s: float = 0.0  # harvest time spent after the op
    cycle_s: float = 0.0  # client time from taking the op to the next take


def closed_loop(run_op, round_len: int, clients: int, rounds: int,
                trace_every_other_round: bool, on_done=None,
                ) -> tuple[list[OpRecord], float]:
    """``clients`` threads each run ``run_op(i, traced)`` for operation
    indices taken from one shared counter, a new one only after the last
    returned.  Ops come in rounds of ``round_len`` (one of each template);
    the first ``rounds`` rounds are recorded, so every run measures the
    same work and the same template mix.  Until the last recorded op
    returns, the other clients keep running unrecorded ops, so every
    recorded op sees the same contention; then ``on_done()`` (if given)
    may cancel those still running.  Each record's ``cycle_s`` is
    its client's time from taking the op to being ready for the next
    (op + check + harvest).  An exception from ``run_op`` stops every
    client and is raised here.  Returns the records (by index) and the
    loop's wall time."""
    lock = threading.Lock()
    stop_at = rounds * round_len
    state = {"next": 0, "open": stop_at}
    records: list[OpRecord] = []
    errors: list[Exception] = []

    def take() -> int | None:
        with lock:
            i = state["next"]
            if errors or (i >= stop_at and state["open"] == 0):
                return None
            state["next"] += 1
            return i

    def client():
        while (i := take()) is not None:
            t = time.perf_counter()
            traced = trace_every_other_round and (i // round_len) % 2 == 0
            try:
                rec = run_op(i, traced and i < stop_at)
            except Exception as e:  # re-raised in the caller's thread
                with lock:
                    errors.append(e)
                return
            rec.cycle_s = time.perf_counter() - t
            if i < stop_at:
                with lock:
                    records.append(rec)
                    state["open"] -= 1
                    done = state["open"] == 0
                if done and on_done is not None:
                    on_done()

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return sorted(records, key=lambda r: r.op_id), time.perf_counter() - t0


# -- statistics --------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, p: float) -> float:
    xs = list(xs)
    return float(np.percentile(xs, p)) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
