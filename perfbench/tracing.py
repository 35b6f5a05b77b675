"""Tracing from outside the package: spans around calls into each layer's
public functions, py4j round-trip counts, and Spark jobs attributed to each
operation by time window from the live status store.

Nothing here edits the package. ``Tracer.wrap`` swaps a module or class
attribute for a timing wrapper and ``Tracer.unwrap_all`` puts the originals
back, so the untraced run executes the package exactly as users do.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

from stats import clip, union_seconds


class Tracer:
    """In-memory span recorder. A span is ``{id, name, start, end, parent,
    op}``; times are epoch seconds so they compare with Spark's job times.
    Spans opened on a thread with no open span (pool threads) take the
    current operation's root span as parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self.op_span: int | None = None
        self.py4j_calls = 0
        #: StreamingQuery objects returned by the wrapped sink
        self.streams: list = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        sp = {"id": next(self._ids), "name": name, "start": time.time(),
              "end": None, "parent": parent, "op": self.op_id}
        stack.append(sp["id"])
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + value

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``on_result(result)`` may add counts."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = tracer.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.close(sp)
            if on_result is not None:
                on_result(result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def count_py4j(self) -> None:
        """Count every driver-to-JVM round trip."""
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            with tracer._lock:  # pool threads call in too
                tracer.py4j_calls += 1
            return orig(conn, command, *args, **kwargs)

        self._patched.append((ClientServerConnection, "send_command", orig))
        ClientServerConnection.send_command = send_command

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(sp) + "\n")


class JobWindow:
    """Spark jobs from the live status store, credited to an operation by
    submission time. Streaming micro-batch jobs run on the stream's own
    thread outside any job group, so a time window is the only attribution
    that catches them. The store keeps only ``spark.ui.retainedJobs`` jobs,
    so it is read right after every operation; only jobs newer than the
    last one seen are fetched."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        seq = self._store.jobsList(None)
        # jobs that ran before the window opened are never credited
        self._last_id = seq.apply(0).jobId() if seq.size() else -1

    def new_jobs(self) -> list[dict]:
        seq = self._store.jobsList(None)  # newest first
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self._last_id:
                break
            sub, done = j.submissionTime(), j.completionTime()
            out.append({
                "id": jid,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else time.time(),
                "tasks": j.numTasks(),
                "failed": j.status().toString() == "FAILED",
            })
        if out:
            self._last_id = out[0]["id"]
        return out


def attribute(jobs: list[dict], start: float, end: float) -> dict:
    """Jobs submitted within ``[start, end]``: count, tasks, failures, and
    busy seconds as the union of their intervals clipped to the window."""
    mine = [j for j in jobs if j["start"] is not None and start <= j["start"] <= end]
    busy = union_seconds(clip([(j["start"], j["end"]) for j in mine], start, end))
    return {
        "jobs": len(mine),
        "tasks": sum(j["tasks"] for j in mine),
        "failed_jobs": sum(1 for j in mine if j["failed"]),
        "busy_s": busy,
    }
