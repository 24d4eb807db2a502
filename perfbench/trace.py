"""In-memory span tracer that wraps calls into the program's layers.

Spans are recorded only by the benchmark's own wrappers, installed with
``Tracer.wrap`` before the traced part of a run and removed afterwards; the
untraced part of a run calls the program unmodified. Each span records its
name, start, end, parent span and operation id. A span's self time is its
duration minus that of its direct children (spans nest and never overlap,
since one client thread drives every operation).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        # (name, start, end, parent index or -1, op id)
        self.spans: list[list] = []
        self.counts: dict[str, float] = {}
        self.ops: list[dict] = []  # {id, kind, span, group}
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._op_id = -1

    # --- recording --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), None, parent, self._op_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    @contextlib.contextmanager
    def op(self, kind: str):
        """One timed operation: a root span plus a Spark job group, so the
        operation's jobs and tasks can be read back from the status tracker
        once it has finished."""
        self._op_id = len(self.ops)
        group = f"perfbench-op-{self._op_id}"
        self.sc.setJobGroup(group, kind)
        self.ops.append({"id": self._op_id, "kind": kind,
                         "span": len(self.spans), "group": group})
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op_id = -1

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``;
        ``after(tracer, result, args, kwargs)`` may record counts."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(tracer, result, args, kwargs)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # --- reading back -----------------------------------------------------

    def op_jobs(self, op: dict) -> tuple[int, int]:
        """(Spark jobs, tasks) the operation submitted."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(op["group"])
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), tasks

    def op_job_intervals(self, op: dict) -> list[tuple[float, float]]:
        """(start, end) of each of the operation's Spark jobs, submission to
        completion, read from the application status store (millisecond
        resolution) and moved onto the span clock."""
        store = self.sc._jsc.sc().statusStore()
        offset = time.time() - time.perf_counter()
        out = []
        for j in self.sc.statusTracker().getJobIdsForGroup(op["group"]):
            data = store.job(j)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1e3 - offset,
                            done.get().getTime() / 1e3 - offset))
        return out

    def layer_totals(self) -> tuple[dict, dict]:
        """Per span name: total self seconds over every operation, and the
        number of operations that recorded the span at least once."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec[3] >= 0 and rec[2] is not None:
                child[rec[3]] += rec[2] - rec[1]
        self_t: dict[str, float] = {}
        ops_in: dict[str, set] = {}
        for i, (name, t0, t1, _parent, op_id) in enumerate(self.spans):
            if op_id < 0 or t1 is None:
                continue
            self_t[name] = self_t.get(name, 0.0) + (t1 - t0 - child[i])
            ops_in.setdefault(name, set()).add(op_id)
        return self_t, {k: len(v) for k, v in ops_in.items()}

    def op_spans(self, op: dict, name: str) -> list[tuple[float, float]]:
        """(start, end) of the operation's spans called ``name``."""
        return [(t0, t1) for n, t0, t1, _p, op_id in self.spans
                if op_id == op["id"] and n == name and t1 is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops,
                       "counts": self.counts}, f)


def covered_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, None
    for t0, t1 in sorted(intervals):
        if reach is None or t0 > reach:
            total += t1 - t0
            reach = t1
        elif t1 > reach:
            total += t1 - reach
            reach = t1
    return total
