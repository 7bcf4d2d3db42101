"""Spans around the calls into the engine's modules, recorded from
outside the program.

A span has a name, start, end, its parent span and the unit (tiling
pass or replication state) it belongs to. Spark jobs are attributed to
the innermost open span through ``setJobGroup`` and read back with
``statusTracker().getJobIdsForGroup``. Spans stay in memory and are
written out when the run ends.

Engine functions are wrapped by replacing the module attribute the
caller looks them up through, only while a traced unit runs
(``Tracer.patched``), so untraced units execute the program untouched.
"""

from __future__ import annotations

import contextlib
import statistics
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.unit: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, side: bool = False, **counts):
        """A span around a call. ``side=True`` marks a span that is
        entirely work the untraced unit does not do (a forced side-job);
        its whole duration counts as forced time."""
        sp = {
            "id": len(self.spans),
            "name": name,
            "unit": self.unit,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "counts": dict(counts),
            "jobs": 0,
            "forced_s": 0.0,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp['id']}"
        self.sc.setJobGroup(group, name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            if side:
                sp["forced_s"] = sp["end"] - sp["start"]
            sp["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add_span(self, name: str, start: float, end: float, **counts) -> dict:
        """A span for an interval the program spends between two traced
        calls (no Spark job group of its own: its jobs stay with the
        enclosing span)."""
        sp = {
            "id": len(self.spans),
            "name": name,
            "unit": self.unit,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "counts": dict(counts),
            "jobs": 0,
            "forced_s": 0.0,
            "start": start,
            "end": end,
        }
        self.spans.append(sp)
        return sp

    def force(self, sp: dict, df) -> int:
        """``force(df)`` inside span ``sp``, its time added to the span's
        forced time; returns the row count."""
        t = time.perf_counter()
        try:
            return force(df)
        finally:
            sp["forced_s"] += time.perf_counter() - t

    def wrap(self, name: str, fn, after=None):
        """``fn`` inside a span; ``after(span, result)`` runs inside the
        same span (used to force a lazy DataFrame at the boundary)."""

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(sp, out, args)
            return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, patches: list[tuple[object, str, object]]):
        """Temporarily set ``owner.attr = value`` for each patch."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
        try:
            for owner, attr, value in patches:
                setattr(owner, attr, value)
            yield
        finally:
            for owner, attr, value in reversed(saved):
                setattr(owner, attr, value)

    # -- summaries -------------------------------------------------------------

    def duration(self, sp: dict) -> float:
        return sp["end"] - sp["start"]

    def self_time(self, sp: dict) -> float:
        kids = [c for c in self.spans if c["parent"] == sp["id"]]
        return self.duration(sp) - sum(self.duration(c) for c in kids)

    def total_jobs(self, sp: dict) -> int:
        kids = [c for c in self.spans if c["parent"] == sp["id"]]
        return sp["jobs"] + sum(self.total_jobs(c) for c in kids)

    def forced_s(self, unit: int) -> float:
        """Time unit ``unit`` spent in forced side-jobs."""
        return sum(s["forced_s"] for s in self.spans if s["unit"] == unit)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def median(self, name: str, value) -> float | None:
        vals = [value(s) for s in self.by_name(name)]
        return statistics.median(vals) if vals else None

    def self_time_table(self) -> dict[str, dict]:
        """Per span name: count, median duration, self time and jobs."""
        out = {}
        for n in sorted({s["name"] for s in self.spans}):
            sps = self.by_name(n)
            out[n] = {
                "n": len(sps),
                "median_s": statistics.median(self.duration(s) for s in sps),
                "median_self_s": statistics.median(self.self_time(s) for s in sps),
                "median_jobs": statistics.median(self.total_jobs(s) for s in sps),
            }
        return out

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]


def force(df) -> int:
    """Run a DataFrame to the noop sink and return its row count, counted
    on the same job by an observation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("perfbench_force")
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    try:
        return int(obs.get["rows"])
    except Exception:  # noqa: BLE001 — an empty result can elide the observation
        return df.count()
