"""In-memory span recorder for the traced run.

A span wraps one call from the benchmark into a layer's public function
(build_index, IndexReader.search_local / search, incremental_index,
compact).  Spans of one request share a trace id: the id of the outermost
open span.  With ``spark=True`` the span also tags its Spark jobs with a job
group and, after the call, reads their stage metrics from the Spark driver's
status store (this works with the UI disabled).

When the tracer is disabled every method is a no-op, so the untraced run
measures the engine alone.  The time the tracer spends on its own
bookkeeping is accumulated in ``overhead_s``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from . import sparkprobe
from .metrics import self_times


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.peak_rss_mb = 0.0
        self._stack: list[dict] = []
        self._next_id = 1

    @contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        """Record one call; yields the span dict (callers may add attrs)."""
        if not self.enabled:
            yield {}
            return
        t_enter = time.perf_counter()
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "name": name,
            "attrs": dict(attrs),
        }
        if spark and self.sc is not None:
            rec["group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        self.overhead_s += time.perf_counter() - t_enter
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_exit = time.perf_counter()
            self._stack.pop()
            if "group" in rec:
                rec["spark"] = sparkprobe.group_metrics(self.sc, rec["group"])
                # restore the enclosing span's group (or none)
                outer = next(
                    (s for s in reversed(self._stack) if "group" in s), None
                )
                if outer is not None:
                    self.sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                # sampled where Spark ran: a per-query /proc scan would
                # cost more than the local queries it wraps
                self.peak_rss_mb = max(self.peak_rss_mb, sparkprobe.tree_rss_mb())
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t_exit

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, header: dict) -> None:
        """Write the spans (times relative to the first span, with each
        span's self time) and the header as one JSON file."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        self_s = self_times(self.spans)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0,
             "self": self_s[s["id"]]}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({**header, "spans": spans}, f, indent=1, default=str)
            f.write("\n")
