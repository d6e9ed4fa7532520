"""In-memory spans around calls into the program's layers.

A span records its name, start, end, parent span and trial id. Spans are
kept in memory and written out once when the run ends. A disabled tracer
records nothing, so untimed bookkeeping stays out of the end-to-end numbers.
"""

from __future__ import annotations

import contextlib
import statistics
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trial: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "trial": self.trial,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def records(self) -> list[dict]:
        """The spans with their self time: duration minus the time their
        (sequential) children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return [{**s, "self_s": own[s["id"]]} for s in self.spans]

    def _within(self, s: dict, name: str) -> bool:
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
            if s["name"] == name:
                return True
        return False

    def median(self, name: str, within: str | None = None) -> float:
        """Median over trials of the summed time of spans ``name``, counting
        only spans nested in a span named ``within`` if given."""
        per_trial: dict = {}
        for s in self.spans:
            if s["name"] == name and (within is None
                                      or self._within(s, within)):
                d = s["end"] - s["start"]
                per_trial[s["trial"]] = per_trial.get(s["trial"], 0.0) + d
        return statistics.median(per_trial.values()) if per_trial else 0.0
