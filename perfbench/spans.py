"""Spans for the traced run.

A span records name, start, end, parent and run id, and labels every
Spark job launched inside it with ``setJobDescription("<run>#<span id>")``
so the event-log reader (eventlog.py) can attribute jobs back to spans.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame


class NoTrace:
    """Untraced runs: spans are no-ops and layer outputs stay lazy (a
    ``keep`` layer is cached, because the chain reads it more than once)."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    def layer(self, name: str, build, keep: bool = False) -> DataFrame:
        df = build()
        return df.cache() if keep else df


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _label(self, sid: int | None) -> None:
        self.sc.setJobDescription(None if sid is None else f"{self.run_id}#{sid}")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._label(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._label(parent)

    def layer(self, name: str, build, keep: bool = False) -> DataFrame:
        """Run one layer inside its span and materialize its output there,
        so the span times this layer only and the next starts from cache."""
        with self.span(name):
            df = build().cache()
            df.count()
        return df

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")
