"""Spans and Spark job counts recorded around calls into kr_spark layers.

A span is one call into a layer's public function: name, start, end,
parent span and the run id. Spans live in memory and are written out once,
when the run ends. With tracing off, `Tracer.span` records nothing and asks
Spark for nothing, so the timed operations pay no tracing cost.

Job counts are the delta of the highest Spark job id the status tracker
reports, taken before and after the call; jobs launched from worker threads
inside the call (the pipeline's concurrent bucket jobs) are included.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time


def max_job_id(sc) -> int:
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


class Tracer:
    def __init__(self, enabled: bool, run_id: str, sc) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the body as one span. Yields a dict the body may fill with
        counts (rows, ...); `jobs` is filled in on exit."""
        rec: dict = {}
        if not self.enabled:
            yield rec
            return
        rec.update(
            name=name,
            run=self.run_id,
            parent=self._stack[-1] if self._stack else None,
            id=len(self.spans),
        )
        self.spans.append(rec)
        self._stack.append(rec["id"])
        j0 = max_job_id(self.sc)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = max_job_id(self.sc) - j0
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, count=None):
        """Replace `module.attr` with a spanned call while tracing is on.

        `count(result, rec)` may record counts on the span; it runs inside
        the span, so work it forces is charged to this layer."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if count is not None:
                    out = count(out, rec)
            return out

        setattr(module, attr, spanned)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
