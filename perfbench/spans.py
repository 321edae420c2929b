"""In-memory span recorder: name, start, end, parent, written once at exit."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        """Record a finished span and return its id.  Times are epoch
        seconds, so Spark's job and stage times line up with ours."""
        if not self.enabled:
            return None
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block as a child of the enclosing ``span``; yields the
        span record (filled in on exit) or None when disabled."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
