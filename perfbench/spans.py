"""In-memory span recorder for the traced benchmark run.

A span is one call into a layer: name, wall-clock start and end (epoch
seconds, the clock Spark's event log uses, so jobs can be attributed to
the span they ran in), the id of the span that was open when it started
(per thread), the run id shared by every span of one run, and free-form
attributes. Spans stay in memory and are written out once, at the end.

`Tracer.wrap_function` instruments a function of the engine from the
outside: it rebinds every module-level name in the engine package that
refers to the original function, so callers that imported the name
(`from ..staging import stage`) see the wrapper too. Wrap before
`queries.load_registry()` imports the operator modules and call
`Tracer.rebind()` after it, so names bound by that import are covered.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

PACKAGE = "data_pipelines_course_spark"


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()  # sink callbacks run on another thread
        self._wrapped: list[tuple[Callable, Callable]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        stack = self._stack()
        rec = {"name": name, "run_id": self.run_id,
               "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap_function(self, module, attr: str, name: str) -> None:
        """Record a span named `name` around every call of module.attr."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._wrapped.append((orig, wrapper))
        self.rebind()

    def rebind(self) -> None:
        """Point every engine module-level name bound to a wrapped
        function at its wrapper (call again after importing modules)."""
        swap = {id(orig): wrapper for orig, wrapper in self._wrapped}
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for key, value in list(vars(mod).items()):
                    if id(value) in swap:
                        setattr(mod, key, swap[id(value)])

    def select(self, name: str, within: dict | None = None) -> list[dict]:
        """Closed spans called `name`, optionally only those that started
        inside the interval of span `within`."""
        out = [s for s in self.spans if s["name"] == name and s["end"]]
        if within is not None:
            out = [s for s in out
                   if within["start"] <= s["start"] <= within["end"]]
        return out

    def total(self, name: str, within: dict | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name, within))

    def count(self, name: str, within: dict | None = None) -> int:
        return len(self.select(name, within))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)
