"""In-memory spans recorded around calls into the program's layers.

A span is ``{name, start, end, parent, run}``: epoch seconds (the clock
Spark's event log also uses), the index of the enclosing span, and the
run it belongs to (``setup``, ``cold``, ``warm1``...). Spans stay in
memory and are written out once, when the job child ends.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list = []
        self.run = ""
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper recording a span per call;
        callers that look the function up on the module see the wrapper."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
