"""Spans recorded around the calls the benchmark makes into each layer.

A span is ``(id, name, start, end, parent, pass)`` with epoch-second
times, comparable with the event log's millisecond clock; spans are kept in memory
and written out once, at the end of the traced run. The ``tables`` layer
is traced by wrapping ``tables.load`` and the ``Tables`` view methods in
the benchmark's own process; the engine's files are not changed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = -1
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _wrap(self, owner, attr: str, span_name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(span_name):
                return fn(*a, **k)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def instrument_tables(self, tables_module) -> None:
        """Span every ``tables.load`` call and every ``Tables`` view."""
        self._wrap(tables_module, "load", "tables.load")
        cls = tables_module.Tables
        for attr, fn in list(vars(cls).items()):
            if callable(fn) and not attr.startswith("_"):
                self._wrap(cls, attr, "tables.view")

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class StreamProgress:
    """Micro-batch timings from a ``StreamingQueryListener``."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs
                outer.batches.append(
                    {
                        "timestamp": p.timestamp,
                        "trigger_ms": d.get("triggerExecution", 0),
                        "add_batch_ms": d.get("addBatch", 0),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
