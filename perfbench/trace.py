"""In-memory spans, recorded around calls into the engine.

The benchmark installs wrappers from its own files around the public
functions of each layer (``wrap``); the engine itself is not edited.
Spans carry counts as attributes (the IR size a rewrite returned, say),
are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span/count recorder. A disabled tracer records nothing and its
    ``span`` costs one attribute check, so untraced runs pay ~nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned call. ``after(span, result)``
        may add counts to the span. ``unwrap_all`` restores."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)
        tracer = self

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = inner(*args, **kwargs)
                if after is not None:
                    after(sp, out)
                return out

        self._patches.append((owner, attr, inner))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, inner = self._patches.pop()
            setattr(owner, attr, inner)

    def total(self, name: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        )

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {"spans": self.spans, **extra},
                fh,
                indent=1,
                default=str,
            )
