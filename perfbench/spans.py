"""In-memory span totals, recorded around calls into the program's layers."""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """Total seconds and call count per span name, kept in memory."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._restore: list = []

    def add(self, name: str, seconds: float) -> None:
        self.seconds[name] += seconds
        self.calls[name] += 1

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, time.perf_counter() - t0)

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of ``module.attr`` under span ``name``.

        Patch the module where the function is looked up, so calls that
        go through that name are timed; ``unwrap_all`` undoes it.
        """
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, timed)
        self._restore.append((module, attr, fn))

    def unwrap_all(self) -> None:
        while self._restore:
            module, attr, fn = self._restore.pop()
            setattr(module, attr, fn)
