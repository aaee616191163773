"""Named phases timed inside a running query: a composite arc wraps a
boundary it already makes eager in ``with phase("day0_build_s"):`` and
whoever timed the run reads ``take()`` afterwards, so no query runs a
second time to be measured. The package's one timing mechanism."""

from __future__ import annotations

import time
from contextlib import contextmanager

_recorded: dict[str, float] = {}


@contextmanager
def phase(name: str):
    """Add the block's wall seconds on the driver to ``name``; a phase
    entered twice in one run reports its total."""
    t0 = time.perf_counter()
    yield
    _recorded[name] = _recorded.get(name, 0.0) + time.perf_counter() - t0


def take() -> dict[str, float]:
    """The seconds recorded per name since the last call, then clear."""
    out = dict(_recorded)
    _recorded.clear()
    return out
