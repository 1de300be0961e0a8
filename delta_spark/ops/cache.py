"""The dedup/similarity operators hold no storage.

Their results are plain lazy DataFrames: an intermediate that feeds
several branches of one query (a shingle or gram expansion, a banded
frame, a membership window) is shared through Spark's exchange reuse,
and nothing is persisted, so no call leaves session-lived state behind.
Reuse across repeated identical calls is left to the caller.

``live_ops()`` stays as the observable form of that contract: the
benchmark's traced run records it after every op.
"""

from __future__ import annotations


def live_ops() -> list[str]:
    """Operator names with a live cached intermediate: always empty."""
    return []
