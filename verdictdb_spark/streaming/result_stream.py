"""Progressive result stream — the ``STREAM SELECT`` surface.

Rebuild of ``VerdictResultStream`` (reference
``VerdictResultStream.java:17-42``) + the async handler callback
(``core/resulthandler/AsyncHandler.java``,
``TokenQueueToAyncHandler.java``): an iterator of progressively
refined results with optional per-iteration callbacks and the
difference-based auto-stop.  The reference's stream is progressive
refinement over block prefixes — NOT event time — so no watermarks
are involved (``docs/reference/streaming.md``); event-time ingestion
lives in ``incremental.py`` instead.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

from ..sampling import progressive
from ..sampling.progressive import ProgressiveResult

_EMPTY = "empty stream: the source yielded no result"


class ResultStream:
    """Wraps a ProgressiveResult iterator.

    ``for result in stream`` — one result per block span;
    ``stream.each(callback)`` — async-handler style consumption;
    ``stream.until_converged()`` — first result passing the 2%/5% rule.
    """

    def __init__(
        self,
        source: Iterator[ProgressiveResult],
        group_by: Sequence[str],
        value_cols: Sequence[str],
        value_threshold: float = 0.02,
        group_threshold: float = 0.05,
    ):
        self._source = source
        self.group_by = list(group_by)
        self.value_cols = list(value_cols)
        self.value_threshold = value_threshold
        self.group_threshold = group_threshold
        self.history: list[ProgressiveResult] = []

    def __iter__(self) -> Iterator[ProgressiveResult]:
        for res in self._source:
            self.history.append(res)
            yield res

    def each(self, callback: Callable[[ProgressiveResult], None]) -> ProgressiveResult:
        """Invoke callback per intermediate result; return the final one."""
        last = None
        for res in self:
            callback(res)
            last = res
        if last is None:
            raise ValueError(_EMPTY)
        return last

    def until_converged(self) -> ProgressiveResult:
        """Stop at the reference's accuracy rule
        (QueryResultAccuracyEstimatorFromDifference.java:35-40) through
        the one fold, ``progressive.fold_progressive``: Spark-engine
        estimates are compared Spark-side, never pulled to the driver."""
        return progressive.fold_progressive(
            self, self.value_cols, self.group_by, True,
            self.value_threshold, self.group_threshold, empty_message=_EMPTY,
        )
