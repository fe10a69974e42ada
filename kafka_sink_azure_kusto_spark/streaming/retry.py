"""Retry with constant backoff + permanent-error classification
(SURVEY §2.6 R2–R3).

Reference: retry ingestion up to ``retry_max_time_ms / backoff_ms``
attempts with a constant sleep between (TopicPartitionWriter.java:178-208;
attempts calc KustoSinkConfig.java:474-477); permanent Kusto errors fail
immediately instead of burning the budget (TopicPartitionWriter.java:130-146).
"""

from __future__ import annotations

import logging
import time
from typing import Callable, TypeVar

log = logging.getLogger(__name__)

T = TypeVar("T")


def retry_with_backoff(
    fn: Callable[[], T],
    max_attempts: int,
    backoff_ms: int,
    is_permanent: Callable[[BaseException], bool] | None = None,
    on_attempt: Callable[[int], None] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Run ``fn`` with up to ``max_attempts`` retries after the first try,
    sleeping ``backoff_ms`` between attempts (constant backoff — the
    reference's exponential util exists but is commented out,
    TopicPartitionWriter.java:180-181).

    ``is_permanent(exc)`` short-circuits retries (R3). ``on_attempt`` is a
    metrics hook (IngestionAttempts counter).
    """
    attempts = max(0, max_attempts)
    last: BaseException | None = None
    for attempt in range(attempts + 1):
        if on_attempt is not None:
            on_attempt(attempt)
        try:
            return fn()
        except BaseException as e:  # noqa: BLE001 — classify then rethrow
            if is_permanent is not None and is_permanent(e):
                log.error("permanent error on attempt %d, not retrying: %s", attempt, e)
                raise
            last = e
            if attempt < attempts:
                log.warning(
                    "attempt %d/%d failed (%s); backing off %d ms",
                    attempt + 1,
                    attempts + 1,
                    e,
                    backoff_ms,
                )
                sleep(backoff_ms / 1000.0)
    assert last is not None
    raise last
