"""Retry with exponential backoff + circuit breaker.

Parity target: reference spark/utils/retry.py (decorator :25-77,
CircuitBreaker :80-234, RetryPolicy + presets :237-293).  Semantics
reproduced:

- ``retry_with_backoff``: configurable max retries, exponential delay
  ``initial * factor^n`` capped at ``max_delay``, a retryable-exception
  whitelist, ``NonRetryableError`` passes straight through, an
  ``on_retry`` callback per attempt;
- ``CircuitBreaker`` state machine: CLOSED -> OPEN after N consecutive
  failures; OPEN rejects immediately with
  ``CircuitBreakerOpenError(time_until_retry)``; OPEN -> HALF_OPEN
  after the recovery timeout; HALF_OPEN -> CLOSED after M successes,
  -> OPEN again on any failure; stats counters throughout; one
  breaker may be shared by threads (the sink's concurrent writes): its
  state and counters change under a lock that is not held while the
  guarded call runs;
- ``RetryPolicy`` composes both, with the database preset
  (``database_retry_policy``).

Unlike the reference -- where these are defined and tested but never
wired into the Spark job (SURVEY §2.8 note) -- the streaming sink
router actually wraps its writes with the database policy."""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from enum import Enum
from functools import wraps
from typing import Any, Callable


class NonRetryableError(Exception):
    """Raised (or wrapped) for failures that must not be retried."""


class CircuitBreakerOpenError(Exception):
    def __init__(self, time_until_retry: float):
        self.time_until_retry = time_until_retry
        super().__init__(
            f"circuit breaker is OPEN; retry allowed in {time_until_retry:.1f}s"
        )


def retry_with_backoff(
    max_retries: int = 3,
    initial_delay: float = 1.0,
    backoff_factor: float = 2.0,
    max_delay: float = 60.0,
    retryable_exceptions: tuple[type[Exception], ...] = (Exception,),
    on_retry: Callable[[int, Exception, float], None] | None = None,
    sleep: Callable[[float], None] = time.sleep,
):
    """Decorator: retry on retryable exceptions with exponential
    backoff.  ``sleep`` is injectable so tests run instantly."""

    def decorator(fn: Callable) -> Callable:
        @wraps(fn)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            attempt = 0
            while True:
                try:
                    return fn(*args, **kwargs)
                except NonRetryableError:
                    raise
                except retryable_exceptions as exc:
                    if attempt >= max_retries:
                        raise
                    delay = min(initial_delay * (backoff_factor**attempt), max_delay)
                    if on_retry is not None:
                        on_retry(attempt + 1, exc, delay)
                    sleep(delay)
                    attempt += 1

        return wrapper

    return decorator


class CircuitState(str, Enum):
    CLOSED = "closed"
    OPEN = "open"
    HALF_OPEN = "half_open"


@dataclass
class CircuitBreaker:
    failure_threshold: int = 5
    recovery_timeout: float = 30.0
    success_threshold: int = 3
    clock: Callable[[], float] = time.monotonic

    state: CircuitState = field(default=CircuitState.CLOSED, init=False)
    _consecutive_failures: int = field(default=0, init=False)
    _half_open_successes: int = field(default=0, init=False)
    _opened_at: float = field(default=0.0, init=False)
    total_calls: int = field(default=0, init=False)
    total_failures: int = field(default=0, init=False)
    total_successes: int = field(default=0, init=False)
    times_opened: int = field(default=0, init=False)
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def _maybe_half_open(self) -> None:
        if (
            self.state is CircuitState.OPEN
            and self.clock() - self._opened_at >= self.recovery_timeout
        ):
            self.state = CircuitState.HALF_OPEN
            self._half_open_successes = 0

    def call(self, fn: Callable, *args: Any, **kwargs: Any) -> Any:
        with self._lock:
            self._maybe_half_open()
            if self.state is CircuitState.OPEN:
                remaining = self.recovery_timeout - (self.clock() - self._opened_at)
                raise CircuitBreakerOpenError(max(0.0, remaining))
            self.total_calls += 1
        try:
            result = fn(*args, **kwargs)
        except Exception:
            with self._lock:
                self._on_failure()
            raise
        with self._lock:
            self._on_success()
        return result

    def _on_success(self) -> None:
        self.total_successes += 1
        if self.state is CircuitState.HALF_OPEN:
            self._half_open_successes += 1
            if self._half_open_successes >= self.success_threshold:
                self.state = CircuitState.CLOSED
                self._consecutive_failures = 0
        else:
            self._consecutive_failures = 0

    def _on_failure(self) -> None:
        self.total_failures += 1
        if self.state is CircuitState.HALF_OPEN:
            self._open()
            return
        self._consecutive_failures += 1
        if self._consecutive_failures >= self.failure_threshold:
            self._open()

    def _open(self) -> None:
        self.state = CircuitState.OPEN
        self._opened_at = self.clock()
        self.times_opened += 1
        self._consecutive_failures = 0

    def stats(self) -> dict[str, Any]:
        with self._lock:
            return {
                "state": self.state.value,
                "total_calls": self.total_calls,
                "total_successes": self.total_successes,
                "total_failures": self.total_failures,
                "times_opened": self.times_opened,
            }


@dataclass
class RetryPolicy:
    """Backoff retry wrapped around a circuit breaker."""

    max_retries: int = 3
    initial_delay: float = 1.0
    backoff_factor: float = 2.0
    max_delay: float = 60.0
    breaker: CircuitBreaker = field(default_factory=CircuitBreaker)
    sleep: Callable[[float], None] = time.sleep

    def execute(self, fn: Callable, *args: Any, **kwargs: Any) -> Any:
        @retry_with_backoff(
            max_retries=self.max_retries,
            initial_delay=self.initial_delay,
            backoff_factor=self.backoff_factor,
            max_delay=self.max_delay,
            retryable_exceptions=(Exception,),
            sleep=self.sleep,
        )
        def guarded() -> Any:
            try:
                return self.breaker.call(fn, *args, **kwargs)
            except CircuitBreakerOpenError as exc:
                raise NonRetryableError(str(exc)) from exc

        return guarded()


def database_retry_policy(**overrides: Any) -> RetryPolicy:
    kw: dict[str, Any] = dict(max_retries=3, initial_delay=1.0, backoff_factor=2.0, max_delay=30.0)
    kw.update(overrides)
    return RetryPolicy(**kw)
