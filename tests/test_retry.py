"""Retry/backoff + circuit-breaker state machine (reference
tests/test_retry.py tier-2)."""

from __future__ import annotations

import sys
import threading

import pytest

from spark_streaming_postgres_lab2_spark.utils.retry import (
    CircuitBreaker,
    CircuitBreakerOpenError,
    CircuitState,
    NonRetryableError,
    RetryPolicy,
    database_retry_policy,
    retry_with_backoff,
)


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_retry_succeeds_after_failures():
    calls = {"n": 0}

    @retry_with_backoff(max_retries=3, sleep=lambda _: None)
    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("boom")
        return "ok"

    assert flaky() == "ok"
    assert calls["n"] == 3


def test_retry_exhausts_and_raises():
    @retry_with_backoff(max_retries=2, sleep=lambda _: None)
    def always_fails():
        raise ValueError("boom")

    with pytest.raises(ValueError):
        always_fails()


def test_backoff_schedule_capped():
    delays = []

    @retry_with_backoff(
        max_retries=4, initial_delay=10.0, backoff_factor=3.0, max_delay=50.0,
        sleep=delays.append,
    )
    def always_fails():
        raise ValueError("x")

    with pytest.raises(ValueError):
        always_fails()
    assert delays == [10.0, 30.0, 50.0, 50.0]  # 90 capped at 50


def test_non_retryable_passthrough():
    calls = {"n": 0}

    @retry_with_backoff(max_retries=5, sleep=lambda _: None)
    def fatal():
        calls["n"] += 1
        raise NonRetryableError("stop")

    with pytest.raises(NonRetryableError):
        fatal()
    assert calls["n"] == 1


def test_on_retry_callback():
    seen = []

    @retry_with_backoff(max_retries=2, sleep=lambda _: None,
                        on_retry=lambda n, e, d: seen.append((n, str(e))))
    def flaky():
        if len(seen) < 2:
            raise ValueError("boom")
        return 1

    assert flaky() == 1
    assert [n for n, _ in seen] == [1, 2]


def boom():
    raise ValueError("fail")


def test_breaker_opens_after_threshold():
    clock = Clock()
    cb = CircuitBreaker(failure_threshold=3, clock=clock)
    for _ in range(3):
        with pytest.raises(ValueError):
            cb.call(boom)
    assert cb.state is CircuitState.OPEN
    with pytest.raises(CircuitBreakerOpenError) as e:
        cb.call(boom)
    assert e.value.time_until_retry > 0


def test_breaker_half_open_recovery():
    clock = Clock()
    cb = CircuitBreaker(failure_threshold=2, recovery_timeout=30.0,
                        success_threshold=2, clock=clock)
    for _ in range(2):
        with pytest.raises(ValueError):
            cb.call(boom)
    assert cb.state is CircuitState.OPEN
    clock.t = 31.0
    assert cb.call(lambda: "a") == "a"  # half-open success 1
    assert cb.state is CircuitState.HALF_OPEN
    assert cb.call(lambda: "b") == "b"  # success 2 -> closed
    assert cb.state is CircuitState.CLOSED


def test_breaker_half_open_failure_reopens():
    clock = Clock()
    cb = CircuitBreaker(failure_threshold=1, recovery_timeout=10.0, clock=clock)
    with pytest.raises(ValueError):
        cb.call(boom)
    assert cb.state is CircuitState.OPEN
    clock.t = 11.0
    with pytest.raises(ValueError):
        cb.call(boom)
    assert cb.state is CircuitState.OPEN
    assert cb.times_opened == 2


def test_breaker_counters_exact_under_threads():
    """One breaker shared by more threads than cores (the sink's
    concurrent writes share one): no counter update is lost."""
    threads_n, calls_n = 8, 2000
    cb = CircuitBreaker(failure_threshold=threads_n * calls_n + 1)
    start = threading.Barrier(threads_n, timeout=30)

    def worker(k):
        start.wait()
        for i in range(calls_n):
            if (i + k) % 3 == 0:
                with pytest.raises(ValueError):
                    cb.call(boom)
            else:
                cb.call(lambda: None)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(threads_n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    failures = sum((i + k) % 3 == 0 for k in range(threads_n) for i in range(calls_n))
    stats = cb.stats()
    assert stats["total_calls"] == threads_n * calls_n
    assert stats["total_failures"] == failures
    assert stats["total_successes"] == threads_n * calls_n - failures
    assert cb.state is CircuitState.CLOSED


def test_policy_composes_breaker_and_retry():
    clock = Clock()
    policy = RetryPolicy(
        max_retries=10,
        breaker=CircuitBreaker(failure_threshold=3, clock=clock),
        sleep=lambda _: None,
    )
    calls = {"n": 0}

    def fail_then_never_called():
        calls["n"] += 1
        raise ValueError("x")

    # breaker opens after 3 failures; open breaker is non-retryable
    with pytest.raises(NonRetryableError):
        policy.execute(fail_then_never_called)
    assert calls["n"] == 3


def test_presets():
    assert database_retry_policy(sleep=lambda _: None).max_retries == 3
