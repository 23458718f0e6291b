"""Pipeline monitoring: batch metrics window, thresholds, alert
escalation, health summary.

Parity target: reference spark/monitoring/metrics.py
(batch record and batch timer :24-82,344-369; PipelineMonitor
:131-341).  The batch record here is
``operators.quality.BatchQualityMetrics``, and there is no timer
object: the sink computes the record, writes its metrics row, stores
the epoch's elapsed time in its ``processing_seconds`` and records
that same object.
Semantics reproduced: rolling window (deque, default 100); validity
(<95%) and latency (>10 s) thresholds; WARNING -> ERROR escalation
after 3 consecutive breaches; error-concentration alert when one error
type is >= 10% of a batch; health summary HEALTHY/DEGRADED/NO_DATA.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass
from typing import Any

from ..operators.quality import BatchQualityMetrics


@dataclass
class Alert:
    level: str  # WARNING | ERROR
    kind: str
    message: str
    batch_id: int


class PipelineMonitor:
    def __init__(
        self,
        min_validity_rate: float = 0.95,
        max_latency_seconds: float = 10.0,
        error_concentration_threshold: float = 0.10,
        escalation_breaches: int = 3,
        window_size: int = 100,
    ):
        self.min_validity_rate = min_validity_rate
        self.max_latency_seconds = max_latency_seconds
        self.error_concentration_threshold = error_concentration_threshold
        self.escalation_breaches = escalation_breaches
        self.window: deque[BatchQualityMetrics] = deque(maxlen=window_size)
        self.alerts: list[Alert] = []
        self._consecutive_validity_breaches = 0
        self._consecutive_latency_breaches = 0

    def record(self, metrics: BatchQualityMetrics) -> list[Alert]:
        """Record one batch; return alerts raised by it."""
        self.window.append(metrics)
        raised: list[Alert] = []

        if metrics.validity_rate < self.min_validity_rate:
            self._consecutive_validity_breaches += 1
            level = (
                "ERROR"
                if self._consecutive_validity_breaches >= self.escalation_breaches
                else "WARNING"
            )
            raised.append(
                Alert(
                    level,
                    "low_validity",
                    f"validity {metrics.validity_rate:.2%} < {self.min_validity_rate:.0%} "
                    f"({self._consecutive_validity_breaches} consecutive)",
                    metrics.batch_id,
                )
            )
        else:
            self._consecutive_validity_breaches = 0

        if metrics.processing_seconds > self.max_latency_seconds:
            self._consecutive_latency_breaches += 1
            level = (
                "ERROR"
                if self._consecutive_latency_breaches >= self.escalation_breaches
                else "WARNING"
            )
            raised.append(
                Alert(
                    level,
                    "high_latency",
                    f"batch took {metrics.processing_seconds:.1f}s > "
                    f"{self.max_latency_seconds:.1f}s",
                    metrics.batch_id,
                )
            )
        else:
            self._consecutive_latency_breaches = 0

        if metrics.total_rows > 0:
            for tag, count in metrics.error_distribution.items():
                if count / metrics.total_rows >= self.error_concentration_threshold:
                    raised.append(
                        Alert(
                            "WARNING",
                            "error_concentration",
                            f"error '{tag}' is {count / metrics.total_rows:.1%} of batch",
                            metrics.batch_id,
                        )
                    )

        self.alerts.extend(raised)
        return raised

    def health_summary(self) -> dict[str, Any]:
        if not self.window:
            return {"status": "NO_DATA", "batches": 0}
        total = sum(m.total_rows for m in self.window)
        valid = sum(m.valid_rows for m in self.window)
        avg_validity = valid / total if total else 1.0
        avg_latency = sum(m.processing_seconds for m in self.window) / len(self.window)
        status = (
            "HEALTHY"
            if avg_validity >= self.min_validity_rate
            and avg_latency <= self.max_latency_seconds
            else "DEGRADED"
        )
        return {
            "status": status,
            "batches": len(self.window),
            "total_rows": total,
            "avg_validity_rate": avg_validity,
            "avg_latency_seconds": avg_latency,
            "recent_alerts": len(self.alerts[-10:]),
        }
