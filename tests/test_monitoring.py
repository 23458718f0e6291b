"""Monitor thresholds, escalation, health (reference
tests/test_monitoring.py tier-2)."""

from __future__ import annotations

from spark_streaming_postgres_lab2_spark.operators.quality import BatchQualityMetrics
from spark_streaming_postgres_lab2_spark.utils.monitoring import PipelineMonitor


def metrics(batch_id=1, total=100, valid=100, seconds=1.0, errors=None):
    return BatchQualityMetrics(
        batch_id=batch_id,
        total_rows=total,
        valid_rows=valid,
        invalid_rows=total - valid,
        late_arrival_count=0,
        error_distribution=errors or {},
        processing_seconds=seconds,
    )


def test_healthy_batch_no_alerts():
    mon = PipelineMonitor()
    assert mon.record(metrics()) == []
    assert mon.health_summary()["status"] == "HEALTHY"


def test_low_validity_warns_then_escalates():
    mon = PipelineMonitor(escalation_breaches=3)
    levels = [mon.record(metrics(i, valid=50))[0].level for i in range(4)]
    assert levels == ["WARNING", "WARNING", "ERROR", "ERROR"]


def test_breach_counter_resets_on_recovery():
    mon = PipelineMonitor(escalation_breaches=3)
    mon.record(metrics(1, valid=50))
    mon.record(metrics(2, valid=50))
    mon.record(metrics(3))  # healthy resets
    alerts = mon.record(metrics(4, valid=50))
    assert alerts[0].level == "WARNING"


def test_latency_alert():
    mon = PipelineMonitor(max_latency_seconds=10.0)
    alerts = mon.record(metrics(seconds=12.0))
    assert alerts and alerts[0].kind == "high_latency"


def test_error_concentration():
    mon = PipelineMonitor()
    alerts = mon.record(metrics(valid=85, errors={"negative_price": 15}))
    kinds = {a.kind for a in alerts}
    assert "error_concentration" in kinds


def test_rolling_window_bounded():
    mon = PipelineMonitor(window_size=5)
    for i in range(10):
        mon.record(metrics(i))
    assert len(mon.window) == 5


def test_no_data_health():
    assert PipelineMonitor().health_summary()["status"] == "NO_DATA"


def test_degraded_health():
    mon = PipelineMonitor()
    for i in range(3):
        mon.record(metrics(i, valid=10))
    assert mon.health_summary()["status"] == "DEGRADED"

