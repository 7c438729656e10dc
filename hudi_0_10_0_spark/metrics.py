"""Write-operation metrics: per-table gauges published through a
pluggable reporter.

Reference: ``client/metrics/HoodieMetrics.java`` (gauge names
``<prefix>.<action>.duration``, ``.totalBytesWritten``,
``.totalRecordsWritten``, ``.totalPartitionsWritten``, …; update hooks
``updateCommitMetrics`` / ``updateCleanMetrics`` /
``updateRollbackMetrics``), ``metrics/Metrics.java`` (process registry),
``metrics/MetricsReporterType.java`` (INMEMORY / CONSOLE / JMX /
GRAPHITE / DATADOG / PROMETHEUS / CLOUDWATCH).

INMEMORY and CONSOLE are implemented; the network-backed reporters
(Graphite/Datadog/Prometheus push, JMX, CloudWatch) need daemons or
clients the sandbox doesn't ship — ``register_reporter`` is the seam a
deployment plugs them into, the same posture as the Kafka source and
callback seams.
"""

from __future__ import annotations

import logging
import time
from typing import Callable

log = logging.getLogger(__name__)


class MetricsReporter:
    """SPI: receives every gauge write. ``report(name, value)``."""

    def report(self, name: str, value) -> None:
        raise NotImplementedError


class InMemoryMetricsReporter(MetricsReporter):
    """``InMemoryMetricsReporter.java``: gauges held for inspection."""

    def __init__(self):
        self.gauges: dict[str, object] = {}

    def report(self, name: str, value) -> None:
        self.gauges[name] = value


class ConsoleMetricsReporter(MetricsReporter):
    """``ConsoleMetricsReporter.java``: log each gauge write."""

    def report(self, name: str, value) -> None:
        log.info("metric %s = %s", name, value)


_REPORTERS: dict[str, Callable[[], MetricsReporter]] = {
    "INMEMORY": InMemoryMetricsReporter,
    "CONSOLE": ConsoleMetricsReporter,
}


def register_reporter(name: str, factory: Callable[[], MetricsReporter]) -> None:
    _REPORTERS[name.upper()] = factory


class Metrics:
    """Per-table metrics front end (``HoodieMetrics.java``)."""

    def __init__(self, prefix: str, reporter: MetricsReporter):
        self.prefix = prefix
        self.reporter = reporter
        self.gauges: dict[str, object] = {}

    def gauge(self, action: str, name: str, value) -> None:
        full = f"{self.prefix}.{action}.{name}"
        self.gauges[full] = value
        self.reporter.report(full, value)

    # -- update hooks (names follow HoodieMetrics.java:133-214) ----------
    def update_commit_metrics(self, action: str, duration_s: float, metadata: dict):
        stats = metadata.get("write_stats", [])
        self.gauge(action, "duration", round(duration_s * 1000.0, 3))
        self.gauge(action, "commitTime", int(time.time() * 1000))
        self.gauge(action, "totalRecordsWritten", sum(s.get("rows", 0) for s in stats))
        self.gauge(action, "totalBytesWritten", sum(s.get("bytes", 0) for s in stats))
        self.gauge(
            action,
            "totalPartitionsWritten",
            len({s.get("partition", "") for s in stats}),
        )
        self.gauge(
            action,
            "totalFilesWritten",
            sum(len(s.get("paths", [])) for s in stats),
        )

    def update_service_metrics(self, action: str, duration_s: float, files_deleted: int):
        """``updateCleanMetrics`` / ``updateRollbackMetrics``: one hook,
        keyed by the service's timeline action."""
        self.gauge(action, "duration", round(duration_s * 1000.0, 3))
        self.gauge(action, "numFilesDeleted", files_deleted)


class _NoopMetrics:
    def gauge(self, *a, **kw):  # pragma: no cover - trivial
        pass

    def update_commit_metrics(self, *a, **kw):
        pass

    def update_service_metrics(self, *a, **kw):
        pass


_NOOP = _NoopMetrics()


def validate_metrics_config(cfg) -> None:
    """Fail fast at write entry (next to the callback/precommit
    validators): an unknown reporter type must not surface only AFTER
    the commit is durable, where the raise masquerades as a failed
    write and invites a duplicate-data retry (code-review r7)."""
    if not getattr(cfg, "metrics_on", False):
        return
    rtype = getattr(cfg, "metrics_reporter_type", "INMEMORY").upper()
    if rtype not in _REPORTERS:
        raise ValueError(
            f"unknown metrics_reporter_type {rtype!r}; registered: "
            f"{sorted(_REPORTERS)}"
        )


def metrics_enabled(table) -> bool:
    """True when gauges are actually recorded — lets callers skip
    gauge-only work (e.g. a recursive file listing) when the sink is
    the shared no-op."""
    return bool(getattr(table.cfg, "metrics_on", False))


def table_metrics(table):
    """The table's Metrics instance (created lazily, cached on the
    table object); a shared no-op when ``metrics_on`` is false, so the
    hooks in the write/service paths cost one attribute read."""
    cfg = table.cfg
    if not getattr(cfg, "metrics_on", False):
        return _NOOP
    m = getattr(table, "_metrics", None)
    if m is None:
        rtype = getattr(cfg, "metrics_reporter_type", "INMEMORY").upper()
        factory = _REPORTERS.get(rtype)
        if factory is None:
            raise ValueError(
                f"unknown metrics_reporter_type {rtype!r}; registered: "
                f"{sorted(_REPORTERS)}"
            )
        m = Metrics(getattr(cfg, "metrics_prefix", None) or cfg.table_name, factory())
        table._metrics = m
    return m
