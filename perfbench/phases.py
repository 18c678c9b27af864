"""Catalyst phase times of the query executions the program runs.

A ``QueryExecutionListener``, implemented in Python through the py4j
callback server, is told about every query execution of the session when
it finishes: the write command that executes a gate, the jobs that pin
intermediates during construction, each ingestion step. It reads the
planning tracker of exactly that execution, so nothing is re-planned to
measure it.
"""

from __future__ import annotations

from spans import Spans

PHASES = ("analysis", "optimization", "planning")


class PhaseListener:
    """Sums ``catalyst.<phase>`` seconds over the executions seen while active."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self.spans = Spans()  # written on the callback thread only

    def _drain(self) -> None:
        """Wait until every queued listener event has been delivered."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def start(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self._spark.sparkContext._gateway)
        self._drain()  # earlier executions are not ours
        self._spark._jsparkSession.listenerManager().register(self)

    def stop(self) -> Spans:
        """Deliver what is queued, stop listening and return the totals."""
        self._drain()
        self._spark._jsparkSession.listenerManager().unregister(self)
        return self.spans

    def _add(self, qe) -> None:
        phases = qe.tracker().phases()
        for phase in PHASES:
            if phases.contains(phase):
                self.spans.add(f"catalyst.{phase}", phases.apply(phase).durationMs() / 1000.0)

    # org.apache.spark.sql.util.QueryExecutionListener
    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self._add(qe)

    def onFailure(self, func_name, qe, exception) -> None:
        self._add(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
