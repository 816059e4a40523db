"""Streaming failure capture: ``FailureCaptureListener`` records the
exception that terminated a query together with that query's last
observed progress, so a dead stream reports where it died."""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener


class FailureCaptureListener(StreamingQueryListener):
    """C2 mid-stream crash detection: the reference races its ready
    handshake against a crash poll and forwards the provider's last
    stderr lines as context (pkg/executor/providers.go:313-405). The
    Spark analog: onQueryTerminated carries the failure exception; we
    pair it with the query's last observed progress so a dead stream
    surfaces WHERE it died (batch id, input rows), not just that it
    died. Listener callbacks are async — callers poll ``failures``
    after awaitTermination raises (see wait_for_failure)."""

    def __init__(self):
        self.failures: list[dict] = []
        self._last_progress: dict[str, dict] = {}
        self._watch_ids: set[str] = set()

    def watch(self, query_id: str) -> None:
        """Scope this listener to specific query ids — listeners are
        SESSION-global, so an unscoped monitor would also report the
        death of unrelated queries (breaking per-table isolation)."""
        self._watch_ids.add(str(query_id))

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self._last_progress[str(p.id)] = {
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
        }

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass

    def onQueryTerminated(self, event) -> None:
        if self._watch_ids and str(event.id) not in self._watch_ids:
            return
        if event.exception:
            self.failures.append(
                {
                    "id": str(event.id),
                    "exception": event.exception,
                    "last_progress": self._last_progress.get(str(event.id)),
                }
            )

    def wait_for_failure(self, timeout_s: float = 10.0) -> dict | None:
        import time

        deadline = time.time() + timeout_s
        while not self.failures and time.time() < deadline:
            time.sleep(0.05)
        return self.failures[0] if self.failures else None
