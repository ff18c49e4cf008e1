"""Audit-time capture of OUT-OF-BAND executed plans.

The repo's plan-hygiene gate (tools/plan_audit.py +
tests/test_plan_audit.py) audits the physical plan of the DataFrame a
registry entry RETURNS. Two entry classes execute their real work
somewhere that frame's plan never shows:

* **streaming legs** — the returned frame is a scan of the memory
  sink; the actual topology ran as micro-batch plans inside the
  (already stopped) StreamingQuery;
* **iterative / checkpointing operators** — every eager
  ``localCheckpoint`` truncates lineage, so the rounds' plans (and any
  pre-checkpoint fan-in) are invisible downstream.

This module closes both blind spots without touching any operator:
when enabled (audit/tests only — zero production overhead),

* ``DataFrame.localCheckpoint`` is wrapped to record the executed plan
  of every frame being checkpointed, repo-wide;
* ``streaming/windows.run_to_memory`` reports each query's last
  micro-batch ``IncrementalExecution`` plan via
  :func:`note_streaming_query` before stopping it.

Consumers call :func:`drain` per entry and run the same hygiene
assertions (zero CartesianProduct, zero BatchEvalPython, Arrow stages
allowlisted) over the captured plans plus the final one.
"""

from __future__ import annotations

import threading

_lock = threading.Lock()
_enabled = False
_plans: list[tuple[str, str]] = []
_orig_lcp = None


def _record(label: str, plan: str) -> None:
    with _lock:
        _plans.append((label, plan))


def note_df(df, label: str) -> None:
    """Record ``df``'s executed plan (no-op unless capture is on)."""
    if not _enabled:
        return
    try:
        _record(label, df._jdf.queryExecution().executedPlan().toString())
    except Exception:  # pragma: no cover - defensive: audit never breaks prod
        pass


def note_streaming_query(q, label: str) -> None:
    """Record a StreamingQuery's last micro-batch executed plan — the
    plan the stream actually ran, which the memory-sink scan a caller
    gets back never contains. Call BEFORE ``q.stop()``."""
    if not _enabled:
        return
    try:
        le = q._jsq.streamingQuery().lastExecution()
        if le is not None:
            _record(label, le.executedPlan().toString())
    except Exception:  # pragma: no cover - defensive
        pass


def enable() -> None:
    """Turn capture on and install the ``localCheckpoint`` wrapper
    (idempotent; the wrapper itself no-ops whenever capture is off)."""
    global _enabled, _orig_lcp
    # patch the CONCRETE runtime class: pyspark 4's public DataFrame is
    # an abstract facade and classic sessions instantiate
    # pyspark.sql.classic.dataframe.DataFrame, whose own method would
    # shadow a base-class patch
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older pyspark
        from pyspark.sql import DataFrame

    with _lock:
        _plans.clear()
    if _orig_lcp is None:
        _orig_lcp = DataFrame.localCheckpoint

        def _patched(self, *args, **kwargs):
            note_df(self, "localCheckpoint")
            return _orig_lcp(self, *args, **kwargs)

        DataFrame.localCheckpoint = _patched
    _enabled = True


def disable() -> None:
    global _enabled
    _enabled = False


def drain() -> list[tuple[str, str]]:
    """Return and clear everything captured since the last drain."""
    with _lock:
        out = list(_plans)
        _plans.clear()
    return out
