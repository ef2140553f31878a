"""Sync statistics — the reference's counters, Spark-native.

The reference tracks records-to-sync / read / filtered / written plus a
thread count, logged periodically (destination/writers.go:34-39,131-137;
protocol/sync.go:127-131). On Spark the idiomatic equivalents are:

- ``Observation``: named metrics attached to a point in the DataFrame plan,
  collected from the SAME job that materializes the data — zero extra
  actions, zero extra scans (a ``.count()`` per stage would re-run the
  pipeline).
- per-micro-batch progress of the bounded-drain streaming paths is read
  from the finished query (``streaming/observe.harvest_progress``).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation

__all__ = ["SyncStats"]


@dataclass
class SyncStats:
    """Counter registry for one sync run. Attach observation points with
    ``observe``; read them back (after an action ran) with ``report``."""

    started_at: float = field(default_factory=time.time)
    _observations: dict = field(default_factory=dict)

    def observe(self, df: DataFrame, point: str) -> DataFrame:
        """Instrument a plan position ('read', 'filtered', 'written', ...).

        Returns the same DataFrame with a row-count metric attached; the
        count materializes when the surrounding job runs.
        """
        from pyspark.sql import functions as F

        obs = Observation(f"olake_{point}")
        self._observations[point] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def report(self) -> dict:
        """Collected counters + elapsed seconds (points whose job hasn't run
        yet are omitted rather than blocking)."""
        out: dict = {"elapsed_sec": round(time.time() - self.started_at, 3)}
        for point, obs in self._observations.items():
            # Observation.get blocks until the action completes — poll it in
            # a daemon thread with a bounded wait so unrun points are skipped
            # instead of hanging the report
            holder: list = []

            def _fetch(o=obs, h=holder):
                try:
                    h.append(o.get)
                except Exception:
                    pass

            t = threading.Thread(target=_fetch, daemon=True)
            t.start()
            t.join(timeout=2.0)
            if holder:
                out[f"records_{point}"] = holder[0]["rows"]
        read, written = out.get("records_read"), out.get("records_written")
        if read is not None and written is not None:
            out["records_filtered"] = read - written
        return out

