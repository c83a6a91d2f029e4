"""Zero-extra-pass pipeline metrics via Spark's Observation API.

The reference prints a per-run "bilan" (row counts per stage) by calling
``len(df)`` after each step — one extra full evaluation per metric
(ETL_OMS_OPERATIONNEL.py run counters). At 100 TB every extra action is a
full re-scan, so the scale-correct form is ``DataFrame.observe``: named
aggregate metrics that ride the ONE real action as accumulators —
Catalyst evaluates them inline, the driver reads them after the sink
finishes, and the pipeline's cost is unchanged.

Typical use::

    stages = PipelineMetrics()
    df = stages.observe(raw, "ingested")
    df = stages.observe(quality_filter(df), "post_gate", tokens=F.sum("n_tokens"))
    df.write.parquet(out)            # one action
    print(stages.report())           # {'ingested': {'rows': ...}, ...}
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


class PipelineMetrics:
    """Collects named per-stage observations; read after the ONE action."""

    def __init__(self) -> None:
        self._obs: dict[str, Observation] = {}

    def observe(
        self, df: DataFrame, stage: str, **metrics: Column
    ) -> DataFrame:
        """Attach observation point ``stage``. Always records ``rows``;
        extra keyword metrics are any aggregate Columns (evaluated inline
        with the surrounding plan — no extra scan, no caching)."""
        if stage in self._obs:
            raise ValueError(f"duplicate stage name {stage!r}")
        obs = Observation(stage)
        self._obs[stage] = obs
        aggs = [F.count(F.lit(1)).alias("rows")]
        aggs += [c.alias(name) for name, c in metrics.items()]
        return df.observe(obs, *aggs)

    def report(self) -> dict[str, dict]:
        """Metrics per stage — call AFTER the action has completed (an
        Observation blocks until its point has been evaluated)."""
        return {name: dict(o.get) for name, o in self._obs.items()}
