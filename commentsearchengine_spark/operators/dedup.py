"""Op D1 — within-wave dedup — and new hosts' politeness budgets.

D1 keeps, per canonical URL, the candidate with the minimum
(priority, disc_seq) — the oracle's min-parent rule (§1.4.3) that makes
``disc_seq`` (and hence all later ordering) parallelism-independent.

The exact seen/frontier anti-joins behind the bloom pre-filter (op B3)
run in the wave's collision backstop (plans/wave.py::_backstop).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from ..fixtures import synth


def dedup_within_wave(cands: DataFrame) -> DataFrame:
    """Keep the min-(priority, disc_seq) candidate per canonical URL.

    A hash aggregate with ``min_by``, NOT a window rank: the partial
    (map-side) aggregation collapses duplicate discoveries inside each
    task before anything shuffles, and no sort is needed.  (priority,
    disc_seq) is unique per candidate occurrence — disc_seq encodes
    parent global_seq and link index — so min_by is deterministic."""
    others = [c for c in cands.columns if c != "canon_url"]
    return (
        cands.groupBy("canon_url")
        .agg(
            F.min_by(
                F.struct(*others), F.struct("priority", "disc_seq")
            ).alias("_m")
        )
        .select("canon_url", *[F.col(f"_m.{c}").alias(c) for c in others])
    )


_BUDGET_SCHEMA = StructType([
    StructField("capacity", DoubleType()),
    StructField("refill_per_wave", DoubleType()),
    StructField("crawl_delay", DoubleType()),
])


def make_host_budget_udf(scale: float = 1.0):
    """Politeness budget provisioning for newly discovered hosts (in a
    real crawler this would come from config/robots; here from the
    deterministic fixture universe so oracle and engine agree).
    ``scale`` is EngineConfig.budget_scale."""

    @pandas_udf(_BUDGET_SCHEMA)
    def host_budget_udf(hosts: pd.Series) -> pd.DataFrame:
        rows = []
        for h in hosts:
            cap, refill = synth.budget_for(h, scale)
            rows.append((cap, refill, synth.crawl_delay(h)))
        return pd.DataFrame(
            rows, columns=["capacity", "refill_per_wave", "crawl_delay"])

    return host_budget_udf
