"""Skew mitigation (SURVEY.md §4.2): salted join for hot keys.

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled`` is on in the session factory); this
operator is the explicit fallback for joins AQE can't split (e.g., a
broadcast-ineligible dim replicated against a hot fact key): the fact side
gets a random salt in [0, n), the dim side is exploded n ways, and the join
key becomes (key, salt) — spreading one hot key over n reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``key`` with the fact side salted n ways.

    The salt is derived from a stable per-row expression (hash of all fact
    columns) rather than rand() so the plan stays deterministic and
    re-executable (speculative retries see the same salt).

    The join is pinned to SHUFFLE_HASH: by this operator's own contract the
    dim side is broadcast-INeligible (if it could broadcast there would be
    no shuffle and nothing to salt), yet the optimizer's pre-explode size
    estimate can still pick a broadcast plan — measured at the x128 tier:
    auto-broadcasting the n_salts-exploded user-keyed dim (10.2M rows) read
    9.9 s vs 4.4 s for the shuffle plan, turning a linear operator into a
    4.8x-per-step one (SCALE.md round-6). The hint keeps the salt doing its
    job at every scale; shuffle-hash beats sort-merge here because neither
    side needs a sort for an equi-join on (key, salt)."""
    fact_salted = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salts))
    )
    dim_exploded = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).hint("shuffle_hash")
    out = fact_salted.join(dim_exploded, [key, "_salt"], how)
    return out.drop("_salt")


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin-spread a narrow SCAN only when it is under-parallel (r10).

    The heavy text/vector pipelines repartition their input before a
    CPU-dense explode because the local test tables are single-row-group
    parquet files — one task would otherwise do all the work (the
    dedup_substring_runs x128 empty-split lesson). But that repartition is a
    full shuffle of the corpus, and at 100 TB the scan already has thousands
    of splits: the shuffle is pure waste there. This guard keeps the spread
    scale-ADAPTIVE: repartition only when the scan's planned partition count
    is below the session's parallelism. Same rows either way; round-robin
    repartition does not affect any downstream aggregate/join semantics.

    Contract (r11, ADVICE r10): the input must be a narrow scan —
    project/filter over a source, no exchange upstream. The partition probe
    converts the plan to an RDD, which under AQE would FINALIZE query
    stages of a shuffled input (running shuffle jobs eagerly at
    plan-construction time, then discarding them). A frame whose physical
    plan already contains an Exchange is therefore returned unchanged
    without probing: it is post-shuffle parallel by construction, and
    probing it would be the eager-job bug. For exchange-free plans the RDD
    conversion plans but runs nothing.

    The substring test also matches ``BroadcastExchange``, by design: on a
    broadcast-join frame the probe runs the broadcast job eagerly (1 job on
    ``lineitem ⋈ broadcast(part)`` at sf0.001), while the guard returns the
    frame unchanged with 0 jobs (pinned in ``tests/test_skew.py``)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)
