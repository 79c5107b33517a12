"""Formatted physical plans, two ways.

Default: write EXPLAIN.md — plans for representative queries, each preceded
by the scale property the plan is meant to exhibit (the prose half of what
tools/plan_audit.py asserts mechanically).

``--plans <tag> <sf_dir>``: write each query's plan at ``sf_dir`` to
plans/<tag>/<query>.txt — the evidence files of a before/after plan
comparison (dump both trees under two tags and diff). Queries default to
bench.py's headline suite.

Usage: python tools/explain_dump.py [sf_dir]
       python tools/explain_dump.py --plans <tag> <sf_dir> [query ...]
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from seoul_big_data_spark.queries import QUERIES  # noqa: E402
from seoul_big_data_spark.session import get_spark  # noqa: E402

# (query, the property this plan demonstrates)
SHOWCASE = [
    (
        "flagship_pricing_summary",
        "Filter pushed into the parquet scan (PushedFilters), 2-column-pruned "
        "ReadSchema, map-side partial HashAggregate before the single "
        "shuffle on the 6-value group key, wide WholeStageCodegen spans.",
    ),
    (
        "tpch_q9_product_profit",
        "Star join: every dimension arrives via BroadcastHashJoin (no "
        "fact-sized side is ever broadcast — see plan_audit's hint audit); "
        "the lineitem fact streams once.",
    ),
    (
        "join_bucketed_fact_fact",
        "Co-located fact-fact join: both sides pre-bucketed on the join "
        "key, so the SortMergeJoin consumes existing partitioning — ZERO "
        "Exchange on the join key in this plan.",
    ),
    (
        "join_shuffle_hash_hint",
        "Join-strategy control: the SHUFFLE_HASH hint materializes as "
        "ShuffledHashJoin (build side = customer) instead of the default "
        "sort-merge — no sort of either shuffled side.",
    ),
    (
        "events_asof_join",
        "As-of join as union + window: no range/cross join anywhere in the "
        "plan — one Exchange on the key, one sort per partition, the "
        "last-value carry-forward window.",
    ),
    (
        "agg_bottomk_sample_quantiles",
        "Bottom-k sample via TakeOrderedAndProject: each partition keeps a "
        "local top-k; no global Sort node for the sample branch.",
    ),
    (
        "dedup_jaccard_prefix_filter",
        "Prefix-filtered set-similarity join: the candidate self-join reads "
        "the rarest-shingle prefix projection (post-aggregation filter), "
        "and verification joins bounded per-doc arrays — the full corpus "
        "never self-joins on every shingle.",
    ),
    (
        "agg_equidepth_deciles",
        "r4 scale-safe exact ntile (windows.ntile_scalable): range buckets "
        "from a broadcast min/max aggregate, per-bucket counts cumulated "
        "over the bounded bucket table, within-bucket Window PARTITIONED by "
        "the bucket id — no unpartitioned WindowExec ever touches the fact "
        "(plan_audit's global-window phase asserts this for every query).",
    ),
    (
        "events_peak_concurrency",
        "r4 scale-safe sweep-line: the running concurrency sum over the "
        "merged timeline runs through windows.bucketed_cumsum (two-level "
        "bucketed cumulative sum) — the only unpartitioned window is over "
        "the n_buckets-row offsets table.",
    ),
    (
        "ivf_cell_assignment_md5",
        "Deterministic IVF assignment twin: k broadcast-literal centroid "
        "dot products per row inside one whole-stage-codegen project, one "
        "cell-grain aggregate — the plan the full IVF index build uses, "
        "here oracle-checked against DuckDB bit-for-bit.",
    ),
    (
        "dedup_semantic_cells_md5",
        "r4 per-row hoist + r5 shave: L2 norms AND the float->double "
        "element casts are computed ONCE per row below the same-cell "
        "self-join, so each of the Sigma|cell|^2 candidate pairs evaluates "
        "one cast-free 64-element dot fold instead of three folds plus 128 "
        "casts — identical doubles, same oracle hash (r4 18.4s -> 7.8s; r5 "
        "4.8s -> 1.6s at sf0.1 after also repartitioning the streamed side "
        "to cluster parallelism: the join amplifies N rows to Sigma|cell|^2 "
        "folds, so byte-based scan partitioning left ALL pair work in one "
        "task). r4 VERDICT #6 double-fold concern DISPROVEN, not fixed: "
        "the score>=0.4 predicate belongs in the join condition (the plan "
        "below shows it there), so the second fold in the output "
        "projection runs only for survivors — 245 of 252,560 pairs (0.1%) "
        "at sf0.1; hoisting it would materialize every non-survivor pair "
        "as a row to save a fold that almost never runs.",
    ),
    (
        "window_latest_per_group",
        "Top-1-per-key as an aggregate, not a window (r4 continuation): "
        "partial_max_by over the (o_orderdate, o_orderkey) key struct "
        "runs map-side, so the Exchange carries one candidate row per "
        "task x customer instead of the whole orders table — the window "
        "form shuffles every row to sort whole groups. SortAggregate "
        "because struct max_by is sort-based; measured 6.5s -> 1.7s at "
        "x32 in SCALE_RUN.json, window-form equivalence pinned in "
        "tests/test_scale_safe_twins.py.",
    ),
    (
        "similarity_ivf_ann",
        "IVF ANN search plan (r8, now hash-checked end-to-end incl. the "
        "Lloyd fit): the corpus is assigned cells by a literal dot-fold "
        "expression riding the scan (no shuffle for assignment), the "
        "probe set — bounded by a literal vec_id filter pushed into the "
        "parquet scan — explodes nprobe cells per query and BROADCASTS; "
        "the cell equi-join streams the corpus, and the per-query top-k "
        "is a partitioned window. At 100 TB the corpus is written "
        "partitioned by cell, so a probe reads nprobe/k of the data.",
    ),
    (
        "events_sessionization",
        "Hot-routed session-grain fused slice-and-stitch "
        "(windows.sessionize_agg_scalable): the parquet footer row count "
        "(past it, a sampled probe) decides whether any user is hot. With "
        "none — this plan — it is the plain window form: ONE corpus-sized "
        "exchange on user_id, and the per-session aggregate's grouping "
        "keys are a superset of the window partition keys, so the corpus "
        "collapses to session grain with NO second exchange, no join and "
        "no persist. A hot user is time-sliced across _N_SLICES tasks "
        "(everyone else stays at slice 0, so global-time slicing cannot "
        "fragment the typical user) and the stitch summary, offsets "
        "window, offset join and fragment merge all run at session grain "
        "(skew 1.61 -> 0.94 at x32, 25%-hot user).",
    ),
    (
        "similarity_ivf_pq_ann",
        "Composed IVF-PQ plan (r8, hash-checked): cell assignment + PQ "
        "encode + decode all ride the scan as mapInPandas stages (zero "
        "shuffle before the candidate join); queries broadcast with "
        "exploded probe cells; asymmetric scoring against the "
        "reconstruction and a partitioned top-k window. The PQ stage "
        "bounds bytes/vector (32x), the cells bound vectors touched — "
        "the Faiss production layout as DataFrame ops.",
    ),
]


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_plans(tag: str, sf_dir: str, names: list[str]) -> None:
    if not names:
        from bench import HEADLINE

        names = HEADLINE
    out_dir = os.path.join(HERE, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain_dump")
    for name in names:
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(_formatted(QUERIES[name](spark, sf_dir)))
        print(f"wrote {path}")
    spark.stop()


def main() -> None:
    if sys.argv[1:2] == ["--plans"]:
        if len(sys.argv) < 4:
            sys.exit("usage: explain_dump.py --plans <tag> <sf_dir> [query ...]")
        dump_plans(sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_dump")
    out = [
        "# EXPLAIN — representative physical plans\n",
        "Generated by `tools/explain_dump.py` at sf0.01 (plans are "
        "scale-invariant in shape; AQE may further coalesce partitions at "
        "runtime). Each section states the scale property the plan "
        "demonstrates — `tools/plan_audit.py` asserts the same properties "
        "mechanically on every round.\n",
    ]
    for name, prop in SHOWCASE:
        plan = _formatted(QUERIES[name](spark, sf_dir))
        out.append(f"\n## {name}\n\n{prop}\n\n```\n{plan}\n```\n")
    with open(os.path.join(HERE, "EXPLAIN.md"), "w") as fh:
        fh.write("".join(out))
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main()
