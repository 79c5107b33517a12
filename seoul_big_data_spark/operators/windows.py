"""Window-function operators (SURVEY.md §2.5 W1/S1-S4 + engine breadth).

The reference's "latest per group" is a per-row ``ORDER BY ID DESC`` +
``fetchall()[0]`` (data_seoul_2_csv_noopenapi.py:74-79) — an N+1 query. Here
it is one shuffle-on-group-key window pass over all groups at once, which is
the shape that survives a 1000-executor scale-up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_group(
    df: DataFrame, group_by: list[str], order_by: list[Column | str]
) -> DataFrame:
    """W1 — keep the top-1 row per group (newest checkpoint per dataset)."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def latest_per_group_agg(
    df: DataFrame, group_by: list[str], max_keys: list[Column | str]
) -> DataFrame:
    """W1 as an aggregate — top-1 per group via ``max_by`` over the key
    struct, preserving every input column.

    Same rows as :func:`latest_per_group` with ``orderBy(desc(*max_keys))``
    PROVIDED the keys are a total order within each group (pass a unique
    tie-breaker last, as you would to the window form). The difference is
    the physical plan: the window form shuffles EVERY row to sort whole
    groups; this form partial-aggregates map-side, so the shuffle carries
    one candidate row per (task, group) — at 100 TB that's the difference
    between moving the table and moving roughly the group count. Struct
    comparison is lexicographic field-by-field, i.e. exactly the
    multi-column ORDER BY.
    """
    keys = [F.col(k) if isinstance(k, str) else k for k in max_keys]
    payload = F.max_by(F.struct(*df.columns), F.struct(*keys)).alias("_top")
    return (
        df.groupBy(*group_by)
        .agg(payload)
        .select(*group_by, *[F.col(f"_top.{c}") for c in df.columns if c not in group_by])
    )


def top_k_per_group(
    df: DataFrame, group_by: list[str], order_by: list[Column | str], k: int
) -> DataFrame:
    """Top-k per group with rank exposed as ``rk`` (order-insensitive-oracle
    friendly: the rank column carries the ordering information)."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def with_rank(df: DataFrame, order_by: list[Column | str], col: str = "rk") -> DataFrame:
    """S1/S2 — sorts validated via an explicit rank column (the driver's
    value-hash is order-insensitive, SURVEY.md §7.4.2)."""
    return df.withColumn(col, F.row_number().over(Window.orderBy(*order_by)))


def bucketed_cumsum(
    df: DataFrame,
    val_col: str,
    sum_cols: list[str],
    n_buckets: int = 1024,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Global ordered cumulative sums WITHOUT the single-reducer window.

    ``Window.orderBy(val)`` with no partition key moves the whole input to
    one reducer — the classic ECDF/cumulative-distribution scale trap. This
    is the two-level form: fixed-width range buckets from one min/max
    aggregate (1 row, broadcast cross-join — no eager collect), per-bucket
    partial sums cumulated over the bucket-cardinality table (n_buckets
    rows — the only unpartitioned window, bounded by construction), then a
    within-bucket window partitioned by ``_b``. Adds ``cum_<c>`` (inclusive,
    ≤ val) for each input sum column.

    Requires one row per distinct ``val_col`` (aggregate first): with ties
    the within-bucket inclusive frame would make tied rows' cumsums
    order-dependent. Alternatively pass ``order_cols`` — a unique composite
    ordering whose LEADING column is ``val_col`` — and rows may repeat a
    ``val_col`` value: ties of the bucketing key stay inside one bucket, so
    the composite within-bucket order keeps the global cumsum exact.
    """
    mm = df.agg(
        F.min(val_col).cast("double").alias("_lo"),
        F.max(val_col).cast("double").alias("_hi"),
    )
    width = (F.col("_hi") - F.col("_lo")) / n_buckets
    bucket = (
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col(val_col).cast("double") - F.col("_lo")) / width),
                F.lit(n_buckets - 1),
            )
        )
        .cast("bigint")
    )
    d = df.crossJoin(F.broadcast(mm)).withColumn("_bucket", bucket).drop("_lo", "_hi")
    partials = d.groupBy("_bucket").agg(
        *[F.sum(c).alias(f"_p_{c}") for c in sum_cols]
    )
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = partials.select(
        "_bucket",
        *[
            F.coalesce(F.sum(f"_p_{c}").over(w_off), F.lit(0)).alias(f"_o_{c}")
            for c in sum_cols
        ],
    )
    w_in = Window.partitionBy("_bucket").orderBy(*(order_cols or [val_col])).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = d.join(F.broadcast(offsets), "_bucket")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"_o_{c}") + F.sum(c).over(w_in))
    return out.drop("_bucket", *[f"_o_{c}" for c in sum_cols])


def lead_scalable(
    df: DataFrame,
    key_col: str,
    out: str = "next_key",
    n_buckets: int = 1024,
) -> DataFrame:
    """``lead(key) OVER (ORDER BY key)`` WITHOUT the single-reducer window.

    Same two-level shape as :func:`bucketed_cumsum`: range buckets from a
    broadcast min/max probe, within-bucket ``lead`` partitioned by the
    bucket id, and the bucket-boundary stitch — the last key of a bucket
    takes the NEXT bucket's minimum key (a lead over the bucket-cardinality
    table, bounded by construction; empty buckets simply hold no rows). The
    globally-last key gets NULL, matching the window form.

    Requires distinct, non-null, numeric keys (aggregate first).
    """
    mm = df.agg(
        F.min(F.col(key_col).cast("double")).alias("_lo"),
        F.max(F.col(key_col).cast("double")).alias("_hi"),
    )
    width = (F.col("_hi") - F.col("_lo")) / n_buckets
    bucket = (
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col(key_col).cast("double") - F.col("_lo")) / width),
                F.lit(n_buckets - 1),
            )
        )
        .cast("bigint")
    )
    d = df.crossJoin(F.broadcast(mm)).withColumn("_bucket", bucket).drop("_lo", "_hi")
    bmin = d.groupBy("_bucket").agg(F.min(key_col).alias("_bmin"))
    nxt = bmin.select(
        "_bucket", F.lead("_bmin").over(Window.orderBy("_bucket")).alias("_next_bmin")
    )
    w_in = Window.partitionBy("_bucket").orderBy(key_col)
    return (
        d.join(F.broadcast(nxt), "_bucket")
        .withColumn(
            out, F.coalesce(F.lead(key_col).over(w_in), F.col("_next_bmin"))
        )
        .drop("_bucket", "_next_bmin")
    )


def ntile_scalable(
    df: DataFrame,
    k: int,
    order_by: list[str],
    out: str = "ntile",
    n_buckets: int = 1024,
) -> DataFrame:
    """Exact ``ntile(k) OVER (ORDER BY order_by)`` WITHOUT the single-reducer
    global window — the 100 TB form of quantile bucketing.

    Same two-level shape as :func:`bucketed_cumsum`: fixed-width range
    buckets on the leading key from one broadcast min/max aggregate (no
    eager collect), per-bucket counts cumulated over the bucket-cardinality
    table (n_buckets rows — the only unpartitioned window, bounded by
    construction), then a within-bucket ``row_number`` partitioned by the
    bucket id. The global rank is ``bucket_offset + local_rank`` — exact,
    because the bucket id is monotone in the leading key and ties of the
    leading key share a bucket — and ntile's size rule (first N%k buckets
    get one extra row) is applied as an expression on that rank.

    Preconditions: the leading order column is non-null and numeric
    (castable to double); callers express DESC by negating into a temp
    column. Ties must be broken by trailing ``order_by`` columns for a
    deterministic result (same requirement as the window form).
    """
    lead = order_by[0]
    mm = df.agg(
        F.min(F.col(lead).cast("double")).alias("_lo"),
        F.max(F.col(lead).cast("double")).alias("_hi"),
    )
    width = (F.col("_hi") - F.col("_lo")) / n_buckets
    bucket = (
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col(lead).cast("double") - F.col("_lo")) / width),
                F.lit(n_buckets - 1),
            )
        )
        .cast("bigint")
    )
    d = df.crossJoin(F.broadcast(mm)).withColumn("_bucket", bucket).drop("_lo", "_hi")
    partials = d.groupBy("_bucket").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = partials.select(
        "_bucket",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_n").over(w_all).alias("_N"),
    )
    w_in = Window.partitionBy("_bucket").orderBy(*order_by)
    d = (
        d.join(F.broadcast(offsets), "_bucket")
        .withColumn("_r", F.col("_off") + F.row_number().over(w_in))
        .withColumn("_q", F.expr(f"_N div {k}"))
        .withColumn("_rem", F.col("_N") % k)
    )
    # ntile: the first (N % k) buckets hold (N div k)+1 rows, the rest
    # (N div k). CaseWhen short-circuits, so the q==0 small-N case never
    # reaches the `div _q` branch.
    score = F.when(
        F.col("_r") <= F.col("_rem") * (F.col("_q") + F.lit(1)),
        F.expr("(_r - 1) div (_q + 1) + 1"),
    ).otherwise(F.col("_rem") + F.expr("(_r - _rem * (_q + 1) - 1) div _q + 1"))
    return d.withColumn(out, score.cast("int")).drop(
        "_bucket", "_off", "_N", "_r", "_q", "_rem"
    )


#: Fixed-width global time slices a HOT key's timeline is cut into; each
#: slice is one window task. Every recorded measurement ran at 256 (64/128
#: were within noise at x128/x512, SURVEY.md).
_N_SLICES = 256

#: Keys with more rows than this are hot and get time-sliced; every other
#: key takes slice 0. ``|hot| ≤ N/_HOT_THRESHOLD`` by construction, so the
#: hot-key broadcast is safe at any N. Tests set 0 to force the sliced route.
_HOT_THRESHOLD = 200_000

#: Expected sampled rows for a key sitting exactly at ``_HOT_THRESHOLD``
#: under the sampled probe (below: detection cutoff is half of this).
_PROBE_SAMPLE_TARGET = 64

#: Don't read parquet footers for the static row bound beyond this many
#: input files: each footer is a driver-side open, and a table wide enough
#: to span more files than this is far past every hot threshold anyway.
_ROW_BOUND_MAX_FILES = 64


def _static_row_bound(df: DataFrame) -> int | None:
    """Upper bound on ``df``'s row count WITHOUT running a job, or ``None``
    when no sound static bound exists (r11, VERDICT r10 #6).

    Sound only when every logical node above the scan preserves or reduces
    cardinality — Project/Filter/alias over a parquet relation. Anything
    that can multiply rows (Generate/Join/Union/...) bails. The bound is the
    sum of the input files' footer ``num_rows`` (parquet metadata — no data
    pages touched). File count is capped (``_ROW_BOUND_MAX_FILES``) so this
    never becomes a driver-side footer-listing storm at 100 TB, where total
    rows dwarf any hot threshold and the sampled probe is the right tool.
    Without pyarrow there is no footer reader: ``None``, and the sampled
    probe decides instead."""
    try:
        tree = df._jdf.queryExecution().analyzed().treeString()
    except Exception:  # pragma: no cover - defensive (py4j surface)
        return None
    allowed = ("Project", "Filter", "SubqueryAlias", "Relation", "View")
    for line in tree.splitlines():
        name = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if name and not name.startswith(allowed):
            return None
    files = df.inputFiles()
    if not files or len(files) > _ROW_BOUND_MAX_FILES:
        return None
    from urllib.parse import unquote, urlparse

    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None

    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            total += pq.ParquetFile(unquote(parsed.path)).metadata.num_rows
        except Exception:
            return None
    return total


def _hot_key_stats(
    df: DataFrame, key_cols: list[str], ts_expr
) -> tuple[tuple[float, float], DataFrame | None]:
    """Hot-key probe for the slice-and-stitch family: returns
    ``((lo, hi), hot)`` where ``hot`` is the frame of keys with more than
    ``_HOT_THRESHOLD`` rows, or ``None`` when no key is hot (then
    ``(lo, hi)`` may be ``(0, 0)`` — the caller takes the plain window
    route and never reads the bounds).

    SAMPLED, not key-grain (r10 second iteration): the first hot-route
    probe ran ``groupBy(keys).agg(count, min, max)`` over the corpus —
    exact, but at x2048 the (type, user) key space is ~600M groups, so the
    probe itself shuffled and persisted a corpus-sized partial-aggregate
    frame (events_interarrival_profile read 43 s vs the r9 form's 35 s —
    the probe WAS the regression). A key can only be hot if it shows up
    repeatedly in a Bernoulli sample, so:

    1. **Sampled scan** (fraction ``f = _PROBE_SAMPLE_TARGET /
       _HOT_THRESHOLD``, seeded): keys with ≥ ``_PROBE_SAMPLE_TARGET / 2``
       sampled rows become candidates. No corpus shuffle — the groupBy
       runs over ~``f·N`` rows. A key at the threshold expects
       ``_PROBE_SAMPLE_TARGET`` sampled rows, so missing one needs a
       ~50% downward fluctuation (Chernoff: P ≤ e^{-target/8} ≈ 3e-4),
       and a missed *borderline* key costs only a plain-window task of
       ~threshold rows — benign by the threshold's own definition. A
       whale key (the shape this exists for) oversamples by orders of
       magnitude and cannot be missed. Candidates are bounded by
       construction: ``|cand| ≤ f·N/(target/2) = 2N/_HOT_THRESHOLD``.
    2. **No candidates** (the uniform-corpus common case): done — the
       whole probe cost one 0.03%-materialized scan, no shuffle, no
       persist, no second pass.
    3. **Exact verification** (only when candidates exist): ONE scan
       grouped by ``candidate-key-or-null`` (broadcast membership test;
       ≤ |cand|+1 groups, map-side combinable — a tiny shuffle) yields
       exact per-candidate counts AND the exact global min/max in the
       same pass. False candidates drop here, so routing is exact over
       the candidate set; ``(lo, hi)`` are exact whenever slicing
       happens.

    ``_HOT_THRESHOLD ≤ _PROBE_SAMPLE_TARGET`` (tests pinning specific
    routes, the ``0`` force-slice convention) skips the sample and runs
    the verification grouping with every key a candidate of itself — the
    pre-r10 exact semantics at sizes where exactness is free.

    Driver state: 3–4 scalars per pass, COLLECTED rather than attached as
    a broadcast singleton: Catalyst constant-folds a literal equi-key on a
    1-row side back into a BroadcastNestedLoopJoin, which consumers whose
    audited design promise is "no BNLJ anywhere" cannot have, and the
    collected literals keep the slice expression foldable. Routing is the
    ONLY thing the probe decides — session ids are bit-identical on every
    route (a single slice's local sessions ARE its global sessions; pinned
    in tests/test_windows_scalable.py) — so sampling cannot affect
    results, only which keys pay the slice-and-stitch machinery.

    WHY hot routing (r10, VERDICT r9 What's wrong #2): slicing EVERY key's
    timeline into global time buckets fragments the typical key — at x512
    a ~95-event user spread over 256 time slices makes nearly every event
    its own (key, slice, local-session) fragment (measured fragmentation
    0.959), so "session grain" ≈ corpus grain and the stitch stages run at
    corpus size. Only keys that can actually straggle a single window task
    need slicing; everyone else gets slice 0 — zero fragments, and the
    stitch degenerates to the plain window form.
    """
    from pyspark import StorageLevel

    # Null-component keys are never hot BY CONTRACT: _sliced flags hot
    # keys via a plain equi-join, which a null component can never match —
    # so marking one hot could not route it anyway. Routing-only effect
    # (results stay bit-identical); the null group still contributes to
    # the exact (lo, hi).
    keys_non_null = F.lit(True)
    for c in key_cols:
        keys_non_null = keys_non_null & F.col(c).isNotNull()

    if _HOT_THRESHOLD > _PROBE_SAMPLE_TARGET:
        # Footer fast path (r11): no key can be hot when the TOTAL row count
        # cannot exceed the threshold — the parquet footers answer that with
        # zero jobs (the sampled probe's one scan was ~0.3 s of every
        # sub-second session/gap query at sf0.1). Routing decision identical
        # to the probe's by construction (per-key count ≤ total ≤ threshold),
        # and the caller never reads the bounds on the no-hot route.
        bound = _static_row_bound(df)
        if bound is not None and bound <= _HOT_THRESHOLD:
            return (0.0, 0.0), None
        f = _PROBE_SAMPLE_TARGET / float(_HOT_THRESHOLD)
        cand = (
            df.sample(fraction=f, seed=42)
            .filter(keys_non_null)
            .groupBy(*key_cols)
            .agg(F.count("*").alias("_sn"))
            .filter(F.col("_sn") >= _PROBE_SAMPLE_TARGET // 2)
            .select(*key_cols)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # Plain .count(), NOT .limit(1).count(): the empty-result common
        # case makes a limit run its incremental partition waves over the
        # WHOLE sampled scan with throttled parallelism (measured +13 s at
        # x2048); one fully-parallel count materializes the persist and
        # answers emptiness in a single pass.
        if not cand.count():
            cand.unpersist()
            return (0.0, 0.0), None
        flagged = F.broadcast(cand.withColumn("_isc", F.lit(True)))
        # One exact pass: candidate keys keep their identity, everything
        # else folds into one cold bucket (keys nulled, _isc false) —
        # ≤ |cand|+1 groups, map-side combinable, tiny shuffle.
        is_cand = F.col("_isc").isNotNull()
        grouped = df.join(flagged, key_cols, "left").groupBy(
            is_cand.alias("_isc_g"),
            *[F.when(is_cand, F.col(c)).alias(c) for c in key_cols],
        )
        hot_eligible = F.col("_isc_g")
    else:
        grouped = df.groupBy(*key_cols)
        hot_eligible = keys_non_null
    stats = grouped.agg(
        F.count("*").alias("_hn"),
        F.min(ts_expr).alias("_mn"),
        F.max(ts_expr).alias("_mx"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    is_hot = (F.col("_hn") > _HOT_THRESHOLD) & hot_eligible
    row = stats.agg(
        F.min("_mn").alias("_lo"),
        F.max("_mx").alias("_hi"),
        F.sum(is_hot.cast("long")).alias("_nhot"),
    ).collect()[0]
    lo, hi, nhot = row["_lo"], row["_hi"], row["_nhot"]
    if lo is None:
        return (0.0, 0.0), None
    hot = stats.filter(is_hot).select(*key_cols) if nhot else None
    return (float(lo), float(hi)), hot


def _sliced(df: DataFrame, key_cols: list[str], ts_expr) -> DataFrame | None:
    """The hot-key route decision: ``None`` when no key is hot (the caller
    partitions on ``key_cols`` alone — the plain window plan), else ``df``
    with ``_slice`` attached, and the caller partitions on
    ``key_cols + ["_slice"]``.

    ``_slice`` is the hot key's fixed-width global time bucket of
    ``ts_expr`` over the probe's exact ``(lo, hi)`` (``_N_SLICES`` buckets;
    monotone in ``ts_expr``, so ties share a slice and concatenating a
    key's slices in order is its global order), and 0 for every cold key —
    a cold key's single slice IS its whole timeline. Hot keys are flagged
    by a broadcast left join on the bounded hot-key set."""
    (lo, hi), hot = _hot_key_stats(df, key_cols, ts_expr)
    if hot is None:
        return None
    width = max((hi - lo) / _N_SLICES, 1e-9)
    slice_id = F.least(
        F.floor((ts_expr - F.lit(lo)) / F.lit(width)), F.lit(_N_SLICES - 1)
    ).cast("bigint")
    flagged = F.broadcast(hot.withColumn("_hot", F.lit(True)))
    return (
        df.join(flagged, key_cols, "left")
        .withColumn(
            "_slice",
            F.when(F.col("_hot").isNotNull(), slice_id)
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .drop("_hot")
    )


def sessionize_agg_scalable(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    local_aggs: list[Column],
    merge_aggs: list[Column],
    gap_minutes: int = 30,
    gap_units: int | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Lag-gap sessionization (SURVEY.md §2.8: a new session starts when
    the gap to the user's previous event exceeds the threshold) fused with
    a session-grain aggregate, WITHOUT the per-user single-task window —
    the 100 TB form for hot keys (a bot/celebrity user owning a large share
    of the events puts its whole timeline in ONE task under
    ``partitionBy(user)``; AQE cannot split a window partition).

    Every consumer reads per-session AGGREGATES over re-aggregable
    functions (count→sum, min/max→min/max, min_by carried with its key,
    collect_list merged by flatten+sort), never per-event labels, so the
    corpus collapses to session grain while it is still partitioned by the
    session window:

    1. :func:`_sliced` routes: hot users get a time ``_slice``; with no hot
       user the window partitions on ``user_col`` alone.
    2. Lag-gap cumulative sum within each partition → local session index
       ``_ls`` (1-based; a slice's first event is always locally new). The
       only corpus-sized shuffle in the plan.
    3. ``groupBy(partition keys, _ls).agg(*local_aggs)`` — the grouping
       keys are a superset of the window's partition keys, so Catalyst
       plans NO exchange here. ``s_first_tss``/``s_last_tss`` (min/max of
       the cast-to-long timestamp) are always added for the stitch and are
       visible to ``merge_aggs``. With no hot user ``_ls`` IS the session
       id (the stitch is the identity) and step 4 is skipped: one corpus
       exchange, no join, no persist.
    4. Stitch (sliced route, on the persisted local-session frame — ≤ one
       row per local session, never worse than one row per event): slice
       k merges into the previous non-empty slice's last session iff the
       boundary gap ≤ the session gap. With ``D_k = Σ_{j≤k} (n_local_j −
       merge_j)`` distinct sessions after slice k, the global id of local
       session s in slice k is ``D_{k−1} − merge_k + s``. The per-(user,
       slice) summary has ≤ ``_N_SLICES`` rows per user, so the stitch
       window ``partitionBy(user).orderBy(_slice)`` is bounded at any
       scale; the offsets join back null-safely.
    5. ``groupBy(user, session_id).agg(*merge_aggs)`` merges the fragments
       of boundary-spanning sessions.

    Session ids are bit-identical to the plain window form on both routes
    (equal-second ties share a slice and a zero gap never opens a session,
    so tie order is immaterial) — pinned in tests/test_windows_scalable.py.
    Measured: x512 events_sessionization 16.3 → 10.1 s vs the row-level
    stitch with a corpus-sized join-back; skew 1.61 → 0.94 at x32 with a
    25%-hot user (SCALE_RUN.json).

    ``gap_units`` is the threshold in ``ts_col``'s own numeric units (e.g.
    a unix_micros column with ``gap_units=1_800_000_000``) and overrides
    ``gap_minutes``, which assumes ``ts_col`` casts to epoch SECONDS (the
    cast truncates). ``tiebreak_cols`` extend the within-session order
    after ``ts_col`` for consumers whose aggregates read that order.

    ``local_aggs`` see the input columns (evaluated once per LOCAL
    session fragment); ``merge_aggs`` see the ``local_aggs`` output
    columns plus ``s_first_tss``/``s_last_tss`` and must re-aggregate
    (e.g. local ``count(*) as n`` merges as ``sum(n) as n``). Output:
    ``(user_col, session_id, *merge_aggs)``. Reserved intermediate
    columns ``_slice``, ``_ls``, ``_hot`` must not appear in the input or
    as ``local_aggs`` aliases (nor may those alias the two stitch bounds);
    asserted below (ADVICE r9 #1).
    """
    reserved = {"_slice", "_ls", "_hot"}
    clash = reserved & set(df.columns)
    assert not clash, (
        f"sessionize_agg_scalable reserves columns {sorted(reserved)}; "
        f"input frame already has {sorted(clash)}"
    )
    import re as _re

    for c in local_aggs:
        m = _re.search(r" AS (\w+)'>$", str(c))
        if m:
            assert m.group(1) not in reserved | {"s_first_tss", "s_last_tss"}, (
                f"local_aggs alias {m.group(1)!r} collides with a reserved "
                "sessionize_agg_scalable column"
            )
    gap_sec = gap_units if gap_units is not None else gap_minutes * 60
    tie = list(tiebreak_cols or [])
    tss = F.col(ts_col).cast("long")
    sliced = _sliced(df, [user_col], tss)
    parts = [user_col] if sliced is None else [user_col, "_slice"]
    w = Window.partitionBy(*parts).orderBy(ts_col, *tie)
    gap = tss - F.lag(tss).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)
    loc = (
        (df if sliced is None else sliced)
        .withColumn(
            "_ls", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(*parts, "_ls")
        .agg(
            F.min(tss).alias("s_first_tss"),
            F.max(tss).alias("s_last_tss"),
            *local_aggs,
        )
    )
    if sliced is None:
        return (
            loc.withColumn("session_id", F.col("_ls"))
            .groupBy(user_col, "session_id")
            .agg(*merge_aggs)
        )
    # Persisted for the stitch's two consumers (summary + offset join) —
    # session grain, so the footprint is bounded by the session count,
    # not the corpus. Persist-and-let-LRU-evict lifecycle.
    from pyspark import StorageLevel

    loc = loc.persist(StorageLevel.MEMORY_AND_DISK)
    # Slice summary from the local-session frame itself: min/max of the
    # local sessions' bounds ARE the slice's first/last second, and
    # max(_ls) is the local session count.
    summ = loc.groupBy(user_col, "_slice").agg(
        F.min("s_first_tss").alias("_first"),
        F.max("s_last_tss").alias("_last"),
        F.max("_ls").alias("_nloc"),
    )
    w_s = Window.partitionBy(user_col).orderBy("_slice")
    merge = F.when(
        (F.col("_first") - F.lag("_last").over(w_s)) <= gap_sec, 1
    ).otherwise(0)
    summ = summ.withColumn("_merge", merge)
    w_prev = w_s.rowsBetween(Window.unboundedPreceding, -1)
    offsets = summ.select(
        user_col,
        "_slice",
        (
            F.coalesce(F.sum(F.col("_nloc") - F.col("_merge")).over(w_prev), F.lit(0))
            - F.col("_merge")
        ).alias("_off"),
    )
    # Null-safe stitch keys: a plain equi-join would silently DROP
    # null-keyed (and null-ts) fragments that the window form keeps as
    # ordinary partitions. eqNullSafe stays a hash-joinable equi-key.
    off = offsets.withColumnRenamed(user_col, "_sk").withColumnRenamed(
        "_slice", "_ss"
    )
    return (
        loc.join(
            off,
            F.col(user_col).eqNullSafe(F.col("_sk"))
            & F.col("_slice").eqNullSafe(F.col("_ss")),
        )
        .drop("_sk", "_ss")
        .withColumn("session_id", F.col("_off") + F.col("_ls"))
        .groupBy(user_col, "session_id")
        .agg(*merge_aggs)
    )


def gap_moments_scalable(
    df: DataFrame,
    part_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    moment_aggs: list[Column] | None = None,
    gap_col: str = "gap",
) -> DataFrame:
    """Combinable MOMENTS of the consecutive inter-arrival gaps of
    ``ts_col`` within each ``part_cols`` group (count/sum/sum-of-squares —
    mean, rate, cv) WITHOUT the per-key single-task window. Only the gap
    multiset matters, not its order.

    :func:`_sliced` routes hot keys into time slices. Within each window
    partition the lag gives the intra-slice gaps, which partial-aggregate
    with NO exchange (grouping keys ⊇ the lag window's partition keys).
    On the sliced route the same pass keeps each (key, slice) cell's
    first/last ``ts_col``, and a lag over slices yields each boundary gap:
    the union is every consecutive gap exactly once, because slicing is
    monotone in ``ts_col``. With no hot key the boundary branch (provably
    empty at a single slice) and the persist drop out: one corpus shuffle.
    Measured x512 events_interarrival_profile 18.8 → 6.5 s vs the
    row-level gap form (SCALE_RUN.json).

    ``ts_col`` must be numeric (cast timestamps first). ``moment_aggs``
    are evaluated over ``F.col(gap_col)`` at BOTH grains and must be
    combinable by plain re-aggregation downstream (the default: ``n_gaps/
    s/ssq`` with the exact DECIMAL(19,0) convention of
    events_interarrival_profile — order-independent integer sums, so the
    two-level aggregation is bit-equal to the flat one). Returns
    ``part_cols + moment_agg columns`` at ``(part_cols, _slice)``-grain ∪
    boundary rows; the caller finishes with ``groupBy(...).agg(sum...)``.

    Output-row caveat (ADVICE r9 #3, part of the return contract): a
    single-event (key, slice) cell emits a row with ZERO-valued moments
    (``n_gaps = 0`` under the default aggs) where the gap multiset has no
    row at all — consumers that count keys or join on the output must
    filter (``n_gaps > 0``) first, as events_interarrival_profile does.
    """
    tie = list(tiebreak_cols or [])
    ts = F.col(ts_col)
    g = F.col(gap_col)
    if moment_aggs is None:
        gd = g.cast("decimal(19,0)")
        moment_aggs = [
            F.count(g).alias("n_gaps"),
            F.sum(gd).alias("s"),
            F.sum(gd * gd).alias("ssq"),
        ]
    sliced = _sliced(df, part_cols, ts)
    parts = list(part_cols) if sliced is None else [*part_cols, "_slice"]
    w = Window.partitionBy(*parts).orderBy(ts_col, *tie)
    d = (df if sliced is None else sliced).withColumn(gap_col, ts - F.lag(ts).over(w))
    if sliced is None:
        return d.groupBy(*parts).agg(*moment_aggs)
    # One pass: per-(key, slice) gap moments AND the slice's first/last
    # timestamp (for boundary gaps). Persisted: the union's two branches
    # both read loc, and without the persist the corpus-sized window stage
    # runs twice (measured at x512: 34.4 s vs ~18 s). Gap cells compress
    # poorly for sparse hot keys, so loc can be corpus-ish at scale —
    # persist-and-let-LRU-evict.
    from pyspark import StorageLevel

    loc = (
        d.groupBy(*parts)
        .agg(F.min(ts).alias("_first"), F.max(ts).alias("_last"), *moment_aggs)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w_s = Window.partitionBy(*part_cols).orderBy("_slice")
    boundary = (
        loc.withColumn(gap_col, F.col("_first") - F.lag("_last").over(w_s))
        .filter(F.col(gap_col).isNotNull())
        .groupBy(*parts)
        .agg(*moment_aggs)
    )
    out_cols = [c for c in loc.columns if c not in ("_first", "_last")]
    return (
        loc.select(*out_cols)
        .unionByName(boundary.select(*out_cols))
        .drop("_slice")
    )
