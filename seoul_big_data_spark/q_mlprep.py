"""Training-data curation queries — the corpus-hygiene operators a
pre-training pipeline runs beyond dedup (COVERAGE.md §2.10 extension):
Gopher-style repetition metrics, benchmark-contamination screening,
PII redaction, and deterministic weighted mixture sampling.

All four are pure Catalyst expressions / joins (no Python UDFs) and
DuckDB-oracle-checked. Scale notes per query docstring; the common theme is
that per-document metrics stay map-side (array expressions inside codegen,
no shuffle) and only genuinely relational steps (contamination join) shuffle.

Oracle notes: tokenization mirrors q_text.py; DuckDB lacks ``regexp_count``
so the oracle uses ``len(regexp_extract_all(...))``; fractions are rounded
to 6 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as tx
from .registry import query
from .sources.tables import load

_DUCK_TOKENS_LOWER = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')"
)


@query(
    "text_repetition_metrics",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS_LOWER} AS t FROM documents
    ), grams AS (
      SELECT doc_id, t,
             [array_to_string(t[i:i+1], ' ')
              FOR i IN range(1, greatest(len(t) - 1, 1) + 1)] AS g2
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           round(list_max([len(list_filter(t, x -> x = u))
                           FOR u IN list_distinct(t)]) * 1.0 / len(t), 6)
             AS top_token_frac,
           round((len(g2) - len(list_distinct(g2))) * 1.0 / len(g2), 6)
             AS dup_2gram_frac
    FROM grams
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of tokens
    taken by the single most frequent token, and the fraction of 2-grams
    that are repeats of an earlier 2-gram. High values flag boilerplate /
    spam docs that dedup misses (repetition is *within* one doc).

    Scale shape: everything is an array expression over the tokenized
    column — zero shuffles, runs inside whole-stage codegen over the scan.
    The per-doc O(distinct × n) token-count scan is bounded by document
    length, not corpus size, so it parallelizes embarrassingly at 100 TB
    (vs the explode→groupBy alternative which would shuffle every token).
    """
    d = load(spark, "documents", sf_dir)
    # Token/shingle arrays materialized ONCE per row (r10): unbound, `toks`
    # re-ran the tokenizer per reference — and the top-token scan references
    # it once per DISTINCT token (inside the transform lambda), i.e.
    # O(distinct) tokenizations per document on top of the inherent
    # O(distinct × n) count scan. Materialized, every reference is an
    # attribute read; the multi-reference projection is safe from
    # CollapseProject inlining (non-cheap expr referenced > once).
    base = d.select(
        "doc_id",
        tx.tokens(F.lower(F.col("text"))).alias("_t"),
        tx.shingles("text", k=2).alias("_g2"),
    ).filter(F.size("_t") > 0)
    t, g2 = F.col("_t"), F.col("_g2")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(t),
            lambda u: F.size(F.filter(t, lambda x: x == u)),
        )
    )
    return base.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.round(top_cnt / F.size(t), 6).alias("top_token_frac"),
        F.round(
            (F.size(g2) - F.size(F.array_distinct(g2))) / F.size(g2), 6
        ).alias("dup_2gram_frac"),
    )


@query(
    "text_contamination_overlap",
    """
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(t) - 2, 1) + 1)])
               AS shingles
      FROM toks
    ), ex AS (
      SELECT doc_id, source, unnest(shingles) AS shingle FROM sh
    ), bench AS (
      SELECT DISTINCT shingle FROM ex WHERE source = 'src0'
    )
    SELECT e.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           round(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS contamination
    FROM (SELECT doc_id, shingle FROM ex WHERE source <> 'src0') e
    LEFT JOIN bench b ON e.shingle = b.shingle
    GROUP BY e.doc_id
    """,
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: treating ``source='src0'`` as the
    held-out benchmark corpus, score every other document by the fraction
    of its distinct 3-shingles that also occur in the benchmark — the
    n-gram-overlap decontamination check run before training.

    Scale shape: the benchmark shingle set is small relative to the corpus
    (eval suites are MBs, corpora are TBs) → broadcast it; the eval side
    then needs no shuffle for the join, only the per-doc groupBy (keyed on
    doc_id, map-side combinable counts).
    """
    d = load(spark, "documents", sf_dir)
    ex = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(tx.shingles("text", k=3))).alias("shingle"),
    )
    bench = (
        ex.filter(F.col("source") == "src0").select("shingle").distinct()
    ).withColumn("hit", F.lit(1))
    ev = ex.filter(F.col("source") != "src0").select("doc_id", "shingle")
    joined = ev.join(F.broadcast(bench), "shingle", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count("*"), 6
        ).alias("contamination"),
    )


# PII patterns kept to syntax that means the same thing in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, no
# lookaround / backreferences in the *match* patterns.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "010-[0-9]{4}-[0-9]{4}"


@query(
    "text_pii_redact",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@ex.org tel 010-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || '-1234' AS aug_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug_text, '{_EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(aug_text, '{_PHONE_RE}')) AS INTEGER)
             AS n_phones,
           regexp_replace(regexp_replace(aug_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM aug
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over text: count and mask email addresses
    and KR-mobile-style phone numbers. The synthetic corpus contains no
    PII, so the query *injects* a deterministic email+phone derived from
    doc_id on both engines — the redaction path is exercised on every row
    (each output must contain '<EMAIL>'/'<PHONE>' and count exactly 1).

    Scale shape: pure per-row regexp expressions — map-side only, no
    shuffle, whole-stage codegen; the pattern alternation cost is linear
    in document length. Real deployments extend the pattern list (SSNs,
    credit cards, IPs) with the same shape.
    """
    d = load(spark, "documents", sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.org tel 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("-1234"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )


@query(
    "sample_weighted_mixture",
    """
    SELECT doc_id, source FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 'd0'
               WHEN source IN ('src4', 'src5', 'src6', 'src7') THEN '80'
               ELSE '40' END
    """,
)
def sample_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling: per-source acceptance rates (~81% for the
    high-quality sources, ~50% mid, ~25% tail — the 'upsample curated,
    downsample crawl' mixing step), decided by md5 over the row's own key
    so the draw is deterministic under any partitioning, engine, or
    incremental backfill (same contract as sample_fraction_md5).

    Scale shape: pure map-side filter over the scan — no shuffle, no
    state; mixture weights live in a tiny CASE (or a broadcast dim table
    when the source list is long).
    """
    d = load(spark, "documents", sf_dir)
    threshold = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), "d0")
        .when(F.col("source").isin("src4", "src5", "src6", "src7"), "80")
        .otherwise("40")
    )
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < threshold
    ).select("doc_id", "source")


@query(
    "text_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS_LOWER}) AS tok FROM documents
    ), freq AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq
    )
    SELECT t.doc_id,
           CAST(count(*) AS INTEGER) AS n_tokens,
           round(CAST(sum(CAST(round(ln(f.cnt * 1.0 / tot.total), 6)
                               AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS avg_logprob
    FROM toks t JOIN freq f ON t.tok = f.tok, tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the classic cheap perplexity
    signal for corpus curation (low avg log-prob = rare-token-heavy /
    noisy docs). The exploded tokens are persisted once (LM fit + scoring
    join both read the cache — one documents scan). The LM is fit on the
    corpus itself in one pass:
    explode -> groupBy(token) with map-side combine, then the frequency
    table (vocab-sized, Zipf-bounded) broadcasts back onto the exploded
    tokens — the per-doc aggregation is the only full shuffle.

    Determinism: per-token ln(p) is rounded to 6 decimals and summed as
    DECIMAL(18,6), so the per-doc sum is exact and partition-order-free;
    only the final division rounds. At 100 TB the vocab table stays
    dim-sized (top-1M tokens cover the mass), so the score join remains
    a broadcast."""
    from pyspark import StorageLevel

    d = load(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("tok")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    lnp = F.round(F.log(F.col("cnt") * 1.0 / F.col("total")), 6).cast(
        "decimal(18,6)"
    )
    return (
        toks.join(F.broadcast(freq), "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(
                F.sum(lnp).cast("double") / F.count("*"), 6
            ).alias("avg_logprob"),
        )
    )


@query(
    "text_curriculum_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS_LOWER}) AS tok FROM documents
    ), freq AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq
    ), scored AS (
      SELECT t.doc_id,
             round(CAST(sum(CAST(round(ln(f.cnt * 1.0 / tot.total), 6)
                                 AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
               AS score
      FROM toks t JOIN freq f ON t.tok = f.tok, tot
      GROUP BY t.doc_id
    ), cuts AS (
      SELECT round(quantile_cont(score, 0.25), 6) AS c1,
             round(quantile_cont(score, 0.50), 6) AS c2,
             round(quantile_cont(score, 0.75), 6) AS c3
      FROM scored
    )
    SELECT s.doc_id, s.score,
           CAST(1 + (s.score > c.c1)::INT + (s.score > c.c2)::INT
                  + (s.score > c.c3)::INT AS INTEGER) AS bucket
    FROM scored s, cuts c
    """,
)
def text_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: quartile difficulty buckets over the unigram
    log-prob score (bucket 1 = hardest / rarest-token docs). The
    scale-correct shape — NOT a global NTILE sort (single reducer):
    cutoffs come from one exact-percentile aggregate (a 3-double row,
    broadcast back), and bucket assignment is a map-side comparison, so
    nothing ever globally sorts. Cutoffs and scores are both rounded to
    6 decimals before comparison, pinning the cross-engine boundary."""
    from pyspark import StorageLevel

    d = load(spark, "documents", sf_dir)
    # persist the exploded tokens (freq fit + scoring join) AND the
    # doc-sized scores (cutoff aggregate + bucket assignment): one
    # documents scan, one token-pipeline evaluation.
    toks = d.select(
        "doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("tok")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    lnp = F.round(F.log(F.col("cnt") * 1.0 / F.col("total")), 6).cast(
        "decimal(18,6)"
    )
    scored = (
        toks.join(F.broadcast(freq), "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(lnp).cast("double") / F.count("*"), 6).alias("score")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cuts = scored.agg(
        F.round(F.expr("percentile(score, 0.25)"), 6).alias("c1"),
        F.round(F.expr("percentile(score, 0.50)"), 6).alias("c2"),
        F.round(F.expr("percentile(score, 0.75)"), 6).alias("c3"),
    )
    return scored.join(F.broadcast(cuts)).select(
        "doc_id",
        "score",
        (
            F.lit(1)
            + (F.col("score") > F.col("c1")).cast("int")
            + (F.col("score") > F.col("c2")).cast("int")
            + (F.col("score") > F.col("c3")).cast("int")
        ).alias("bucket"),
    )


@query(
    "corpus_refinery_pipeline",
    """
    WITH base AS (
      SELECT doc_id, lang, source, text,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != '')) AS n_tok,
             length(text) AS n_chr,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
               / length(text) AS pr
      FROM documents WHERE length(text) > 0
    ), q AS (
      SELECT doc_id, lang, source, text, n_tok,
             CAST((CASE WHEN n_tok >= 5 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN pr < 0.2 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN n_chr * 1.0 / n_tok BETWEEN 2.0 AND 12.0
                       THEN 0.3 ELSE 0.0 END) AS DOUBLE) AS quality
      FROM base WHERE n_tok > 0
    ), kept AS (
      SELECT * FROM (
        SELECT doc_id, lang, source, text, n_tok,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM q WHERE quality >= 0.7
      ) WHERE rn = 1 AND source <> 'src0'
    ), toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS t
      FROM kept
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(t) - 2, 1) + 1)])
               AS shingles
      FROM toks
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), bench AS (
      SELECT DISTINCT
             array_to_string(
               (list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x != ''))[i:i+2], ' ') AS shingle
      FROM documents, LATERAL (
        SELECT unnest(range(1,
          greatest(len(list_filter(string_split_regex(trim(lower(text)),
                                                      '\\s+'),
                                   x -> x != '')) - 2, 1) + 1)) AS i)
      WHERE source = 'src0' AND length(text) > 0
    ), contam AS (
      SELECT e.doc_id,
             sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
               * 1.0 / count(*) AS c
      FROM ex e LEFT JOIN bench b ON e.shingle = b.shingle
      GROUP BY e.doc_id
    ), clean AS (
      SELECT k.* FROM kept k JOIN contam c ON k.doc_id = c.doc_id
      WHERE c.c <= 0.2
    ), assigned AS (
      SELECT lang, n_tok,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM clean
    )
    SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY split, lang
    """,
)
def corpus_refinery_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL training-data refinery as one composed plan: quality gate →
    exact-dedup survivor → benchmark decontamination (3-shingle overlap vs
    the held-out 'src0' corpus, drop > 0.2) → deterministic md5 train/val/
    test split → per-(split, lang) token accounting. Every stage is an
    operator proven separately; composed, the whole refinery is still a
    handful of shuffles (dedup window, shingle groupBy, report aggregate) —
    the benchmark shingle set stays broadcast-sized, and split assignment
    is a map-side pure function of doc_id."""
    d = load(spark, "documents", sf_dir).filter(F.length("text") > 0)
    q = d.filter(tx.token_count("text") > 0).select(
        "doc_id",
        "lang",
        "source",
        "text",
        tx.token_count("text").alias("n_tok"),
        tx.quality_score("text").alias("quality"),
    )
    # Hash-first dedup window key (comparator decides on 8 bytes, touches
    # the full document only on hash ties; text in the key guards collisions).
    w = Window.partitionBy(F.xxhash64("text"), F.col("text")).orderBy("doc_id")
    from pyspark import StorageLevel

    # two consumers (shingle explode + the final decontamination join) and
    # the most expensive column work in the pipeline (regex token/quality
    # scoring + the dedup window) sits beneath it — persist so it runs once
    kept = (
        q.filter(F.col("quality") >= 0.7)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("source") != "src0"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ex = kept.select(
        "doc_id",
        F.explode(F.array_distinct(tx.shingles("text", k=3))).alias("shingle"),
    )
    bench = (
        d.filter(F.col("source") == "src0")
        .select(
            F.explode(F.array_distinct(tx.shingles("text", k=3))).alias(
                "shingle"
            )
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    contam = (
        ex.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.coalesce("hit", F.lit(0))) * 1.0 / F.count("*")
            ).alias("c")
        )
    )
    clean = kept.join(contam, "doc_id").filter(F.col("c") <= 0.2)
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    return (
        clean.select("lang", "n_tok", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


@query(
    "sample_negative_pairs",
    """
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    anchors AS (
      SELECT d.doc_id, d.lang, j,
             ((d.doc_id % 100003) * 31 + j * 7 + d.doc_id) % n.n_docs
               AS partner_id
      FROM documents d
      CROSS JOIN n
      CROSS JOIN (VALUES (1), (2), (3)) AS js(j)
    )
    SELECT a.doc_id, CAST(a.j AS INTEGER) AS neg_rank, a.partner_id,
           a.lang AS anchor_lang, p.lang AS partner_lang,
           CAST(a.lang <> p.lang AS BOOLEAN) AS cross_lang
    FROM anchors a
    JOIN documents p ON p.doc_id = a.partner_id
    WHERE a.partner_id <> a.doc_id
    """,
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair sampling for contrastive training data:
    k=3 pseudo-random partners per anchor via a fixed mixing function of
    (doc_id, j) mod corpus size — reproducible across runs/partitions/
    engines (no rand()), which is what makes the training set auditable and
    backfill-stable, same philosophy as the md5 samplers. The corpus size
    rides in the plan as a broadcast 1-row aggregate; partner payloads come
    from ONE equi-join on the derived key (at 100 TB this is a shuffle join
    on uniformly-spread synthetic keys — no hotspots by construction).
    Self-pairs are excluded; the modular arithmetic stays below 2^53 so
    Spark and DuckDB agree exactly."""
    d = load(spark, "documents", sf_dir)
    nrow = d.agg(F.count("*").alias("n_docs"))
    anchors = (
        d.select("doc_id", "lang")
        .crossJoin(F.broadcast(nrow))
        .select(
            "doc_id",
            "lang",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            "n_docs",
        )
        .withColumn(
            "partner_id",
            ((F.col("doc_id") % 100003) * 31 + F.col("j") * 7 + F.col("doc_id"))
            % F.col("n_docs"),
        )
        .filter(F.col("partner_id") != F.col("doc_id"))
    )
    p = d.select(
        F.col("doc_id").alias("partner_id"), F.col("lang").alias("partner_lang")
    )
    return anchors.join(p, "partner_id").select(
        "doc_id",
        F.col("j").cast("int").alias("neg_rank"),
        "partner_id",
        F.col("lang").alias("anchor_lang"),
        "partner_lang",
        (F.col("lang") != F.col("partner_lang")).alias("cross_lang"),
    )


@query(
    "sample_kfold_assign",
    """
    WITH f AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5
               AS fold,
             n_chars, lang
      FROM documents
    )
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 2) AS avg_n_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM f GROUP BY fold
    """,
)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    md5(doc_id) mod 5 — a pure function of the row key, so folds are
    identical across engines, reruns, repartitions, and incremental loads
    (the same contract as `sample_train_val_test_split`, with the per-fold
    balance report CV pipelines sanity-check before training). One scan,
    one aggregate."""
    d = load(spark, "documents", sf_dir)
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 5
    ).alias("fold")
    return (
        d.select(fold, "n_chars", "lang")
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_n_chars"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
        )
    )


@query(
    "text_feature_hashing",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                x -> x != '')) AS t
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(t), 1, 8))::BIGINT % 1024 AS bucket,
             CASE WHEN ('0x' || substr(md5(t), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM toks
    ), vec AS (
      SELECT doc_id, bucket, sum(sgn) AS w FROM hashed GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE w != 0) AS BIGINT) AS n_active,
           round(sqrt(sum(CAST(w * w AS DOUBLE))), 6) AS l2_norm
    FROM vec GROUP BY doc_id
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (signed feature hashing, Weinberger et al. 2009):
    token → bucket md5(t) mod 1024 with a ±1 sign from an independent hash
    nibble, summed per (doc, bucket) — fixed-width sparse features with no
    vocabulary build, the streaming-safe featurizer for classifier-based
    quality filtering at corpus scale. Reported per doc: active dimensions
    and the L2 norm of the hashed vector (both hash-checkable; portable md5
    on both engines).

    One scan: explode → two hash-agg levels keyed by doc_id, so the second
    level is map-side (already co-partitioned)."""
    d = load(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("t"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("bigint") % 1024
    ).alias("bucket")
    sgn = (
        F.when(
            F.conv(F.substring(F.md5(F.col("t")), 9, 1), 16, 10).cast("bigint") % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn")
    )
    vec = (
        toks.select("doc_id", bucket, sgn)
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("w"))
    )
    return vec.groupBy("doc_id").agg(
        F.sum((F.col("w") != 0).cast("long")).cast("bigint").alias("n_active"),
        F.round(F.sqrt(F.sum((F.col("w") * F.col("w")).cast("double"))), 6).alias(
            "l2_norm"
        ),
    )


@query(
    "sample_per_source_cap",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM ranked GROUP BY source
    """,
)
def sample_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the CommonCrawl-style anti-dominance rule:
    no source contributes more than N docs), with survivors drawn by
    md5(doc_id) order — deterministic under repartitioning and incremental
    recrawls, unlike any rand()-based cap. Reports per source the
    before/after counts and surviving character mass. One shuffle on the
    source key; per-group rank, never a global sort."""
    d = load(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum((F.col("rn") <= 15).cast("long")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("rn") <= 15, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
    )


# mlprep_quality_classifier is registered AFTER the Newton-twin helpers
# below — its oracle SQL is generated from the same shared Cramer
# expression tree (see _irls_oracle_sql).


# ---------------------------------------------------------------------------
# One-Newton-step logistic twin (VERDICT r5 #5): hash-checked evidence for
# the IRLS family. The full 6-step fit (mlprep_quality_classifier) has no
# SQL form; ONE Newton step from beta=0 does — beta = (X'WX + lambda*I)^-1
# X'(y - 1/2) with W = I/4 — and its sufficient statistics are sums, which
# both engines can accumulate EXACTLY in DECIMAL when the features are
# integer-derived. The 4x4 Cramer solve below is generated from a single
# Python expression tree rendered once as Spark Columns and once as SQL
# text, so the float op ORDER is identical by construction; with exact,
# <2^53-mantissa inputs the coefficients are bit-identical cross-engine.
# ---------------------------------------------------------------------------


class _SqlExpr:
    """Minimal arithmetic-expression wrapper rendering to SQL text, so the
    same det3/det4 Python code builds both engines' formulas."""

    __slots__ = ("s",)

    def __init__(self, s: str):
        self.s = s

    @staticmethod
    def _wrap(v):
        return v if isinstance(v, _SqlExpr) else _SqlExpr(repr(float(v)))

    def __mul__(self, o):
        return _SqlExpr(f"({self.s} * {self._wrap(o).s})")

    def __rmul__(self, o):
        return _SqlExpr(f"({self._wrap(o).s} * {self.s})")

    def __add__(self, o):
        return _SqlExpr(f"({self.s} + {self._wrap(o).s})")

    def __sub__(self, o):
        return _SqlExpr(f"({self.s} - {self._wrap(o).s})")

    def __truediv__(self, o):
        return _SqlExpr(f"({self.s} / {self._wrap(o).s})")


def _det3(m):
    return (
        m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
        - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
        + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
    )


def _det4_signed(m):
    t0 = m[0][0] * _det3([[m[r][c] for c in (1, 2, 3)] for r in (1, 2, 3)])
    t1 = m[0][1] * _det3([[m[r][c] for c in (0, 2, 3)] for r in (1, 2, 3)])
    t2 = m[0][2] * _det3([[m[r][c] for c in (0, 1, 3)] for r in (1, 2, 3)])
    t3 = m[0][3] * _det3([[m[r][c] for c in (0, 1, 2)] for r in (1, 2, 3)])
    return t0 - t1 + t2 - t3


_RIDGE = 1e-6


def _newton_betas(s):
    """[b0..b3] from the 15 sufficient statistics in dict ``s`` (objects
    supporting * + - /: Spark Columns or _SqlExpr). One Newton step from
    beta=0: A = X'X/4 + ridge*I, b = X'(y - 1/2); Cramer's rule."""
    q, h, r = 0.25, 0.5, _RIDGE
    a = [
        [q * s["n"] + r, q * s["s1"], q * s["s2"], q * s["s3"]],
        [q * s["s1"], q * s["s11"] + r, q * s["s12"], q * s["s13"]],
        [q * s["s2"], q * s["s12"], q * s["s22"] + r, q * s["s23"]],
        [q * s["s3"], q * s["s13"], q * s["s23"], q * s["s33"] + r],
    ]
    b = [
        s["sy"] - h * s["n"],
        s["s1y"] - h * s["s1"],
        s["s2y"] - h * s["s2"],
        s["s3y"] - h * s["s3"],
    ]
    det = _det4_signed(a)
    betas = []
    for i in range(4):
        ai = [[b[r_] if c == i else a[r_][c] for c in range(4)] for r_ in range(4)]
        betas.append(_det4_signed(ai) / det)
    return betas


_NEWTON_STAT_KEYS = (
    "n", "s1", "s2", "s3", "s11", "s12", "s13", "s22", "s23", "s33",
    "sy", "s1y", "s2y", "s3y",
)


def _newton_oracle_sql() -> str:
    stats = {k: _SqlExpr(k) for k in _NEWTON_STAT_KEYS}
    betas = _newton_betas(stats)
    sel = ",\n           ".join(
        f"round({b.s}, 6) AS b{i}" for i, b in enumerate(betas)
    )
    return f"""
    WITH f AS (
      SELECT CAST(n_chars AS DECIMAL(12,3)) * CAST('0.001' AS DECIMAL(4,3))
               AS d1,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x != '')) AS DECIMAL(12,3))
               * CAST('0.01' AS DECIMAL(4,3)) AS d2,
             CAST(length(text)
                  - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                  AS DECIMAL(12,3)) * CAST('0.1' AS DECIMAL(4,3)) AS d3,
             CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DECIMAL(2,0))
               AS y
      FROM documents
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(round(sum(d1), 6) AS DOUBLE) AS s1,
             CAST(round(sum(d2), 6) AS DOUBLE) AS s2,
             CAST(round(sum(d3), 6) AS DOUBLE) AS s3,
             CAST(round(sum(d1 * d1), 6) AS DOUBLE) AS s11,
             CAST(round(sum(d1 * d2), 6) AS DOUBLE) AS s12,
             CAST(round(sum(d1 * d3), 6) AS DOUBLE) AS s13,
             CAST(round(sum(d2 * d2), 6) AS DOUBLE) AS s22,
             CAST(round(sum(d2 * d3), 6) AS DOUBLE) AS s23,
             CAST(round(sum(d3 * d3), 6) AS DOUBLE) AS s33,
             CAST(round(sum(y), 6) AS DOUBLE) AS sy,
             CAST(round(sum(d1 * y), 6) AS DOUBLE) AS s1y,
             CAST(round(sum(d2 * y), 6) AS DOUBLE) AS s2y,
             CAST(round(sum(d3 * y), 6) AS DOUBLE) AS s3y
      FROM f
    )
    SELECT {sel}
    FROM s
    """


@query("mlprep_logreg_newton_step", _newton_oracle_sql())
def mlprep_logreg_newton_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Newton-step logistic coefficients on integer-derived document
    features (scaled n_chars / token count / punctuation count; label =
    is-English) — the hash-checked twin of the IRLS family
    (mlprep_quality_classifier runs the same step 6 times iteratively).

    Determinism by construction: features are integers times exact decimal
    scale factors, so every sufficient statistic is an exact DECIMAL sum
    (order-independent); the sums round to scale 6 — mantissas < 2^53, so
    the decimal->double cast is exact on both engines; and the Cramer
    solve is ONE shared Python expression tree rendered as Spark Columns
    here and as SQL text in the oracle, giving identical float op order.
    tests/test_logreg.py pins this step against one iteration of an
    independent numpy IRLS on the same features."""
    d = load(spark, "documents", sf_dir)
    scale = lambda c, k: c.cast("decimal(12,3)") * F.lit(k).cast("decimal(4,3)")  # noqa: E731
    n_tok = tx.token_count("text").cast("decimal(12,3)")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
    ).cast("decimal(12,3)")
    f = d.select(
        scale(F.col("n_chars"), "0.001").alias("d1"),
        (n_tok * F.lit("0.01").cast("decimal(4,3)")).alias("d2"),
        (n_punct * F.lit("0.1").cast("decimal(4,3)")).alias("d3"),
        (F.col("lang") == "en").cast("int").cast("decimal(2,0)").alias("y"),
    )

    def stat(c):
        return F.round(F.sum(c), 6).cast("double")

    s = f.agg(
        F.count("*").cast("double").alias("n"),
        stat(F.col("d1")).alias("s1"),
        stat(F.col("d2")).alias("s2"),
        stat(F.col("d3")).alias("s3"),
        stat(F.col("d1") * F.col("d1")).alias("s11"),
        stat(F.col("d1") * F.col("d2")).alias("s12"),
        stat(F.col("d1") * F.col("d3")).alias("s13"),
        stat(F.col("d2") * F.col("d2")).alias("s22"),
        stat(F.col("d2") * F.col("d3")).alias("s23"),
        stat(F.col("d3") * F.col("d3")).alias("s33"),
        stat(F.col("y")).alias("sy"),
        stat(F.col("d1") * F.col("y")).alias("s1y"),
        stat(F.col("d2") * F.col("y")).alias("s2y"),
        stat(F.col("d3") * F.col("y")).alias("s3y"),
    )
    stats = {k: F.col(k) for k in _NEWTON_STAT_KEYS}
    betas = _newton_betas(stats)
    return s.select(
        *[F.round(b, 6).alias(f"b{i}") for i, b in enumerate(betas)]
    )


# ---------------------------------------------------------------------------
# Full expression-IRLS quality classifier (VERDICT r6 #2): the SHIPPED
# 6-step fit, hash-checked. The Newton twin proved one step from beta=0
# (constant W = I/4); the full fit needs data-dependent weights each step,
# which is deterministic cross-engine iff every per-row quantity is either
# an exact DECIMAL or a double produced by one shared-op-order expression:
#
#   d1..d3   exact DECIMAL(8,3) integer-derived features (as the twin);
#   eta      exact DECIMAL dot product of DECIMAL(20,6) betas and features;
#   p        = round(sigmoid(clamp(eta_double)), 6) -> DECIMAL(8,6): the one
#            libm call per row, its ulp spread absorbed by the 6-decimal
#            round (divergence needs exp() to land within ~1e-10 of a round
#            boundary — measure-zero for sigmoid outputs);
#   w, y-p   exact DECIMALs from p;
#   X'WX,X'r exact DECIMAL sums (order-independent!), round(6)->double
#            (<2^53 mantissa: cast exact);
#   delta    Cramer det4 ratio — ONE Python expression tree rendered as SQL
#            text for DuckDB and evaluated with Python floats on the driver
#            (identical IEEE op order by construction);
#   beta'    = round(beta + delta, 6) -> DECIMAL(20,6) re-enters exactly.
#
# Spark-first shape: each of the 6 steps is ONE distributed hash aggregate
# over the column-pruned feature projection (map-side combine; shuffle
# carries O(partitions x 14) decimals, independent of N) and an O(1)
# driver solve — the sufficient-statistics IRLS shape, with the numeric
# kernel as codegen'd decimal expressions. The final sigmoid
# scoring pass rides the same cached projection.
# ---------------------------------------------------------------------------

_IRLS_ITERS = 6
_IRLS_STAT_KEYS = (
    "sww", "sw1", "sw2", "sw3", "sw11", "sw12", "sw13", "sw22", "sw23",
    "sw33", "g0", "g1", "g2", "g3",
)


def _cramer_delta(s, ridge=_RIDGE):
    """(det, [num0..num3]) for delta = (X'WX + ridge*I)^-1 X'(y-p), from
    weighted sufficient statistics. ``s`` values may be Spark Columns,
    _SqlExpr, or plain floats — the SAME tree gives all three renderings
    identical float op order."""
    r = ridge
    a = [
        [s["sww"] + r, s["sw1"], s["sw2"], s["sw3"]],
        [s["sw1"], s["sw11"] + r, s["sw12"], s["sw13"]],
        [s["sw2"], s["sw12"], s["sw22"] + r, s["sw23"]],
        [s["sw3"], s["sw13"], s["sw23"], s["sw33"] + r],
    ]
    b = [s["g0"], s["g1"], s["g2"], s["g3"]]
    det = _det4_signed(a)
    nums = [
        _det4_signed(
            [[b[row] if c == i else a[row][c] for c in range(4)] for row in range(4)]
        )
        for i in range(4)
    ]
    return det, nums


_IRLS_F_SQL = """
    f AS (
      SELECT lang,
             CAST(CAST(n_chars AS DECIMAL(12,3))
                  * CAST('0.001' AS DECIMAL(4,3)) AS DECIMAL(8,3)) AS d1,
             CAST(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       x -> x != '')) AS DECIMAL(12,3))
                  * CAST('0.01' AS DECIMAL(4,3)) AS DECIMAL(8,3)) AS d2,
             CAST(CAST(length(text)
                       - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                       AS DECIMAL(12,3))
                  * CAST('0.1' AS DECIMAL(4,3)) AS DECIMAL(8,3)) AS d3,
             CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DECIMAL(2,0)) AS y
      FROM documents
    )"""


def _sql_p6(beta_src: str) -> str:
    """The per-row rounded sigmoid, DuckDB rendering (beta columns come
    from the cross-joined 1-row CTE ``beta_src``)."""
    eta = "(b0 + ((b1 * d1) + ((b2 * d2) + (b3 * d3))))"
    clamped = f"LEAST(GREATEST(CAST({eta} AS DOUBLE), -30.0), 30.0)"
    return (
        f"CAST(round(1.0 / (1.0 + exp(-({clamped}))), 6) AS DECIMAL(8,6))"
    )


def _irls_oracle_sql(iters: int = _IRLS_ITERS) -> str:
    stats = {k: _SqlExpr(k) for k in _IRLS_STAT_KEYS}
    det, nums = _cramer_delta(stats)
    beta_sel = ",\n             ".join(
        f"CAST(round(CAST(b{i} AS DOUBLE) + ({nums[i].s}) / ({det.s}), 6)"
        f" AS DECIMAL(20,6)) AS b{i}"
        for i in range(4)
    )
    parts = [
        "WITH" + _IRLS_F_SQL + """,
    bet0 AS (
      SELECT CAST('0.000000' AS DECIMAL(20,6)) AS b0,
             CAST('0.000000' AS DECIMAL(20,6)) AS b1,
             CAST('0.000000' AS DECIMAL(20,6)) AS b2,
             CAST('0.000000' AS DECIMAL(20,6)) AS b3
    )""",
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
    x{t} AS (
      SELECT d1, d2, d3, y, {_sql_p6(f"bet{t - 1}")} AS p
      FROM f CROSS JOIN bet{t - 1}
    ), w{t} AS (
      SELECT d1, d2, d3,
             CAST((1 - p) * p AS DECIMAL(14,12)) AS w,
             y - p AS r
      FROM x{t}
    ), s{t} AS (
      SELECT CAST(round(sum(w), 6) AS DOUBLE) AS sww,
             CAST(round(sum(w * d1), 6) AS DOUBLE) AS sw1,
             CAST(round(sum(w * d2), 6) AS DOUBLE) AS sw2,
             CAST(round(sum(w * d3), 6) AS DOUBLE) AS sw3,
             CAST(round(sum((w * d1) * d1), 6) AS DOUBLE) AS sw11,
             CAST(round(sum((w * d1) * d2), 6) AS DOUBLE) AS sw12,
             CAST(round(sum((w * d1) * d3), 6) AS DOUBLE) AS sw13,
             CAST(round(sum((w * d2) * d2), 6) AS DOUBLE) AS sw22,
             CAST(round(sum((w * d2) * d3), 6) AS DOUBLE) AS sw23,
             CAST(round(sum((w * d3) * d3), 6) AS DOUBLE) AS sw33,
             CAST(round(sum(r), 6) AS DOUBLE) AS g0,
             CAST(round(sum(d1 * r), 6) AS DOUBLE) AS g1,
             CAST(round(sum(d2 * r), 6) AS DOUBLE) AS g2,
             CAST(round(sum(d3 * r), 6) AS DOUBLE) AS g3
      FROM w{t}
    ), bet{t} AS (
      SELECT {beta_sel}
      FROM s{t} CROSS JOIN bet{t - 1}
    )""")
    parts.append(f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p) AS DOUBLE) AS p_en_sum
    FROM (
      SELECT lang, {_sql_p6(f"bet{iters}")} AS p
      FROM f CROSS JOIN bet{iters}
    ) GROUP BY lang
    """)
    return "".join(parts)


def _irls_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of the f CTE: exact DECIMAL(8,3) features."""
    d = load(spark, "documents", sf_dir)
    mil = F.lit("0.001").cast("decimal(4,3)")
    cent = F.lit("0.01").cast("decimal(4,3)")
    tenth = F.lit("0.1").cast("decimal(4,3)")
    n_tok = tx.token_count("text").cast("decimal(12,3)")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
    ).cast("decimal(12,3)")
    return d.select(
        "lang",
        (F.col("n_chars").cast("decimal(12,3)") * mil)
        .cast("decimal(8,3)")
        .alias("d1"),
        (n_tok * cent).cast("decimal(8,3)").alias("d2"),
        (n_punct * tenth).cast("decimal(8,3)").alias("d3"),
        (F.col("lang") == "en").cast("int").cast("decimal(2,0)").alias("y"),
    )


def _p6_col(beta) -> "F.Column":
    """Spark rendering of the per-row rounded sigmoid for DECIMAL beta
    literals (same op order as _sql_p6)."""
    b = [F.lit(str(x)).cast("decimal(20,6)") for x in beta]
    eta = b[0] + (
        (b[1] * F.col("d1")) + ((b[2] * F.col("d2")) + (b[3] * F.col("d3")))
    )
    clamped = F.least(
        F.greatest(eta.cast("double"), F.lit(-30.0)), F.lit(30.0)
    )
    return F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-clamped)), 6
    ).cast("decimal(8,6)")


def _irls6_fit(feats: DataFrame, iters: int = _IRLS_ITERS) -> list:
    """T deterministic Newton steps; returns DECIMAL-scale-6 betas (as
    Decimal). Each step: one distributed exact-decimal aggregate (14
    scalars cross the shuffle) + an O(1) driver Cramer solve evaluated
    with Python floats over the SAME expression tree the oracle renders
    as SQL — identical IEEE op order, bit-identical coefficients."""
    from decimal import ROUND_HALF_UP, Decimal

    beta = [Decimal("0.000000")] * 4
    six = Decimal("0.000001")
    for _ in range(iters):
        w = (F.lit(1) - F.col("_p")) * F.col("_p")
        x = feats.withColumn("_p", _p6_col(beta)).select(
            "d1",
            "d2",
            "d3",
            w.cast("decimal(14,12)").alias("w"),
            (F.col("y") - F.col("_p")).alias("r"),
        )

        def s6(c, alias):
            return F.round(F.sum(c), 6).cast("double").alias(alias)

        row = x.agg(
            s6(F.col("w"), "sww"),
            s6(F.col("w") * F.col("d1"), "sw1"),
            s6(F.col("w") * F.col("d2"), "sw2"),
            s6(F.col("w") * F.col("d3"), "sw3"),
            s6((F.col("w") * F.col("d1")) * F.col("d1"), "sw11"),
            s6((F.col("w") * F.col("d1")) * F.col("d2"), "sw12"),
            s6((F.col("w") * F.col("d1")) * F.col("d3"), "sw13"),
            s6((F.col("w") * F.col("d2")) * F.col("d2"), "sw22"),
            s6((F.col("w") * F.col("d2")) * F.col("d3"), "sw23"),
            s6((F.col("w") * F.col("d3")) * F.col("d3"), "sw33"),
            s6(F.col("r"), "g0"),
            s6(F.col("d1") * F.col("r"), "g1"),
            s6(F.col("d2") * F.col("r"), "g2"),
            s6(F.col("d3") * F.col("r"), "g3"),
        ).collect()[0]
        s = {k: float(row[k]) for k in _IRLS_STAT_KEYS}
        det, nums = _cramer_delta(s)
        raws = [float(b) + n / det for b, n in zip(beta, nums)]
        for raw in raws:
            # Midpoint-distance assertion (ADVICE r7): the per-step
            # quantize(HALF_UP) here and DuckDB's round(DOUBLE, 6)
            # (scaled-multiply) disagree only within ~an ulp of a 1e-6
            # midpoint — and because each beta re-enters the next Newton
            # step, a single disagreement diverges the whole remaining
            # trajectory, not one output cell. The measure-zero argument
            # says this never happens; make it fail LOUDLY instead of
            # silently diverging if data ever lands on the measure-zero
            # set (within 1e-9 of a midpoint).
            if abs(abs(raw * 1e6 - int(raw * 1e6)) - 0.5) < 1e-3:
                raise AssertionError(
                    f"IRLS beta update {raw!r} within 1e-9 of a 1e-6 "
                    "rounding midpoint: cross-engine HALF_UP vs "
                    "scaled-multiply rounding may diverge the trajectory"
                )
        beta = [
            Decimal(repr(raw)).quantize(six, ROUND_HALF_UP) for raw in raws
        ]
    return beta


@query("mlprep_quality_classifier", _irls_oracle_sql())
def mlprep_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering, the FineWeb/DCLM corpus recipe:
    fit a logistic model (is-English as the stand-in label) on cheap
    integer-derived text features, then score every document with a pure
    codegen'd sigmoid expression. The fit is 6 expression-IRLS Newton
    steps — each ONE distributed exact-DECIMAL aggregate (14 scalars per
    partition cross the shuffle, independent of N) and an O(1) driver
    Cramer solve over the shared expression tree the oracle renders as
    SQL. Converted from rows-only to hash-checked (VERDICT r6 #2): every
    per-row quantity is an exact decimal or a 6-rounded shared-op-order
    double, so the 6-step trajectory is bit-identical cross-engine (see
    the block comment above; tests/test_logreg.py pins the coefficients
    against an unrounded numpy IRLS on the same features).

    Output: per-language calibration (row count, summed predicted P(en))
    — the separation report a filtering threshold is chosen from."""
    from pyspark import StorageLevel

    # Persist the 4-column DECIMAL feats frame: the regex strip +
    # tokenization over `text` is the expensive part, and without the
    # persist each of the 6 Newton steps plus the scoring pass re-scans
    # the corpus — 7 full text scans where 1 + 6 cheap columnar passes do
    # (VERDICT r7 #3; the 1.78 s -> 2.92 s extended-bench regression).
    # Not unpersisted here: the returned frame is lazy and the scoring pass
    # must still read the cache when the caller collects it. Same
    # persist-and-let-LRU-evict lifecycle as the other persists in this file.
    feats = _irls_feats(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    beta = _irls6_fit(feats)
    return (
        feats.withColumn("_p", _p6_col(beta))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_p").cast("double").alias("p_en_sum"),
        )
    )
