"""Robust statistics and experiment/data-quality guardrails.

Operators a production data platform runs continuously over event and
document streams: MAD-based robust outlier detection (the metric-alert
primitive that survives heavy tails where z-scores saturate), A/B
sample-ratio-mismatch detection (the first guardrail of any experiment
pipeline), vocabulary-coverage curves (tokenizer vocab-size planning),
Poisson-bootstrap confidence intervals (the resampling scheme that
actually runs at 100 TB — per-row independent weights, no global
shuffle of resample indices), and type-token/hapax lexical-diversity
profiling.

Exactness discipline (same as the rest of the registry): integer
arithmetic wherever a comparison could flip between engines (SRM flag,
coverage boundary, LCG weights are ALL pure BIGINT), and 4-6 dp
rounding before any cross-engine float aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import local_df, register
from datalake_project_spark.queries.events import _funnel_stages, _funnel_users
from datalake_project_spark.queries.streaming import _ROLLING_MEDIAN_ORACLE

_SQL_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


@register(
    "q_events_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS med
        FROM events WHERE value IS NOT NULL GROUP BY event_type),
    mad AS (
        SELECT e.event_type,
               ROUND(quantile_cont(ABS(e.value - med.med), 0.5), 4) AS mad
        FROM events e JOIN med USING (event_type)
        WHERE e.value IS NOT NULL
        GROUP BY e.event_type, med.med),
    flagged AS (
        SELECT e.event_type, med.med, mad.mad,
               CASE WHEN ABS(e.value - med.med) > 4.4478 * mad.mad
                    THEN 1 ELSE 0 END AS is_out
        FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
        WHERE e.value IS NOT NULL)
    SELECT event_type, COUNT(*) AS n, MAX(med) AS med, MAX(mad) AS mad,
           CAST(SUM(is_out) AS BIGINT) AS n_outliers,
           ROUND(SUM(is_out)::DOUBLE / COUNT(*), 6) AS outlier_rate
    FROM flagged GROUP BY event_type
    """,
    doc="MAD-based robust outlier detection per event type: median and "
        "median-absolute-deviation (both EXACT interpolated medians), "
        "flag |x - med| > 3 * 1.4826 * MAD (the normal-consistency "
        "robust z-score) — the alerting primitive that survives the "
        "heavy-tailed metrics where mean/stddev z-scores saturate "
        "(q_events_anomaly_zscore is the fragile twin). Median and MAD "
        "are rounded to 4 dp BEFORE the threshold compare so both "
        "engines run the identical IEEE comparison on identical "
        "inputs. Three grouped scans (median, MAD, flag) with the "
        "tiny per-type stats broadcast back — no global sort; at "
        "100 TB each pass is one shuffle on event_type (or an "
        "approx-percentile first pass with this exact form as the "
        "audit path).",
)
def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select("event_type", "value"))
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("med"))
    with_med = e.join(F.broadcast(med), "event_type")
    mad = (with_med
           .groupBy("event_type")
           .agg(F.round(F.expr("percentile(abs(value - med), 0.5)"), 4)
                .alias("mad")))
    flagged = (with_med.join(F.broadcast(mad), "event_type")
               .withColumn("is_out",
                           (F.abs(F.col("value") - F.col("med"))
                            > F.lit(4.4478) * F.col("mad")).cast("int")))
    return (flagged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("med").alias("med"),
                 F.max("mad").alias("mad"),
                 F.sum("is_out").cast("long").alias("n_outliers"),
                 F.round(F.sum("is_out").cast("double")
                         / F.count(F.lit(1)), 6).alias("outlier_rate")))


@register(
    "q_events_ab_srm",
    oracle="""
    WITH u AS (
        SELECT event_type,
               COUNT(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END)
                   AS n_a,
               COUNT(DISTINCT CASE WHEN user_id % 2 = 1 THEN user_id END)
                   AS n_b
        FROM events GROUP BY event_type)
    SELECT event_type, n_a, n_b,
           ROUND((n_a - n_b) * (n_a - n_b) / (n_a + n_b)::DOUBLE, 6)
               AS chi2,
           CASE WHEN (n_a - n_b) * (n_a - n_b) * 10000000
                     > 38414588 * (n_a + n_b)
                THEN 1 ELSE 0 END AS srm_flag
    FROM u
    """,
    doc="Sample-ratio-mismatch guardrail per experiment surface (event "
        "type): unit = distinct user, arm = deterministic hash bucket "
        "(user_id parity stands in for the assignment hash), expected "
        "50/50; chi-squared GOF statistic vs the chi2(1) 95% critical "
        "value 3.8414588. SRM is the first validity check every "
        "experimentation platform runs before reading a metric. The "
        "flag is PURE INTEGER arithmetic ((na-nb)^2 * 1e7 > 38414588 * "
        "(na+nb)) so no float boundary can flip it between engines; "
        "chi2 itself is one exact integer ratio rounded once. One "
        "grouped distinct-count scan — at 100 TB this is a partial-agg "
        "shuffle on (event_type, user_id), no global state.",
)
def q_events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    u = e.groupBy("event_type").agg(
        F.countDistinct(
            F.when(F.col("user_id") % 2 == 0, F.col("user_id")))
        .alias("n_a"),
        F.countDistinct(
            F.when(F.col("user_id") % 2 == 1, F.col("user_id")))
        .alias("n_b"))
    d = F.col("n_a") - F.col("n_b")
    tot = F.col("n_a") + F.col("n_b")
    return u.select(
        "event_type", "n_a", "n_b",
        F.round((d * d / tot.cast("double")), 6).alias("chi2"),
        F.when(d * d * F.lit(10000000) > F.lit(38414588) * tot, 1)
        .otherwise(0).alias("srm_flag"))


@register(
    "q_text_vocab_coverage_sharded",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_SQL_TOKS}) AS word FROM documents),
    vocab AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY word),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
    ranked AS (
        SELECT word, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rnk,
               CAST(SUM(c) OVER (ORDER BY c DESC, word
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM vocab),
    thr AS (SELECT unnest([50, 80, 90, 95, 99]) AS threshold_pct)
    SELECT thr.threshold_pct,
           MIN(ranked.rnk) AS vocab_size,
           ROUND(MIN_BY(ranked.cum, ranked.rnk) * 100.0 / MAX(tot.t), 4)
               AS coverage_pct
    FROM ranked CROSS JOIN tot CROSS JOIN thr
    WHERE ranked.cum * 100 >= tot.t * thr.threshold_pct
    GROUP BY thr.threshold_pct
    """,
    doc="Vocabulary-coverage curve, SHARDED-WINDOW formulation — the "
        "100 TB twin of q_text_vocab_coverage (which ranks the vocab "
        "table via bounded O(V^2) self-joins, fine while V is small): "
        "the smallest top-k vocabulary (by corpus frequency, total "
        "order c DESC, word) covering 50/80/90/95/99% of token mass, "
        "the curve that decides a BPE/unigram vocab budget before "
        "training. At web-scale vocabularies (V in the hundreds of "
        "millions) the self-join rank is Sigma-V^2 and dies; this "
        "formulation is V log V. The ranked "
        "cumulative sum runs with the sharded-window discipline from "
        "q_abc_classification (frequency-magnitude shard via int "
        "bit-length — monotone in the DESC sort key — intra-shard "
        "window + broadcast cross-shard count/sum offsets), so there "
        "is NO single-partition window even though the order is "
        "global; the vocab table itself is bounded by distinct words, "
        "not corpus rows. Boundary compares are integer (cum*100 >= "
        "t*pct).",
)
def q_text_vocab_coverage_sharded(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    vocab = (d.select(F.explode(toks).alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    tot = vocab.agg(F.sum("c").alias("t"))
    # Shard = magnitude bucket of c (monotone DESC in c): every word in
    # a lower-numbered shard outranks every word in a higher one, and
    # ties share a shard because the shard is a function of the key.
    sharded = vocab.withColumn(
        "shard", (F.lit(63) - F.floor(F.log2(F.col("c") + 1))).cast("int"))
    w_in = (Window.partitionBy("shard").orderBy(F.desc("c"), "word")
            .rowsBetween(Window.unboundedPreceding, 0))
    intra = (sharded
             .withColumn("cum_intra", F.sum("c").over(w_in))
             .withColumn("rn_intra", F.row_number().over(
                 Window.partitionBy("shard").orderBy(F.desc("c"), "word"))))
    stot = sharded.groupBy("shard").agg(
        F.sum("c").alias("s_c"), F.count(F.lit(1)).alias("s_n"))
    below = (stot.alias("a")
             .join(F.broadcast(stot.alias("b")),
                   F.col("b.shard") < F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.coalesce(F.sum("b.s_c"), F.lit(0)).alias("off_c"),
                  F.coalesce(F.sum("b.s_n"), F.lit(0)).alias("off_n")))
    ranked = (intra.join(F.broadcast(below), "shard")
              .select("word", "c",
                      (F.col("off_n") + F.col("rn_intra")).alias("rnk"),
                      (F.col("off_c") + F.col("cum_intra")).alias("cum")))
    thr = local_df(spark, 
        [(50,), (80,), (90,), (95,), (99,)], "threshold_pct int")
    return (ranked.crossJoin(F.broadcast(tot))
            .join(F.broadcast(thr),
                  F.col("cum") * 100 >= F.col("t") * F.col("threshold_pct"))
            .groupBy("threshold_pct")
            .agg(F.min("rnk").alias("vocab_size"),
                 F.round(F.min_by("cum", "rnk") * 100.0 / F.max("t"), 4)
                 .alias("coverage_pct")))


@register(
    "q_stats_bootstrap_ci",
    oracle="""
    WITH reps AS (SELECT unnest(range(200)) AS b),
    w AS (
        SELECT d.source, d.n_chars, reps.b,
               (1103515245 * ((d.doc_id * 1000003 + reps.b) % 2147483648)
                + 12345) % 2147483648 AS r
        FROM documents d CROSS JOIN reps),
    pois AS (
        SELECT source, b,
               CASE WHEN r < 790015084  THEN 0
                    WHEN r < 1580030168 THEN 1
                    WHEN r < 1975037710 THEN 2
                    WHEN r < 2106706891 THEN 3
                    WHEN r < 2139624186 THEN 4
                    ELSE 5 END AS wt,
               n_chars
        FROM w),
    rep_means AS (
        SELECT source, b,
               ROUND(SUM(wt * n_chars)::DOUBLE / SUM(wt), 6) AS m
        FROM pois GROUP BY source, b HAVING SUM(wt) > 0),
    base AS (
        SELECT source, COUNT(*) AS n_docs,
               ROUND(AVG(n_chars), 4) AS mean_chars
        FROM documents GROUP BY source)
    SELECT base.source, base.n_docs, base.mean_chars,
           ROUND(quantile_cont(rep_means.m, 0.025), 4) AS ci_lo,
           ROUND(quantile_cont(rep_means.m, 0.975), 4) AS ci_hi
    FROM rep_means JOIN base USING (source)
    GROUP BY base.source, base.n_docs, base.mean_chars
    """,
    doc="Poisson-bootstrap 95% confidence interval for mean document "
        "length per source, B=200 replicates — the resampling scheme "
        "that runs at 100 TB: each (row, replicate) draws an "
        "INDEPENDENT Poisson(1) weight, so resampling is a stateless "
        "per-row expression (explode by 200) followed by one grouped "
        "aggregate — no global row indexing, no shuffle of resample "
        "assignments, unlike classical index-draw bootstrap. Weights "
        "come from a 31-bit LCG on (doc_id, replicate) mapped through "
        "the EXACT integer Poisson(1) CDF thresholds (790015084, ... = "
        "round(CDF * 2^31)) — pure BIGINT arithmetic, bit-identical in "
        "both engines. Replicate means are rounded to 6 dp before the "
        "percentile interpolation so the CI endpoints interpolate "
        "identical inputs.",
)
def q_stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    M = F.lit(2147483648)
    reps = (d.select("source", "doc_id", "n_chars",
                     F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b")))
    r = (F.lit(1103515245)
         * ((F.col("doc_id") * F.lit(1000003) + F.col("b")) % M)
         + F.lit(12345)) % M
    wt = (F.when(r < 790015084, 0).when(r < 1580030168, 1)
          .when(r < 1975037710, 2).when(r < 2106706891, 3)
          .when(r < 2139624186, 4).otherwise(5))
    rep_means = (reps.withColumn("wt", wt)
                 .groupBy("source", "b")
                 .agg(F.sum(F.col("wt") * F.col("n_chars")).alias("swx"),
                      F.sum("wt").alias("sw"))
                 .where(F.col("sw") > 0)
                 .select("source",
                         F.round(F.col("swx").cast("double") / F.col("sw"),
                                 6).alias("m")))
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"))
    ci = rep_means.groupBy("source").agg(
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"))
    return (base.join(ci, "source")
            .select("source", "n_docs", "mean_chars", "ci_lo", "ci_hi"))


@register(
    "q_text_ttr_hapax",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_SQL_TOKS}) AS word FROM documents),
    vc AS (SELECT source, word, COUNT(*) AS c FROM tok
           GROUP BY source, word)
    SELECT source,
           COUNT(*) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           ROUND(COUNT(*)::DOUBLE / SUM(c), 6) AS ttr,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS hapax_share
    FROM vc GROUP BY source
    """,
    doc="Lexical-diversity profile per source: type-token ratio and "
        "hapax-legomenon share (fraction of vocabulary seen exactly "
        "once) — the standard diversity/contamination signals for "
        "corpus cards (a source whose TTR collapses is template spam; "
        "a hapax share near 1 is OCR noise). Two-level aggregate: "
        "per-(source, word) counts then per-source reduction — both "
        "map-side-combinable shuffles keyed on bounded vocabulary, "
        "and the ratios are single exact integer divisions rounded "
        "once.",
)
def q_text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    vc = (d.select("source", F.explode(toks).alias("word"))
          .groupBy("source", "word").agg(F.count(F.lit(1)).alias("c")))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return (vc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_types"),
                 F.sum("c").cast("long").alias("n_tokens"),
                 hapax.cast("long").alias("n_hapax"),
                 F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6)
                 .alias("ttr"),
                 F.round(hapax.cast("double") / F.count(F.lit(1)), 6)
                 .alias("hapax_share")))


@register(
    "q_events_rolling_median",
    oracle=_ROLLING_MEDIAN_ORACLE,
    doc="Rolling 5-event median smoother per user (the robust twin of "
        "q_events_ewma): median over the trailing 5 events in (ts, "
        "event_id) order, restricted to FULL windows so the median of "
        "an odd count is an EXACT order statistic — the middle "
        "element, bit-identical in both engines, never an "
        "interpolation whose operation order could differ (partial "
        "even-count windows are where engines disagree at the ulp). "
        "Per-type aggregation sums the medians/deviations as integer "
        "ten-thousandths, so the means are summation-order "
        "independent. Windows are per-user partitions — thousands of "
        "independent partitions, no global sort; at 100 TB this is "
        "one shuffle on user_id and bounded per-row state, the same "
        "shape Structured Streaming's bounded-lateness reorder "
        "buffer would execute.",
)
def q_events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull()))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, 0))
    w5 = (e.select("event_type", "value",
                   F.expr("percentile(value, 0.5)").over(w).alias("med"),
                   F.count(F.lit(1)).over(w).alias("wn"))
          .where(F.col("wn") == 5)
          .select("event_type",
                  F.round(F.col("med") * 10000, 0).cast("long")
                  .alias("med_ten_k"),
                  F.round(F.abs(F.col("value") - F.col("med")) * 10000, 0)
                  .cast("long").alias("dev_ten_k")))
    n = F.count(F.lit(1))
    return (w5.groupBy("event_type")
            .agg(n.alias("n_windows"),
                 F.round(F.sum("med_ten_k").cast("double")
                         / (n * F.lit(10000.0)), 4).alias("avg_rolling_med"),
                 F.round(F.sum("dev_ten_k").cast("double")
                         / (n * F.lit(10000.0)), 4).alias("avg_abs_dev"),
                 F.round(F.max("dev_ten_k") / F.lit(10000.0), 4)
                 .alias("max_abs_dev")))


@register(
    "q_quality_gopher_rules",
    oracle="""
    WITH feat AS (
        SELECT source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
               string_split(text, chr(10)) AS lines,
               len(regexp_extract_all(text, '#')) +
               len(regexp_extract_all(text, '(\.\.\.|…)')) AS n_sym
        FROM documents),
    m AS (
        SELECT source,
               len(toks) AS n_words,
               COALESCE(list_sum(list_transform(toks, t -> len(t))), 0)
                   AS n_chars,
               len(list_filter(toks,
                   t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
               len(list_intersect(list_distinct(toks),
                   ['the','be','to','of','and','that','have','with']))
                   AS n_stop,
               len(lines) AS n_lines,
               len(list_filter(lines,
                   l -> regexp_matches(l, '^\s*[-*•]'))) AS n_bullet,
               len(list_filter(lines,
                   l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
                   AS n_ell_end,
               n_sym
        FROM feat),
    r AS (
        SELECT source,
               CASE WHEN n_words BETWEEN 50 AND 100000
                    THEN 0 ELSE 1 END AS f_words,
               CASE WHEN 3 * n_words <= n_chars
                         AND n_chars <= 10 * n_words
                    THEN 0 ELSE 1 END AS f_word_len,
               CASE WHEN 10 * n_sym <= n_words THEN 0 ELSE 1 END
                   AS f_symbol,
               CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 0 ELSE 1 END
                   AS f_bullet,
               CASE WHEN 10 * n_ell_end <= 3 * n_lines THEN 0 ELSE 1 END
                   AS f_ellipsis,
               CASE WHEN 5 * n_alpha >= 4 * n_words THEN 0 ELSE 1 END
                   AS f_alpha,
               CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END AS f_stop
        FROM m)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(f_words) AS BIGINT)    AS fail_word_count,
           CAST(SUM(f_word_len) AS BIGINT) AS fail_word_len,
           CAST(SUM(f_symbol) AS BIGINT)   AS fail_symbol_ratio,
           CAST(SUM(f_bullet) AS BIGINT)   AS fail_bullet_lines,
           CAST(SUM(f_ellipsis) AS BIGINT) AS fail_ellipsis_lines,
           CAST(SUM(f_alpha) AS BIGINT)    AS fail_alpha_words,
           CAST(SUM(f_stop) AS BIGINT)     AS fail_stopwords,
           CAST(SUM(CASE WHEN f_words + f_word_len + f_symbol + f_bullet
                              + f_ellipsis + f_alpha + f_stop = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           ROUND(SUM(CASE WHEN f_words + f_word_len + f_symbol + f_bullet
                               + f_ellipsis + f_alpha + f_stop = 0
                          THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
               AS pass_rate
    FROM r GROUP BY source
    """,
    doc="Gopher/MassiveText repetition-free quality-rule audit per "
        "source: the seven canonical document filters (word count in "
        "[50, 100k]; mean word length in [3, 10]; symbol-to-word "
        "ratio (# and ellipsis) <= 0.1; bullet-led lines <= 90%; "
        "ellipsis-ended lines <= 30%; >= 80% of words contain an "
        "alphabetic char; >= 2 distinct English stopwords) with "
        "per-rule failure counts AND the all-rules pass rate — the "
        "audit table a filtering pipeline publishes before dropping "
        "data (q_quality_ensemble scores; this names WHY each doc "
        "fails). Every rule is a PURE INTEGER comparison (ratio "
        "thresholds cross-multiplied: 10*n_sym <= n_words, 5*n_alpha "
        ">= 4*n_words, ...) so no float boundary exists anywhere; "
        "one stateless scan, one map-side-combinable aggregate on "
        "source. Ref behavior modeled on Rae et al. 2021 (Gopher) "
        "Table A1 filters.",
)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    m = d.select(
        "source",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        .alias("toks"),
        F.split("text", "\n").alias("lines"),
        (F.size(F.expr("regexp_extract_all(text, '#', 0)"))
         + F.size(F.expr(r"regexp_extract_all(text, '(\\.\\.\\.|…)', 0)")))
        .alias("n_sym"),
    ).select(
        "source", "n_sym",
        F.size("toks").alias("n_words"),
        F.coalesce(F.expr(
            "aggregate(transform(toks, t -> length(t)), 0L, (a, x) -> a + x)"
        ), F.lit(0)).alias("n_chars"),
        F.expr("size(filter(toks, t -> t rlike '[a-z]'))").alias("n_alpha"),
        F.size(F.array_intersect(
            F.array_distinct("toks"),
            F.array(*[F.lit(s) for s in
                      ("the", "be", "to", "of", "and", "that", "have",
                       "with")]))).alias("n_stop"),
        F.size("lines").alias("n_lines"),
        F.expr(r"size(filter(lines, l -> l rlike '^\\s*[-*•]'))")
        .alias("n_bullet"),
        F.expr(r"size(filter(lines, l -> l rlike '(\\.\\.\\.|…)\\s*$'))")
        .alias("n_ell_end"),
    )
    f_words = F.when(F.col("n_words").between(50, 100000), 0).otherwise(1)
    f_word_len = F.when((3 * F.col("n_words") <= F.col("n_chars"))
                        & (F.col("n_chars") <= 10 * F.col("n_words")),
                        0).otherwise(1)
    f_symbol = F.when(10 * F.col("n_sym") <= F.col("n_words"), 0).otherwise(1)
    f_bullet = F.when(10 * F.col("n_bullet") <= 9 * F.col("n_lines"),
                      0).otherwise(1)
    f_ellipsis = F.when(10 * F.col("n_ell_end") <= 3 * F.col("n_lines"),
                        0).otherwise(1)
    f_alpha = F.when(5 * F.col("n_alpha") >= 4 * F.col("n_words"),
                     0).otherwise(1)
    f_stop = F.when(F.col("n_stop") >= 2, 0).otherwise(1)
    r = m.select(
        "source", f_words.alias("f_words"), f_word_len.alias("f_word_len"),
        f_symbol.alias("f_symbol"), f_bullet.alias("f_bullet"),
        f_ellipsis.alias("f_ellipsis"), f_alpha.alias("f_alpha"),
        f_stop.alias("f_stop"))
    all_pass = F.when(
        F.col("f_words") + F.col("f_word_len") + F.col("f_symbol")
        + F.col("f_bullet") + F.col("f_ellipsis") + F.col("f_alpha")
        + F.col("f_stop") == 0, 1).otherwise(0)
    return (r.withColumn("ok", all_pass)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("f_words").cast("long").alias("fail_word_count"),
                 F.sum("f_word_len").cast("long").alias("fail_word_len"),
                 F.sum("f_symbol").cast("long").alias("fail_symbol_ratio"),
                 F.sum("f_bullet").cast("long").alias("fail_bullet_lines"),
                 F.sum("f_ellipsis").cast("long")
                 .alias("fail_ellipsis_lines"),
                 F.sum("f_alpha").cast("long").alias("fail_alpha_words"),
                 F.sum("f_stop").cast("long").alias("fail_stopwords"),
                 F.sum("ok").cast("long").alias("n_pass"),
                 F.round(F.sum("ok").cast("double") / F.count(F.lit(1)), 6)
                 .alias("pass_rate")))


@register(
    "q_events_seasonal_decompose",
    oracle="""
    WITH base AS (
        SELECT value,
               EXTRACT(dow FROM ts) AS dow,
               EXTRACT(hour FROM ts) AS hr
        FROM events WHERE value IS NOT NULL),
    g AS (SELECT ROUND(AVG(value), 4) AS g FROM base),
    dm AS (SELECT dow, ROUND(AVG(value), 4) AS m_dow
           FROM base GROUP BY dow),
    hm AS (SELECT hr, ROUND(AVG(value), 4) AS m_hr
           FROM base GROUP BY hr),
    rows_ AS (
        SELECT b.value, g.g,
               dm.m_dow - g.g AS ed,
               hm.m_hr - g.g AS eh
        FROM base b JOIN dm USING (dow) JOIN hm USING (hr) CROSS JOIN g),
    sq AS (
        SELECT
            CAST(ROUND((value - g) * (value - g) * 10000) AS BIGINT)
                AS s_tot,
            CAST(ROUND(ed * ed * 10000) AS BIGINT) AS s_dow,
            CAST(ROUND(eh * eh * 10000) AS BIGINT) AS s_hr,
            CAST(ROUND((value - (g + ed + eh)) * (value - (g + ed + eh))
                       * 10000) AS BIGINT) AS s_res
        FROM rows_)
    SELECT COUNT(*) AS n,
           ROUND(SUM(s_tot) / 10000.0, 2) AS ss_total,
           ROUND(SUM(s_dow) / 10000.0, 2) AS ss_dow,
           ROUND(SUM(s_hr) / 10000.0, 2) AS ss_hour,
           ROUND(SUM(s_res) / 10000.0, 2) AS ss_resid,
           ROUND(SUM(s_dow)::DOUBLE / SUM(s_tot), 6) AS r2_dow,
           ROUND(SUM(s_hr)::DOUBLE / SUM(s_tot), 6) AS r2_hour
    FROM sq
    """,
    doc="Additive seasonal decomposition of the event-value series: "
        "value = grand mean + day-of-week effect + hour-of-day effect "
        "+ residual, reporting each component's sum of squares and "
        "variance share — the seasonality screen run before anomaly "
        "thresholds are set (q_events_anomaly_zscore and "
        "q_events_changepoint assume de-seasonalized input; this "
        "measures how much seasonality there is to remove). Effects "
        "are means over 7 + 24 tiny groups (broadcast back to the "
        "scan); all means are rounded to 4 dp BEFORE differencing so "
        "every per-row effect/residual is the same double in both "
        "engines, and every sum of squares accumulates as integer "
        "ten-thousandths — summation-order independent, safe at any "
        "partition count. Day-of-week aligned across engines (Spark "
        "dayofweek()-1 == DuckDB EXTRACT(dow), both Sunday=0). Two "
        "scans, three small shuffles, one single-row result — at "
        "100 TB the cost is the scan, exactly as it should be.",
)
def q_events_seasonal_decompose(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select("value",
                 (F.dayofweek("ts") - 1).alias("dow"),
                 F.hour("ts").alias("hr")))
    g = e.agg(F.round(F.avg("value"), 4).alias("g"))
    dm = e.groupBy("dow").agg(F.round(F.avg("value"), 4).alias("m_dow"))
    hm = e.groupBy("hr").agg(F.round(F.avg("value"), 4).alias("m_hr"))
    rows = (e.join(F.broadcast(dm), "dow")
            .join(F.broadcast(hm), "hr")
            .crossJoin(F.broadcast(g))
            .select("value", "g",
                    (F.col("m_dow") - F.col("g")).alias("ed"),
                    (F.col("m_hr") - F.col("g")).alias("eh")))
    fit = F.col("g") + F.col("ed") + F.col("eh")
    sq = rows.select(
        F.round((F.col("value") - F.col("g"))
                * (F.col("value") - F.col("g")) * 10000, 0)
        .cast("long").alias("s_tot"),
        F.round(F.col("ed") * F.col("ed") * 10000, 0)
        .cast("long").alias("s_dow"),
        F.round(F.col("eh") * F.col("eh") * 10000, 0)
        .cast("long").alias("s_hr"),
        F.round((F.col("value") - fit) * (F.col("value") - fit) * 10000, 0)
        .cast("long").alias("s_res"))
    return sq.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("s_tot") / 10000.0, 2).alias("ss_total"),
        F.round(F.sum("s_dow") / 10000.0, 2).alias("ss_dow"),
        F.round(F.sum("s_hr") / 10000.0, 2).alias("ss_hour"),
        F.round(F.sum("s_res") / 10000.0, 2).alias("ss_resid"),
        F.round(F.sum("s_dow").cast("double") / F.sum("s_tot"), 6)
        .alias("r2_dow"),
        F.round(F.sum("s_hr").cast("double") / F.sum("s_tot"), 6)
        .alias("r2_hour"))


@register(
    "q_events_ab_uplift_ci",
    oracle="""
    WITH base AS (
        SELECT event_id, user_id % 2 AS arm,
               CAST(ROUND(value * 10000) AS BIGINT) AS v10k
        FROM events WHERE value IS NOT NULL),
    reps AS (SELECT unnest(range(200)) AS b),
    w AS (
        SELECT base.arm, base.v10k, reps.b,
               (1103515245 * ((base.event_id * 1000003 + reps.b)
                              % 2147483648) + 12345) % 2147483648 AS r
        FROM base CROSS JOIN reps),
    pois AS (
        SELECT arm, v10k, b,
               CASE WHEN r < 790015084  THEN 0
                    WHEN r < 1580030168 THEN 1
                    WHEN r < 1975037710 THEN 2
                    WHEN r < 2106706891 THEN 3
                    WHEN r < 2139624186 THEN 4
                    ELSE 5 END AS wt
        FROM w),
    rep_diffs AS (
        SELECT b,
               ROUND(SUM(CASE WHEN arm = 1 THEN wt * v10k END)::DOUBLE
                     / (SUM(CASE WHEN arm = 1 THEN wt END) * 10000.0)
                   - SUM(CASE WHEN arm = 0 THEN wt * v10k END)::DOUBLE
                     / (SUM(CASE WHEN arm = 0 THEN wt END) * 10000.0), 6)
                   AS d
        FROM pois GROUP BY b
        HAVING SUM(CASE WHEN arm = 1 THEN wt END) > 0
           AND SUM(CASE WHEN arm = 0 THEN wt END) > 0),
    point AS (
        SELECT COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
               COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
               ROUND(SUM(CASE WHEN arm = 0 THEN v10k END)::DOUBLE
                     / (COUNT(CASE WHEN arm = 0 THEN 1 END) * 10000.0), 4)
                   AS mean_a,
               ROUND(SUM(CASE WHEN arm = 1 THEN v10k END)::DOUBLE
                     / (COUNT(CASE WHEN arm = 1 THEN 1 END) * 10000.0), 4)
                   AS mean_b
        FROM base)
    SELECT point.n_a, point.n_b, point.mean_a, point.mean_b,
           ROUND(point.mean_b - point.mean_a, 4) AS diff,
           ROUND(quantile_cont(rep_diffs.d, 0.025), 4) AS ci_lo,
           ROUND(quantile_cont(rep_diffs.d, 0.975), 4) AS ci_hi
    FROM rep_diffs CROSS JOIN point
    GROUP BY point.n_a, point.n_b, point.mean_a, point.mean_b
    """,
    doc="A/B uplift with a Poisson-bootstrap 95% CI on the arm-mean "
        "difference — the experiment readout that follows the "
        "q_events_ab_srm validity check (and the resampling complement "
        "of q_events_ab_ttest's normal-theory interval): arm = "
        "user_id parity, B=200 replicates, each (event, replicate) "
        "drawing an independent Poisson(1) weight from the same "
        "integer 31-bit LCG as q_stats_bootstrap_ci. The DOUBLE metric "
        "is snapped to integer ten-thousandths BEFORE the weighted "
        "sums, so every replicate mean is an exact integer ratio — no "
        "float accumulation order anywhere (where q_stats_bootstrap_ci "
        "relied on n_chars already being integer, this handles the "
        "general continuous-metric case). One explode-by-200 scan and "
        "one grouped aggregate; replicate state is 200 rows.",
)
def q_events_ab_uplift_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select("event_id", (F.col("user_id") % 2).alias("arm"),
                 F.round(F.col("value") * 10000, 0).cast("long")
                 .alias("v10k")))
    M = F.lit(2147483648)
    reps = e.select("arm", "v10k",
                    F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b"),
                    "event_id")
    r = (F.lit(1103515245)
         * ((F.col("event_id") * F.lit(1000003) + F.col("b")) % M)
         + F.lit(12345)) % M
    wt = (F.when(r < 790015084, 0).when(r < 1580030168, 1)
          .when(r < 1975037710, 2).when(r < 2106706891, 3)
          .when(r < 2139624186, 4).otherwise(5))
    arm1 = F.col("arm") == 1
    rep_diffs = (reps.withColumn("wt", wt)
                 .groupBy("b")
                 .agg(F.sum(F.when(arm1, F.col("wt") * F.col("v10k")))
                      .alias("s1"),
                      F.sum(F.when(arm1, F.col("wt"))).alias("w1"),
                      F.sum(F.when(~arm1, F.col("wt") * F.col("v10k")))
                      .alias("s0"),
                      F.sum(F.when(~arm1, F.col("wt"))).alias("w0"))
                 .where((F.col("w1") > 0) & (F.col("w0") > 0))
                 .select(F.round(
                     F.col("s1").cast("double")
                     / (F.col("w1") * F.lit(10000.0))
                     - F.col("s0").cast("double")
                     / (F.col("w0") * F.lit(10000.0)), 6).alias("d")))
    point = e.agg(
        F.count(F.when(~arm1, F.lit(1))).alias("n_a"),
        F.count(F.when(arm1, F.lit(1))).alias("n_b"),
        F.round(F.sum(F.when(~arm1, F.col("v10k"))).cast("double")
                / (F.count(F.when(~arm1, F.lit(1))) * F.lit(10000.0)), 4)
        .alias("mean_a"),
        F.round(F.sum(F.when(arm1, F.col("v10k"))).cast("double")
                / (F.count(F.when(arm1, F.lit(1))) * F.lit(10000.0)), 4)
        .alias("mean_b"))
    ci = rep_diffs.agg(
        F.round(F.expr("percentile(d, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(d, 0.975)"), 4).alias("ci_hi"))
    return (point.crossJoin(F.broadcast(ci))
            .select("n_a", "n_b", "mean_a", "mean_b",
                    F.round(F.col("mean_b") - F.col("mean_a"), 4)
                    .alias("diff"),
                    "ci_lo", "ci_hi"))


@register(
    "q_text_burstiness",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents),
    per_doc AS (
        SELECT word, doc_id, COUNT(*) AS c FROM tok GROUP BY word, doc_id),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    stats AS (
        SELECT word, COUNT(*) AS df,
               CAST(SUM(c) AS BIGINT) AS tf,
               CAST(SUM(c * c) AS BIGINT) AS tf2
        FROM per_doc GROUP BY word)
    SELECT word, df, tf,
           ROUND((n.n_docs * tf2 - tf * tf)::DOUBLE
                 / (n.n_docs::DOUBLE * tf), 6) AS vmr
    FROM stats CROSS JOIN n
    WHERE df >= 20
    ORDER BY vmr DESC, word
    LIMIT 20
    """,
    doc="Term burstiness (Church-Gale): variance-to-mean ratio of a "
        "word's per-document count over ALL documents (zeros "
        "included) — bursty content words (VMR >> 1) cluster in few "
        "docs; function words sit near Poisson (VMR ~ 1). The "
        "topical-term detector that complements TF-IDF (df-based) "
        "with a dispersion signal, and a standard spam/template "
        "screen. VMR folds to one EXACT integer expression — "
        "(N*Sum(c^2) - Sum(c)^2) / (N*Sum(c)) — via E[x^2] over the "
        "sparse nonzero counts only, so the all-docs variance needs "
        "no dense explode and no float accumulation; df >= 20 floor "
        "keeps rare-word noise out. Two map-side-combinable "
        "aggregates on bounded vocabulary keys + broadcast N, top-20 "
        "via TakeOrderedAndProject with a total order.",
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    per_doc = (d.select("doc_id", F.explode(toks).alias("word"))
               .groupBy("word", "doc_id")
               .agg(F.count(F.lit(1)).alias("c")))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    stats = (per_doc.groupBy("word")
             .agg(F.count(F.lit(1)).alias("df"),
                  F.sum("c").cast("long").alias("tf"),
                  F.sum(F.col("c") * F.col("c")).cast("long").alias("tf2")))
    return (stats.where(F.col("df") >= 20)
            .crossJoin(F.broadcast(n))
            .select("word", "df", "tf",
                    F.round((F.col("n_docs") * F.col("tf2")
                             - F.col("tf") * F.col("tf")).cast("double")
                            / (F.col("n_docs").cast("double")
                               * F.col("tf")), 6).alias("vmr"))
            .orderBy(F.desc("vmr"), "word")
            .limit(20))


@register(
    "q_corpus_jsd_matrix",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_SQL_TOKS}) AS word FROM documents),
    cnt AS (SELECT source, word, COUNT(*) AS c FROM tok
            GROUP BY source, word),
    gl AS (SELECT word, CAST(SUM(c) AS BIGINT) AS g FROM cnt
           GROUP BY word),
    top AS (SELECT word FROM gl ORDER BY g DESC, word LIMIT 500),
    st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt
           GROUP BY source),
    topc AS (SELECT cnt.source, CAST(SUM(c) AS BIGINT) AS tc
             FROM cnt JOIN top USING (word) GROUP BY cnt.source),
    feat AS (
        SELECT st.source, top.word,
               CAST(COALESCE(cnt.c, 0) AS BIGINT) AS c, st.t
        FROM st CROSS JOIN top
        LEFT JOIN cnt ON cnt.source = st.source AND cnt.word = top.word
        UNION ALL
        SELECT st.source, '<OTHER>' AS word,
               st.t - COALESCE(topc.tc, 0) AS c, st.t
        FROM st LEFT JOIN topc USING (source)),
    pairs AS (
        SELECT a.source AS s1, b.source AS s2,
               a.c AS c1, a.t AS t1, b.c AS c2, b.t AS t2
        FROM feat a JOIN feat b
          ON a.word = b.word AND a.source < b.source),
    terms AS (
        SELECT s1, s2,
               CAST(ROUND((
                   CASE WHEN c1 > 0 THEN
                       (c1::DOUBLE / t1) / 2 * LN((c1::DOUBLE / t1)
                           / ((c1::DOUBLE / t1 + c2::DOUBLE / t2) / 2))
                   ELSE 0.0 END
                 + CASE WHEN c2 > 0 THEN
                       (c2::DOUBLE / t2) / 2 * LN((c2::DOUBLE / t2)
                           / ((c1::DOUBLE / t1 + c2::DOUBLE / t2) / 2))
                   ELSE 0.0 END) * 1000000000000) AS BIGINT) AS term
        FROM pairs)
    SELECT s1, s2, ROUND(SUM(term) / 1000000000000.0, 6) AS jsd
    FROM terms GROUP BY s1, s2
    ORDER BY jsd DESC, s1, s2 LIMIT 15
    """,
    doc="Jensen-Shannon divergence matrix between per-source unigram "
        "distributions over a BOUNDED feature space (global top-500 "
        "words + one <OTHER> bucket) — the corpus drift/mix monitor "
        "that says WHICH sources differ lexically (top-15 most "
        "divergent pairs), complementing q_text_length_ks_drift "
        "(lengths) and q_corpus_overlap_matrix (shared n-grams). The "
        "bounded vocabulary is the scale design, not a shortcut: a "
        "drift monitor at 100 TB pins its feature space so the dense "
        "S x 501 profile table stays tiny and comparable across "
        "snapshots — probabilities are exact integer ratios, every "
        "JSD term is snapped to integer picounits before summation "
        "(order-independent; a 1-ulp libm LN divergence is 4 orders "
        "below the snap), and the pairwise join runs on the profile "
        "table, never the corpus. JSD is symmetric, bounded by ln 2, "
        "and zero-safe (absent words contribute exactly 0).",
)
def q_corpus_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    cnt = (d.select("source", F.explode(toks).alias("word"))
           .groupBy("source", "word").agg(F.count(F.lit(1)).alias("c")))
    top = (cnt.groupBy("word").agg(F.sum("c").alias("g"))
           .orderBy(F.desc("g"), "word").limit(500).select("word"))
    st = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    topc = (cnt.join(F.broadcast(top), "word")
            .groupBy("source").agg(F.sum("c").cast("long").alias("tc")))
    dense = (st.crossJoin(F.broadcast(top))
             .join(cnt, ["source", "word"], "left")
             .select("source", "word",
                     F.coalesce(F.col("c"), F.lit(0)).cast("long")
                     .alias("c"), "t"))
    other = (st.join(F.broadcast(topc), "source", "left")
             .select("source", F.lit("<OTHER>").alias("word"),
                     (F.col("t") - F.coalesce(F.col("tc"), F.lit(0)))
                     .alias("c"), "t"))
    feat = dense.unionByName(other)
    a = feat.select(F.col("source").alias("s1"), "word",
                    F.col("c").alias("c1"), F.col("t").alias("t1"))
    b = feat.select(F.col("source").alias("s2"), "word",
                    F.col("c").alias("c2"), F.col("t").alias("t2"))
    pairs = a.join(b, "word").where(F.col("s1") < F.col("s2"))
    p = F.col("c1").cast("double") / F.col("t1")
    q = F.col("c2").cast("double") / F.col("t2")
    m = (p + q) / 2
    term = (F.when(F.col("c1") > 0, p / 2 * F.log(p / m)).otherwise(0.0)
            + F.when(F.col("c2") > 0, q / 2 * F.log(q / m)).otherwise(0.0))
    terms = pairs.select(
        "s1", "s2",
        F.round(term * F.lit(1000000000000), 0).cast("long").alias("term"))
    return (terms.groupBy("s1", "s2")
            .agg(F.round(F.sum("term") / F.lit(1000000000000.0), 6)
                 .alias("jsd"))
            .orderBy(F.desc("jsd"), "s1", "s2").limit(15))


@register(
    "q_privacy_k_anonymity",
    oracle="""
    WITH q AS (
        SELECT c_nationkey AS nation,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               c_mktsegment AS sensitive
        FROM customer),
    g AS (
        SELECT nation, bal_band, COUNT(*) AS grp_n,
               COUNT(DISTINCT sensitive) AS l_div
        FROM q GROUP BY nation, bal_band)
    SELECT CAST(MIN(grp_n) AS BIGINT) AS k_min,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
               AS n_rows_below_k5,
           ROUND(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)::DOUBLE
                 / SUM(grp_n), 6) AS frac_rows_below_k5,
           CAST(MIN(l_div) AS BIGINT) AS l_min,
           CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_l_below_3
    FROM g
    """,
    doc="k-anonymity / l-diversity release audit: group the table by "
        "its quasi-identifiers (nation x account-balance band — the "
        "attributes an attacker can link from outside), report the "
        "minimum equivalence-class size (the k in k-anonymity), the "
        "row mass in classes below k=5 (the re-identifiable fraction "
        "a release gate would suppress or generalize), and the "
        "minimum distinct-sensitive-value count per class (l-"
        "diversity, guarding the homogeneity attack k-anonymity "
        "misses) — the governance check that runs BEFORE "
        "q_pseudonymize_join_integrity's tokenization and "
        "q_dp_noisy_counts' noisy publication. Everything is one "
        "grouped count plus an integer reduction: exact, "
        "order-independent, one shuffle on the QI key at any scale "
        "(the banding expression is FLOOR'd identically in both "
        "engines).",
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    g = (c.select(F.col("c_nationkey").alias("nation"),
                  F.floor(F.col("c_acctbal") / 1000.0).cast("long")
                  .alias("bal_band"),
                  F.col("c_mktsegment").alias("sensitive"))
         .groupBy("nation", "bal_band")
         .agg(F.count(F.lit(1)).alias("grp_n"),
              F.countDistinct("sensitive").alias("l_div")))
    below = F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0))
    return g.agg(
        F.min("grp_n").cast("long").alias("k_min"),
        F.count(F.lit(1)).alias("n_groups"),
        below.cast("long").alias("n_rows_below_k5"),
        F.round(below.cast("double") / F.sum("grp_n"), 6)
        .alias("frac_rows_below_k5"),
        F.min("l_div").cast("long").alias("l_min"),
        F.sum(F.when(F.col("l_div") < 3, 1).otherwise(0)).cast("long")
        .alias("n_groups_l_below_3"))


@register(
    "q_events_funnel_by_variant",
    oracle="""
    WITH s AS (
        SELECT user_id, user_id % 2 AS arm, MIN(ts) AS s_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS c_ts
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts >= s.s_ts
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        GROUP BY e.user_id)
    SELECT s.arm,
           COUNT(*) AS n_signup,
           COUNT(c.user_id) AS n_click_after,
           COUNT(p.user_id) AS n_purchase_after,
           ROUND(COUNT(p.user_id)::DOUBLE / COUNT(*), 6)
               AS conversion_rate
    FROM s LEFT JOIN c ON c.user_id = s.user_id
           LEFT JOIN p ON p.user_id = s.user_id
    GROUP BY s.arm
    """,
    doc="Experiment-split ordered funnel — the readout that joins the "
        "A/B guardrail arc (q_events_ab_srm validity, "
        "q_events_ab_uplift_ci magnitude) to the product funnel "
        "(q_events_funnel): per arm (user_id parity, the assignment "
        "hash stand-in), users surviving signup -> first click at-or-"
        "after signup -> first purchase at-or-after that click, plus "
        "end-to-end conversion per arm. Same single-scan formulation "
        "as the plain funnel (one per-user conditional aggregate; the "
        "arm is a pure function of the group key, so it rides the "
        "same shuffle), and the conversion rate is one exact integer "
        "ratio rounded once.",
)
def q_events_funnel_by_variant(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    staged = _funnel_stages(_funnel_users(spark, sf_dir)
                            .where(F.col("s_ts").isNotNull())
                            .withColumn("arm", F.col("user_id") % 2))
    return (staged.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n_signup"),
                 F.count("c_ts").alias("n_click_after"),
                 F.count("p_ts").alias("n_purchase_after"),
                 F.round(F.count("p_ts").cast("double")
                         / F.count(F.lit(1)), 6).alias("conversion_rate")))


@register(
    "q_corpus_tokenizer_fertility",
    oracle=f"""
    WITH tok AS (
        SELECT lang, {_SQL_TOKS} AS toks,
               len(regexp_extract_all(lower(text),
                   '''(?:s|d|m|t|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s'']+'))
                   AS n_pieces
        FROM documents),
    m AS (
        SELECT lang, n_pieces, len(toks) AS n_words,
               COALESCE(list_sum(list_transform(
                   toks, t -> CAST(CEIL(len(t) / 4.0) AS BIGINT))), 0)
                   AS n_subwords
        FROM tok)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
           ROUND(SUM(n_pieces)::DOUBLE / SUM(n_words), 4) AS fertility,
           ROUND(SUM(n_subwords)::DOUBLE / SUM(n_words), 4)
               AS subwords_per_word
    FROM m WHERE n_words > 0
    GROUP BY lang
    """,
    doc="Tokenizer fertility by language: pre-tokenizer pieces per "
        "word (GPT-2-style regex, RE2-compatible so the oracle runs "
        "the IDENTICAL pattern) and estimated subwords per word "
        "(ceil(len/4)) aggregated per document language — THE metric "
        "tokenizer evaluations report per language (fertility >> 1 "
        "for a language means its text costs proportionally more "
        "context tokens, the signal that drives vocab re-balancing). "
        "Builds on q_text_bpe_tokens' per-doc counts; one stateless "
        "scan, one map-side-combinable aggregate on the bounded lang "
        "key, exact integer ratios rounded once.",
)
def q_corpus_tokenizer_fertility(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions import text as T

    d = Catalog(spark, sf_dir).table("documents")
    toks = T.tokens("text")
    m = d.select(
        "lang",
        F.size(toks).alias("n_words"),
        T.bpe_pieces("text").alias("n_pieces"),
        T.subword_count(toks).alias("n_subwords"))
    return (m.where(F.col("n_words") > 0)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_words").cast("long").alias("n_words"),
                 F.sum("n_pieces").cast("long").alias("n_pieces"),
                 F.round(F.sum("n_pieces").cast("double")
                         / F.sum("n_words"), 4).alias("fertility"),
                 F.round(F.sum("n_subwords").cast("double")
                         / F.sum("n_words"), 4)
                 .alias("subwords_per_word")))


@register(
    "q_events_user_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY user_id, event_type),
    t AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS t FROM c
          GROUP BY user_id),
    terms AS (
        SELECT c.user_id,
               CAST(ROUND(-(c.c::DOUBLE / t.t)
                          * LN(c.c::DOUBLE / t.t)
                          * 1000000000000) AS BIGINT) AS term
        FROM c JOIN t USING (user_id)),
    h AS (SELECT user_id, CAST(SUM(term) AS BIGINT) AS h_pico
          FROM terms GROUP BY user_id),
    b AS (SELECT user_id, h_pico,
                 CAST(FLOOR(h_pico * 2 / 1000000000000.0) AS BIGINT)
                     AS bucket
          FROM h)
    SELECT bucket,
           COUNT(*) AS n_users,
           ROUND(SUM(h_pico) / (COUNT(*) * 1000000000000.0), 4)
               AS avg_entropy
    FROM b GROUP BY bucket
    """,
    doc="Behavioral-diversity profile: per-user Shannon entropy of the "
        "event-type distribution (a bot emitting one event type scores "
        "0; a diverse human scores near ln(n_types)), bucketed in "
        "half-nat bands — the behavioral-width signal that "
        "complements q_events_bot_detection's rate heuristics and "
        "feeds cohorting. Probabilities are exact integer ratios; "
        "every -p ln p term is snapped to integer picounits before "
        "the per-user sum (order-independent; a 1-ulp libm LN "
        "divergence is 4 orders below the snap), so the per-user "
        "entropy, its half-nat bucket (pure integer: h*2 / 1e12), "
        "and the bucket means are all bit-comparable across engines. "
        "Two grouped aggregates on (user, type) then user — state "
        "bounded by the type alphabet per user.",
)
def q_events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    c = (e.groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).alias("c")))
    t = c.groupBy("user_id").agg(F.sum("c").cast("long").alias("t"))
    p = F.col("c").cast("double") / F.col("t")
    terms = (c.join(t, "user_id")
             .select("user_id",
                     F.round((-p * F.log(p)) * F.lit(1000000000000), 0)
                     .cast("long").alias("term")))
    h = terms.groupBy("user_id").agg(
        F.sum("term").cast("long").alias("h_pico"))
    # FLOOR explicitly on both sides: Spark's double->long CAST
    # truncates while DuckDB's rounds (the verify-skill cast rule).
    b = h.select("user_id", "h_pico",
                 F.floor(F.col("h_pico") * 2 / F.lit(1000000000000.0))
                 .cast("long").alias("bucket"))
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.sum("h_pico")
                         / (F.count(F.lit(1)) * F.lit(1000000000000.0)), 4)
                 .alias("avg_entropy")))
