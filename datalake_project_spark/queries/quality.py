"""Data-quality / safety queries for the LLM training-data pipeline
(SURVEY.md §2.11): PII redaction and Gopher-style repetition filtering.

Both are pure Column-expression / explode+groupBy plans — no Python
workers — and both carry full DuckDB oracles running the identical
regexes and arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.functions.text import (
    PII_EMAIL, PII_IPV4, PII_PHONE, pii_count, redact_pii, tokens,
)
from datalake_project_spark.queries import register
from datalake_project_spark.queries.text import _SQL_TOKS, _stop_sql

# Deterministic synthetic PII derived from doc_id, appended to each
# document IN THE QUERY on both engines: the fixture corpus contains no
# natural PII, so the redaction operator is exercised against content
# that provably contains one email, one phone, and one IPv4 per doc.
_AUG_SQL = """
    SELECT doc_id,
           text || ' contact user' || doc_id || '@mail.example.org or +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
                || lpad(CAST(doc_id % 997 AS VARCHAR), 3, '0')
                || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
    FROM documents
"""


def _augmented(d: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), did.cast("string"),
            F.lit("@mail.example.org or +1-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"), F.lit("-"),
            F.lpad((did % 997).cast("string"), 3, "0"),
            F.lit(" from 10."), (did % 256).cast("string"),
            F.lit(".0."), ((did * 7) % 256).cast("string"),
        ).alias("t"),
    )


# Heuristic quality score (functions/text.py quality_score) over ``tok``
# rows (text, toks), rounded at 4 dp.
_QUALITY_SQL = f"""ROUND(GREATEST(0.0, LEAST(1.0,
                   0.5 * LEAST(1.0, ln(1.0 + len(toks)::DOUBLE) / ln(101.0))
                   + 0.3 * LEAST(1.0, ({_stop_sql('en')}) * 5.0)
                   - 0.3 * LEAST(1.0, (CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / length(text)::DOUBLE ELSE 0.0 END) * 4.0)
                   - (CASE WHEN len(toks) > 0 AND
                           (list_sum(list_transform(toks, t -> len(t)))::DOUBLE
                            / len(toks)::DOUBLE < 2.0
                            OR list_sum(list_transform(toks, t -> len(t)))::DOUBLE
                            / len(toks)::DOUBLE > 12.0)
                      THEN 0.5 ELSE 0.0 END) * 0.2)), 4)"""

# Per-doc character entropy (nats) of lower(text), rounded at 4 dp.
_ENTROPY_SQL = """
    ent AS (
        SELECT doc_id,
               ROUND(LN(SUM(n)::DOUBLE) - SUM(n * LN(n::DOUBLE)) / SUM(n)::DOUBLE, 4)
                   AS entropy
        FROM (
            SELECT doc_id, c, COUNT(*) AS n FROM (
                SELECT doc_id,
                       unnest([lower(text)[i] FOR i IN range(1, length(text) + 1)]) AS c
                FROM documents WHERE length(text) > 0)
            GROUP BY doc_id, c)
        GROUP BY doc_id)"""


def _char_entropy(d: DataFrame) -> DataFrame:
    """``_ENTROPY_SQL``'s (doc_id, entropy) over non-empty documents."""
    chars = (d.where(F.length("text") > 0)
             .select("doc_id",
                     F.explode(F.filter(F.split(F.lower("text"), ""),
                                        lambda c: F.length(c) > 0)).alias("c")))
    hist = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    n_sum = F.sum("n")
    return hist.groupBy("doc_id").agg(
        F.round(F.log(n_sum.cast("double"))
                - F.sum(F.col("n") * F.log(F.col("n").cast("double")))
                / n_sum.cast("double"), 4).alias("entropy"))


@register(
    "q_pii_redaction",
    oracle=f"""
    WITH aug AS ({_AUG_SQL})
    SELECT doc_id,
           len(regexp_extract_all(t, '{PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(t, '{PII_PHONE}')) AS n_phones,
           len(regexp_extract_all(t, '{PII_IPV4}')) AS n_ips,
           regexp_replace(
               regexp_replace(
                   regexp_replace(t, '{PII_EMAIL}', '[EMAIL]', 'g'),
                   '{PII_PHONE}', '[PHONE]', 'g'),
               '{PII_IPV4}', '[IP]', 'g') AS redacted
    FROM aug
    """,
    doc="PII detection + redaction (emails, phones, IPv4) over documents "
        "augmented with deterministic doc_id-derived PII. Single "
        "narrow-dependency projection: at 100 TB this is a zero-shuffle "
        "map over the scan, whole-stage-codegen regexes. The oracle runs "
        "the identical RE2/Java-compatible patterns.",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    aug = _augmented(d)
    return aug.select(
        "doc_id",
        pii_count("t", PII_EMAIL).alias("n_emails"),
        pii_count("t", PII_PHONE).alias("n_phones"),
        pii_count("t", PII_IPV4).alias("n_ips"),
        redact_pii("t").alias("redacted"),
    )


@register(
    "q_text_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    wc AS (SELECT doc_id, w, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(ws) AS w FROM toks) GROUP BY 1, 2),
    wstats AS (SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n,
                      COUNT(*) AS n_uniq
               FROM wc GROUP BY 1),
    bg AS (SELECT doc_id,
                  [ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))] AS bs
           FROM toks WHERE len(ws) >= 2),
    bc AS (SELECT doc_id, b, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(bs) AS b FROM bg) GROUP BY 1, 2),
    bstats AS (SELECT doc_id, MAX(c) AS top_bc, CAST(SUM(c) AS BIGINT) AS bn
               FROM bc GROUP BY 1)
    SELECT w.doc_id,
           ROUND(top_c::DOUBLE / n, 4) AS top_word_frac,
           ROUND(COALESCE(top_bc::DOUBLE / bn, 0), 4) AS top_bigram_frac,
           ROUND(n_uniq::DOUBLE / n, 4) AS unique_word_frac,
           (top_c::DOUBLE / n > 0.15 OR COALESCE(top_bc::DOUBLE / bn, 0) > 0.08
            OR n_uniq::DOUBLE / n < 0.4) AS repetitive
    FROM wstats w LEFT JOIN bstats b USING (doc_id)
    """,
    doc="Gopher-style repetition quality filter: per-document fraction of "
        "words in the most frequent word / most frequent bigram, and "
        "unique-word fraction, flagged repetitive past fixed thresholds. "
        "Shaped as explode -> two keyed groupBys (map-side partial "
        "aggregation both times, shuffle keys are (doc_id, gram)) rather "
        "than per-row array histograms, so Catalyst never sees a wide "
        "expression tree and the shuffle stays proportional to token "
        "count at 100 TB.",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = d.select("doc_id", tokens("text").alias("ws"))

    words = toks.select("doc_id", F.explode("ws").alias("w"))
    wc = words.groupBy("doc_id", "w").count()
    wstats = wc.groupBy("doc_id").agg(
        F.max("count").alias("top_c"),
        F.sum("count").alias("n"),
        F.count(F.lit(1)).alias("n_uniq"),
    )

    n = F.size("ws")
    bigram = F.zip_with(
        F.slice("ws", 1, n - 1), F.slice("ws", 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    bg = toks.where(n >= 2).select("doc_id", F.explode(bigram).alias("b"))
    bc = bg.groupBy("doc_id", "b").count()
    bstats = bc.groupBy("doc_id").agg(
        F.max("count").alias("top_bc"), F.sum("count").alias("bn"))

    top_word = F.col("top_c").cast("double") / F.col("n")
    top_bigram = F.coalesce(F.col("top_bc").cast("double") / F.col("bn"),
                            F.lit(0.0))
    uniq = F.col("n_uniq").cast("double") / F.col("n")
    return (
        wstats.join(bstats, "doc_id", "left")
        .select(
            "doc_id",
            F.round(top_word, 4).alias("top_word_frac"),
            F.round(top_bigram, 4).alias("top_bigram_frac"),
            F.round(uniq, 4).alias("unique_word_frac"),
            ((top_word > 0.15) | (top_bigram > 0.08) | (uniq < 0.4))
            .alias("repetitive"),
        )
    )


@register(
    "q_corpus_clean_funnel",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    feat AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               {_QUALITY_SQL} AS quality
        FROM tok),{_ENTROPY_SQL},
    staged AS (
        SELECT f.n_tokens,
               (f.n_tokens BETWEEN 10 AND 5000) AS pass_len,
               (f.n_tokens BETWEEN 10 AND 5000 AND f.quality >= 0.3) AS pass_q,
               (f.n_tokens BETWEEN 10 AND 5000 AND f.quality >= 0.3
                AND COALESCE(e.entropy, 0.0) >= 2.0) AS pass_all
        FROM feat f LEFT JOIN ent e ON f.doc_id = e.doc_id)
    SELECT COUNT(*) AS n_total,
           CAST(COUNT(*) FILTER (WHERE pass_len) AS BIGINT) AS n_after_length,
           CAST(COUNT(*) FILTER (WHERE pass_q) AS BIGINT) AS n_after_quality,
           CAST(COUNT(*) FILTER (WHERE pass_all) AS BIGINT) AS n_clean,
           CAST(COALESCE(SUM(n_tokens) FILTER (WHERE pass_all), 0) AS BIGINT)
               AS clean_tokens
    FROM staged
    """,
    doc="End-to-end C4/Gopher-style cleaning funnel: length gate (10..5000 "
        "tokens) -> heuristic quality >= 0.3 -> character entropy >= 2.0 "
        "(gibberish gate), reporting cumulative survivor counts and the "
        "surviving token budget — the single-query composition of the "
        "standalone quality operators (near-dup removal stays the "
        "separate q_dedup_resolved pass). Thresholds compare ROUNDED "
        "scores on both engines so boundary docs can't flip on ulp "
        "differences. Plan: one scan computes length+quality in codegen; "
        "entropy joins in from its two-level groupBy; the funnel is one "
        "global aggregate.",
)
def q_corpus_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import quality_score
    from datalake_project_spark.functions.text import tokens as toks_fn

    d = Catalog(spark, sf_dir).table("documents")
    toks = toks_fn("text")
    feat = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(quality_score(F.col("text"), toks), 4).alias("quality"))
    ent = _char_entropy(d)
    pass_len = F.col("n_tokens").between(10, 5000)
    pass_q = pass_len & (F.col("quality") >= 0.3)
    pass_all = pass_q & (F.coalesce(F.col("entropy"), F.lit(0.0)) >= 2.0)
    return (
        feat.join(ent, "doc_id", "left")
        .agg(F.count(F.lit(1)).alias("n_total"),
             F.count(F.when(pass_len, 1)).alias("n_after_length"),
             F.count(F.when(pass_q, 1)).alias("n_after_quality"),
             F.count(F.when(pass_all, 1)).alias("n_clean"),
             F.coalesce(F.sum(F.when(pass_all, F.col("n_tokens"))), F.lit(0))
             .cast("long").alias("clean_tokens"))
    )


ENS_W = (0.4, 0.4, 0.2)  # heuristic, classifier, normalized LM weights


@register(
    "q_quality_ensemble",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    heur AS (
        SELECT doc_id,
               {_QUALITY_SQL} AS h
        FROM tok),
    ex AS (SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0),
    vocab AS (SELECT DISTINCT t, ((len(t) % 7) - 3) * 0.05::DOUBLE AS w
              FROM ex),
    cls AS (SELECT doc_id, ROUND(1.0 / (1.0 + exp(-AVG(vocab.w))), 4) AS p
            FROM ex JOIN vocab USING (t) GROUP BY doc_id),
    uni AS (SELECT unnest(toks) AS w FROM tok),
    c1 AS (SELECT w AS w1, COUNT(*) AS c1 FROM uni GROUP BY w),
    v AS (SELECT COUNT(DISTINCT w) AS vocab FROM uni),
    bg AS (SELECT doc_id,
                  unnest([toks[i] || ' ' || toks[i+1]
                          FOR i IN range(1, len(toks))]) AS bg
           FROM tok WHERE len(toks) >= 2),
    c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
    lm AS (SELECT bg.doc_id,
                  ROUND(AVG(LN((c2.c2 + 1)::DOUBLE
                               / (c1.c1 + v.vocab)::DOUBLE)), 4) AS lp
           FROM bg JOIN c2 USING (bg)
           JOIN c1 ON string_split(bg.bg, ' ')[1] = c1.w1
           CROSS JOIN v GROUP BY bg.doc_id),
    bounds AS (SELECT MIN(lp) AS lo, MAX(lp) AS hi FROM lm),
    scored AS (
        SELECT h.doc_id,
               ROUND({ENS_W[0]} * h.h + {ENS_W[1]} * cls.p
                     + {ENS_W[2]} * CASE WHEN b.hi > b.lo
                           THEN (lm.lp - b.lo) / (b.hi - b.lo)
                           ELSE 0.5 END, 4) + 0.0 AS ensemble
        FROM heur h JOIN cls USING (doc_id) JOIN lm USING (doc_id)
        CROSS JOIN bounds b)
    SELECT doc_id, ensemble, ensemble >= 0.5 AS keep FROM scored
    """,
    doc="Multi-signal quality ensemble — what a production filter "
        "actually ships: weighted blend of the heuristic score "
        "(q_text_quality), the classifier probability "
        "(q_text_quality_classifier), and the min-max-normalized "
        "bigram-LM log probability (q_text_bigram_lm), with a 0.5 "
        "keep threshold. Three per-doc signal tables join on doc_id "
        "(each already one-DAG; the LM normalization bounds are a "
        "broadcast 1-row aggregate), so the ensemble adds two keyed "
        "joins and zero extra corpus passes beyond its inputs.",
)
def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.queries.ml import _classifier_scores
    from datalake_project_spark.queries.substrings import q_text_bigram_lm
    from datalake_project_spark.queries.text import q_text_quality

    heur = q_text_quality(spark, sf_dir).select(
        "doc_id", F.col("quality").alias("h"))
    cls = _classifier_scores(spark, sf_dir).select(
        "doc_id", F.col("prob").alias("p"))
    lm = q_text_bigram_lm(spark, sf_dir).select(
        "doc_id", F.col("avg_logprob").alias("lp"))
    bounds = lm.agg(F.min("lp").alias("lo"), F.max("lp").alias("hi"))
    norm_lm = F.when(F.col("hi") > F.col("lo"),
                     (F.col("lp") - F.col("lo"))
                     / (F.col("hi") - F.col("lo"))).otherwise(0.5)
    scored = (heur.join(cls, "doc_id").join(lm, "doc_id")
              .crossJoin(F.broadcast(bounds))
              .select("doc_id",
                      (F.round(ENS_W[0] * F.col("h") + ENS_W[1] * F.col("p")
                               + ENS_W[2] * norm_lm, 4)
                       + F.lit(0.0)).alias("ensemble")))
    return scored.select("doc_id", "ensemble",
                         (F.col("ensemble") >= 0.5).alias("keep"))


@register(
    "q_text_readability",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sentences,
               GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                   AS n_syllables
        FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           ROUND(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
                         - 84.6 * (n_syllables::DOUBLE / n_words), 4)
               + 0.0 AS flesch
    FROM f WHERE n_words >= 1
    """,
    doc="Flesch reading-ease scoring (206.835 - 1.015 w/s - 84.6 "
        "syl/w), with sentences counted as terminal-punctuation runs "
        "and syllables approximated by vowel-group runs — the classic "
        "readability feature beside the length/stopword/repetition "
        "quality battery (readability is a standard column in corpus "
        "quality filtering, cf. the FineWeb recipe's heuristic stack). "
        "Pure column expressions over one scan — zero Python, zero "
        "shuffles beyond the scan itself; identical regex classes on "
        "both engines keep the integer counts hash-exact and the "
        "formula is evaluated in the same operation order before the "
        "4-dp round.",
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    n_words = F.size(F.regexp_extract_all(
        F.lower("text"), F.lit("[a-z0-9]+"), 0))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)), F.lit(1))
    n_syl = F.greatest(
        F.size(F.regexp_extract_all(F.lower("text"),
                                    F.lit("[aeiouy]+"), 0)), F.lit(1))
    f = d.select("doc_id", n_words.alias("n_words"),
                 n_sent.alias("n_sentences"), n_syl.alias("n_syllables"))
    fre = (F.lit(206.835)
           - F.lit(1.015) * (F.col("n_words").cast("double")
                             / F.col("n_sentences"))
           - F.lit(84.6) * (F.col("n_syllables").cast("double")
                            / F.col("n_words")))
    return (f.where(F.col("n_words") >= 1)
            .select("doc_id", "n_words", "n_sentences", "n_syllables",
                    (F.round(fre, 4) + F.lit(0.0)).alias("flesch")))


@register(
    "q_quality_threshold_sweep",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    feat AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               {_QUALITY_SQL} AS quality
        FROM tok),
    cuts AS (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.6]) AS threshold)
    SELECT threshold::DOUBLE AS threshold,
           COUNT(CASE WHEN quality >= threshold THEN 1 END) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN quality >= threshold
                                  THEN n_tokens END), 0) AS BIGINT)
               AS kept_tokens
    FROM cuts LEFT JOIN feat ON TRUE
    GROUP BY threshold
    """,
    doc="Quality-filter calibration sweep: surviving docs and tokens at "
        "heuristic-quality cuts 0.2-0.6 from ONE corpus pass "
        "(conditional aggregation against a broadcast 5-row cut table) "
        "— the table that sets the clean funnel's operating threshold "
        "(q_corpus_clean_funnel ships 0.3) by showing what each cut "
        "costs in data, the quality twin of q_dedup_threshold_sweep. "
        "Integer doc/token tallies against 4-dp-rounded scores — "
        "hash-exact.",
)
def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import quality_score

    d = Catalog(spark, sf_dir).table("documents")
    toks = tokens("text")
    feat = d.select(
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(quality_score(F.col("text"), toks), 4).alias("quality"))
    cuts = F.array(*[F.lit(t) for t in (0.2, 0.3, 0.4, 0.5, 0.6)])
    return (feat.select("n_tokens", "quality",
                        F.explode(cuts).alias("threshold"))
            .groupBy("threshold")
            .agg(F.count(F.when(F.col("quality") >= F.col("threshold"), 1))
                 .alias("n_kept"),
                 F.coalesce(F.sum(F.when(
                     F.col("quality") >= F.col("threshold"),
                     F.col("n_tokens"))), F.lit(0)).cast("long")
                 .alias("kept_tokens")))


@register(
    "q_filter_agreement",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    feat AS (
        SELECT doc_id,
               {_QUALITY_SQL} AS quality
        FROM tok),{_ENTROPY_SQL},
    flags AS (
        SELECT (f.quality < 0.3) AS fail_q,
               (COALESCE(e.entropy, 0.0) < 2.0) AS fail_e
        FROM feat f LEFT JOIN ent e USING (doc_id)),
    cm AS (
        SELECT COUNT(*) AS n,
               COUNT(CASE WHEN fail_q AND fail_e THEN 1 END)::DOUBLE AS a,
               COUNT(CASE WHEN fail_q AND NOT fail_e THEN 1 END)::DOUBLE AS b,
               COUNT(CASE WHEN NOT fail_q AND fail_e THEN 1 END)::DOUBLE AS c,
               COUNT(CASE WHEN NOT fail_q AND NOT fail_e THEN 1 END)::DOUBLE AS d
        FROM flags)
    SELECT CAST(a AS BIGINT) AS n_both_fail,
           CAST(b AS BIGINT) AS n_only_quality,
           CAST(c AS BIGINT) AS n_only_entropy,
           CAST(d AS BIGINT) AS n_both_pass,
           ROUND(CASE WHEN 1.0 - ((a + b) * (a + c) + (c + d) * (b + d))
                                 / (n::DOUBLE * n) > 0
                      THEN ((a + d) / n
                            - ((a + b) * (a + c) + (c + d) * (b + d))
                              / (n::DOUBLE * n))
                           / (1.0 - ((a + b) * (a + c) + (c + d) * (b + d))
                                    / (n::DOUBLE * n))
                      END, 6) + 0.0 AS cohens_kappa
    FROM cm
    """,
    doc="Filter-agreement audit with Cohen's kappa: the 2x2 confusion "
        "of the heuristic-quality gate (< 0.3 fails) against the "
        "char-entropy gate (< 2.0 fails) plus chance-corrected "
        "agreement — the diagnostic that says whether a second filter "
        "ADDS signal (kappa << 1: it catches different documents) or "
        "just re-rejects the same ones (kappa ~ 1: drop it and save a "
        "corpus pass). Both gate formulas are the exact fragments the "
        "clean funnel runs; the kappa arithmetic is a 1-row closed "
        "form over integer cells, identical operation order on both "
        "engines, NULL when chance agreement is total.",
)
def q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import quality_score

    d = Catalog(spark, sf_dir).table("documents")
    toks = tokens("text")
    feat = d.select("doc_id",
                    F.round(quality_score(F.col("text"), toks), 4)
                    .alias("quality"))
    ent = _char_entropy(d)
    flags = (feat.join(ent, "doc_id", "left")
             .select((F.col("quality") < 0.3).alias("fail_q"),
                     (F.coalesce("entropy", F.lit(0.0)) < 2.0)
                     .alias("fail_e")))
    cm = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("fail_q") & F.col("fail_e"), 1))
        .cast("double").alias("a"),
        F.count(F.when(F.col("fail_q") & ~F.col("fail_e"), 1))
        .cast("double").alias("b"),
        F.count(F.when(~F.col("fail_q") & F.col("fail_e"), 1))
        .cast("double").alias("c"),
        F.count(F.when(~F.col("fail_q") & ~F.col("fail_e"), 1))
        .cast("double").alias("d"))
    n = F.col("n").cast("double")
    pe = ((F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))
          + (F.col("c") + F.col("d")) * (F.col("b") + F.col("d"))) / (n * n)
    po = (F.col("a") + F.col("d")) / n
    return cm.select(
        F.col("a").cast("long").alias("n_both_fail"),
        F.col("b").cast("long").alias("n_only_quality"),
        F.col("c").cast("long").alias("n_only_entropy"),
        F.col("d").cast("long").alias("n_both_pass"),
        (F.round(F.when(1.0 - pe > 0, (po - pe) / (1.0 - pe)), 6)
         + F.lit(0.0)).alias("cohens_kappa"))


@register(
    "q_text_mojibake",
    oracle="""
    WITH aug AS (
        SELECT source,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' cafÃ© â€” donâ€™t'
                    ELSE text END AS t
        FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN position('â€' IN t) > 0
                        OR position('Ã©' IN t) > 0 THEN 1 END)
               AS n_mojibake,
           ROUND(COUNT(CASE WHEN position('â€' IN t) > 0
                              OR position('Ã©' IN t) > 0 THEN 1 END)
                 ::DOUBLE / COUNT(*), 4) + 0.0 AS mojibake_rate
    FROM aug GROUP BY source
    """,
    doc="Encoding-corruption (mojibake) detection: UTF-8 text that was "
        "decoded as Latin-1 somewhere upstream leaves characteristic "
        "artifact bigrams ('â€¦' from curly punctuation, 'Ã©' from "
        "accented letters) — the ftfy-class cleaning signal every "
        "crawl-scale corpus audit runs before training. The fixture "
        "corpus is clean, so corruption is INJECTED deterministically "
        "in the query on both engines (the q_pii_redaction "
        "augmentation discipline: doc_id % 7 docs get a mojibake "
        "suffix), then detected by artifact substring scan. Pure "
        "Column expressions over one scan — map-side partials, one "
        "exchange on source; at 100 TB the scan cost IS the query, "
        "exactly as a cleaning pass should be.",
)
def q_text_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    t = F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"),
                        F.lit(" cafÃ© â€” donâ€™t"))).otherwise(F.col("text"))
    hit = F.contains(t, F.lit("â€")) | F.contains(t, F.lit("Ã©"))
    return (d.select("source", hit.alias("h"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count(F.when(F.col("h"), 1)).alias("n_mojibake"))
            .withColumn("mojibake_rate",
                        F.round(F.col("n_mojibake").cast("double")
                                / F.col("n_docs"), 4) + F.lit(0.0)))


@register(
    "q_quality_dup_ngram_coverage",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    g AS (
        SELECT doc_id, source, i AS s,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                     || ws[i+3] || ' ' || ws[i+4] AS gram
        FROM toks, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS i)
        WHERE len(ws) >= 5),
    dupg AS (
        SELECT doc_id, gram FROM g
        GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
    dstart AS (
        SELECT g.doc_id, g.s
        FROM g JOIN dupg ON g.doc_id = dupg.doc_id AND g.gram = dupg.gram),
    cov AS (
        SELECT doc_id, COUNT(*) AS covered FROM (
            SELECT DISTINCT doc_id, s + o AS p
            FROM dstart, LATERAL (SELECT unnest(range(0, 5)) AS o))
        GROUP BY doc_id),
    per AS (
        SELECT t.doc_id, t.source, len(t.ws) AS n,
               COALESCE(c.covered, 0) AS covered
        FROM toks t LEFT JOIN cov c USING (doc_id)
        WHERE len(t.ws) >= 1)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(covered::DOUBLE / n), 4) + 0.0 AS avg_dup5_frac,
           CAST(COUNT(CASE WHEN covered::DOUBLE / n > 0.2 THEN 1 END)
                AS BIGINT) AS n_flagged
    FROM per GROUP BY source
    """,
    doc="Gopher's duplicate-ngram COVERAGE filter (Rae 2021 Table A1, "
        "dup_5gram fraction): per document, the fraction of token "
        "positions covered by at least one 5-gram that occurs >= 2 "
        "times within the document — a span-coverage measure, not the "
        "top-ngram frequency q_text_repetition already reports (a doc "
        "can have a low top-5gram share yet be 60% covered by many "
        "distinct repeated spans). Exact overlapping-span coverage via "
        "the engine's explode discipline: posexplode the 5-gram "
        "starts, keyed groupBy finds in-doc duplicate grams (map-side "
        "combine on (doc, gram-hash)), duplicate starts explode their "
        "5 covered offsets, and a distinct-positions count per doc "
        "yields coverage — every shuffle key is doc-bounded, so skew "
        "is capped by document length and the plan is explode + three "
        "keyed aggregates, no window, no Python. Aggregated per source "
        "with a 0.2 coverage flag threshold.",
)
def q_quality_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = d.select("doc_id", "source", tokens("text").alias("ws"))
    starts = toks.where(F.size("ws") >= 5).select(
        "doc_id", "ws",
        F.expr("posexplode(slice(ws, 1, size(ws) - 4))").alias("s0", "_w"))
    gram = F.concat_ws(" ", F.slice("ws", F.col("s0") + 1, 5))
    g = starts.select("doc_id", F.col("s0").alias("s"), gram.alias("gram"))
    dupg = (g.groupBy("doc_id", "gram")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 2)
            .select("doc_id", "gram"))
    dstart = g.join(dupg, ["doc_id", "gram"], "left_semi")
    cov = (dstart
           .select("doc_id", F.explode(F.sequence(F.col("s"),
                                                  F.col("s") + 4))
                   .alias("p"))
           .distinct()
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("covered")))
    per = (toks.where(F.size("ws") >= 1)
           .select("doc_id", "source", F.size("ws").alias("n"))
           .join(cov, "doc_id", "left")
           .withColumn("covered", F.coalesce("covered", F.lit(0))))
    frac = F.col("covered").cast("double") / F.col("n")
    return (per.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 (F.round(F.avg(frac), 4) + F.lit(0.0))
                 .alias("avg_dup5_frac"),
                 F.count(F.when(frac > 0.2, 1)).cast("long")
                 .alias("n_flagged")))
