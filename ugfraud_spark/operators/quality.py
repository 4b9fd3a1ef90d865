"""Gopher/C4-style document quality filter.

The keep/drop verdict a training-data pipeline applies before
tokenization, composed entirely from the engine's existing text
measurements (``functions/text.py``): token-count floor, stopword
presence, mean-token-length band, duplicate-word and duplicate-bigram
repetition caps. Every rule is a pure zero-shuffle projection over the
document scan (no UDF, no aggregation) — at 100 TB the whole filter
runs at parquet scan speed with column pruning down to (doc_id, text).

Determinism: each metric is rounded to 6 dp BEFORE the threshold
comparison on both engines, so no float low-bit can flip a verdict;
``fail_rules`` lists the failed rule names in fixed declaration order
(``concat_ws`` skips the NULLs of passing rules identically in Spark
and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_exprs, repetition_exprs

MIN_TOKENS = 15
AVG_TOK_LO = 3.0
AVG_TOK_HI = 10.0
MAX_DUP_WORD = 0.68
MAX_DUP_BIGRAM = 0.08


def _rules(q: dict[str, Column], r: dict[str, Column]) -> list[
        tuple[str, Column]]:
    """(name, passes) in fixed declaration order."""
    return [
        ("min_tokens", q["n_tokens"] >= MIN_TOKENS),
        ("stopwords", q["stopword_ratio"] > 0.0),
        ("avg_token_len",
         (q["avg_token_len"] >= AVG_TOK_LO)
         & (q["avg_token_len"] <= AVG_TOK_HI)),
        ("dup_words", r["dup_word_frac"] <= MAX_DUP_WORD),
        ("dup_bigrams", r["dup_bigram_frac"] <= MAX_DUP_BIGRAM),
    ]


def quality_filter(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_failed, fail_rules, keep): the per-doc
    filter verdict with its audit trail — which rules failed, in rule
    order, comma-joined (empty string when the doc passes)."""
    q = {k: F.expr(v) for k, v in quality_exprs("text").items()}
    r = repetition_exprs(F.col("text"))
    rules = _rules(q, r)
    n_failed = None
    for _, passes in rules:
        term = F.when(passes, 0).otherwise(1)
        n_failed = term if n_failed is None else n_failed + term
    fail_rules = F.concat_ws(
        ",", *[F.when(~passes, F.lit(name)) for name, passes in rules]
    )
    return docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        n_failed.cast("long").alias("n_failed"),
        fail_rules.alias("fail_rules"),
        (n_failed == 0).alias("keep"),
    )


def source_reputation(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_keep, keep_rate, n_scored, avg_lm): the
    domain-level curation signal (RefinedWeb-style source filtering) —
    per source, the quality-filter keep rate and the mean corpus-LM
    score of its documents. Both inputs are per-doc frames keyed by
    doc_id; the rollup is one groupBy(source) with map-side combine.

    Float discipline: keep_rate divides two exact counts; avg_lm sums
    the already-6-dp LM scores as exact DECIMAL and divides by the
    scored-doc count (docs with < 2 tokens have no LM score and are
    excluded from the mean on both engines)."""
    from .lmscore import lm_doc_scores

    verdicts = quality_filter(docs).select("doc_id", "keep")
    lm = lm_doc_scores(docs).select("doc_id", "avg_logprob")
    per_doc = (
        docs.select("doc_id", "source")
        .join(verdicts, "doc_id")
        .join(lm, "doc_id", "left")
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long")
        .alias("n_keep"),
        F.count("avg_logprob").alias("n_scored"),
        F.sum(F.col("avg_logprob").cast("decimal(28,6)")).cast("double")
        .alias("_s"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_keep",
        F.round(
            F.col("n_keep").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("keep_rate"),
        "n_scored",
        F.when(
            F.col("n_scored") > 0,
            F.round(F.col("_s") / F.col("n_scored").cast("double"), 6),
        ).alias("avg_lm"),
    )


def langid_agreement(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, n_agree, rate): how often the n-gram language-ID
    heuristic agrees with the labeled lang, per label — the standard
    QA check before trusting EITHER signal for mixing decisions (a low
    row means mislabeled docs or a weak marker set for that language).

    One narrow map (the lang-ID argmax is a pure column expression)
    plus one map-side-combined groupBy on the 5-value lang key; exact
    counts, ONE double division."""
    from ..functions.text import predicted_lang

    agree = (F.expr(predicted_lang("text")) == F.col("lang")).cast("bigint")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(agree).alias("n_agree"),
        )
        .select(
            "lang", "n_docs", "n_agree",
            (F.col("n_agree").cast("double")
             / F.col("n_docs").cast("double")).alias("rate"),
        )
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, quality_score): a numeric composite quality
    score — the 'quality-classifier-lite' scalar mixing pipelines use
    for soft weighting where quality_filter's booleans are too blunt:

        0.4·stopword_ratio + 0.3·min(n_tokens,200)/200
        + 0.3·(1 − dup_word_frac),  FLOOR-quantized to 6 dp.

    Every input is already 6dp-rounded or integer (the text_features /
    repetition gates prove them engine-identical) and the combination
    is ONE fixed-order expression — but the weighted sum of 6dp values
    lands EXACTLY on .5e-6 ties (measured: 2+ docs at sf0.01), where
    Spark HALF_UP and DuckDB ROUND disagree; so the composite takes
    the §63 floor-quantization recipe (floor of identical doubles is
    engine-independent; decimal ROUND is not): micro-units via FLOOR,
    one division at read-out. Pure narrow map — zero shuffle."""
    q = {k: F.expr(v) for k, v in quality_exprs("text").items()}
    r = repetition_exprs(F.col("text"))
    raw = (
        F.lit(0.4) * q["stopword_ratio"]
        + F.lit(0.3) * (F.least(q["n_tokens"], F.lit(200)).cast("double")
                        / F.lit(200.0))
        + F.lit(0.3) * (F.lit(1.0) - r["dup_word_frac"])
    )
    score = F.floor(raw * F.lit(1e6)).cast("long").cast("double") \
        / F.lit(1e6)
    return docs.select(
        "doc_id", q["n_tokens"].alias("n_tokens"),
        score.alias("quality_score"))


# ------------------------------------------------------------- PII scrubbing

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


def with_pii(docs: DataFrame) -> DataFrame:
    """Deterministically plant PII into the synthetic corpus (which
    contains none): docs with doc_id % 6 == 0 gain a contact email,
    docs with doc_id % 10 == 0 a phone number (both for % 30 == 0) —
    so the scrubber sees docs with one, both, and neither. Mirrored
    verbatim in the oracle; no external data."""
    d = F.col("doc_id")
    email = F.when(
        d % 6 == 0,
        F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@mail"),
                 (d % 9).cast("string"), F.lit(".example")),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 10 == 0,
        F.concat(F.lit(" call +1-555-"),
                 (1000 + d % 9000).cast("string")),
    ).otherwise(F.lit(""))
    return docs.withColumn("text", F.concat(F.col("text"), email, phone))


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_phones, scrubbed_md5): detect and REDACT
    emails and phone numbers — the PII pass every training-data
    pipeline runs before anything else touches the text (emails →
    ``<EMAIL>``, phones → ``<PHONE>``; counts kept for the audit
    trail). Pure JVM regex column expressions — zero UDF, zero
    shuffle: at 100 TB this runs at scan speed fused into the same
    stage as the quality metrics. The gate carries the md5 of the
    scrubbed text rather than the text itself (byte-identity proof at
    1/16th the transfer, same trick as `pages_text_byte_identity`).

    Regex discipline: both patterns are RE2-safe (no lookaround, no
    backreferences) so Spark's Java regex and DuckDB's RE2 accept the
    IDENTICAL strings; emails redact before phones (disjoint matches
    either way — asserted by the hand test's mixed doc)."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE))
        .cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE_RE))
        .cast("bigint").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def pii_scrub_demo(docs: DataFrame) -> DataFrame:
    """Gate composition: plant deterministic PII, then scrub it."""
    return pii_scrub(with_pii(docs))


# mojibake repair (the ftfy-lite pass): UTF-8 bytes decoded as
# Latin-1/cp1252 leave fingerprint sequences ("Ã©" where "é" was,
# "â€™" for a right single quote) that survive into web corpora at
# measurable rates; repairing them is a standard early normalization
# step. The table below covers the highest-frequency two- and
# three-codepoint fingerprints; each entry is (broken, fixed).
MOJIBAKE_MAP = (
    ("Ã©", "é"),          # Ã©  -> é
    ("Ã¨", "è"),          # Ã¨  -> è
    ("Ã¼", "ü"),          # Ã¼  -> ü
    ("â€™", "’"),    # â€™ -> right single quote
    ("â€œ", "“"),    # â€œ -> left double quote
)


def mojibake_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, n_fixed, fixed_md5): repair the MOJIBAKE_MAP
    fingerprints with chained literal replaces (zero UDF, zero regex —
    scan-fused like pii_scrub) and report the number of repairs per
    doc via the exact length-delta count (chars removed per occurrence
    is a constant per pattern, and no pattern overlaps another's
    output, so the count is exact). Byte-identity gate on md5 of the
    repaired text."""
    fixed = F.col("text")
    n_fixed = F.lit(0).cast("long")
    for broken, good in MOJIBAKE_MAP:
        occ = (
            (F.length(fixed) - F.length(F.replace(
                fixed, F.lit(broken), F.lit(""))))
            / F.lit(len(broken))
        ).cast("long")
        n_fixed = n_fixed + occ
        fixed = F.replace(fixed, F.lit(broken), F.lit(good))
    return docs.select(
        "doc_id", n_fixed.alias("n_fixed"), F.md5(fixed).alias("fixed_md5"))


def with_mojibake(docs: DataFrame) -> DataFrame:
    """Deterministic mojibake planting (the with_pii pattern): docs
    % 8 == 0 gain a double-encoded 'cafÃ©', % 14 == 0 a broken
    'donâ€™t' — one/both/neither branches all carry mass."""
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 8 == 0,
               F.lit(" cafÃ©")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 14 == 0,
               F.lit(" donâ€™t")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", t.alias("text"))


def mojibake_scrub_demo(docs: DataFrame) -> DataFrame:
    """Gate composition: plant deterministic mojibake, then repair."""
    return mojibake_scrub(with_mojibake(docs))
