"""LLM-data-pipeline tier: text analysis, dedup, similarity, multimodal.

These are the operators a 100 TB training-data pipeline needs (build
contract "beyond the reference" tier). SQL oracles are generated from the
SAME constants as the Spark operators (stopword lists, marker lexicons,
score weights) so the two sides cannot drift. MinHash/SimHash/LSH entries
use engine-specific hash functions and register rows-only (no oracle) —
their exactness is covered by pytest against brute-force equivalents
instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup, multimodal, similarity, text as text_ops
from ..operators.util import ensure_parallelism
from ..operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    WORDISH,
    fingerprint,
    lang_guess,
    normalize_text,
    punct_ratio,
    quality_score,
    token_count,
    word_token_count,
)
from .registry import load, query, r2

# Shared SQL fragments, kept in lockstep with operators/text.py.
_SQL_TOKS = r"""CASE WHEN length(trim({t})) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim({t}), '\s+') END"""
_SQL_NORM = (
    r"trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9\s]', ' ', 'g'),"
    r" '\s+', ' ', 'g'))"
)
_SQL_NONSPACE = r"regexp_replace({t}, '\s+', '', 'g')"


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# --- text analysis ---------------------------------------------------------


@query(
    "text_token_stats",
    f"""
    SELECT doc_id,
           CAST(len({_SQL_TOKS.format(t='text')}) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{WORDISH}')) AS INT) AS n_word_tokens,
           round(CASE WHEN length({_SQL_NONSPACE.format(t='text')}) = 0 THEN 0.0
                 ELSE length(regexp_replace({_SQL_NONSPACE.format(t='text')},
                                            '[a-zA-Z0-9_]', '', 'g'))
                      / length({_SQL_NONSPACE.format(t='text')}) END, 4) AS punct_ratio
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("int").alias("n_tokens"),
        word_token_count("text").cast("int").alias("n_word_tokens"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
    )


def _sql_quality(t: str) -> str:
    toks = _SQL_TOKS.format(t=t)
    low_toks = _SQL_TOKS.format(t=f"lower({t})")
    nonspace = _SQL_NONSPACE.format(t=t)
    return f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len({toks}) AS DOUBLE) AS n_tok,
             CASE WHEN length({nonspace}) = 0 THEN 0.0
                  ELSE length(regexp_replace({nonspace}, '[a-zA-Z0-9_]', '', 'g'))
                       / length({nonspace}) END AS pr,
             CASE WHEN len({low_toks}) = 0 THEN 0.0
                  ELSE len(list_filter({low_toks},
                           t -> list_contains({_sql_list(STOPWORDS)}, t)))
                       / len({low_toks}) END AS sr,
             CASE WHEN len({toks}) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE)
                       / len({toks}) END AS mwl
      FROM documents
    )
    SELECT doc_id,
           round(least(n_tok / 20.0, 1.0) * 0.4
                 + greatest(0.0, 1.0 - pr * 4) * 0.2
                 + (CASE WHEN sr BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2
                 + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.2,
                 4) AS quality
    FROM q
    """


@query("text_quality_scores", _sql_quality("text"))
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_score_from_tokens, tokenize

    docs = load(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        "text",
        tokenize("text").alias("toks"),
        tokenize(F.lower("text")).alias("toks_lower"),
    )
    return toked.select(
        "doc_id",
        quality_score_from_tokens("text", F.col("toks"), F.col("toks_lower")).alias(
            "quality"
        ),
    )


def _sql_lang() -> str:
    langs = sorted(LANG_MARKERS)
    toks = _SQL_TOKS.format(t="lower(text)")
    scores = ",\n             ".join(
        f"len(list_filter(toks, t -> list_contains({_sql_list(LANG_MARKERS[l])}, t))) AS s_{l}"
        for l in langs
    )
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    whens = "\n               ".join(
        f"WHEN s_{l} = {best} AND s_{l} > 0 THEN '{l}'" for l in langs
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    s AS (SELECT doc_id,
             {scores}
          FROM t)
    SELECT guess, count(*) AS n FROM (
      SELECT CASE {whens}
             ELSE 'und' END AS guess
      FROM s
    ) GROUP BY guess ORDER BY guess
    """


@query("text_lang_breakdown", _sql_lang())
def text_lang_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(lang_guess("text").alias("guess"))
        .groupBy("guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("guess")
    )


@query(
    "text_fingerprints",
    f"SELECT doc_id, md5({_SQL_NORM.format(t='text')}) AS fp FROM documents WHERE doc_id < 50",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select("doc_id", fingerprint("text").alias("fp"))


# 2-gram construction shared by repetition/top-bigram oracles (mirror of
# shingles_from_tokens(toks, 2): docs under 2 tokens collapse to one
# whole-text shingle).
_SQL_BIGRAMS = """CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks)),
                                      i -> array_to_string(toks[i:i+1], ' '))
                  END"""
_SQL_5GRAMS = """CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                 ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                                    i -> array_to_string(toks[i:i+4], ' ')))
                 END"""
_SQL_TOKS_NORM = f"string_split({_SQL_NORM.format(t='text')}, ' ')"
# 3-gram MULTISET (mirror of shingles_from_tokens(toks, 3): docs under 3
# tokens collapse to one whole-text shingle; duplicates kept — the
# repetition metrics count them).
_SQL_3GRAMS = """CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                 ELSE list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 END"""


@query(
    "text_repetition_ratio",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents),
    g AS (SELECT doc_id, {_SQL_BIGRAMS} AS g FROM t)
    SELECT doc_id,
           CAST(len(g) AS INT) AS n_bigrams,
           round(1 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE), 4) AS rep_ratio
    FROM g
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition: fraction of duplicate word
    bigrams. High values flag boilerplate/spam for corpus filtering. Pure
    projection (token + bigram arrays staged as columns) — scan speed at
    100 TB, no shuffle."""
    from ..operators.text import norm_tokens, shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", norm_tokens("text").alias("toks"))
    gramed = toked.select(
        "doc_id", shingles_from_tokens(F.col("toks"), 2).alias("g")
    )
    return gramed.select(
        "doc_id",
        F.size("g").cast("int").alias("n_bigrams"),
        F.round(
            1 - F.size(F.array_distinct("g")) / F.size("g").cast("double"), 4
        ).alias("rep_ratio"),
    )


@query(
    "text_dup_ngram_chars",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents),
    g AS (SELECT doc_id, len(array_to_string(toks, ' ')) AS total_chars,
                 unnest({_SQL_3GRAMS}) AS gram FROM t),
    c AS (SELECT doc_id, gram, max(total_chars) AS total_chars,
                 count(*) AS cnt
          FROM g GROUP BY doc_id, gram),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY cnt DESC, gram) AS rn
          FROM c),
    a AS (SELECT doc_id, max(total_chars) AS total_chars,
                 sum(CASE WHEN cnt >= 2 THEN cnt * len(gram) ELSE 0 END)
                   AS dup_chars,
                 max(CASE WHEN rn = 1 THEN gram END) AS top_gram,
                 max(CASE WHEN rn = 1 THEN cnt END) AS top_count,
                 max(CASE WHEN rn = 1 THEN cnt * len(gram) END) AS top_chars
          FROM r GROUP BY doc_id)
    SELECT doc_id, top_gram, CAST(top_count AS BIGINT) AS top_count,
           CASE WHEN total_chars > 0
                THEN top_chars / CAST(total_chars AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS top_char_frac,
           CASE WHEN total_chars > 0
                THEN dup_chars / CAST(total_chars AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS dup_char_frac
    FROM a
    """,
)
def text_dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RedPajama-v2 / Gopher character-coverage repetition signals per
    document (``frac_chars_top_3gram`` / ``frac_chars_dupe_3grams``): the
    characters covered by the most frequent word 3-gram and by all
    duplicated 3-grams, as fractions of the normalized document length —
    the canonical boilerplate/spam filter columns of an LLM data pipeline.

    Spark side: ``ngram_char_stats`` — one ``array_sort`` + one
    ``F.aggregate`` run-length fold per document (O(G log G), built-in
    Column algebra, scan-stage, NO shuffle: zero exchanges at 100 TB).
    The oracle replays the same counters the shuffling way (unnest +
    GROUP BY + window argmax). Ties for the top gram break toward the
    lexicographically smallest in both plans; fractions are delivered
    UNROUNDED (single int→double division — bit-identical IEEE quotients
    cross-engine)."""
    from ..operators.text import ngram_char_stats, norm_tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", norm_tokens("text").alias("toks"))
    st = toked.select("doc_id", ngram_char_stats(F.col("toks"), 3).alias("s"))
    total = F.col("s.total_chars")
    return st.select(
        "doc_id",
        F.col("s.top_gram").alias("top_gram"),
        F.col("s.top_count").alias("top_count"),
        F.when(total > 0, F.col("s.top_chars") / total.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("top_char_frac"),
        F.when(total > 0, F.col("s.dup_chars") / total.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_char_frac"),
    )


@query(
    "text_type_token_ratio",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4) AS ttr
    FROM t
    """,
)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity (type-token ratio) per document — the standard
    cheap vocabulary-richness quality signal."""
    from ..operators.text import norm_tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", norm_tokens("text").alias("toks"))
    return toked.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("toks")) / F.size("toks").cast("double"), 4
        ).alias("ttr"),
    )


@query(
    "corpus_top_bigrams",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents),
    g AS (SELECT doc_id, unnest({_SQL_BIGRAMS}) AS gram FROM t)
    SELECT gram, count(*) AS n
    FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20
    """,
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level most-frequent bigrams (boilerplate detector). One
    explode + one partial-aggregated groupBy; the final top-k is a
    TakeOrderedAndProject, so only 20 rows reach the driver."""
    from ..operators.text import norm_tokens, shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", norm_tokens("text").alias("toks"))
    return (
        toked.select(F.explode(shingles_from_tokens(F.col("toks"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(20)
    )


@query(
    "contamination_eval_train_overlap",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS_NORM} AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6' AS is_eval
      FROM documents
    ),
    sh AS (SELECT doc_id, is_eval, {_SQL_5GRAMS} AS grams FROM d),
    e AS (SELECT doc_id, is_eval, unnest(grams) AS g FROM sh)
    SELECT a.doc_id AS eval_doc_id,
           count(DISTINCT b.doc_id) AS n_train_docs
    FROM e a JOIN e b ON a.g = b.g AND b.is_eval = FALSE
    WHERE a.is_eval = TRUE
    GROUP BY eval_doc_id ORDER BY eval_doc_id
    """,
)
def contamination_eval_train_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: for each eval-split document (same
    deterministic md5 split as split_train_eval_stratified), count train
    documents sharing at least one 5-gram. The shingle equi-join only meets
    docs sharing an actual phrase; at corpus scale you'd add a
    document-frequency cap on grams (as in jaccard_pairs) to kill
    stop-phrase hot keys."""
    from ..operators.text import norm_tokens, shingles_from_tokens
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id",
        norm_tokens("text").alias("toks"),
        (_md5_bucket(F.col("doc_id")) >= "e6").alias("is_eval"),
    )
    # Round-16 REVERT of the round-15 localCheckpoint of this gram stream:
    # the alternating A/B (plans/r16/ab_contamination.py, 6 rounds, one
    # session) has the un-checkpointed plan winning every aligned round
    # (min 1.26 s vs 1.39 s; under disk-contention bursts the eager
    # materialization blew out to 35 s cold passes in the opening bench).
    # Same verdict as the corpus_line_dedup checkpoint revert: two pipelined
    # tokenize→shingle scans at scan parallelism beat one materialization
    # of the exploded stream at this shape.
    grams = toked.select(
        "doc_id",
        "is_eval",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("toks"), 5))).alias("g"),
    )
    ev = grams.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    tr = grams.filter(~F.col("is_eval")).select(F.col("doc_id").alias("train_id"), "g")
    return (
        ev.join(tr, "g")
        .groupBy("eval_doc_id")
        .agg(F.count_distinct("train_id").alias("n_train_docs"))
        .orderBy("eval_doc_id")
    )


@query(
    "contamination_bloom_prefilter",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS_NORM} AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6' AS is_eval
      FROM documents
    ),
    sh AS (SELECT doc_id, is_eval, {_SQL_5GRAMS} AS grams FROM d),
    e AS (SELECT doc_id, is_eval, unnest(grams) AS g FROM sh)
    SELECT a.doc_id AS eval_doc_id,
           count(DISTINCT b.doc_id) AS n_train_docs
    FROM e a JOIN e b ON a.g = b.g AND b.is_eval = FALSE
    WHERE a.is_eval = TRUE
    GROUP BY eval_doc_id ORDER BY eval_doc_id
    """,
)
def contamination_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-ACCELERATED exact contamination join (round-7): identical
    output to contamination_eval_train_overlap — the oracle is the plain
    exact-join SQL — but the train-side gram stream is prefiltered with a
    bloom over the eval grams BEFORE the shuffle join. Correctness
    argument: blooms have no false negatives, so every truly-matching
    train gram survives the prefilter; false positives carry no matching
    eval gram and fall out of the equi-join. At 100 TB this is the
    standard sketch-accelerated join: the shuffle carries only the ~fp+hit
    fraction of train grams instead of all of them, and the filter runs
    in the scan stage (plan-literal bitset, zero extra shuffle).

    Measured honestly at sf0.1 (5k docs): the prefiltered variant is
    SLOWER (2.4 s vs 1.1 s warm) — the bloom build pass plus 3 md5 probes
    per train gram cost more than the small shuffle they save at fixture
    scale. The crossover needs a train side that dwarfs the eval side
    (the 100 TB regime this shape exists for); kept out of the bench
    headline set for that reason."""
    from ..operators import membership
    from ..operators.text import norm_tokens, shingles_from_tokens
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id",
        norm_tokens("text").alias("toks"),
        (_md5_bucket(F.col("doc_id")) >= "e6").alias("is_eval"),
    )
    grams = toked.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("toks"), 5))
        ).alias("g"),
    )
    ev = grams.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    bloom = membership.bloom_build(
        ev.select("g").distinct(), "g", m_bits=1 << 15, k=3
    )
    tr = (
        grams.filter(~F.col("is_eval"))
        # scan-stage bloom prune: only grams that MIGHT match reach the
        # shuffle; the equi-join then removes the false positives.
        .filter(membership.bloom_contains(F.col("g"), bloom))
        .select(F.col("doc_id").alias("train_id"), "g")
    )
    return (
        ev.join(tr, "g")
        .groupBy("eval_doc_id")
        .agg(F.count_distinct("train_id").alias("n_train_docs"))
        .orderBy("eval_doc_id")
    )


@query(
    "bloom_decontaminate_train",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS_NORM} AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6' AS is_eval
      FROM documents
    ),
    sh AS (SELECT doc_id, is_eval, {_SQL_5GRAMS} AS grams FROM d),
    g AS (SELECT doc_id, is_eval, unnest(list_distinct(grams)) AS gram FROM sh),
    h AS (
      SELECT doc_id, is_eval, gram,
             CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
               % 16384 AS h1,
             CAST(concat('0x', substr(md5(gram), 16, 15)) AS BIGINT)
               % 16384 AS h2
      FROM g
    ),
    hp AS (
      SELECT doc_id, is_eval, gram, i, (h1 + i * h2) % 16384 AS pos
      FROM h, (SELECT unnest(range(3)) AS i)
    ),
    bits AS (SELECT DISTINCT pos FROM hp WHERE is_eval),
    probe AS (
      SELECT hp.doc_id, hp.gram,
             bool_and(bits.pos IS NOT NULL) AS hit
      FROM hp LEFT JOIN bits ON hp.pos = bits.pos
      WHERE NOT hp.is_eval
      GROUP BY hp.doc_id, hp.gram
    )
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_grams,
           CAST(count(*) FILTER (WHERE hit) AS INT) AS n_hits,
           count(*) FILTER (WHERE hit) > 0 AS contaminated
    FROM probe GROUP BY doc_id ORDER BY doc_id
    """,
)
def bloom_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (round-7): build a bloom over the eval
    split's distinct 5-grams (same deterministic md5 split as the
    contamination audit), then flag every train document whose gram set
    hits the filter — WITHOUT a gram join against the corpus. The probe is
    broadcast column algebra inside the train scan (the packed bitset is a
    plan-literal long array; the k bit tests run per-gram INSIDE the gram
    array — no explode, no shuffle), which is the shape that survives a
    100 TB train side: the corpus row count never multiplies and nothing
    shuffles on gram keys.

    The oracle replays the ENTIRE bloom construction in SQL — identical
    md5-derived double hashing, identical bitset, identical false
    positives — so this is a value-exact check of the filter itself, not a
    statistical sanity test."""
    from ..operators import membership
    from ..operators.text import norm_tokens, shingles_from_tokens
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    gramed = docs.select(
        "doc_id",
        (_md5_bucket(F.col("doc_id")) >= "e6").alias("is_eval"),
        shingles_from_tokens(norm_tokens("text"), 5).alias("grams"),
    )
    eval_grams = gramed.filter(F.col("is_eval")).select(
        F.explode(F.array_distinct("grams")).alias("gram")
    )
    bloom = membership.bloom_build(eval_grams, "gram", m_bits=16384, k=3)
    train = gramed.filter(~F.col("is_eval"))
    return membership.bloom_gram_audit(
        train, "doc_id", "grams", bloom
    ).orderBy("doc_id")


def _sql_pii() -> str:
    from ..operators.text import PII_PATTERNS

    em, em_r = PII_PATTERNS["email"]
    ph, ph_r = PII_PATTERNS["phone"]
    ip, ip_r = PII_PATTERNS["ipv4"]
    return f"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call 555-'
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST((doc_id // 7) % 256 AS VARCHAR) || '.'
                    || CAST(doc_id % 254 + 1 AS VARCHAR)
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{em}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{ph}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{ip}')) AS INT) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{em}', '{em_r}', 'g'), '{ph}', '{ph_r}', 'g'),
               '{ip}', '{ip_r}', 'g')) AS redacted_fp
    FROM p
    """


@query("text_pii_redact", _sql_pii())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails / phone numbers / IPv4) — the
    standard scrubbing pass before training-data release. Counts and the
    redacted-text fingerprint per document; pure chained regexp projection,
    scan speed at 100 TB. Fixture text has no organic PII, so deterministic
    doc_id-derived PII is planted into every 5th document (same planting
    in the oracle) — the counts then verify detection, not just absence."""
    from ..operators.text import pii_count, redact_pii
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (d % 256).cast("string"),
        F.lit("."),
        (F.floor(d / 7) % 256).cast("string"),
        F.lit("."),
        (d % 254 + 1).cast("string"),
    )
    staged = docs.select(
        "doc_id", F.when(d % 5 == 0, planted).otherwise(F.col("text")).alias("text")
    )
    return staged.select(
        "doc_id",
        pii_count("text", "email").cast("int").alias("n_emails"),
        pii_count("text", "phone").cast("int").alias("n_phones"),
        pii_count("text", "ipv4").cast("int").alias("n_ipv4"),
        F.md5(F.encode(redact_pii("text"), "UTF-8")).alias("redacted_fp"),
    )


# --- deduplication ---------------------------------------------------------


@query(
    "dedup_exact_groups",
    """
    SELECT l_partkey, l_suppkey, min(l_orderkey) AS keeper_id, count(*) AS copies
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
    HAVING count(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return dedup.duplicate_groups(li, ["l_partkey", "l_suppkey"], "l_orderkey").select(
        "l_partkey", "l_suppkey", "keeper_id", "copies"
    )


@query(
    "dedup_exact_survivors",
    f"""
    SELECT count(*) AS survivors FROM (
      SELECT min(doc_id) FROM (
        SELECT doc_id, {_SQL_NORM.format(t='text')} AS norm FROM documents
      ) GROUP BY norm
    )
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    from ..operators.text import normalize_text

    normed = docs.select("doc_id", normalize_text("text").alias("norm"))
    survivors = dedup.exact_dedup(normed, ["norm"], "doc_id")
    return survivors.agg(F.count(F.lit(1)).alias("survivors"))


@query(
    "dedup_winnow_top15",
    """
    WITH pos AS (
      SELECT doc_id, CAST(t.i AS INT) AS p, substr(text, CAST(t.i AS INT), 8) AS gram
      FROM documents,
           unnest(generate_series(1, greatest(length(text) - 7, 0))) AS t(i)
    ),
    keyed AS (SELECT doc_id, p,
                     gram || lpad(CAST(p AS VARCHAR), 9, '0') AS kk
              FROM pos),
    sel AS (SELECT DISTINCT doc_id,
                   min(kk) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS kk
            FROM keyed),
    fp AS (SELECT DISTINCT doc_id, substr(kk, 1, 8) AS gram FROM sel),
    fpc AS (SELECT * FROM fp WHERE gram IN (
              SELECT gram FROM fp GROUP BY gram HAVING count(*) <= 64)),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM fpc a JOIN fpc b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, shared FROM pairs
    ORDER BY shared DESC, doc_a, doc_b LIMIT 15
    """,
)
def dedup_winnow_top15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Winnowing (MOSS, SIGMOD 2003) substring-level near-dup: top-15 doc
    # pairs by shared selected-fingerprint count. Selection is min-of-window
    # over (gram || zero-padded pos) string keys — exactly reproducible in
    # SQL, unlike hash-based winnowing. The oracle re-runs the WHOLE
    # algorithm (gram explosion, window minima, doc-freq cap, pair join) in
    # DuckDB, so any off-by-one in window framing, padding width, or the
    # k/w parameters flips the hash. max_doc_freq=64 mirrors the
    # stop-gram insurance on both sides.
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.winnow_similar_pairs(
        docs, "doc_id", "text", k=8, w=16, max_doc_freq=64
    )
    return (
        pairs.select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "shared",
        )
        .orderBy(F.col("shared").desc(), "doc_a", "doc_b")
        .limit(15)
    )


@query(
    "dedup_ngram_jaccard_top20",
    f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                                                    i -> array_to_string(toks[i:i+2], ' ')))
             END AS sh
      FROM (SELECT doc_id,
                   string_split({_SQL_NORM.format(t='text')}, ' ') AS toks
            FROM documents)
    ),
    e0 AS (SELECT doc_id, unnest(sh) AS s FROM d),
    -- mirror the engine's max_doc_freq=256 stop-shingle cap (and recompute
    -- sizes over the capped universe) so jaccard matches at any sf
    rare AS (SELECT s FROM e0 GROUP BY s HAVING count(*) <= 256),
    e AS (SELECT e0.doc_id, e0.s FROM e0 JOIN rare USING (s)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM e GROUP BY doc_id)
    SELECT id_a, id_b, round(c / (sa.sz + sb.sz - c), 4) AS jaccard
    FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
    ORDER BY jaccard DESC, id_a, id_b LIMIT 20
    """,
)
def dedup_ngram_jaccard_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 3-gram shingles: selective enough that the inverted-index self-join
    # only meets documents sharing an actual phrase. max_doc_freq=256 drops
    # stop-shingles BEFORE the self-join — a shingle in k docs yields k²
    # candidate pairs, the one quadratic blowup in this plan at corpus
    # scale. (Fixture max 3-shingle doc-freq is 25 at sf0.1, so the cap is
    # semantics-preserving here; the oracle mirrors it for exactness at any
    # sf.)
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, max_doc_freq=256)
    return (
        pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


_BOILERPLATE_LINE = "subscribe to our newsletter for daily updates"


@query(
    "corpus_line_dedup",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents),
    c AS (
      SELECT doc_id,
             list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
                            i -> array_to_string(toks[i*8+1 : i*8+8], ' ')) AS lines0
      FROM t
    ),
    w AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN list_append(lines0, '{_BOILERPLATE_LINE}')
                  ELSE lines0 END AS lines
      FROM c
    ),
    l AS (
      SELECT doc_id, unnest(lines) AS line, unnest(range(0, len(lines))) AS pos
      FROM w
    ),
    f AS (SELECT line, count(DISTINCT doc_id) AS doc_freq FROM l GROUP BY line),
    k AS (SELECT l.doc_id, l.pos, l.line, f.doc_freq <= 2 AS kept
          FROM l JOIN f USING (line))
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_lines,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS n_kept,
           md5(coalesce(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE kept), ''))
             AS kept_fp
    FROM k GROUP BY doc_id
    """,
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level corpus dedup (operators/dedup.line_dedup_stats):
    lines occurring in > 2 distinct documents are boilerplate and get
    dropped; each doc reports total/kept line counts plus the fingerprint
    of its cleaned reconstruction. Fixture docs are single-line, so
    'lines' are 8-token chunks of the normalized text, and a known
    boilerplate line is planted into every 3rd document (mirrored in the
    oracle) — the op must remove exactly those plus any organically
    repeated chunks."""
    from ..operators.text import norm_tokens
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    # Round-15 audit: the chunk branch, the boilerplate branch, and
    # line_dedup_stats' two consumers each re-run the regex tokenize from
    # the scan (4 scans, zero subtree reuse). A localCheckpoint of the
    # tokenized frame was A/B'd and REVERTED: materializing the token
    # arrays cost more than the three pipelined re-tokenizes it saved
    # (old min 3.27 s vs checkpointed 5.16 s, alternating passes) — the
    # re-scan stays fully pipelined at scan parallelism.
    toked = docs.select("doc_id", norm_tokens("text").alias("toks"))
    chunked = dedup.chunk_tokens_to_lines(toked, "doc_id", "toks", tokens_per_line=8)
    # Planted boilerplate rides along as extra line rows at the tail
    # position (pos = n_chunks), mirroring the oracle's list_append.
    bp = toked.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("doc"),
        F.ceil(F.size("toks") / F.lit(8.0)).cast("int").alias("pos"),
        F.lit(_BOILERPLATE_LINE).alias("line"),
    )
    out = dedup.line_dedup_stats(chunked.unionByName(bp), max_doc_freq=2)
    return out.select(
        F.col("doc").alias("doc_id"), "n_lines", "n_kept", "kept_fp"
    )


def _planted_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ mutated copies (one appended token, ids offset by 10⁶) —
    gives the hash-based detectors a known near-dup population to find."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planted near duplicate tail")).alias("text"),
    )
    return docs.unionByName(mutated)


@query("dedup_minhash_lsh")  # rows-only: xxhash64 signatures are engine-specific
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_neardups(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        corpus, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


@query(
    "dedup_duplicate_clusters",
    f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' planted near duplicate tail'
      FROM documents
    ),
    d AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                                                    i -> array_to_string(toks[i:i+2], ' ')))
             END AS sh
      FROM (SELECT doc_id,
                   string_split({_SQL_NORM.format(t='text')}, ' ') AS toks
            FROM corpus)
    ),
    e0 AS (SELECT doc_id, unnest(sh) AS s FROM d),
    -- mirror the engine's max_doc_freq=256 stop-shingle cap (and recompute
    -- sizes over the capped universe) so jaccard matches at any sf
    rare AS (SELECT s FROM e0 GROUP BY s HAVING count(*) <= 256),
    e AS (SELECT e0.doc_id, e0.s FROM e0 JOIN rare USING (s)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM e GROUP BY doc_id),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      WHERE c / (sa.sz + sb.sz - c) >= 0.6
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, lbl) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node)
    SELECT c.doc_id, c.component, CAST(s.cnt AS INT) AS cluster_size
    FROM comp c
    JOIN (SELECT component, count(*) AS cnt FROM comp GROUP BY component) s
      USING (component)
    """,
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: exact-Jaccard near-dup pairs over the planted
    corpus, hash-min connected components (operators/dedup
    .connected_components), then per-doc component id + cluster size.
    The component id IS the keep-min-id survivor, so this output is
    directly actionable: drop every row where doc_id != component.
    Oracle: the same edge set fed to a recursive-CTE reachability min-label
    in DuckDB — an independent CC formulation, so the iterative propagation
    is checked end-to-end (the sf0.01 graph has 4- and 6-member multi-hop
    chains, not just orig↔mutant 2-cliques)."""
    corpus = _planted_neardups(spark, sf_dir)
    pairs = dedup.jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=256
    )
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("comp").agg(
        F.count(F.lit(1)).cast("int").alias("cluster_size")
    )
    return comp.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        "cluster_size",
    )


@query("dedup_simhash")  # rows-only: xxhash64-based
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_neardups(spark, sf_dir)
    pairs = dedup.simhash_pairs(corpus, "doc_id", "text", max_hamming=3)
    return pairs.orderBy("id_a", "id_b")


# --- similarity search -----------------------------------------------------


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cast float32 → float64 once so cosine accumulates in double on both
    # engines (DuckDB oracle casts to DOUBLE[] identically).
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )



@query(
    "ann_brute_force_top10",
    """
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6) AS score
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
)
def ann_brute_force_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return similarity.brute_force_topk(emb, "vec_id", "embedding", q, k=10)


@query(
    "similar_pairs_top15",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS score
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY score DESC, id_a, id_b LIMIT 15
    """,
)
def similar_pairs_top15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked exact variant: same result as all_pairs_topk, but the n²·d
    # work runs as BLAS tile matmuls instead of a row-level cross join.
    return similarity.blocked_all_pairs_topk(
        _emb(spark, sf_dir), "vec_id", "embedding", k=15
    )


_PAGERANK_ORACLE = """
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                      round(list_cosine_similarity(a.v, b.v), 6) AS score
               FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
    knn AS (SELECT src, dst FROM (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src
                                        ORDER BY score DESC, dst) AS rk
              FROM scored) WHERE rk <= 3),
    edges AS (SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM knn
                UNION ALL SELECT dst AS src, src AS dst FROM knn)),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    r1 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r0 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r2 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r1 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r3 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r2 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r4 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r3 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r5 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r4 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r6 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r5 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r7 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r6 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r8 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r7 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r9 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r8 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node),
    r10 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.s, 0.0) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum(CAST(r.rank / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS s
             FROM edges e JOIN deg d ON d.src = e.src
             JOIN r9 r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node)
    SELECT node, round(rank, 6) AS rank FROM r10
    ORDER BY rank DESC, node LIMIT 20
    """


@query("graph_pagerank_knn", _PAGERANK_ORACLE)
def graph_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterative graph algorithm, oracle-checked END-TO-END: build the exact
    # 3-NN cosine graph over the embeddings (edge cut ranked on the 6-dp
    # rounded score + id tiebreak, so the edge set is engine-identical),
    # symmetrize it (guarantees outdeg >= 1 -> no dangling mass), run 10
    # PageRank power iterations with DECIMAL(38,18) contribution sums
    # (order-free), and return the top-20 nodes. The oracle unrolls all 10
    # iterations as chained CTEs with the identical IEEE operation
    # sequence — any drift in the graph, the damping arithmetic, or the
    # iteration count flips the hash.
    from ..operators import graph

    emb = _emb(spark, sf_dir)
    edges = graph.undirect(graph.knn_edges(emb, "vec_id", "embedding", k=3))
    ranks = graph.pagerank(edges, n_iter=10, damping=0.85)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


# ann_lsh_top10 retired round-12 in the one-for-one registry swap (r11
# verdict #3(c) named it: rows-only, redundant with ann_ivf_top10's
# bucketed-ANN coverage) for the oracle-checked text_dup_ngram_chars.
# The lsh_topk operator keeps its planted-neighbor + fills-k pytests.


# ann_quantized_top10 retired round-14 in the one-for-one registry swap
# (for the oracle-checked refsql_temporal_family): rows-only, and the
# int8 serving shape is covered by composition — embedding_quantize_int8
# (oracle-green: the quantization step itself is exact and value-checked
# vs DuckDB) feeding the same top-k machinery ann_brute_force_top10
# checks oracle-green. The quantized_topk operator keeps its recall +
# exact-rescore pytests (test_operators.py).


@query("ann_pq_top10")  # rows-only: PQ codes are approximate by design
def ann_pq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Product-quantization ANN (round-8): m=16 subspace codebooks of 32
    # centroids (trained driver-side on the IVF hash sample), m-byte codes
    # per vector, ADC scoring as m plan-literal table lookups, exact float
    # rescore of the 8k candidate set. The 100 TB memory-bandwidth shape:
    # the heavy scan reads 16 bytes of codes instead of 256 bytes of
    # floats per vector. pytest pins recall ≥ 0.9 vs brute force (1.0 on
    # the fixtures) and exact rescored scores.
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return similarity.pq_topk(emb, "vec_id", "embedding", q, dim=64, k=10)


# ann_ivf_top10 retired round-13 in the third one-for-one registry swap
# (for the oracle-checked refsql_json_family): rows-only, and plain
# single-assignment IVF is the a=1 special case of the multi-assign
# machinery the driver still checks twice — ann_multiassign_top10
# (oracle-green: full probe over a spilled corpus must equal DuckDB's
# exact top-k, via the same similarity.ivf_topk_batch path) and
# ann_multiassign_recall (bench headline, partial probe). The ivf_topk
# operator keeps its planted-recall pytests (test_operators.py) and the
# partition-pruned-probe plan pins.


# --- multimodal ------------------------------------------------------------


@query(
    "multimodal_image_features",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(64 + octet_length(encode(text)) % 640 AS INT) AS width,
           CAST(64 + (octet_length(encode(text)) // 7) % 480 AS INT) AS height,
           CAST(1 + octet_length(encode(text)) % 3 AS INT) AS channels,
           CAST(octet_length(encode(text)) * 2654435761 % 4294967296 AS BIGINT) AS checksum
    FROM documents
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary plumbing end-to-end: lift text bytes into the canonical media
    # schema, then Arrow-batched mapInPandas feature extraction (fake
    # decode — deterministic stand-in; see operators/multimodal.py).
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = multimodal.wrap_binary(docs, "doc_id", "payload", "image")
    return multimodal.extract_image_features(media, fake=True)


@query(
    "multimodal_audio_features",
    """
    WITH a AS (
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             8000 * (1 + octet_length(encode(text)) % 3) AS sr,
             1 + octet_length(encode(text)) % 2 AS ch
      FROM documents
    )
    SELECT media_id, n_bytes,
           CAST(sr AS INT) AS sample_rate,
           CAST(ch AS INT) AS n_channels,
           CAST(n_bytes * 1000 // (sr * 2 * ch) AS BIGINT) AS duration_ms
    FROM a
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Audio pipeline plumbing end-to-end, same shape as the image entry:
    # binary payload → canonical media schema → Arrow-batched mapInPandas
    # (deterministic fake decode; see operators/multimodal.decode_audio).
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = multimodal.wrap_binary(docs, "doc_id", "payload", "audio")
    return multimodal.extract_audio_features(media, fake=True)


@query(
    "multimodal_frame_sample",
    """
    WITH v AS (
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             greatest(CAST(octet_length(encode(text)) // 1024 AS INT), 1) AS n_frames
      FROM documents
    ),
    f AS (
      SELECT media_id, n_bytes,
             CAST(unnest(range(0, n_frames, 30)) AS INT) AS frame_no
      FROM v
    )
    SELECT media_id, frame_no, n_bytes * frame_no AS byte_offset FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Video frame-sampling plumbing: each payload expands to sampled frame
    # descriptors (explode over a sequence — the row-multiplying shape a
    # real ffmpeg demuxer feeds). Offsets are synthetic pending a codec.
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    media = multimodal.wrap_binary(docs, "doc_id", "payload", "video")
    return multimodal.frame_sample_plan(media, every_n=30).select(
        "media_id", "frame_no", "byte_offset"
    )


@query(
    "multimodal_bmp_decode",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(4 + doc_id % 16 AS INT) AS width,
             CAST(3 + doc_id % 9 AS INT) AS height,
             doc_id % 256 AS v
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(54 + ((width * 3 + 3) // 4 * 4) * height AS BIGINT) AS n_bytes,
           width, height, CAST(3 AS INT) AS channels,
           CAST(3 * v * width * height AS BIGINT) AS pixel_sum,
           CAST(v AS DOUBLE) AS mean_pixel
    FROM p
    """,
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL image decode end-to-end: synthesize a spec-conformant
    # uncompressed 24-bit BMP per document (dimensions and fill value are
    # pure functions of doc_id, so the oracle can predict them), then
    # extract features by actually parsing the header and pixel array
    # (bottom-up rows, per-row padding) — every output value derives from
    # decoded bytes, and the oracle recomputes them analytically.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                w, h, v = 4 + did % 16, 3 + did % 9, did % 256
                payloads.append(
                    multimodal.encode_bmp(np.full((h, w, 3), v, dtype=np.uint8))
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "image")
    return multimodal.extract_bmp_features(media)


@query("multimodal_video_neardup")  # rows-only: DCT isn't SQL-expressible
def multimodal_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection (round-7) — the video corner of the
    modality triangle: per-doc 6-frame clips (each frame a distinct
    seeded Fourier-mixture image); every 10th doc gets a twin re-encoded
    through LOSSY Motion-JPEG. A video's fingerprint is its bag of
    per-frame pHashes (multimodal.extract_video_frame_phash); frame
    matches come from the generic hamming_pairs blocking over composite
    (video, frame) ids, and a video pair is a near-dup when ≥4 of its 6
    frames match within 6 bits. The joins move 8 bytes per frame — never
    pixels. Rows-only; pytest pins planted-twin recall and zero false
    video pairs."""
    from ..operators.dedup import hamming_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id").limit(150)

    def encode(it):
        import numpy as np
        import pandas as pd

        def frame_for(seed: int) -> "np.ndarray":
            y, x = np.mgrid[0:24, 0:32]
            prng = np.random.default_rng(9_999 + seed)
            g = np.full((24, 32), 128.0)
            for _ in range(3):
                fx, fy = prng.uniform(0.5, 3.0, 2)
                p1, p2 = prng.uniform(0, 2 * np.pi, 2)
                amp = prng.uniform(25, 45)
                g = g + amp * np.sin(2 * np.pi * fx * x / 32 + p1) * np.cos(
                    2 * np.pi * fy * y / 24 + p2
                )
            g = np.clip(g, 0, 255).astype(np.uint8)
            return np.repeat(g[:, :, None], 3, axis=2)

        for pdf in it:
            out = {"media_id": [], "payload": []}
            for did in pdf["doc_id"].astype("int64"):
                frames = [frame_for(int(did) * 16 + i) for i in range(6)]
                out["media_id"].append(did)
                out["payload"].append(multimodal.encode_avi(frames))
                if did % 10 == 0:
                    out["media_id"].append(did + 1_000_000)
                    out["payload"].append(multimodal.encode_avi_mjpeg(frames))
            yield pd.DataFrame(out)

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "video")
    fh = multimodal.extract_video_frame_phash(media).select(
        (F.col("media_id") * 100 + F.col("frame_no")).alias("fid"),
        "phash",
    )
    fp = hamming_pairs(fh, "fid", "phash", max_hamming=6)
    va = (F.col("id_a") / 100).cast("long")
    vb = (F.col("id_b") / 100).cast("long")
    return (
        fp.select(
            va.alias("video_a"), vb.alias("video_b"), F.col("id_a").alias("fa")
        )
        .filter(F.col("video_a") != F.col("video_b"))
        .groupBy("video_a", "video_b")
        .agg(F.count_distinct("fa").alias("n_matched_frames"))
        .filter(F.col("n_matched_frames") >= 4)
        .orderBy("video_a", "video_b")
    )


@query("multimodal_audio_neardup")  # rows-only: FFT isn't SQL-expressible
def multimodal_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-audio-fingerprint near-dup detection (round-7), the audio
    sibling of multimodal_phash_neardup: per-doc 4-sine mixtures (seeded
    frequencies/phases/amplitudes per doc_id); every 10th doc gets a twin
    re-encoded through LOSSY G.711 μ-law with 0.3% additive noise. The
    fingerprint (multimodal.audio_fingerprint64, Philips band-energy
    signs) must survive the codec + noise; pairs via the same generic
    hamming_pairs blocking — 8-byte fingerprints shuffle, never
    waveforms. Rows-only; pytest pins planted-twin recall and zero false
    pairs."""
    from ..operators.dedup import hamming_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id").limit(400)

    def encode(it):
        import numpy as np
        import pandas as pd

        def synth(did: int) -> "np.ndarray":
            prng = np.random.default_rng(7_654_321 + did)
            t = np.arange(4096) / 8000.0
            s = sum(
                prng.uniform(0.2, 1.0)
                * np.sin(
                    2 * np.pi * prng.uniform(100, 3500) * t
                    + prng.uniform(0, 2 * np.pi)
                )
                for _ in range(8)
            )
            return s / np.max(np.abs(s)) * 0.8

        for pdf in it:
            out = {"media_id": [], "payload": []}
            for did in pdf["doc_id"].astype("int64"):
                s = synth(did)
                pcm = np.round(s * 32767).astype(np.int16)
                out["media_id"].append(did)
                out["payload"].append(multimodal.encode_wav(pcm, 8000))
                if did % 10 == 0:
                    rng = np.random.default_rng(did + 1)
                    noisy = np.clip(s + rng.normal(0, 0.003, s.shape), -1, 1)
                    # real G.711 μ-law compression: lossy 8-bit codes the
                    # decoder expands back per spec
                    codes = multimodal.linear_to_mulaw(
                        np.round(noisy * 32767).astype(np.int16)
                    )
                    out["media_id"].append(did + 1_000_000)
                    out["payload"].append(
                        multimodal.encode_wav_mulaw(codes, 8000)
                    )
            yield pd.DataFrame(out)

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "audio")
    fps = multimodal.extract_audio_fingerprint(media)
    # measured: planted twins ≤7 bits, unrelated 8-sine mixtures ≥9
    return hamming_pairs(fps, "media_id", "fingerprint", max_hamming=8).orderBy(
        "id_a", "id_b"
    )


# multimodal_phash_neardup retired round-14 in the one-for-one registry
# swap (for the oracle-checked refsql_scalar_family): rows-only, and its
# evidence is covered by composition — crossmodal_image_text_neardup
# (executed every recent window) runs the SAME pHash pipeline
# (operators/multimodal.phash64 over real BMP/PNG round-trips) through
# the SAME pigeonhole Hamming join (dedup.hamming_pairs), and
# dedup_simhash keeps a second hamming_pairs execution. The phash64
# operator keeps its planted-twin recall/precision and re-encoding
# invariance pytests (tests/test_membership.py).


@query("crossmodal_image_text_neardup")  # rows-only: DCT/SimHash not SQL
def crossmodal_image_text_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal near-dup (round-8): a pair is a duplicate only when BOTH
    modalities agree — image pHash Hamming ≤ 6 AND text SimHash Hamming
    ≤ 14 — composing two green primitives (multimodal.phash64 over real
    BMP/PNG decode, dedup.simhash) through the same pigeonhole
    hamming_pairs blocking, then an inner join on the pair key.

    The fixture plants three twin classes over the documents table: FULL
    twins (noise-perturbed image + one-token text edit, id+1e6) that must
    survive the joint vote; IMAGE-ONLY twins (near image, unrelated text,
    id+2e6) and TEXT-ONLY twins (unrelated image, near text, id+3e6) that
    each match one modality and must be rejected. pytest pins 100% recall
    on the full twins and zero single-modality leakage at both scales.

    Scale shape: payloads live only inside the Arrow encode/decode
    batches; both pair joins move 8-byte hashes, and the final join keys
    on (id_a, id_b) over two already-small candidate sets. Rows-only (a
    DCT + SimHash replay in SQL is impractical)."""
    from ..operators.dedup import hamming_pairs, simhash

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(300)

    def make(it):
        import numpy as np
        import pandas as pd

        def img_for(did: int, noise_seed: int | None) -> "np.ndarray":
            # Same 3-term Fourier-mixture family as the pHash fixture —
            # distinct low-frequency content per seed, so only the planted
            # noisy twins land within the Hamming budget.
            y, x = np.mgrid[0:40, 0:40]
            prng = np.random.default_rng(7_654_321 + did)
            g = np.full((40, 40), 128.0)
            for _ in range(3):
                fx, fy = prng.uniform(0.5, 3.5, 2)
                p1, p2 = prng.uniform(0, 2 * np.pi, 2)
                amp = prng.uniform(25, 45)
                g = g + amp * np.sin(2 * np.pi * fx * x / 40 + p1) * np.cos(
                    2 * np.pi * fy * y / 40 + p2
                )
            if noise_seed is not None:
                rng = np.random.default_rng(noise_seed)
                g = g + rng.integers(-3, 4, g.shape)
            g = np.clip(g, 0, 255).astype(np.uint8)
            return np.repeat(g[:, :, None], 3, axis=2)

        def edit_text(t: str, seed: int) -> str:
            # Light edit: append ONE token — a SimHash-near variant. An
            # appended weight-1 token flips only zero-sum bit positions
            # (~64·P(bitsum=0)/2 ≈ 2-3 bits for 30-token docs), where
            # REPLACING a token perturbs two weights and overflows the
            # budget on short docs (sf0.01 doc 140: 28 tokens → 10 bits).
            if not t.strip():
                return t
            rng = np.random.default_rng(seed)
            return f"{t} q{rng.integers(0, 10)}"

        def unrelated_text(seed: int) -> str:
            rng = np.random.default_rng(seed)
            return " ".join(f"w{rng.integers(0, 10**9)}" for _ in range(40))

        for pdf in it:
            out = {"media_id": [], "payload": [], "text": []}

            def emit(mid: int, px, txt: str) -> None:
                enc = (
                    multimodal.encode_bmp
                    if mid % 2 == 0
                    else multimodal.encode_png
                )
                out["media_id"].append(mid)
                out["payload"].append(enc(px))
                out["text"].append(txt)

            for did, txt in zip(
                pdf["doc_id"].astype("int64"), pdf["text"].fillna("")
            ):
                did = int(did)
                emit(did, img_for(did, None), txt)
                if did % 10 == 0:
                    # FULL twin: both modalities near.
                    emit(
                        did + 1_000_000,
                        img_for(did, noise_seed=did + 1),
                        edit_text(txt, did),
                    )
                elif did % 20 == 5:
                    # IMAGE-ONLY twin: near image, unrelated text.
                    emit(
                        did + 2_000_000,
                        img_for(did, noise_seed=did + 2),
                        unrelated_text(did),
                    )
                elif did % 20 == 15:
                    # TEXT-ONLY twin: unrelated image, near text.
                    emit(
                        did + 3_000_000,
                        img_for(did + 777_000, None),
                        edit_text(txt, did),
                    )
            yield pd.DataFrame(out)

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(
        make, schema="media_id long, payload binary, text string"
    ).localCheckpoint()  # one encode pass feeds both modality branches
    media = multimodal.wrap_binary(
        raw.select("media_id", "payload"), "media_id", "payload", "image"
    )
    img_pairs = hamming_pairs(
        multimodal.extract_image_phash(media), "media_id", "phash",
        max_hamming=6,
    ).select("id_a", "id_b", F.col("hamming").alias("img_hamming"))
    txt_pairs = hamming_pairs(
        simhash(raw.select("media_id", "text"), "media_id", "text"),
        "doc", "simhash", max_hamming=14,
    ).select("id_a", "id_b", F.col("hamming").alias("txt_hamming"))
    return (
        img_pairs.join(txt_pairs, ["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


@query(
    "multimodal_image_resize",
    """
    WITH p AS (
      SELECT doc_id,
             8 * (1 + 2 * (doc_id % 4)) AS w,
             8 * (1 + 2 * (doc_id % 3)) AS h
      FROM documents
    ),
    cells AS (
      SELECT doc_id,
             (w // 8) * j + ((w // 8) - 1) // 2
             + 2 * ((h // 8) * i + ((h // 8) - 1) // 2) AS v
      FROM p, range(0, 8) t1(i), range(0, 8) t2(j)
    )
    SELECT doc_id AS media_id,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(3 * sum(v) AS BIGINT) AS pixel_sum,
           round(avg(v), 2) AS mean_pixel
    FROM cells GROUP BY doc_id ORDER BY media_id
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-class image RESIZE transform (round-8), verified ANALYTICALLY:
    # each doc gets a linear-gradient BMP (pixel = x + 2y) whose dims are
    # odd multiples of 8, so the 8×8 area-mean resize produces EXACT
    # integer block means — mean over block j of x is bw·j + (bw-1)/2 with
    # bw odd. The pipeline is real end-to-end (encode → decode → area
    # resize → re-encode BMP → decode features), and the oracle recomputes
    # every resized pixel in SQL — an off-by-one in the block split, a
    # wrong mean, or a channel mixup flips the hash.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                w = 8 * (1 + 2 * (did % 4))
                h = 8 * (1 + 2 * (did % 3))
                y, x = np.mgrid[0:h, 0:w]
                g = (x + 2 * y).astype(np.uint8)
                payloads.append(
                    multimodal.encode_bmp(np.repeat(g[:, :, None], 3, axis=2))
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "image")
    resized = multimodal.transform_image_resize(media, out_w=8, out_h=8)
    feats = multimodal.extract_bmp_features(
        multimodal.wrap_binary(resized, "media_id", "payload", "image")
    )
    return feats.select(
        "media_id",
        "width",
        "height",
        "pixel_sum",
        F.round("mean_pixel", 2).alias("mean_pixel"),
    ).orderBy("media_id")


@query(
    "multimodal_audio_resample",
    """
    WITH p AS (
      SELECT doc_id, 1001 + doc_id % 50 AS n_in, 1 + doc_id % 7 AS c
      FROM documents
    ),
    q AS (SELECT doc_id, c, (n_in - 1) * 4 // 5 + 1 AS m FROM p)
    SELECT doc_id AS media_id,
           CAST(6400 AS INT) AS sample_rate,
           CAST(m AS BIGINT) AS n_samples,
           CAST(m * c + 5 * (m * (m - 1) // 2) AS BIGINT) AS abs_sum
    FROM q ORDER BY media_id
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-class audio RESAMPLE (round-8), verified ANALYTICALLY: each
    # doc gets a PCM16 ramp (sample n = c + 4n) at 8000 Hz; resampling to
    # 6400 Hz reads input positions k·1.25 — a dyadic-exact ratio, so the
    # linear interpolation of the ramp is exact: resampled[k] = c + 5k.
    # The oracle recomputes the output length ((n-1)·4//5 + 1) and the
    # closed-form Σ(c + 5k) — a wrong interpolation weight, an off-by-one
    # in the output grid, or a codec bug in the re-encode flips the hash.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                n = 1001 + did % 50
                c = 1 + did % 7
                s = (c + 4 * np.arange(n)).astype(np.int16)
                payloads.append(multimodal.encode_wav(s, 8000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "audio")
    resampled = multimodal.transform_audio_resample(media, out_rate=6400)
    feats = multimodal.extract_wav_features(
        multimodal.wrap_binary(resampled, "media_id", "payload", "audio")
    )
    return feats.select(
        "media_id", "sample_rate", "n_samples", "abs_sum"
    ).orderBy("media_id")


@query(
    "multimodal_png_decode",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(5 + doc_id % 14 AS INT) AS width,
             CAST(4 + doc_id % 7 AS INT) AS height,
             doc_id % 256 AS v
      FROM documents
    )
    SELECT doc_id AS media_id,
           width, height, CAST(3 AS INT) AS channels,
           CAST(8 AS INT) AS bit_depth,
           CAST(3 * v * width * height AS BIGINT) AS pixel_sum,
           CAST(v AS DOUBLE) AS mean_pixel
    FROM p
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL PNG decode end-to-end: synthesize a spec-conformant 8-bit RGB
    # PNG per document (pure-stdlib DEFLATE; scanline filters cycle through
    # all five types), then extract features by actually CRC-checking the
    # chunks, inflating IDAT, and inverting each row's filter. Dimensions
    # and fill value are pure functions of doc_id so the oracle recomputes
    # pixel_sum/mean analytically — any unfiltering mistake flips the hash.
    # Reference anchor: IMAGE extensions include .png (insert.go:191).
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                w, h, v = 5 + did % 14, 4 + did % 7, did % 256
                payloads.append(
                    multimodal.encode_png(np.full((h, w, 3), v, dtype=np.uint8))
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "image")
    return multimodal.extract_png_features(media)


@query(
    "multimodal_gif_decode",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(6 + doc_id % 13 AS INT) AS width,
             CAST(5 + doc_id % 6 AS INT) AS height,
             doc_id % 256 AS v
      FROM documents
    )
    SELECT doc_id AS media_id,
           width, height, CAST(3 AS INT) AS channels,
           CAST(3 * v * width * height AS BIGINT) AS pixel_sum,
           CAST(v AS DOUBLE) AS mean_pixel
    FROM p
    """,
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL GIF decode end-to-end: synthesize a spec-conformant GIF89a per
    # document (256-entry grayscale palette, genuinely LZW-compressed image
    # stream), then extract features by walking the blocks, reassembling
    # sub-blocks, and LZW-DECOMPRESSING the pixel indices (hand-rolled
    # variable-width codes, clear/EOI, KwKwK — constant-fill images are the
    # classic KwKwK trigger). The oracle recomputes pixel stats
    # analytically from doc_id; any bit-packing or dictionary mistake
    # flips the hash. Reference anchor: IMAGE extensions include .gif
    # (insert.go:191).
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                w, h, v = 6 + did % 13, 5 + did % 6, did % 256
                payloads.append(
                    multimodal.encode_gif(np.full((h, w), v, dtype=np.uint8))
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "image")
    return multimodal.extract_gif_features(media)


@query(
    "multimodal_wav_decode",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
             doc_id % 1000 AS amp,
             40 + doc_id % 50 AS n
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(44 + 2 * n AS BIGINT) AS n_bytes,
           sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // sample_rate AS BIGINT) AS duration_ms,
           CAST(amp * n AS BIGINT) AS abs_sum
    FROM p
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL audio decode end-to-end: synthesize a PCM16 RIFF/WAVE clip per
    # document (rate/amplitude/length are functions of doc_id; samples
    # alternate +amp/-amp so the integer |sample| sum is amp * n), then
    # extract features by actually walking the RIFF chunks and decoding
    # the int16 stream. abs_sum comes from the decoded samples.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                sr = 8000 * (1 + did % 3)
                amp, n = did % 1000, 40 + did % 50
                samples = np.full(int(n), amp, dtype=np.int16)
                samples[1::2] *= -1
                payloads.append(multimodal.encode_wav(samples, int(sr), 1))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "audio")
    return multimodal.extract_wav_features(media)


@query(
    "multimodal_avi_frame_sample",
    """
    WITH p AS (
      SELECT doc_id,
             2 + doc_id % 5 AS nf,
             CAST(8 + doc_id % 8 AS INT) AS w,
             CAST(6 + doc_id % 5 AS INT) AS h
      FROM documents
    ),
    f AS (
      SELECT doc_id, w, h,
             CAST(unnest(range(0, nf, 2)) AS INT) AS frame_no
      FROM p
    )
    SELECT doc_id AS media_id, frame_no,
           CAST(8 + frame_no * (8 + ((w * 3 + 3) // 4 * 4) * h) AS BIGINT)
             AS byte_offset,
           CAST(((w * 3 + 3) // 4 * 4) * h AS BIGINT) AS n_bytes,
           CAST(3 * ((doc_id + 7 * frame_no) % 256) * w * h AS BIGINT)
             AS pixel_sum
    FROM f
    """,
)
def multimodal_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL video demux end-to-end: synthesize an uncompressed AVI per
    # document (frame count/dims/fill values are functions of doc_id), then
    # sample every 2nd frame by actually walking the RIFF structure and
    # decoding the sampled frames' pixel arrays. byte_offset is the frame's
    # position inside the movi payload (8 + i*(8+frame_size) — header
    # arithmetic the oracle reproduces), pixel_sum comes from decoded
    # pixels. Any chunk-walk, padding, or row-order mistake flips the hash.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                nf, w, h = 2 + did % 5, 8 + did % 8, 6 + did % 5
                frames = [
                    np.full((int(h), int(w), 3), (did + 7 * i) % 256, dtype=np.uint8)
                    for i in range(int(nf))
                ]
                payloads.append(multimodal.encode_avi(frames, fps=30))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "video")
    return multimodal.sample_avi_frames(media, every_n=2)


# --- composite: end-to-end training-data curation pipeline ------------------


def _sql_curation() -> str:
    # Round-13: the oracle replays the COMPOSED pipeline — score →
    # filter → Lee-et-al exact-substring span CUT (k=8, ≥2 occurrences,
    # corpus = the kept docs) → exact-dedup on the post-cut token stream
    # → per-language stats. The span stage is the SQL transliteration of
    # operators/dedup.py duplicate_spans/cut_duplicate_spans: k-gram
    # window counts, gap-≤k island merge, end-exclusive bounds,
    # positional token filter.
    toks = _SQL_TOKS.format(t="text")
    return f"""
    WITH scored AS (
      SELECT doc_id, text,
             {_sql_lang_guess_expr()} AS guess,
             ({_sql_quality_expr()}) AS quality,
             CAST(len({toks}) AS INT) AS n_tokens
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text, guess FROM scored
      WHERE quality >= 0.6 AND guess != 'und' AND n_tokens BETWEEN 5 AND 1000
    ),
    tok AS (
      SELECT doc_id, guess, {_SQL_TOKS_NORM} AS t FROM kept
    ),
    grams AS (
      SELECT doc_id, u.j AS pos,
             array_to_string(t[u.j + 1 : u.j + 8], ' ') AS g
      FROM tok, UNNEST(range(0, len(t) - 7)) AS u(j)
    ),
    occ AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt FROM grams
    ),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos > lag(pos) OVER w + 8
                  THEN 1 ELSE 0 END AS is_new
      FROM (SELECT doc_id, pos FROM occ WHERE cnt >= 2)
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
      FROM (SELECT doc_id, pos,
                   sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS span
            FROM isl)
      GROUP BY doc_id, span
    ),
    toku AS (
      SELECT doc_id, u.j AS i, t[u.j + 1] AS tk
      FROM tok, UNNEST(range(0, len(t))) AS u(j)
    ),
    survive AS (
      SELECT tu.doc_id, tu.i, tu.tk FROM toku tu
      WHERE NOT EXISTS (SELECT 1 FROM spans sp
                        WHERE sp.doc_id = tu.doc_id
                          AND tu.i >= sp.s AND tu.i < sp.e)
    ),
    cut AS (
      SELECT t.doc_id, t.guess, len(t.t) AS n_orig,
             coalesce(string_agg(s.tk, ' ' ORDER BY s.i), '') AS cut_text,
             count(s.i) AS n_tok
      FROM tok t LEFT JOIN survive s ON t.doc_id = s.doc_id
      GROUP BY t.doc_id, t.guess, len(t.t)
    ),
    deduped AS (
      -- arg-min semantics: the group representative is the min-doc_id row,
      -- so the two engines can never legitimately pick different values
      -- when duplicate docs differ in raw n_tok/guess.
      SELECT min(doc_id) AS doc_id, min_by(guess, doc_id) AS guess,
             min_by(n_tok, doc_id) AS n_tokens,
             min_by(n_orig - n_tok, doc_id) AS n_cut
      FROM cut GROUP BY cut_text
    )
    -- CAST: DuckDB sum(INT) widens to HUGEINT, whose driver hash differs
    -- from Spark's BIGINT even when values are identical.
    SELECT guess, count(*) AS docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_cut) AS BIGINT) AS cut_tokens
    FROM deduped GROUP BY guess ORDER BY guess
    """


def _sql_lang_guess_expr() -> str:
    langs = sorted(LANG_MARKERS)
    toks = _SQL_TOKS.format(t="lower(text)")
    scores = {
        l: f"len(list_filter({toks}, t -> list_contains({_sql_list(LANG_MARKERS[l])}, t)))"
        for l in langs
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {scores[l]} = {best} AND {scores[l]} > 0 THEN '{l}'" for l in langs
    )
    return f"CASE {whens} ELSE 'und' END"


def _sql_quality_expr() -> str:
    toks = _SQL_TOKS.format(t="text")
    low_toks = _SQL_TOKS.format(t="lower(text)")
    nonspace = _SQL_NONSPACE.format(t="text")
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    pr = (
        f"CASE WHEN length({nonspace}) = 0 THEN 0.0 "
        f"ELSE length(regexp_replace({nonspace}, '[a-zA-Z0-9_]', '', 'g')) "
        f"/ length({nonspace}) END"
    )
    sr = (
        f"CASE WHEN len({low_toks}) = 0 THEN 0.0 "
        f"ELSE len(list_filter({low_toks}, t -> list_contains({_sql_list(STOPWORDS)}, t))) "
        f"/ len({low_toks}) END"
    )
    mwl = (
        f"CASE WHEN len({toks}) = 0 THEN 0.0 "
        f"ELSE CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE) / len({toks}) END"
    )
    return (
        f"round(least({n_tok} / 20.0, 1.0) * 0.4 "
        f"+ greatest(0.0, 1.0 - ({pr}) * 4) * 0.2 "
        f"+ (CASE WHEN ({sr}) BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 "
        f"+ (CASE WHEN ({mwl}) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.2, 4)"
    )


@query("pipeline_curate_corpus", _sql_curation())
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale tier end-to-end, in the published pipeline order (Lee
    et al. 2021): score (lang + quality + token count) → filter →
    exact-substring duplicate-span CUT (the paper's ExactSubstr
    transform, k=8 over the kept corpus) → exact-dedup on the POST-CUT
    token stream → per-language corpus stats. Round-13 composes the
    round-12 span-cut operator into the end-to-end workload: the span
    stage adds its two hash-bounded shuffles (gram-hash window + per-doc
    islands) and the heavy text column still never shuffles — the span
    side joining back is (id, few ints)."""
    from ..operators.text import (
        lang_guess_from_tokens,
        quality_score_from_tokens,
        tokenize,
    )
    from ..operators.util import ensure_parallelism

    # Lang-ID + quality are hundreds of ops/row; a single-row-group
    # input file would serialize them onto one core. Token arrays are
    # staged as their own select so the features share one tokenize pass
    # instead of re-evaluating it per reference (interpreted
    # higher-order functions do no CSE).
    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id",
        "text",
        tokenize("text").alias("toks"),
        tokenize(F.lower("text")).alias("toks_lower"),
    )
    # Materialize the scores ONCE, before the filter: the span stage
    # consumes the survivors from three subtrees (gram stream, apply
    # join, feature attach), each of which would otherwise re-run the
    # full tokenize + lang-ID + quality HOF pipeline. Checkpointing
    # ahead of the filter also keeps Catalyst from pushing the filter,
    # with the scoring inlined into it, below the repartition, where it
    # would run in the scan's single task. One compact row per doc
    # (id, scores, norm tokens), disk-spillable, same trade-off as
    # minhash_lsh_pairs; norm_tokens is also computed here exactly once
    # instead of twice inside the text-level span operator.
    from ..operators.text import norm_tokens

    scored = toked.select(
        "doc_id",
        lang_guess_from_tokens(F.col("toks_lower")).alias("guess"),
        quality_score_from_tokens("text", F.col("toks"), F.col("toks_lower")).alias(
            "quality"
        ),
        F.size("toks").cast("int").alias("n_tokens"),
        norm_tokens("text").alias("ntoks"),
    ).localCheckpoint()
    kept_t = scored.filter(
        (F.col("quality") >= 0.6)
        & (F.col("guess") != "und")
        & F.col("n_tokens").between(5, 1000)
    ).select("doc_id", "guess", "ntoks")
    # Lee et al.'s ExactSubstr cut: every ≥k-token span whose windows
    # also occur elsewhere in the KEPT corpus is removed from the
    # training stream (docs survive with the duplicated substrings cut);
    # `guess` rides through the apply join, so no second feature join.
    feat = dedup.cut_duplicate_spans_from_tokens(
        kept_t, "doc_id", "ntoks", k=8, carry_cols=("guess",)
    )
    # min_by mirrors the oracle's arg-min: representative values come from
    # the min-doc_id row of each post-cut-text group (any_value could
    # diverge between engines when dup docs differ in raw token counts).
    deduped = feat.groupBy(
        F.array_join("tokens", " ").alias("cut_text")
    ).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("guess", "doc_id").alias("guess"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        F.min_by("n_cut", "doc_id").alias("n_cut"),
    )
    return (
        deduped.groupBy("guess")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_cut").alias("cut_tokens"),
        )
        .orderBy("guess")
    )


@query(
    "weak_typing_filter",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang, CAST(n_chars AS VARCHAR) AS s FROM documents
    )
    WHERE CASE WHEN try_cast(s AS DOUBLE) IS NOT NULL
               THEN try_cast(s AS DOUBLE) > 300.0
               ELSE s > '300' END
    """,
)
def weak_typing_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # E1 dual-mode comparison (expr.go:90-156) as an oracle-checked entry:
    # an all-TEXT column compared against a numeric literal goes numeric
    # when both sides parse, else lexicographic.
    from ..functions.compat import dual_compare

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("string").alias("s")
    )
    return docs.filter(F.expr(dual_compare("s", ">", "300.0D"))).select(
        "doc_id", "lang"
    )


@query("embedding_similarity_join")  # rows-only: LSH recall is probabilistic
def embedding_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate similarity JOIN between two tables (round-8): a probe
    set of perturbed twins (every 7th vector, scaled + shifted) joined
    against the embeddings corpus at cosine ≥ 0.999 through
    similarity.lsh_similarity_join — shared RP-LSH buckets prune
    candidates, multi-probe (1 flipped bit) recovers near-boundary pairs,
    and the exact JVM cosine verify makes precision exactly 1.0; only
    recall is approximate. The embedding analogue of the bloom-prefiltered
    contamination join: both sides shuffle once on bucket id and the cross
    join never materializes. Rows-only (LSH bucketing isn't worth
    replaying in SQL); pytest pins recall vs the exact cross join and the
    emitted-pairs-are-exact-pairs subset property at both scales."""
    from ..operators.similarity import lsh_similarity_join

    base = _emb(spark, sf_dir).select("vec_id", F.col("embedding").alias("v"))
    queries = base.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 2_000_000).alias("qid"),
        F.transform("v", lambda x: x * 1.001 + 0.0003).alias("qv"),
    )
    return lsh_similarity_join(
        queries, base, "qid", "qv", "vec_id", "v",
        dim=64, threshold=0.999, probe_bits=1,
    ).orderBy("id_l", "id_r")


@query(
    "dedup_embedding_neardup",
    """
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    mutated AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(v, x -> x * 1.001 + 0.0005) AS v
      FROM base WHERE vec_id % 10 = 0
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mutated)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS score
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.999
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding-cosine near-dup detection: every 10th vector gets a planted
    # scaled+shifted twin; pairs with cosine ≥ 0.999 are duplicates. Routed
    # through the blocked exact path (block-matrix BLAS tiles emitting only
    # above-threshold pairs) — same exact result as a cross join, but the
    # quadratic term stays inside (n/B)² numpy tiles instead of a row-level
    # Spark cross join, so the shape survives scale-up. The approximate
    # corpus-scale alternative buckets with RP-LSH first (similarity
    # .lsh_topk) and verifies candidates the same way.
    base = _emb(spark, sf_dir).select("vec_id", F.col("embedding").alias("v"))
    mutated = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * 1.001 + 0.0005).alias("v"),
    )
    corpus = base.unionByName(mutated)
    pairs = similarity.blocked_threshold_pairs(
        corpus, "vec_id", "v", threshold=0.999
    )
    return pairs.select(
        "id_a", "id_b", F.round("score", 6).alias("score")
    ).orderBy("id_a", "id_b")


@query(
    "embedding_norms_stats",
    """
    SELECT label,
           count(*) AS n,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm
    FROM (
      SELECT label,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x))) AS nrm
      FROM embeddings
    ) GROUP BY label ORDER BY label
    """,
)
def embedding_norms_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array-column arithmetic stays JVM-side: aggregate over the vector per
    # row (no explode, no UDF), then an ordinary grouped min/max.
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", similarity.norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


@query(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT label,
             CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) / 127.0 AS scale
      FROM embeddings
    ), c AS (
      SELECT label,
             CASE WHEN scale = 0 THEN 0
                  ELSE list_sum(list_transform(v,
                       x -> CAST(round(x / scale) AS BIGINT))) END AS code_sum,
             CASE WHEN scale = 0 THEN 0.0
                  ELSE list_max(list_transform(v,
                       x -> abs(x - round(x / scale) * scale))) END AS err
      FROM q
    )
    SELECT label, count(*) AS n,
           CAST(sum(code_sum) AS BIGINT) AS total_code_sum,
           round(max(err), 6) AS max_abs_err
    FROM c GROUP BY label ORDER BY label
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Storage-side compression audit: symmetric int8 quantization
    # (operators/similarity.quantize_int8 — zero-shuffle Column algebra),
    # then per-label pins: the INTEGER sum of all codes (exact — any
    # rounding/scale mistake in any vector flips it) and the max
    # reconstruction error (bounded by scale/2 per component).
    emb = _emb(spark, sf_dir)
    q = similarity.quantize_int8(emb, "embedding")
    per = q.select(
        "label",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("code_sum"),
        F.when(F.col("scale") == 0, F.lit(0.0))
        .otherwise(
            F.array_max(
                F.zip_with(
                    F.col("embedding"),
                    F.col("codes"),
                    lambda x, c: F.abs(x - c.cast("double") * F.col("scale")),
                )
            )
        )
        .alias("err"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("code_sum").alias("total_code_sum"),
            F.round(F.max("err"), 6).alias("max_abs_err"),
        )
        .orderBy("label")
    )


@query(
    "text_html_strip",
    """
    WITH raw AS (
      SELECT doc_id,
             '<html><head><style>body {font: 12px}</style>'
             || '<script type="x">var n = 1; if (n < 2) { n = 3; }</script>'
             || '</head><body><nav>Home | About | &nbsp;Contact</nav>'
             || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
             || text
             || '</p><!-- tracking pixel --><footer>footer &amp; legal</footer>'
             || '</body></html>' AS html,
             length(text) AS n_text
      FROM documents
    ),
    stripped AS (
      SELECT doc_id, n_text,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                         '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                       '(?s)<!--.*?-->', ' ', 'g'),
                     '(?s)<[^>]+>', ' ', 'g'),
                   '&nbsp;', ' ', 'g'),
                 '&amp;', '&', 'g'),
               '\\s+', ' ', 'g')) AS clean
      FROM raw
    )
    SELECT doc_id,
           CAST(length(clean) AS BIGINT) AS n_clean,
           round(CAST(length(clean) AS DOUBLE) / n_text, 4) AS clean_ratio
    FROM stripped ORDER BY doc_id
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Web-crawl boilerplate removal: wrap each document in deterministic
    # HTML chrome (style/script/nav/comment/footer), then strip it with
    # operators/text.strip_html — chained JVM-side regexes the oracle runs
    # identically (RE2-compatible patterns, explicit 'g' on the DuckDB
    # side). n_clean pins the exact extracted text; any regex-dialect
    # drift or missed boilerplate element flips the hash.
    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            '<html><head><style>body {font: 12px}</style>'
            '<script type="x">var n = 1; if (n < 2) { n = 3; }</script>'
            "</head><body><nav>Home | About | &nbsp;Contact</nav><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            "</p><!-- tracking pixel --><footer>footer &amp; legal</footer>"
            "</body></html>"
        ),
    )
    return (
        docs.select(
            "doc_id",
            text_ops.strip_html(html).alias("clean"),
            F.length("text").alias("n_text"),
        )
        .select(
            "doc_id",
            F.length("clean").cast("long").alias("n_clean"),
            F.round(F.length("clean").cast("double") / F.col("n_text"), 4).alias(
                "clean_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "text_char_lm_quality",
    """
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg
      FROM norm, unnest(range(1, length(t))) AS u(i)
      WHERE length(t) >= 2
    ),
    cnt AS (SELECT bg, count(*) AS c FROM g GROUP BY bg),
    tot AS (SELECT sum(c) AS n FROM cnt),
    p AS (SELECT bg, c * 1.0 / n AS pr FROM cnt, tot)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(-log2(pr)), 2) AS ce_bits
    FROM g JOIN p USING (bg) GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_char_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style perplexity filter signal: per-doc cross-entropy under a
    # char-bigram LM estimated from the corpus itself, one Spark plan —
    # explode → count (partial-agg shuffle) → sub-KB model broadcast back →
    # per-doc aggregate (operators/text.char_lm_cross_entropy).
    docs = load(spark, sf_dir, "documents")
    return text_ops.char_lm_cross_entropy(docs).orderBy("doc_id")


@query(
    "corpus_chunk_sliding",
    f"""
    WITH d AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents),
    st AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - 8, 1) + 1, 24)) AS start
      FROM d
    )
    SELECT doc_id,
           CAST((start - 1) / 24 AS INT) AS chunk_id,
           CAST(len(toks[start : start + 31]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(toks[start : start + 31], ' ')) AS chunk_hash
    FROM st ORDER BY doc_id, chunk_id
    """,
)
def corpus_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (round-7): 32-token chunks with 8-token
    overlap (stride 24) over every document — the embedding/RAG prep step.
    The workload hashes each chunk's text (md5 both sides), so the oracle
    value-checks the exact chunk CONTENT and boundaries, not just counts:
    an off-by-one in the window start, a dropped tail chunk, or a slice
    clipping bug flips the hash. Pure scan-stage column algebra — the only
    row multiplication is the chunk explode itself."""
    from ..operators.text import chunk_documents

    docs = load(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


@query(
    "classifier_hashed_nb_langid",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS_NORM} AS toks, lang = 'en' AS lbl
      FROM documents
    ),
    e AS (SELECT doc_id, lbl, unnest(toks) AS tok FROM d),
    bk AS (
      SELECT doc_id, lbl,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 512 AS bkt
      FROM e
    ),
    cnt AS (
      SELECT bkt, count(*) FILTER (WHERE lbl) AS c_pos,
             count(*) FILTER (WHERE NOT lbl) AS c_neg
      FROM bk GROUP BY bkt
    ),
    allb AS (SELECT unnest(range(512)) AS bkt),
    fullb AS (
      SELECT allb.bkt, coalesce(c_pos, 0) AS c_pos, coalesce(c_neg, 0) AS c_neg
      FROM allb LEFT JOIN cnt ON allb.bkt = cnt.bkt
    ),
    tot AS (SELECT sum(c_pos) AS np, sum(c_neg) AS nn FROM fullb),
    w AS (
      SELECT bkt, ln((c_pos + 0.5) / (np + 0.5 * 512))
                - ln((c_neg + 0.5) / (nn + 0.5 * 512)) AS w
      FROM fullb, tot
    )
    SELECT bk.doc_id, CAST(count(*) AS INT) AS n_tokens,
           round(avg(w.w), 4) + 0.0 AS score,
           round(avg(w.w), 4) > 0 AS pred_en
    FROM bk JOIN w ON bk.bkt = w.bkt
    GROUP BY bk.doc_id ORDER BY doc_id
    """,
)
def classifier_hashed_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier (round-7) — the fastText-style shape real
    pipelines use for quality/language filtering: train per-bucket naive-
    Bayes token log-odds against the corpus's own labels (here lang='en'),
    then score every document as its mean token log-odds.

    Scale shape: training is ONE pass whose shuffle carries at most
    n_buckets rows (hashing trick bounds the model regardless of
    vocabulary); the trained weights ship back as a single plan-literal
    double array, and scoring runs INSIDE each doc's token array
    (transform + aggregate — zero shuffle, zero UDF, scan-stage cost).
    The oracle replays training AND scoring in SQL — identical md5
    bucketing, identical smoothed counts — so the model itself is
    value-checked, not just the pipeline plumbing (ln/avg ULP noise is
    absorbed by the 4-dp convention, as in text_char_lm_quality)."""
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id",
        text_ops.norm_tokens("text").alias("toks"),
        (F.col("lang") == "en").alias("lbl"),
    )
    weights = text_ops.nb_train_token_logodds(toked, "toks", "lbl", n_buckets=512)
    score = text_ops.nb_score_tokens(F.col("toks"), weights)
    return toked.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        # + 0.0 normalizes IEEE negative zero (a ~-1e-16 mean rounds to
        # -0.0 in DuckDB but +0.0 here; -0.0 + 0.0 = +0.0 in both).
        (F.round(score, 4) + F.lit(0.0)).alias("score"),
        (F.round(score, 4) > 0).alias("pred_en"),
    ).orderBy("doc_id")


# --- deterministic sampling / dataset splits -------------------------------
#
# Training pipelines need REPRODUCIBLE sampling: rand()-based sampling gives
# a different corpus every run (and every retry of a failed task re-rolls
# its partition). Hashing a stable key instead makes the sample a pure
# function of the data — identical across runs, engines, partitionings, and
# cluster sizes, and cheap (one md5 per row, inside codegen, no shuffle).
# md5 rather than xxhash64 so the DuckDB oracle computes the identical
# bucket for every row.


def _md5_bucket(key) -> F.Column:
    """First md5 byte of the stringified key as a hex pair — a uniform
    deterministic bucket in ['00', 'ff']."""
    return F.substring(F.md5(key.cast("string")), 1, 2)


@query(
    "sample_hash_deterministic",
    """
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
    ORDER BY doc_id
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ~5% sample ('0d'/'100' = 13/256): a narrow filter evaluated in the
    # scan stage — at 100 TB this samples without a shuffle and without
    # materializing the population, and re-running yields byte-identical
    # output (unlike TABLESAMPLE / df.sample, which re-roll per run and
    # per task retry).
    docs = load(spark, sf_dir, "documents")
    return (
        docs.filter(_md5_bucket(F.col("doc_id")) < "0d")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "sample_weighted_aes",
    """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             ln((CAST(CAST('0x' || substr(md5('aes|' || CAST(doc_id AS
                 VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) + 1.0)
                / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
      FROM documents WHERE n_chars > 0
    ) AS t ORDER BY k DESC, doc_id LIMIT 50
    """,
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic weighted sampling without replacement (Efraimidis-
    # Spirakis A-ES, round-8): 50 documents drawn with inclusion odds
    # proportional to n_chars — the weight-proportional subsample a
    # data-mixing pipeline needs (longer docs = more tokens = more draw
    # mass), as a pure function of (doc_id, salt) so re-runs, engines and
    # task retries agree byte-for-byte. The oracle replays the exact
    # md5-derived uniform and rank key; the only transcendental (ln) is
    # ORDERED on, not hashed, and rank-neighbor gaps are ~1/n relative —
    # libm ULP noise cannot flip the selected set. Plan: scan-stage
    # column algebra + TakeOrderedAndProject (no shuffle at any scale).
    docs = load(spark, sf_dir, "documents")
    return text_ops.weighted_sample(docs, "n_chars", "doc_id", 50).select(
        "doc_id", "source", "n_chars"
    )


@query(
    "sample_weighted_per_source",
    """
    WITH r AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ln((CAST(CAST('0x' || substr(md5('aes|' ||
                            CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                            AS DOUBLE) + 1.0) / 1152921504606846976.0)
                        / CAST(n_chars AS DOUBLE) DESC, doc_id) AS rk
      FROM documents WHERE n_chars > 0
    )
    SELECT source, count(*) AS n, min(doc_id) AS min_id,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
    FROM r WHERE rk <= 10 GROUP BY source ORDER BY source
    """,
)
def sample_weighted_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stratified weighted sampling (round-8): 10 docs per source, drawn
    # with odds proportional to n_chars inside each stratum — the
    # per-domain quota draw a mixing pipeline uses (equal doc counts per
    # domain, length-weighted within). Same deterministic A-ES contract
    # as sample_weighted_aes; aggregating the sampled ids makes any rank
    # or key drift flip the hash. Plan: ONE shuffle on source;
    # WindowGroupLimit cuts each group to ~10 rows inside the sort.
    docs = load(spark, sf_dir, "documents")
    sampled = text_ops.weighted_sample_per_group(
        docs, "source", "n_chars", "doc_id", 10
    )
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
            F.sum("n_chars").cast("bigint").alias("chars_sum"),
        )
        .orderBy("source")
    )


@query(
    "split_train_eval_stratified",
    """
    SELECT source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'train' ELSE 'eval' END AS split,
           count(*) AS n,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents
    GROUP BY source, split
    ORDER BY source, split
    """,
)
def split_train_eval_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic ~90/10 train/eval split ('e6' = 230/256), reported per
    # source stratum. The split column is a pure row-local expression, so
    # assignment never moves data — the only shuffle is the reporting
    # groupBy. A doc's split membership is stable under appends: adding new
    # rows never flips existing assignments (hash, not ntile/row_number).
    docs = load(spark, sf_dir, "documents")
    split = F.when(_md5_bucket(F.col("doc_id")) < "e6", "train").otherwise("eval")
    return (
        docs.select("source", split.alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"), r2(F.avg("n_chars"), "avg_chars"))
        .orderBy("source", "split")
    )


# dedup_incremental_lsh retired round-13 in a one-for-one registry swap
# under the freeze: rows-only and redundant in coverage with
# dedup_minhash_lsh (same signature/band machinery, still in rotation) —
# only the batch-vs-corpus JOIN SHAPE differs, and that shape keeps its
# planted-recall + plan-shape pytests (test_operators.py, test_plans.py,
# both calling the function directly). Swapped for the oracle-checked
# refsql_lateral_group_by (round-13 grouped-lateral decorrelation).
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against an existing corpus (round-8): a NEW
    batch — light edits of every 10th corpus doc (near-dups that must
    match their source) plus synthetic unrelated docs (that must not
    match anything) — LSH-joined against the full documents corpus via
    dedup.minhash_lsh_join. The daily-crawl-vs-warehouse shape: the new
    batch never cross-joins the corpus; both sides meet only in shared
    band buckets and candidates are exact-Jaccard verified. Rows-only
    (xxhash64 banding isn't SQL-replayable); pytest pins planted recall,
    unrelated-batch silence, and the threshold floor at both scales."""
    from ..operators.dedup import minhash_lsh_join

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" q7")).alias("text"),
    )
    unrelated = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(30)),
                lambda i: F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), i)), 1, 6
                ),
            ),
        ).alias("text"),
    )
    new_batch = near.unionByName(unrelated)
    return minhash_lsh_join(
        new_batch, docs, "doc_id", "text", "doc_id", "text",
        threshold=0.5,
    ).orderBy("new_doc", "corpus_doc")


@query(
    "corpus_shuffle_shards",
    """
    WITH k AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS skey
      FROM documents
    )
    SELECT doc_id, skey % 8 AS shard,
           CAST(row_number() OVER (PARTITION BY skey % 8
                                   ORDER BY skey, doc_id) AS BIGINT) AS pos
    FROM k ORDER BY shard, pos
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic global corpus shuffle + shard assignment (round-8):
    # the pre-training data-order step — every doc gets a pseudo-random
    # but REPRODUCIBLE position (60 md5 bits as the sort key; no rand(),
    # so task retries, engine swaps, and incremental re-runs produce the
    # byte-identical order) and a shard id for parallel writers. The
    # oracle replays key, shard, and position exactly — the whole
    # permutation is hash-checked, not just counts.
    #
    # Scale shape: shard assignment is a row-local projection; the only
    # shuffle is the per-shard window sort. At 100 TB, write with
    # df.repartition(n, "shard").sortWithinPartitions("skey") instead of
    # the windowed row_number (same order, no global numbering) — the
    # numbered form here is the oracle-checkable equivalent.
    docs = load(spark, sf_dir, "documents").select("doc_id")
    skey = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
    )
    from pyspark.sql import Window

    keyed = docs.select("doc_id", skey.alias("skey")).withColumn(
        "shard", F.pmod(F.col("skey"), F.lit(8))
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        keyed.select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


@query(
    "dedup_semantic_clusters",
    """
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    mutated AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(v, x -> x * 1.001 + 0.0005) AS v
      FROM base WHERE vec_id % 10 = 0
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mutated),
    cent AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY h, vec_id) AS cidx
      FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM corpus ORDER BY h LIMIT 8)
    ),
    assign AS (
      SELECT vec_id, v, CAST(cidx AS INT) AS cluster_id FROM (
        SELECT corpus.vec_id, corpus.v, cent.cidx,
               ROW_NUMBER() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY round(list_cosine_similarity(corpus.v, cent.v), 6)
                          DESC, cent.cidx) AS rn
        FROM corpus CROSS JOIN cent
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.999
    ),
    flags AS (
      SELECT a.vec_id, a.cluster_id, (d.vec_id IS NOT NULL) AS is_dup
      FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    )
    SELECT cluster_id, count(*) AS n_members,
           count(CASE WHEN is_dup THEN 1 END) AS n_dup,
           min(CASE WHEN is_dup THEN vec_id END) AS min_dup_id
    FROM flags GROUP BY cluster_id ORDER BY cluster_id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup (round 6): every 10th vector gets a planted scaled+shifted
    # twin, the corpus is clustered on hash-picked centroids, and each
    # cluster drops rows with a similar (cosine ≥ 0.999) lower-id
    # cluster-mate. The oracle replays the ENTIRE pipeline in SQL —
    # centroid pick, 6-dp argmax assignment, exists-join drop rule — so a
    # drift in any stage (not just the final counts) flips the hash.
    # operators/dedup.semantic_dedup documents the 100 TB shape.
    base = _emb(spark, sf_dir).select("vec_id", F.col("embedding").alias("v"))
    mutated = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * 1.001 + 0.0005).alias("v"),
    )
    corpus = base.unionByName(mutated)
    flags = dedup.semantic_dedup(
        corpus, "vec_id", "v", n_clusters=8, threshold=0.999
    )
    return (
        flags.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_dup"),
            F.min(F.when(F.col("is_dup"), F.col("vec_id"))).alias("min_dup_id"),
        )
        .orderBy("cluster_id")
    )


@query(
    "corpus_vocab_oov",
    f"""
    WITH t AS (SELECT doc_id, source, {_SQL_TOKS_NORM} AS toks FROM documents),
    tok AS (SELECT source, unnest(toks) AS token FROM t),
    counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    vocab AS (SELECT token FROM counts ORDER BY n DESC, token LIMIT 200),
    j AS (SELECT tok.source, v.token AS vt
          FROM tok LEFT JOIN vocab v ON tok.token = v.token)
    SELECT source, count(*) AS n_tokens,
           count(CASE WHEN vt IS NULL THEN 1 END) AS n_oov,
           round(count(CASE WHEN vt IS NULL THEN 1 END)
                 / CAST(count(*) AS DOUBLE), 4) AS oov_rate
    FROM j GROUP BY source ORDER BY source
    """,
)
def corpus_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vocabulary building + OOV-rate audit (round 6): top-200 token vocab
    # by corpus frequency (deterministic (count DESC, token ASC) cut), then
    # per-source out-of-vocabulary rates — the tokenizer-coverage health
    # check run after building or importing a vocabulary. The oracle
    # replays both stages; a boundary-tie drift in the vocab cut or a
    # broadcast-join miss shifts the OOV counts and flips the hash.
    docs = load(spark, sf_dir, "documents")
    vocab = text_ops.vocab_topk(docs, "text", v=200)
    return text_ops.oov_stats(docs, "source", "text", vocab).orderBy("source")


@query(
    "multimodal_jpeg_decode",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 3) AS INT) AS width,
             CAST(8 * (1 + doc_id % 2) AS INT) AS height
      FROM documents
    ),
    k AS (
      SELECT doc_id, width, height,
             unnest(range(0, (width // 8) * (height // 8))) AS blk
      FROM p
    ),
    b AS (
      SELECT doc_id, width, height,
             (doc_id + 16 * (blk // (width // 8))
                     + 8 * (blk % (width // 8))) % 256 AS v
      FROM k
    )
    SELECT doc_id AS media_id, width, height, CAST(1 AS INT) AS channels,
           CAST(sum(64 * v) AS BIGINT) AS pixel_sum,
           round(sum(64 * v) / CAST(width * height AS DOUBLE), 4) AS mean_pixel
    FROM b GROUP BY doc_id, width, height
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL baseline-JPEG decode end-to-end (round 6): synthesize a
    # spec-conformant grayscale JPEG per document — dimensions and each
    # 8x8 block's constant value are pure functions of doc_id, and with
    # flat quantization a block-constant image round-trips EXACTLY through
    # the DCT (DC-only spectra survive integer rounding). Extraction
    # huffman-decodes the entropy stream, undoes DC prediction and the
    # zigzag, dequantizes, and runs the real 2-D IDCT; the oracle
    # recomputes the decoded statistics analytically from the block-value
    # formula — any shortcut in the codec path (wrong zigzag, bad DC
    # predictor, skipped byte unstuffing, broken IDCT) shifts pixel_sum.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                w, h = 8 * (1 + did % 3), 8 * (1 + did % 2)
                blocks = np.empty((h // 8, w // 8), dtype=np.uint8)
                for bi in range(h // 8):
                    for bj in range(w // 8):
                        blocks[bi, bj] = (did + 16 * bi + 8 * bj) % 256
                img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
                payloads.append(multimodal.encode_jpeg(img))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "image")
    feats = multimodal.extract_jpeg_features(media)
    return feats.withColumn("mean_pixel", F.round("mean_pixel", 4))


@query(
    "multimodal_mjpeg_frame_sample",
    """
    WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents),
    f AS (SELECT doc_id, unnest(range(0, nf, 2)) AS frame_no FROM p)
    SELECT doc_id AS media_id, CAST(frame_no AS INT) AS frame_no,
           CAST(64 * (((doc_id * 7 + frame_no * 31) % 256)
                    + ((doc_id * 7 + frame_no * 31 + 13) % 256)) AS BIGINT)
             AS pixel_sum
    FROM f
    """,
)
def multimodal_mjpeg_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL compressed-video path (round 6): each document synthesizes a
    # Motion-JPEG AVI (2-4 frames, 16x8 grayscale, per-frame 8x8 block
    # values a pure function of (doc_id, frame_no)); sampling demuxes the
    # RIFF movi list AND huffman/IDCT-decodes each sampled '00dc' JPEG
    # frame — pixel_sum only exists if the full JPEG codec ran per frame.
    # The oracle recomputes the sampled frames' sums analytically.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                frames = []
                for fn in range(2 + did % 3):
                    blocks = np.array(
                        [[(did * 7 + fn * 31 + j * 13) % 256 for j in range(2)]],
                        dtype=np.uint8,
                    )
                    frames.append(np.kron(blocks, np.ones((8, 8), dtype=np.uint8)))
                payloads.append(multimodal.encode_avi_mjpeg(frames, fps=10))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "video")
    return multimodal.sample_avi_frames(media, every_n=2).select(
        "media_id", "frame_no", "pixel_sum"
    )


@query(
    "multimodal_mulaw_decode",
    """
    WITH p AS (
      SELECT doc_id,
             doc_id % 256 AS b,
             50 + doc_id % 40 AS n
      FROM documents
    ),
    d AS (
      SELECT doc_id, n,
             255 - b AS u
      FROM p
    )
    SELECT doc_id AS media_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * ((((u % 16) * 8 + 132) * CAST(pow(2, (u // 16) % 8) AS BIGINT)) - 132)
                AS BIGINT) AS abs_sum
    FROM d
    """,
)
def multimodal_mulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL G.711 μ-law decode (round 6): each document becomes a format-7
    # RIFF/WAVE clip of n identical μ-law codes (code and length are pure
    # functions of doc_id); extraction walks the chunks and expands each
    # code per the ITU-T sign/exponent/mantissa formula. The oracle
    # computes the identical formula in integer SQL (complement → 255-b,
    # mantissa*8+132 biased, shifted by the exponent, bias removed) — a
    # lookup-table typo or a sign/bias slip shifts abs_sum and flips the
    # hash.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                n = 50 + did % 40
                codes = np.full(int(n), did % 256, dtype=np.uint8)
                payloads.append(multimodal.encode_wav_mulaw(codes, 8000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "audio")

    def extract(it):
        import pandas as pd

        for pdf in it:
            feats = [multimodal.decode_wav(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "sample_rate": [f["sample_rate"] for f in feats],
                    "n_samples": [f["n_samples"] for f in feats],
                    "abs_sum": [f["abs_sum"] for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        extract,
        schema="media_id long, sample_rate int, n_samples long, abs_sum long",
    )


@query(
    "multimodal_audio_spectrum",
    """
    SELECT doc_id AS media_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(2000 AS BIGINT) AS n_samples,
           CAST(400 + 4 * (doc_id % 200) AS BIGINT) AS dom_freq_hz
    FROM documents
    """,
)
def multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL spectral feature extraction (round 6): each document becomes a
    # 0.25 s PCM16 sine at a planted frequency that sits EXACTLY on an FFT
    # bin (sr=8000, n=2000 → 4 Hz bins; f = 400 + 4·(doc_id % 200)).
    # Extraction decodes the WAV and recovers the dominant frequency from
    # a real numpy FFT — the oracle simply states the planted frequency,
    # so any decode or spectral-argmax defect flips the hash.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        sr, n = 8000, 2000
        t = np.arange(n)
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                f = 400 + 4 * (did % 200)
                s = np.round(9000 * np.sin(2 * np.pi * f * t / sr)).astype(np.int16)
                payloads.append(multimodal.encode_wav(s, sr, 1))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "audio")
    return multimodal.extract_audio_spectrum(media)


@query(
    "dedup_edit_distance",
    f"""
    WITH base AS (
      SELECT doc_id, substr({_SQL_NORM.format(t='text')}, 1, 24) AS k
      FROM documents
    ),
    mutated AS (
      SELECT doc_id + 1000000 AS doc_id,
             substr(k, 1, 9) || 'q' || substr(k, 11) AS k
      FROM base WHERE doc_id % 10 = 0 AND length(k) >= 10
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mutated),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             levenshtein(a.k, b.k) AS dist
      FROM corpus a JOIN corpus b
        ON substr(a.k, 1, 4) = substr(b.k, 1, 4)
       AND abs(length(a.k) - length(b.k)) <= 2
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(dist AS INT) AS dist
    FROM cand WHERE dist <= 2
    ORDER BY id_a, id_b LIMIT 100
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Character-level fuzzy dedup (round 6): every 10th document gets a
    # single-substitution twin of its normalized 24-char prefix key
    # (mutation at position 10, inside the block-surviving region);
    # prefix+length-blocked exact Levenshtein flags pairs at distance ≤ 2.
    # The oracle replays the identical blocking and DuckDB's levenshtein —
    # Spark's and DuckDB's implementations must agree edit-for-edit.
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, 24).alias("k"),
    )
    mutated = base.filter(
        (F.col("doc_id") % 10 == 0) & (F.length("k") >= 10)
    ).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.substring("k", 1, 9), F.lit("q"), F.expr("substring(k, 11)")
        ).alias("k"),
    )
    corpus = base.unionByName(mutated)
    pairs = dedup.edit_distance_pairs(
        corpus, "doc_id", "k", max_dist=2, block_prefix=4
    )
    return (
        pairs.select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("id_a", "id_b")
        .limit(100)
    )


@query(
    "multimodal_tiff_decode",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(3 + doc_id % 13 AS INT) AS width,
             CAST(2 + doc_id % 8 AS INT) AS height,
             doc_id % 256 AS v,
             CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS channels
      FROM documents
    )
    SELECT doc_id AS media_id,
           width, height, CAST(channels AS INT) AS channels,
           CAST(channels * v * width * height AS BIGINT) AS pixel_sum,
           CAST(v AS DOUBLE) AS mean_pixel
    FROM p
    """,
)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL TIFF decode end-to-end (round 6): alternate RGB and grayscale
    # baseline TIFFs per document (dimensions/fill/channels are pure
    # functions of doc_id), decoded by actually walking the IFD tag
    # directory and assembling strips. Closes the last extension on the
    # reference's IMAGE list (insert.go:191) that decodes honestly
    # codec-free; the oracle recomputes decoded statistics analytically.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                w, h, v = 3 + did % 13, 2 + did % 8, did % 256
                shape = (int(h), int(w), 3) if did % 2 == 0 else (int(h), int(w))
                payloads.append(
                    multimodal.encode_tiff(np.full(shape, v, dtype=np.uint8))
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "image")

    def extract(it):
        import pandas as pd

        for pdf in it:
            feats = [multimodal.decode_tiff(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "channels": [f["channels"] for f in feats],
                    "pixel_sum": [f["pixel_sum"] for f in feats],
                    "mean_pixel": [float(f["mean_pixel"]) for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        extract,
        schema=(
            "media_id long, width int, height int, channels int, "
            "pixel_sum long, mean_pixel double"
        ),
    )


@query(
    "multimodal_webp_decode",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(2 + doc_id % 11 AS INT) AS width,
             CAST(2 + doc_id % 6 AS INT) AS height
      FROM documents
    ),
    q AS (
      SELECT doc_id, width, height,
             height * (width - width // 2) AS n0,
             height * (width // 2) AS n1
      FROM p
    )
    SELECT doc_id AS media_id, width, height, CAST(3 AS INT) AS channels,
           CAST(  n0 * ((doc_id * 3) % 256)      + n1 * ((doc_id * 5 + 1) % 256)
                + n0 * ((doc_id * 3 + 7) % 256)  + n1 * ((doc_id * 5 + 12) % 256)
                + n0 * ((doc_id * 3 + 14) % 256) + n1 * ((doc_id * 5 + 23) % 256)
                AS BIGINT) AS pixel_sum
    FROM q
    """,
)
def multimodal_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL WebP-lossless decode (round 6): each document becomes a VP8L
    # file — a two-color column-parity checkerboard whose per-channel
    # values are pure functions of doc_id — in the simple-prefix-code
    # profile, decoded at the BIT level (LSB-first reads, five prefix
    # codes, per-pixel symbol decoding). The oracle computes the decoded
    # pixel sum analytically from the checkerboard counts; any slip in the
    # bit order, code assignment, or channel order (VP8L codes green
    # first) flips the hash. Closes the reference's IMAGE extension list.
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for did in ids:
                w, h = int(2 + did % 11), int(2 + did % 6)
                img = np.empty((h, w, 3), dtype=np.uint8)
                xpar = (np.arange(w) % 2)[None, :]
                for c in range(3):
                    v0 = (did * 3 + c * 7) % 256
                    v1 = (did * 5 + c * 11 + 1) % 256
                    img[:, :, c] = np.where(xpar == 0, v0, v1)
                payloads.append(multimodal.encode_webp_lossless(img))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # round-15: the single-row-group fixture scans as ONE partition —
    # repartition before the heavy Python codec map (guide §2.6/§8.3)
    raw = ensure_parallelism(docs).mapInPandas(encode, schema="media_id long, payload binary")
    media = multimodal.wrap_binary(raw, "media_id", "payload", "image")

    def extract(it):
        import pandas as pd

        for pdf in it:
            feats = [multimodal.decode_webp_lossless(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "channels": [f["channels"] for f in feats],
                    "pixel_sum": [f["pixel_sum"] for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        extract,
        schema="media_id long, width int, height int, channels int, pixel_sum long",
    )


@query(
    "corpus_sample_per_group",
    """
    WITH r AS (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT source, count(*) AS n, min(doc_id) AS min_id,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM r WHERE rk <= 25 GROUP BY source ORDER BY source
    """,
)
def corpus_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic per-group sampling (round 6): 25 docs per source by
    # md5 order — the balanced-subset construction an eval-set builder
    # needs, byte-identical across runs/engines/retries. Aggregating the
    # sampled ids (count/min/sum) makes any rank or hash-order drift flip
    # the hash. plan: one shuffle; WindowGroupLimit cuts to ~n rows per
    # group inside the sort.
    docs = load(spark, sf_dir, "documents")
    sampled = text_ops.sample_per_group(docs, "source", "doc_id", 25)
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("source")
    )


# ann_ivf_pq_top10 retired round-13 in a one-for-one registry swap under
# the freeze (the r12 verdict's swap discipline): rows-only and redundant
# by composition — its two stages are covered by ann_ivf_top10 (list
# pruning) and ann_pq_top10 (ADC scoring), both still in rotation, and
# the ivf_pq_topk operator keeps its recall/determinism pytests. Swapped
# for the oracle-checked refsql_update_from (round-13 join update).
def ann_ivf_pq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF+PQ composed (round-8) — the production serving shape: the
    # coarse quantizer prunes to n_probe=6 of 16 inverted lists, PQ-ADC
    # scores only those candidates from 16-byte codes, exact rescore
    # tail. At 100 TB the stages multiply: rows cut by IVF, bytes/row
    # cut by PQ. Round-9: codes quantize IVF residuals (FAISS's
    # by_residual default) — A/B in BASELINE.md: 1.5x tighter ADC on
    # clustered corpora, parity-after-rescore on this near-uniform
    # fixture. pytest pins recall vs brute force + the residual A/B.
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return similarity.ivf_pq_topk(
        emb, "vec_id", "embedding", q, dim=64, k=10, n_probe=6
    )


@query(
    "sample_quality_weighted",
    f"""
    WITH q0 AS (SELECT * FROM ({_sql_quality("text")}) AS z),
    s AS (
      SELECT d.doc_id, d.source, q0.quality,
             ln((CAST(CAST('0x' || substr(md5('qws|' ||
                 CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
                 + 1.0) / 1152921504606846976.0) / q0.quality AS k
      FROM documents d JOIN q0 ON d.doc_id = q0.doc_id
      WHERE q0.quality > 0
    )
    SELECT doc_id, source, quality FROM s ORDER BY k DESC, doc_id LIMIT 40
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality-weighted curation draw (round-8): 40 documents sampled with
    # inclusion odds proportional to the composite quality score — the
    # canonical "sample good data harder" curation op, composed from two
    # green primitives (text.quality_score, text.weighted_sample). The
    # weight is the ROUNDED 4-dp score so both engines rank identical
    # doubles; the whole plan is scan-stage column algebra +
    # TakeOrderedAndProject (the score costs no shuffle, the draw costs
    # no shuffle — curation sampling at 100 TB is a single pass).
    from ..operators.text import quality_score_from_tokens, tokenize

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        tokenize("text").alias("toks"),
        tokenize(F.lower("text")).alias("toks_lower"),
    ).select(
        "doc_id",
        "source",
        quality_score_from_tokens(
            "text", F.col("toks"), F.col("toks_lower")
        ).alias("quality"),
    )
    return text_ops.weighted_sample(
        scored, "quality", "doc_id", 40, salt="qws"
    ).select("doc_id", "source", "quality")


@query(
    "text_pmi_collocations",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents),
    u AS (SELECT unnest(toks) AS tok FROM t),
    uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
    nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
    g AS (SELECT unnest({_SQL_BIGRAMS}) AS gram FROM t),
    gc AS (SELECT gram, CAST(count(*) AS BIGINT) AS cab
           FROM g GROUP BY gram),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
    j AS (
      SELECT gc.gram, gc.cab, ua.c AS ca, ub.c AS cb
      FROM gc
      JOIN uc ua ON ua.tok = string_split(gc.gram, ' ')[1]
      JOIN uc ub ON ub.tok = string_split(gc.gram, ' ')[2]
      WHERE gc.cab >= 5
    )
    SELECT gram, cab AS n,
           round(ln((CAST(cab AS DOUBLE) * CAST(nu.n AS DOUBLE)
                     * CAST(nu.n AS DOUBLE))
                    / (CAST(nb.n AS DOUBLE) * CAST(ca AS DOUBLE)
                       * CAST(cb AS DOUBLE))), 3) + 0.0 AS pmi
    FROM j, nu, nb
    ORDER BY pmi DESC, gram LIMIT 15
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored collocations (round 8): bigrams that co-occur far more
    than their unigram frequencies predict — ln(p(ab)/(p(a)p(b))) with a
    min-support cut, the classic collocation/multi-word-expression
    extractor (and a boilerplate detector that, unlike raw bigram
    counts, is not dominated by stopword pairs). Two vocab-bounded
    aggregations + two vocab-bounded joins; totals broadcast as 1-row
    frames. The PMI products are mirrored factor-for-factor in the
    oracle so both engines run the identical double arithmetic; the ln
    ULP is absorbed by the 3 dp rounding convention."""
    from ..operators.text import norm_tokens, shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", norm_tokens("text").alias("toks"))
    u = toked.select(F.explode("toks").alias("tok"))
    uc = u.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    nu = u.agg(F.count(F.lit(1)).cast("bigint").alias("n_uni"))
    g = toked.select(
        F.explode(shingles_from_tokens(F.col("toks"), 2)).alias("gram")
    )
    gc = g.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cab")
    )
    nb = g.agg(F.count(F.lit(1)).cast("bigint").alias("n_bi"))
    ua = uc.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    ub = uc.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    j = (
        gc.filter(F.col("cab") >= 5)
        .withColumn("tok_a", F.split("gram", " ")[0])
        .withColumn("tok_b", F.split("gram", " ")[1])
        .join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    num = (
        F.col("cab").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
    )
    den = (
        F.col("n_bi").cast("double")
        * F.col("ca").cast("double")
        * F.col("cb").cast("double")
    )
    return (
        j.select(
            "gram",
            F.col("cab").alias("n"),
            (F.round(F.log(num / den), 3) + F.lit(0.0)).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "gram")
        .limit(15)
    )


@query(
    "corpus_dup_rate_by_source",
    """
    WITH h AS (SELECT source, md5(text) AS sig FROM documents),
    per AS (SELECT source, sig, COUNT(*) AS c FROM h GROUP BY source, sig)
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dups,
           round(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 4) + 0.0
             AS dup_rate
    FROM per GROUP BY source ORDER BY source
    """,
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication diagnostics (round 8): the curation
    dashboard metric that decides WHERE to spend dedup effort — docs,
    unique signatures, duplicate count, and duplicate rate per source.
    Signatures are md5(text) (exact dedup's key), so the shuffle moves
    32-byte hashes, never documents; two partial-aggregated groupBys
    share the source key. Rates are rational over exact counts."""
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.md5("text").alias("sig"))
        .groupBy("source", "sig")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
            (F.sum("c") - F.count(F.lit(1))).cast("bigint").alias("n_dups"),
            (
                F.round(
                    (F.sum("c") - F.count(F.lit(1))).cast("double")
                    / F.sum("c"),
                    4,
                )
                + F.lit(0.0)
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "features_robust_scale",
    """
    WITH s AS (
      SELECT event_type,
             quantile_cont(CAST(value AS DOUBLE), 0.5) AS med,
             quantile_cont(CAST(value AS DOUBLE), 0.75)
               - quantile_cont(CAST(value AS DOUBLE), 0.25) AS iqr
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN s.iqr > 0
                THEN round((CAST(e.value AS DOUBLE) - s.med) / s.iqr, 4) + 0.0
           END AS scaled
    FROM events e JOIN s ON e.event_type = s.event_type
    """,
)
def features_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: RobustScaler feature prep — (x - median)/IQR per event
    # type, the outlier-proof normalization a training pipeline runs
    # before model fitting. Fit = one bounded per-group aggregate (three
    # exact interpolated quantiles, broadcast back); transform =
    # scan-local column algebra. 4-dp rounding absorbs the ~1-ULP
    # cross-engine quantile-interpolation noise.
    from ..operators import features

    ev = load(spark, sf_dir, "events")
    return features.robust_scale(ev, "value", ["event_type"]).select(
        "event_id", "event_type", "scaled"
    )


@query(
    "features_minmax_scale",
    """
    WITH s AS (
      SELECT l_returnflag,
             MIN(CAST(l_quantity AS DOUBLE)) AS lo,
             MAX(CAST(l_quantity AS DOUBLE)) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CASE WHEN s.hi > s.lo
                THEN round((CAST(l.l_quantity AS DOUBLE) - s.lo)
                           / (s.hi - s.lo), 4) + 0.0
           END AS scaled
    FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
    """,
)
def features_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: MinMaxScaler — (x - min)/(max - min) into [0, 1] per
    # return flag. min/max are exact input values (no interpolation), so
    # the fitted state is bit-identical cross-engine before rounding.
    from ..operators import features

    li = load(spark, sf_dir, "lineitem")
    return features.minmax_scale(li, "l_quantity", ["l_returnflag"]).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "scaled"
    )


@query(
    "text_ngram_novelty",
    f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS_NORM} AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6' AS is_eval
      FROM documents
    ),
    sh AS (SELECT doc_id, is_eval, {_SQL_5GRAMS} AS grams FROM d),
    e AS (SELECT doc_id, is_eval, unnest(grams) AS g FROM sh),
    tg AS (SELECT DISTINCT g FROM e WHERE NOT is_eval),
    ev AS (
      SELECT e.doc_id, tg.g IS NOT NULL AS hit
      FROM e LEFT JOIN tg ON e.g = tg.g
      WHERE e.is_eval
    )
    SELECT doc_id AS eval_doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_seen,
           round(1.0 - (count(*) FILTER (WHERE hit))
                 / CAST(count(*) AS DOUBLE), 4) + 0.0 AS novelty
    FROM ev GROUP BY 1 ORDER BY 1
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring (round 9): for each eval-split document,
    the fraction of its distinct 5-grams NOT present anywhere in the
    train split — the per-document QUALITY-SCORE complement of the
    contamination audit (contamination counts offending train docs;
    novelty grades how much of the eval doc is genuinely unseen, the
    signal used to filter memorized/boilerplate eval items). The train
    side collapses to a distinct-gram set before the join, so the join
    key cardinality is the train VOCABULARY of grams, not the corpus; at
    100 TB the bloom variant (operators/membership) prefilters the same
    test without materializing the set. The novelty ratio is one exact
    integer division (IEEE correctly rounded — bit-identical
    cross-engine) before the 4-dp delivery rounding."""
    from ..operators.text import norm_tokens, shingles_from_tokens
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        (_md5_bucket(F.col("doc_id")) >= "e6").alias("is_eval"),
        F.explode(
            F.array_distinct(
                shingles_from_tokens(norm_tokens("text"), 5)
            )
        ).alias("g"),
    )
    train_set = grams.filter(~F.col("is_eval")).select("g").distinct()
    ev = grams.filter(F.col("is_eval")).join(
        train_set.withColumn("__hit", F.lit(1)), "g", "left"
    )
    return (
        ev.groupBy(F.col("doc_id").alias("eval_doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_seen"),
        )
        .select(
            "eval_doc_id",
            "n_grams",
            "n_seen",
            (
                F.round(
                    F.lit(1.0)
                    - F.col("n_seen") / F.col("n_grams").cast("double"),
                    4,
                )
                + F.lit(0.0)
            ).alias("novelty"),
        )
        .orderBy("eval_doc_id")
    )


@query(
    "ann_batch_queries",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < 8),
    s AS (
      SELECT q.qid, e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.qv AS DOUBLE[])),
                   6) AS score
      FROM q JOIN embeddings e ON TRUE
    )
    SELECT qid, vec_id, score FROM s
    QUALIFY row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, vec_id) <= 5
    ORDER BY qid, score DESC, vec_id
    """,
)
def ann_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched-query ANN (round 9) — the serving shape: 8 queries
    answered in ONE plan (in-plan probe assignment per query, broadcast
    equi-join on list_id, exact cosine, per-query window top-k; never a
    per-query driver round trip). Run at FULL probe the IVF pruning
    vanishes and the result is the exact per-query top-5 — which is what
    the oracle checks (DuckDB's native list_dot_product cross-join
    top-k); partial probe trades recall exactly like single-query
    ivf_topk and is pinned in pytest. Both engines rank by the
    6-dp-rounded score with a vec_id tiebreak, so selection is total."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return similarity.ivf_topk_batch(
        emb, "vec_id", "embedding", queries, "qid", "qv",
        k=5, n_centroids=16, n_probe=16,
    )


@query(
    "ann_multiassign_top10",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < 4),
    s AS (
      SELECT q.qid, e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.qv AS DOUBLE[])),
                   6) AS score
      FROM q JOIN embeddings e ON TRUE
    )
    SELECT qid, vec_id, score FROM s
    QUALIFY row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, vec_id) <= 5
    ORDER BY qid, score DESC, vec_id
    """,
)
def ann_multiassign_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-assigned ANN (round 10): the corpus spills each vector to
    its 2 nearest IVF lists (the partial-probe recall lever — A/B in
    BASELINE.md) and 4 queries run at FULL probe, where the result must
    be the EXACT per-query top-5 — which only holds if the spilled
    copies dedupe correctly (a duplicate id occupying two top-k slots
    would break the oracle match). Partial-probe recall gains are pinned
    in pytest (test_ivf_multi_assignment_raises_partial_probe_recall);
    this row pins the dedup correctness end-to-end against DuckDB's
    exact cross-join top-k."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return similarity.ivf_topk_batch(
        emb, "vec_id", "embedding", queries, "qid", "qv",
        k=5, n_centroids=16, n_probe=16, n_assign=2,
    )


@query(
    "ann_matryoshka_top10",
    """
    WITH q AS (SELECT vec_id AS qid, (embedding[1:16])::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 4),
    s AS (
      SELECT q.qid, e.vec_id,
             round(list_cosine_similarity((e.embedding[1:16])::DOUBLE[],
                                          q.qv), 6) AS score
      FROM q JOIN embeddings e ON TRUE
    )
    SELECT qid, vec_id, score FROM s
    QUALIFY row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, vec_id) <= 10
    ORDER BY qid, score DESC, vec_id
    """,
)
def ann_matryoshka_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation (round-11): score on the
    FIRST 16 of 64 dims only — the MRL serving trade (4x less scan
    bandwidth and 4x smaller indexes when embeddings are trained
    nested). Truncated cosine renormalizes by construction, so this is
    exact top-k under the truncated metric — fully SQL-expressible,
    hash-checked against DuckDB list slicing. Truncation RECALL vs the
    full metric is data-dependent (the synthetic isotropic fixture has
    no MRL head structure, so no recall floor is pinned — self-hit
    rank-1 is, in test_operators). At 100 TB the slice pushes into the
    scan: 16 floats per row cross the wire, not 64."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = emb.crossJoin(F.broadcast(queries)).select(
        "qid", "vec_id",
        F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias(
            "score"
        ),
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .drop("__rn")
        .orderBy("qid", F.col("score").desc(), "vec_id")
    )


@query(
    "ann_hard_negatives",
    """
    WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                      (embedding)::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 4),
    s AS (
      SELECT q.qid, e.vec_id,
             round(list_cosine_similarity((e.embedding)::DOUBLE[], q.qv),
                   6) AS score
      FROM q JOIN embeddings e ON e.label <> q.qlabel
    )
    SELECT qid, vec_id, score FROM s
    QUALIFY row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, vec_id) <= 5
    ORDER BY qid, score DESC, vec_id
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (round-11): for each query, the top-5 most
    SIMILAR vectors with a DIFFERENT label — the contrastive-training
    prep step (negatives that are hard because they're close). The
    label predicate folds into the candidate join, so at scale this is
    the same probe-bounded shape as any ANN pass with a pushed filter,
    never a second scan. Exact form here (broadcast cross-score) —
    hash-checked against DuckDB's predicated cross join."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)  # includes label
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        emb.join(
            F.broadcast(queries), F.col("label") != F.col("qlabel")
        )
        .select(
            "qid", "vec_id",
            F.round(
                similarity.cosine(F.col("embedding"), F.col("qv")), 6
            ).alias("score"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .drop("__rn")
        .orderBy("qid", F.col("score").desc(), "vec_id")
    )


#: power-of-two length buckets for batch packing — identical CASE text on
#: both engines (integer compares only; no log2 float knife edges).
_SQL_LEN_BUCKET = """CASE WHEN {c} <= 16 THEN 16 WHEN {c} <= 32 THEN 32
    WHEN {c} <= 64 THEN 64 WHEN {c} <= 128 THEN 128
    WHEN {c} <= 256 THEN 256 WHEN {c} <= 512 THEN 512
    WHEN {c} <= 1024 THEN 1024 ELSE 2048 END"""


@query(
    "corpus_length_bucket_batches",
    f"""
    WITH t AS (SELECT doc_id,
                      CAST(len({_SQL_TOKS.format(t='text')}) AS BIGINT)
                        AS n_toks
               FROM documents),
    b AS (SELECT n_toks,
                 CAST({_SQL_LEN_BUCKET.format(c='n_toks')} AS BIGINT)
                   AS bucket
          FROM t)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
           CAST(SUM(bucket - n_toks) AS BIGINT) AS padding,
           SUM(n_toks)::DOUBLE / (COUNT(*) * bucket) AS fill
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def corpus_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching prep (round-11): assign every document a
    power-of-two token-length bucket and report per-bucket volume,
    padding waste (bucket_top − tokens summed), and fill efficiency —
    the standard transformer-training lever (padding-to-longest inside a
    length bucket wastes far less compute than global padding). Integer
    CASE bucketing (no log2 float edges); `fill` is a quotient of exact
    integers delivered UNROUNDED — IEEE division of identical operands
    is bit-identical cross-engine (the LOO-encoder precedent). One
    shuffle (the groupBy); the bucket map is scan-side."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("bigint").alias("n_toks")
    )
    b = docs.withColumn(
        "bucket",
        F.expr(_SQL_LEN_BUCKET.format(c="n_toks")).cast("bigint"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("sum_toks"),
            F.sum(F.col("bucket") - F.col("n_toks")).alias("padding"),
            (
                F.sum("n_toks").cast("double")
                / (F.count(F.lit(1)) * F.first("bucket"))
            ).alias("fill"),
        )
        .orderBy("bucket")
    )


@query(
    "refsql_unnest_tokens",
    f"""
    WITH x AS (SELECT doc_id, unnest({_SQL_TOKS_NORM}) AS tok
               FROM documents WHERE doc_id < 40)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM x WHERE length(tok) >= 4
    GROUP BY tok HAVING COUNT(*) >= 3
    ORDER BY n DESC, tok LIMIT 25
    """,
)
def refsql_unnest_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT-list unnest through the dialect (round-11): token explode +
    per-token aggregation written as plain SQL — the everyday corpus-
    analytics shape (term frequencies over normalized tokens). The
    dialect maps unnest to Spark's explode generator (one Generate node
    planned inside the scan stage — rows fan out map-side, the only
    shuffle is the groupBy). Oracle: DuckDB's native unnest on the same
    normalization."""
    from .core import _ref_select

    return _ref_select(
        spark,
        sf_dir,
        # NB: Spark SQL single-quoted literals eat one backslash level, so
        # the regex \s must be spelled \\s in the SQL text (r10 gotcha
        # class: '\s+' reaches the regex engine as 's+' and replaces runs
        # of the letter s).
        "WITH x AS (SELECT doc_id, unnest(split(trim(regexp_replace("
        "regexp_replace(lower(text), '[^a-z0-9\\\\s]', ' ', 'g'), "
        "'\\\\s+', ' ', 'g')), ' ')) AS tok FROM documents WHERE doc_id < 40) "
        "SELECT tok, COUNT(*) AS n, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs "
        "FROM x WHERE length(tok) >= 4 "
        "GROUP BY tok HAVING COUNT(*) >= 3 "
        "ORDER BY n DESC, tok LIMIT 25",
    )


@query(
    "events_skew_report",
    """
    WITH c AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY event_type, user_id),
    s AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS nkeys FROM c)
    SELECT c.event_type, c.user_id, c.n,
           c.n / s.total AS share,
           c.n / s.total * s.nkeys AS ratio_vs_mean
    FROM c, s
    ORDER BY c.n DESC, c.event_type, c.user_id LIMIT 10
    """,
)
def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics workload (round-11): the top-10 heaviest
    (event_type, user_id) keys with share-of-table and ratio-vs-mean —
    the pre-flight check that decides salting vs AQE-split vs nothing
    for a join or groupBy on this key. One shuffle (the per-key count);
    the totals are a 1-row broadcast, never a global window or a second
    scan (operators/skew.skew_report). share/ratio ship unrounded:
    quotients of exact integers are bit-identical cross-engine."""
    from ..operators import skew

    ev = load(spark, sf_dir, "events")
    return skew.skew_report(ev, ["event_type", "user_id"], top_k=10)


@query(
    "refsql_star_replace",
    """
    SELECT * REPLACE (lower(n_name) AS n_name,
                      CAST(n_regionkey * 10 AS BIGINT) AS n_regionkey)
    FROM nation ORDER BY n_nationkey
    """,
)
def refsql_star_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * REPLACE through the dialect (round-11): star expansion
    with named columns swapped for expressions IN PLACE — column order
    preserved (withColumn replaces positionally, the DuckDB contract).
    DuckDB runs the identical standard syntax as the oracle."""
    from .core import _ref_select

    return _ref_select(
        spark,
        sf_dir,
        "SELECT * REPLACE (lower(n_name) AS n_name, "
        "CAST(n_regionkey * 10 AS BIGINT) AS n_regionkey) "
        "FROM nation ORDER BY n_nationkey",
    )


@query("ann_multiassign_recall")  # rows-only: partial probe is approximate
def ann_multiassign_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEARCH-side value of IVF multi-assignment (round-11, verdict #6):
    8 queries at PARTIAL probe (6 of 16 lists) over a 3x-spilled corpus,
    each compared IN-PLAN against its exact brute-force top-10 (broadcast
    cross-score + per-query window top-k — the independent truth, not the
    IVF operator at full probe). Output: one row per query with its
    recall@10, so the recall gain the r10 A/B measured (BASELINE.md:
    single-assignment ~0.61 mean at probe=6 vs >=0.9 spilled) is driver-
    visible, not pytest-only. Rows-only by design: the probed candidate
    set is a property of the trained quantizer, and the training is NOT
    SQL-replayable — unlike dedup_semantic_clusters' hash-picked
    centroids, Lloyd iterations recompute cluster MEANS with numpy's
    pairwise summation, which SQL AVG (sequential/partial-agg summation)
    cannot reproduce bit-for-bit; a one-ULP mean difference flips argmax
    assignments near Voronoi boundaries and changes the candidate set,
    so an oracle would be comparing two different (both valid) indexes
    (r11 verdict #6: documented refusal, kept rows-only). pytest pins
    mean recall >= 0.9 and dominance over single-assignment
    (test_operators.test_multiassign_recall_workload_floor)."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    approx = similarity.ivf_topk_batch(
        emb, "vec_id", "embedding", queries, "qid", "qv",
        k=10, n_centroids=16, n_probe=6, n_assign=3,
    )
    scored = emb.crossJoin(F.broadcast(queries)).select(
        "qid", "vec_id",
        F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias(
            "score"
        ),
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    exact = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .select("qid", "vec_id")
    )
    hits = exact.join(
        approx.select("qid", "vec_id"), ["qid", "vec_id"], "left_semi"
    ).groupBy("qid").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        queries.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) / F.lit(10.0)).alias("recall"),
        )
        .orderBy("qid")
    )


@query(
    "features_quantile_rank",
    """
    SELECT event_id, event_type,
           percent_rank() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS scaled
    FROM events
    """,
)
def features_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: QuantileTransformer feature prep — percent_rank per event
    # type with the event_id tiebreak making the order total. Delivered
    # UNROUNDED: rank/(n-1) is rational arithmetic, bit-identical
    # cross-engine (the PERCENT_RANK precedent).
    from ..operators import features

    ev = load(spark, sf_dir, "events")
    return features.quantile_rank_scale(
        ev, "value", ["event_type"], tiebreak_col="event_id"
    ).select("event_id", "event_type", "scaled")


@query(
    "corpus_chunk_dedup_rate",
    f"""
    WITH d AS (SELECT doc_id, source, {_SQL_TOKS_NORM} AS toks
               FROM documents),
    st AS (
      SELECT doc_id, source, toks,
             unnest(range(1, greatest(len(toks) - 8, 1) + 1, 24)) AS start
      FROM d
    ),
    ch AS (
      SELECT source,
             md5(array_to_string(toks[start : start + 31], ' ')) AS h
      FROM st
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
           round(1.0 - COUNT(DISTINCT h) / CAST(COUNT(*) AS DOUBLE), 4)
             + 0.0 AS dup_rate
    FROM ch GROUP BY source ORDER BY source
    """,
)
def corpus_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity dedup diagnostics (round 9): after sliding-window
    chunking (the RAG/embedding prep step), what fraction of chunks per
    SOURCE are duplicates? Boilerplate shows up at chunk granularity even
    when whole documents are unique — this is the measurement that
    decides whether to dedup before or after chunking in the pipeline.
    Chunk boundaries are the deterministic column-algebra windows
    (corpus_chunk_sliding), identity is the md5 of the chunk text (both
    engines), and the dup rate is one exact integer division (IEEE
    correctly rounded, bit-identical) before the 4-dp delivery."""
    from ..operators.text import chunk_documents
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load(spark, sf_dir, "documents"))
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)
    src = docs.select("doc_id", "source")
    return (
        chunks.join(F.broadcast(src), "doc_id")
        .select("source", F.md5("chunk_text").alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_distinct("h").alias("n_distinct"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct",
            (
                F.round(
                    F.lit(1.0)
                    - F.col("n_distinct") / F.col("n_chunks").cast("double"),
                    4,
                )
                + F.lit(0.0)
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "features_target_encode_loo",
    """
    WITH w AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS v,
             sum(CAST(value AS DOUBLE)) OVER (PARTITION BY event_type) AS s,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_id, event_type,
           CASE WHEN n > 1
                THEN round(s - v, 2) / CAST(n - 1 AS DOUBLE)
           END AS encoded
    FROM w
    """,
)
def features_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: leave-one-out target encoding — each event's type encoded
    # as the mean value of all OTHER events of that type (the standard
    # no-leakage categorical encoder for model features). The numerator
    # re-rounds to 2 dp so both engines divide bit-identical inputs
    # (sums of 2-dp values are true multiples of 0.01); the quotient is
    # delivered UNROUNDED — IEEE division of identical inputs is
    # bit-identical, while a decimal rounding would land on exact-half
    # knife edges (m/20000 at n-1=200) where the engines' rounding
    # modes legitimately differ.
    from ..operators import features

    ev = load(spark, sf_dir, "events")
    return features.loo_target_encode(ev, "event_type", "value").select(
        "event_id", "event_type", "encoded"
    )


@query(
    "corpus_doc_length_histogram",
    f"""
    WITH t AS (SELECT source,
                      CAST(len({_SQL_TOKS.format(t='text')}) AS INT) AS n
               FROM documents)
    SELECT source,
           CAST(least(CAST(floor(n / 32) AS INT), 15) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n) AS INT) AS min_tokens,
           CAST(MAX(n) AS INT) AS max_tokens
    FROM t
    GROUP BY source, least(CAST(floor(n / 32) AS INT), 15)
    """,
)
def corpus_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution audit (round 10) — the pre-training
    report every corpus pipeline runs before packing: per source, a
    fixed-width histogram of whitespace token counts (32-token buckets,
    top bucket open-ended) with per-bucket min/max. Plain floor/least
    bucketing (portable arithmetic — no engine-specific width_bucket),
    so the oracle replays the exact bucket math; all outputs integer.
    At 100 TB: one narrow map (token count) + one partial-aggregated
    groupBy bounded by sources x 16 buckets."""
    docs = load(spark, sf_dir, "documents")
    n = text_ops.token_count("text").cast("int")
    bucket = F.least(F.floor(n / 32).cast("int"), F.lit(15)).cast("int")
    return (
        docs.select("source", n.alias("n"), bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n").cast("int").alias("min_tokens"),
            F.max("n").cast("int").alias("max_tokens"),
        )
    )
