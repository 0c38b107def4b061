"""Corpus-preparation operators over the documents table — the
scrub/score/pack/decontaminate family a training-data pipeline runs
between raw ingest and tokenization. Extensions beyond SURVEY.md §3
(same first-class status as X1–X5 per the build brief).

Design rules as everywhere in the engine: built-in column expressions
(codegen'd, zero Python in the hot path), every candidate generator an
equi-join (never all-pairs), every query deterministic with a DuckDB
oracle.

Docstring convention: ``{NAME}`` inside a function docstring names the
module-level constant of that name (e.g. ``{TFIDF_TOP_K}``,
``{DECON_K}``) — a deliberate cross-reference, NOT a failed
interpolation: an f-string in docstring position would not bind to
``__doc__`` at all, and hardcoding the value would go stale when the
constant moves.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trafficteach_spark import schemas
from trafficteach_spark.functions.exprs import (
    ASCII_LOWER,
    ASCII_UPPER,
    ascii_lower_sql,
    md5_prefix_int_duck,
    md5_prefix_int_spark,
)
from trafficteach_spark.registry import register
from trafficteach_spark.sources.tables import load_table, persisted_frame, spread_scan

# PII patterns restricted to syntax that Java regex (Spark) and RE2
# (DuckDB) interpret identically: character classes, bounded repetition,
# no backrefs/lookaround.
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

# The fixture text is synthetic word soup with no PII-shaped spans, so —
# like the multimodal family synthesizes binary payloads from text
# (q40/q41) — the registered query first plants deterministic spans
# derived from doc_id, then scrubs them. The *operator* is the scrub;
# the planting just makes the oracle non-vacuous on this fixture.
_PLANT_SQL = (
    "concat(text, ' contact user', cast(doc_id as string), "
    "'@example.com or +1-555-', lpad(cast(doc_id % 10000 as string), 4, '0'), "
    "' now')"
)
_PLANT_DUCK = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "|| ' now'"
)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Library form: add n_emails / n_phones counts and a ``redacted``
    copy of ``text_col`` with every email/phone span replaced by a typed
    placeholder. Pure per-row regex expressions — one map stage, no
    shuffle, trivially linear at 100 TB."""
    c = F.col(text_col)
    return (
        df.withColumn("n_emails", F.size(F.regexp_extract_all(c, F.lit(_EMAIL_RE), F.lit(0))))
        .withColumn("n_phones", F.size(F.regexp_extract_all(c, F.lit(_PHONE_RE), F.lit(0))))
        .withColumn(
            "redacted",
            F.regexp_replace(
                F.regexp_replace(c, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
            ),
        )
    )


# ONE tokenization-lowercase for both engines (see exprs.ascii_lower_sql:
# the builtins' Unicode casing diverges outside ASCII; round-12 review
# finding). _ASCII_LOWER_TABLE is the Python-worker twin for the BPE
# tokenizer apply path.
_LOWER_TEXT = ascii_lower_sql("text")
_ASCII_LOWER_TABLE = str.maketrans(ASCII_UPPER, ASCII_LOWER)


def _lower_text_col():
    """Column form of ``_LOWER_TEXT`` for the DataFrame tokenizers."""
    return F.expr(_LOWER_TEXT)



@register(
    "q47_pii_redact",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_PLANT_DUCK} AS planted FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(planted, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(planted, '{_PHONE_RE}')) AS INT) AS n_phones,
           regexp_replace(
               regexp_replace(planted, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM raw
    """,
    tags=("llm", "corpus", "pii"),
)
def q47_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email/phone spans per document —
    the compliance pass every training corpus runs before anything else.
    Body is :func:`pii_redact`; see _PLANT_SQL for why the fixture run
    plants deterministic spans first. Note DuckDB's ``regexp_replace``
    needs the 'g' flag for the global semantics Spark applies by default
    — an easy silent-mismatch trap the oracle pins down.
    """
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select("doc_id", F.expr(_PLANT_SQL).alias("planted"))
    return pii_redact(planted, "planted").select(
        "doc_id", "n_emails", "n_phones", "redacted"
    )


TFIDF_TOP_K = 5


@register(
    "q48_tfidf",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rn AS term_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
        ) AS rn
        FROM scored
    )
    WHERE rn <= {TFIDF_TOP_K}
    """,
    tags=("llm", "corpus", "X4"),
)
def q48_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{TFIDF_TOP_K} terms by smoothed TF-IDF — the
    keyword/topic signal quality filters and dedup triage use.

    Plan: explode -> (doc, term) count -> document frequency as a COUNT
    window over the term partition of that same frame (a groupBy+self-join
    formulation was measured at 14 exchanges because the tf frame is
    recomputed on both sides; the window form shuffles tf exactly once on
    term) -> broadcast the 1-row corpus count -> window top-k. Ranking
    uses the ROUNDED score with a term tie-break so both engines pick
    identical top-k sets. At 100 TB: two shuffles on uniform keys
    ((doc, term) then term) plus the per-doc top-k window.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "term_rank")
    )


PACK_BUDGET = 256  # tokens per packed sequence (training context budget)


@register(
    "q49_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS cum_before
        FROM t
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS bin_id,
           CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS pack_offset
    FROM c
    """,
    tags=("llm", "corpus", "packing"),
)
def q49_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document a (bin_id, pack_offset)
    inside fixed {PACK_BUDGET}-token training sequences, per source —
    the step that turns a filtered corpus into dense fixed-length
    batches.

    Semantics: deterministic CUMULATIVE binning (exclusive prefix sum of
    token counts, integer-divided by the budget). This is the
    shuffle-friendly streaming approximation of greedy first-fit packing:
    a doc spanning a boundary spills into the next bin (its offset tells
    the writer where the split falls), instead of the driver-coordinated
    bin search exact FFD needs. One window over (source, doc_id) — i.e.
    one shuffle, and none at all if the corpus is stored bucketed by
    source. Integer arithmetic end to end, so cross-engine parity is
    exact by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        # NULLS LAST explicitly: Spark's ASC default is NULLS FIRST
        # while DuckDB's is NULLS LAST, so a NULL doc_id shifted every
        # cumulative offset in its source between the engines
        # (round-12 review finding).
        .orderBy(F.col("doc_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(f"cum_before DIV {PACK_BUDGET}").alias("bin_id"),
        (F.col("cum_before") % PACK_BUDGET).cast("long").alias("pack_offset"),
    )


# Decontamination geometry: word 8-grams (long enough that random word
# soup never collides; only genuine shared passages match), benchmark
# set = every 7th doc_id (a deterministic stand-in for the held-out
# eval table a real pipeline joins against).
DECON_K = 8
DECON_BENCH_MOD = 7

_DUCK_GRAM = " || ' ' || ".join(f"w[i+{j}]" for j in range(DECON_K))


def adjacent_bigrams_spark(col: str) -> str:
    """Spark SQL expr: the adjacent word-bigram list of array column
    ``col`` — ONE construction for every consumer (q87's PMI, q169's
    DSIR features). Four hand copies of this boundary-sensitive
    arithmetic existed across the two dialects; a whitespace/off-by-one
    fix of the q82-round-10 kind must land once, not four times
    (round-11 review finding). Pairs with :func:`adjacent_bigrams_duck`.
    """
    return (
        f"transform(sequence(1, size({col}) - 1),"
        f" i -> concat(element_at({col}, i), ' ', element_at({col}, i + 1)))"
    )


def adjacent_bigrams_duck(col: str) -> str:
    """DuckDB twin of :func:`adjacent_bigrams_spark` (1-based list
    indexing; range(1, len) stops at the last adjacent pair)."""
    return (
        f"list_transform(range(1, len({col})),"
        f" i -> {col}[CAST(i AS INTEGER)] || ' ' || {col}[CAST(i AS INTEGER) + 1])"
    )


def word_kgrams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, gram): distinct word k-grams per document with >= k
    tokens — the inverted-index feed shared by decontamination (q50)
    and edit-distance candidates (q57). dedup.py's _shingle_sets is the
    K=3-gram sibling; kept separate because its K is a
    registered oracle constant with its own derived SQL body.
    """
    gram_words = ", ".join(f"w[i+{j}]" for j in range(k))
    return (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(0, size(w) - {k}),"
                    f" i -> concat_ws(' ', {gram_words})))"
                )
            ).alias("gram"),
        )
    )


def shared_word_kgrams(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The persisted k-gram frame, ONE instance per (session, sf_dir, k),
    kept while the documents part files are unchanged
    (``persisted_frame``) — q50 and q57 both consume the identical
    word_kgrams(docs, DECON_K) frame, and each used to persist() a FRESH
    instance per invocation with no unpersist: in a bench loop those
    stack as distinct cache entries until LRU eviction, and running both
    queries paid the dominant 8-gram HOF explode twice (round-6 review
    finding)."""
    # spread_scan (guide §2.5): the k-gram HOF explode is the dominant
    # cost and would otherwise run on the single scan split.
    return persisted_frame(
        spark,
        ("word_kgrams", sf_dir, k),
        lambda: word_kgrams(
            spread_scan(spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"),
            k,
        ),
    )


@register(
    "q50_decontaminate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct([{_DUCK_GRAM}
                        for i in range(1, len(w) - {DECON_K - 2})])) AS gram
        FROM tok WHERE len(w) >= {DECON_K}
    ),
    bench AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_BENCH_MOD} = 0
    )
    SELECT g.doc_id, CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_shared_grams
    FROM grams g JOIN bench USING (gram)
    WHERE g.doc_id % {DECON_BENCH_MOD} <> 0
    GROUP BY g.doc_id
    """,
    tags=("llm", "corpus", "decontamination"),
)
def q50_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word {DECON_K}-gram with the benchmark/eval set — the overlap join
    every serious pretraining pipeline runs so test data doesn't leak
    into training data. Output: one row per contaminated doc with its
    distinct shared-gram count (clean docs produce no row; at 100 TB
    you anti-join this against the corpus to drop or flag).

    Plan: explode distinct {DECON_K}-grams, distinct the benchmark
    side, count matches per doc. Same inverted-index discipline as
    near-dedup: candidates come from an equi-join on the gram, never an
    all-pairs scan. NO pinned broadcast hint on the benchmark side: a
    REAL eval set is fixed-size and AQE broadcasts it at runtime every
    time, but the registered stand-in (every {DECON_BENCH_MOD}th doc)
    grows WITH the corpus, and a pinned hint cannot be demoted — at
    scale it dies on the 8 GB broadcast ceiling exactly like the q87
    vocab join the round-10 sweep fixed (round-11 review finding).
    AQE picks broadcast while the measured side is small and falls
    back to a gram-key shuffle join past that.
    """
    # shared gram frame (one persisted instance per session and dataset;
    # the explode feeds both the benchmark side and the corpus side, and
    # q57 reuses the same frame)
    grams = shared_word_kgrams(spark, sf_dir, DECON_K)
    bench = (
        grams.where(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("gram")
        .distinct()
    )
    return (
        grams.where(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(bench, "gram")
        .groupBy("doc_id")
        # (doc_id, gram) is unique by construction (array_distinct per
        # doc; bench side distinct), so a plain count IS the distinct
        # count — skips the two-phase distinct aggregate.
        .agg(F.count("*").alias("n_shared_grams"))
    )


VOCAB_TOP_K = 20


@register(
    "q56_vocab_topk",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    counts AS (
        SELECT term, COUNT(*) AS n FROM tok GROUP BY term
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT term, n, ROUND(CAST(n AS DOUBLE) / tot.total, 6) AS frac,
           rn AS vocab_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rn
        FROM counts
    ) CROSS JOIN tot
    WHERE rn <= {VOCAB_TOP_K}
    """,
    tags=("llm", "corpus", "X4"),
)
def q56_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: the top-{VOCAB_TOP_K} terms by frequency with
    corpus fraction — the counting pass tokenizer/vocab construction
    (BPE seeding, stopword discovery) starts from.

    Plan: explode -> term count (one shuffle, partial agg collapses
    map-side) -> orderBy+limit pre-cut (TakeOrderedAndProject — the
    global rank window alone would single-task-sort the whole
    vocabulary) -> rank the K survivors. The corpus total rides along
    as a broadcast single row. At 100 TB the term-count frame is the
    only shuffled state and it is vocabulary-sized, not corpus-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    # Pre-cut with orderBy+limit — a genuine TakeOrderedAndProject — so
    # the global rank window (no partitionBy = single-task sort) only
    # ever sees K rows, not the full vocabulary.
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("vocab_rank", F.row_number().over(w))
        .select(
            "term",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("frac"),
            "vocab_rank",
        )
    )


EDIT_PREFIX_CHARS = 48


@register(
    "q57_edit_distance",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w, text FROM documents
    ),
    sh AS (
        SELECT doc_id, text,
               list_distinct([{_DUCK_GRAM}
                        for i in range(1, len(w) - {DECON_K - 2})]) AS s
        FROM tok WHERE len(w) >= {DECON_K}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.text AS text_a, b.text AS text_b
        FROM (SELECT doc_id, text, unnest(s) AS gram FROM sh) a
        JOIN (SELECT doc_id, text, unnest(s) AS gram FROM sh) b
          ON a.gram = b.gram AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           levenshtein(
               regexp_replace(substring(text_a, 1, {EDIT_PREFIX_CHARS}),
                              '[^\\x00-\\x7F]', '?', 'g'),
               regexp_replace(substring(text_b, 1, {EDIT_PREFIX_CHARS}),
                              '[^\\x00-\\x7F]', '?', 'g')) AS edit_dist
    FROM cand
    """,
    tags=("llm", "corpus", "X2"),
)
def q57_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of near-dup candidates: for every pair
    of documents sharing a word {DECON_K}-gram, the Levenshtein distance
    of their first {EDIT_PREFIX_CHARS} characters — the cheap secondary
    signal dedup pipelines use to split same-content-different-boilerplate
    pairs from true rewrites (Jaccard can't see edit locality).

    Candidates come from the same inverted {DECON_K}-gram index as
    decontamination — an equi-join, never all-pairs; Levenshtein (an
    O(len^2) JVM built-in) runs only on the candidate pairs and only on
    bounded prefixes, which is what keeps it affordable at 100 TB.
    Spark's ``levenshtein`` and DuckDB's agree exactly (unit-cost
    insert/delete/substitute).

    Plan shape: the gram join carries ONLY (doc_id, gram) — threading
    the text through the exploded index would replicate every document
    once per distinct gram across the shuffle (~100x write volume at
    this fixture's gram counts); instead the distinct id pairs join the
    pre-truncated prefixes back by doc_id, so text bytes cross the wire
    at most twice and already cut to {EDIT_PREFIX_CHARS} chars.
    """
    # shared memoized gram frame: both join sides AND q50 reuse one
    # persisted instance (O43 discipline — without it the 8-gram
    # explode, the dominant cost, runs once per reference).
    grams = shared_word_kgrams(spark, sf_dir, DECON_K)
    cand = (
        grams.select(F.col("doc_id").alias("doc_a"), "gram")
        .join(grams.select(F.col("doc_id").alias("doc_b"), "gram"), "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents")
    # Non-ASCII codepoints project to '?' BEFORE the distance: DuckDB's
    # levenshtein counts BYTES while Spark's counts codepoints, so any
    # multi-byte character in the prefix diverged ('café' vs 'cafe' = 1
    # in Spark, 2 in DuckDB; round-12 review finding). Over the
    # ASCII-projected prefixes bytes == codepoints and the engines
    # agree on any input; pure-ASCII text is untouched.
    prefixes = docs.select(
        "doc_id",
        F.regexp_replace(
            F.substring("text", 1, EDIT_PREFIX_CHARS), "[^\\x00-\\x7F]", "?"
        ).alias("prefix"),
    )
    return (
        cand.join(prefixes.select(F.col("doc_id").alias("doc_a"),
                                  F.col("prefix").alias("pfx_a")), "doc_a")
        .join(prefixes.select(F.col("doc_id").alias("doc_b"),
                              F.col("prefix").alias("pfx_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pfx_a", "pfx_b").alias("edit_dist"),
        )
    )


# Domain-mix geometry: per-source quotas in 3 deterministic tiers derived
# from the source name (a stand-in for the configured mix table a real
# pipeline loads: {web: 3x, books: 2x, code: 1x, ...}). The "random"
# order within a source is the same LCG mix q08 uses — computable
# identically in both engines, unlike murmur/xxhash built-ins.
MIX_BASE_QUOTA = 8
# The multiply runs in DECIMAL(38,0): a bare BIGINT product overflows
# for doc_id >= ~8.4e9 — inside the 100 TB design envelope — which
# Spark's ANSI mode turns into ARITHMETIC_OVERFLOW (job failure) while
# DuckDB would widen to HUGEINT and silently diverge (round-6 review
# finding). DECIMAL(38,0) holds doc_id * 2^30 for any int64 doc_id and
# both engines compute the identical modulus.
_MIX_LCG = (
    "CAST((CAST(doc_id AS DECIMAL(38,0)) * 1103515245 + 12345)"
    " % 2147483648 AS BIGINT)"
)
# Tier by name length, not by parsing digits out of the name — robust to
# any source vocabulary and identical in both engines.
_TIER_SPARK = f"{MIX_BASE_QUOTA} * (1 + pmod(length(source), 3))"
_TIER_DUCK = f"{MIX_BASE_QUOTA} * (1 + (length(source) % 3))"


@register(
    "q58_domain_mix",
    oracle=f"""
    SELECT doc_id, source, rn AS sample_rank
    FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY {_MIX_LCG}, doc_id
               ) AS rn,
               {_TIER_DUCK} AS quota
        FROM documents
    )
    WHERE rn <= quota
    """,
    tags=("llm", "corpus", "sampling", "O33"),
)
def q58_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix downsampling: cap each source at its configured quota,
    drawing a DETERMINISTIC pseudo-random subset (LCG-ordered, like q08)
    — the step that rebalances a crawled corpus to a target domain mix
    before training. Quotas here come from a 3-tier rule on the source
    name standing in for the real mix config table.

    One window over (source, LCG order) = one shuffle on source; the
    quota filter bounds every partition's output, so a skewed hot domain
    costs its sort but never its row count downstream. Deterministic:
    rerunning yields byte-identical samples — what makes a training mix
    reproducible.
    """
    docs = load_table(spark, sf_dir, "documents")
    # NULLS LAST on both sort keys (a NULL doc_id NULLs the LCG mix
    # too): Spark's ASC default NULLS FIRST gave the NULL row
    # sample_rank 1 and shifted which docs made the quota vs the
    # oracle's NULLS-LAST default (round-12 review finding).
    w = Window.partitionBy("source").orderBy(
        F.expr(_MIX_LCG).asc_nulls_last(), F.col("doc_id").asc_nulls_last()
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("quota", F.expr(_TIER_SPARK))
        .where(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source", F.col("rn").alias("sample_rank"))
    )


@register(
    "q59_label_centroids",
    # DuckDB 1.0 has no WITH ORDINALITY; expand positions explicitly over
    # the fixed embedding dim (DuckDB lists are 1-indexed; pos stays
    # 0-based to match Spark's posexplode).
    oracle="""
    WITH dims AS (
        -- mirror posexplode exactly: a NULL embedding produces no rows
        -- (explode of NULL), and a short embedding enumerates only its
        -- actual elements — the fixed grid alone would emit every pos
        -- for every row, inflating n_vectors and inventing cells the
        -- Spark side never sees (round-10 review finding)
        -- non-finite components mask to NULL (the money()/duck_money
        -- policy): DuckDB's FLOOR->BIGINT cast hard-errors on NaN/Inf
        -- where Spark's floor() silently saturates to Long.MAX and can
        -- emit a garbage centroid (round-12 review finding)
        SELECT label, g.i AS pos,
               CASE WHEN isfinite(CAST(embedding[g.i + 1] AS DOUBLE))
                    THEN CAST(embedding[g.i + 1] AS DOUBLE)
               END AS x
        FROM embeddings
        CROSS JOIN (SELECT unnest(range({dim})) AS i) g
        WHERE embedding IS NOT NULL AND g.i < len(embedding)
    ),
    means AS (
        -- Exact 1e-7 integer-unit sum, not AVG(double): BIGINT sums are
        -- order-independent, so a partial-merge-order ulp can never
        -- flip the 1e-6 rounding (the q131 determinism contract; this
        -- query builds the identical 640-cell mean grid).
        SELECT label, pos,
               SUM(CAST(FLOOR(x * 10000000 + 0.5) AS BIGINT))
                   / (COUNT(x) * 10000000.0) AS m,
               COUNT(*) AS n
        FROM dims GROUP BY label, pos
    )
    SELECT label,
           CAST(MAX(n) AS BIGINT) AS n_vectors,
           array_to_string(
               list(ROUND(m, 6)::DECIMAL(12,6)::VARCHAR ORDER BY pos), ',')
               AS centroid
    FROM means
    GROUP BY label
    """.format(dim=schemas.EMBEDDING_DIM),
    tags=("llm", "X3", "centroid"),
)
def q59_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid — the vector-aggregate primitive
    k-means/IVF training and class-prototype methods are built on.

    Plan: posexplode to (label, dim, value), ONE hash-aggregate on the
    (label, dim) pair (uniform keys, partial agg collapses map-side),
    then reassemble the array by sorting the (pos, mean) structs inside
    each label group. The centroid is emitted as a CSV string for the
    same harness-canonicalizer reason as q44; parse it back or compose
    on the pre-serialization frame for math. At 100 TB this is the
    textbook two-level aggregate: dims x labels rows of state, corpus
    never collected.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select(
            "label",
            F.posexplode(
                F.expr("transform(embedding, x -> cast(x as double))")
            ).alias("pos", "x"),
            # pos < EMBEDDING_DIM: the oracle's fixed grid enumerates
            # only the declared dimensionality, so an over-long
            # embedding (the array schema carries no length bound)
            # would contribute phantom centroid components on the
            # Spark side only (round-11 review finding).
        )
        .where(F.col("pos") < schemas.EMBEDDING_DIM)
        # Non-finite components mask to NULL (the money() policy):
        # Spark's floor() silently saturates NaN/Inf to Long.MAX —
        # which can average into a garbage centroid — where the
        # oracle's FLOOR->BIGINT cast hard-errors (round-12 review
        # finding). COUNT("x") below already divides by the non-null
        # count, so masked components simply drop out of the mean.
        .withColumn(
            "x",
            F.when(
                (F.col("x") > F.lit(float("-inf")))
                & (F.col("x") < F.lit(float("inf"))),
                F.col("x"),
            ),
        )
    )
    means = dims.groupBy("label", "pos").agg(
        # Exact integer-unit sum — order-independent where a parallel
        # double AVG is not (q131's determinism contract).
        (
            F.sum(F.floor(F.col("x") * 1e7 + 0.5))
            / (F.count("x") * 1e7)
        ).alias("m"),
        F.count("*").alias("n"),
    )
    return means.groupBy("label").agg(
        F.max("n").alias("n_vectors"),
        # Serialize via DECIMAL(12,6): double->string rendering differs
        # across engines (Spark emits 9.91E-4, DuckDB 0.000991); the
        # decimal cast pins a fixed-point format — and drops -0.0 — in
        # both.
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, m))),"
            " s -> cast(cast(round(s.m, 6) as decimal(12,6)) as string)), ',')"
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# Deterministic corpus split (train/val/test)

SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test gets the remainder

# 15 hex chars of md5 -> 60-bit non-negative int, identical in both
# engines (Spark conv(,16,10); DuckDB '0x'-literal cast).


def _split_hash_spark(id_col: str) -> str:
    """Generated per id column — not textual surgery on a prebuilt
    string, which would silently produce wrong SQL the day the hash
    expression mentions the column name twice or inside another
    identifier."""
    return f"pmod({md5_prefix_int_spark(f'CAST({id_col} AS STRING)')}, 100)"


_SPLIT_HASH_DUCK = (
    f"({md5_prefix_int_duck('CAST(doc_id AS VARCHAR)')} % 100)"
)


def hash_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Assign each row a deterministic train/val/test split label from a
    cryptographic hash of its id — the reproducible-split primitive every
    training pipeline needs (stable under reruns, re-partitioning, and
    data growth: a doc's split never depends on what else is in the
    corpus). Pure per-row expression: no shuffle, no state."""
    bucket = F.expr(_split_hash_spark(id_col))
    return df.withColumn(
        "split",
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test"),
    )


@register(
    "q81_hash_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_SPLIT_HASH_DUCK} < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN {_SPLIT_HASH_DUCK} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           n_chars
    FROM documents
    """,
    tags=("llm", "corpus", "split"),
)
def q81_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {SPLIT_TRAIN_PCT}/{SPLIT_VAL_PCT}/rest corpus split
    keyed on md5(doc_id) (see :func:`hash_split`). Registered per-doc so
    the oracle checks every single assignment, not just the totals.
    """
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs).select("doc_id", "split", "n_chars")


# ---------------------------------------------------------------------------
# BPE seeding: weighted adjacent-symbol-pair counts

BPE_TOP_PAIRS = 30

@register(
    "q82_bpe_pairs",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split_regex({_LOWER_TEXT}, '[ \\t\\n\\f\\r]+')) AS w
        FROM documents
    ),
    wc AS (
        SELECT w, COUNT(*) AS wn FROM words WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, CAST(i AS INTEGER), 2))) AS pair,
               wn
        FROM wc
    )
    SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT {BPE_TOP_PAIRS}
    """,
    tags=("llm", "corpus", "tokenizer"),
)
def q82_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First merge-candidate scan of BPE tokenizer training: count
    adjacent character pairs across the corpus, weighted by word
    frequency, top-{BPE_TOP_PAIRS} with deterministic (count desc, pair
    asc) ties.

    Plan: tokenize -> word-count (first shuffle collapses the corpus to
    its vocabulary — the classic BPE trick, pairs are then counted over
    DISTINCT words x frequency, not over every token occurrence) ->
    in-word pair explode (bounded fan-out = word length) -> pair-count
    (second shuffle, vocabulary-sized input) -> TakeOrdered. Both
    shuffles carry vocabulary-scale data, so at 100 TB the corpus is
    read once and everything after is tiny. All built-in HOFs
    (sequence/transform), zero Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            # explicit class, not \s+: Java's \s includes \x0B, RE2's
            # does not — the spelled-out class tokenizes identically in
            # both engines (round-10 review finding)
            F.explode(F.split(_lower_text_col(), "[ \\t\\n\\f\\r]+")).alias("w")
        )
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wn"))
    )
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wn",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# Bigram collocations (PMI)

PMI_MIN_COUNT = 5
PMI_TOP_K = 30


@register(
    "q87_bigram_pmi",
    oracle=f"""
    WITH docs_w AS (
        SELECT string_split({_LOWER_TEXT}, ' ') AS ws FROM documents
    ),
    uni AS (
        SELECT unnest(ws) AS w FROM docs_w
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    n_uni AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uc),
    bi AS (
        SELECT unnest({adjacent_bigrams_duck('ws')}) AS bg
        FROM docs_w WHERE len(ws) >= 2
    ),
    bc AS (SELECT bg, COUNT(*) AS cab FROM bi GROUP BY bg),
    n_bi AS (SELECT CAST(SUM(cab) AS BIGINT) AS nb FROM bc)
    SELECT bg AS bigram, cab AS n,
           ROUND(ln((CAST(cab AS DOUBLE) * nu * nu) /
                    (CAST(nb AS DOUBLE) * ca.c * cb.c)), 6) AS pmi
    FROM bc
    JOIN uc ca ON ca.w = string_split(bg, ' ')[1]
    JOIN uc cb ON cb.w = string_split(bg, ' ')[2]
    CROSS JOIN n_uni CROSS JOIN n_bi
    WHERE cab >= {PMI_MIN_COUNT}
    ORDER BY cab DESC, bigram ASC LIMIT {PMI_TOP_K}
    """,
    tags=("llm", "corpus", "collocation"),
)
def q87_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation scoring: pointwise mutual information
    ``ln(p(ab) / (p(a) p(b)))`` with ``p(ab) = c_ab / N_bi`` and
    ``p(x) = c_x / N_uni``, for the top-{PMI_TOP_K} bigrams by count
    (min count {PMI_MIN_COUNT}, ties broken on the bigram). The phrase /
    multi-word-expression mining pass of corpus preparation.

    Plan: one tokenized scan feeds both the unigram and bigram counts
    (vocabulary-sized shuffles); the bigram frame joins its two
    constituent unigram counts as plain word-key equi-joins with NO
    broadcast hint — a web-scale vocabulary grows without bound
    (Heaps' law over typos/URLs), so a forced broadcast would hit the
    8 GB limit exactly when the corpus gets interesting; AQE still
    picks a broadcast at runtime whenever the measured vocab frame is
    small (every test SF), and falls back to a uniform-key shuffle
    join past that (round-10 review finding). Only the two SCALAR
    totals ride as pinned broadcast single rows. Integer counts divide
    in double and pass through ln identically in both engines up to
    1 ulp; ROUND(6) absorbs it.
    """
    docs = load_table(spark, sf_dir, "documents")
    # NOT spread (guide §2.5 considered, A/B-measured twice): both the
    # unigram and bigram branches partial-aggregate straight onto
    # vocabulary-sized hashmaps map-side, so the spread exchange would
    # move full text rows to save single-core work the partial agg
    # already makes cheap — measured 0.74 s unspread vs 1.08 s spread
    # at sf0.1 (drift-normalized 0.85 vs 1.15).
    ws = docs.select(F.split(_lower_text_col(), " ").alias("ws"))
    uni = ws.select(F.explode("ws").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("c"))
    n_uni = uc.agg(F.sum("c").cast("long").alias("nu"))
    bi = ws.where(F.size("ws") >= 2).select(
        F.explode(F.expr(adjacent_bigrams_spark("ws"))).alias("bigram")
    )
    bc = bi.groupBy("bigram").agg(F.count("*").alias("cab"))
    n_bi = bc.agg(F.sum("cab").cast("long").alias("nb"))
    parts = F.split("bigram", " ")
    scored = (
        bc.where(F.col("cab") >= PMI_MIN_COUNT)
        .withColumn("wa", parts.getItem(0))
        .withColumn("wb", parts.getItem(1))
        .join(uc.withColumnRenamed("w", "wa").withColumnRenamed("c", "ca"), "wa")
        .join(uc.withColumnRenamed("w", "wb").withColumnRenamed("c", "cb"), "wb")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    return (
        scored.select(
            "bigram",
            F.col("cab").alias("n"),
            F.round(
                F.log(
                    (F.col("cab").cast("double") * F.col("nu") * F.col("nu"))
                    / (F.col("nb").cast("double") * F.col("ca") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(PMI_TOP_K)
    )


# ---------------------------------------------------------------------------
# Cluster-representative selection (dedup completion: keep BEST, not first)

def _peeked_oracle(key: str) -> str:
    from trafficteach_spark import registry as _registry

    spec = _registry.peek_specs().get(key)
    if spec is None or not spec.oracle:
        # Not an assert: a registration-order regression must fail loudly
        # under ``python -O`` too, not surface as a broken composed oracle.
        raise RuntimeError(f"{key} must register (with an oracle) before its consumers")
    # A constituent may use the lazy-callable oracle form; resolve it here
    # (the digest builder does the same) so a function repr can never be
    # interpolated into a composed oracle.
    return spec.oracle() if callable(spec.oracle) else spec.oracle


@register(
    "q88_keep_best_per_cluster",
    oracle=f"""
    WITH clusters AS (
        {_peeked_oracle("q46_dedup_clusters")}
    ),
    qual AS (
        {_peeked_oracle("q39_quality_score")}
    ),
    ranked AS (
        SELECT c.canonical_id, c.doc_id, q.quality, q.n_tokens,
               COUNT(*) OVER (PARTITION BY c.canonical_id) AS cluster_size,
               ROW_NUMBER() OVER (
                   PARTITION BY c.canonical_id
                   ORDER BY CASE q.quality WHEN 'high' THEN 3
                            WHEN 'medium' THEN 2 ELSE 1 END DESC,
                            q.n_tokens DESC, c.doc_id ASC
               ) AS rn
        FROM clusters c JOIN qual q USING (doc_id)
    )
    SELECT canonical_id, doc_id AS best_doc_id, cluster_size,
           quality AS best_quality, n_tokens AS best_n_tokens
    FROM ranked WHERE rn = 1
    """,
    tags=("llm", "corpus", "dedup", "X2"),
)
def q88_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup completion the way production pipelines actually keep
    documents: within each near-dup cluster (q46's connected
    components), keep the BEST document by quality class, then token
    count, then lowest id — not merely the lowest-id one. Output is one
    row per cluster: its representative and size. Library form with an
    injectable cluster frame: :func:`keep_best_per_cluster`; the
    registered query consumes the once-materialized cluster frame so
    the q31->q46->q88 chain pays pair generation and the CC loop once
    per dataset, not once per stage (round-4 verdict item 4).

    Composition of two oracle-checked operators (q46 clusters ⋈ q39
    quality features) plus a per-cluster rank window. The window
    partitions on canonical_id — cluster-count cardinality — so no
    single task ever sees more than one cluster's docs: scale-safe for
    any corpus with bounded cluster sizes (and a pathological mega-
    cluster is exactly what the dedup threshold bounds).
    """
    from trafficteach_spark.operators.llm.dedup import materialized_clusters

    return keep_best_per_cluster(
        spark, sf_dir, clusters=materialized_clusters(spark, sf_dir)
    )


def keep_best_per_cluster(
    spark: SparkSession,
    sf_dir: str,
    clusters: DataFrame | None = None,
    quality: DataFrame | None = None,
) -> DataFrame:
    """Representative selection over an arbitrary ``clusters`` frame
    (columns doc_id, canonical_id; defaults to computing the cluster
    chain fresh). Pipelines holding a cluster assignment — from a
    different pairing variant or a prior materialized run — inject it
    here (the `funnel()` chain-parameter pattern); likewise a
    ``quality`` frame (doc_id, quality, n_tokens) a composition has
    already computed, so q39's per-row feature scan runs once per
    pipeline, not once per consumer (round-11 review finding: q91 paid
    it twice)."""
    from trafficteach_spark.operators.llm.dedup import dedup_clusters
    from trafficteach_spark.operators.llm.text import q39_quality_score

    if clusters is None:
        clusters = dedup_clusters(spark, sf_dir)
    clusters = clusters.select("doc_id", "canonical_id")
    qual = (
        quality
        if quality is not None
        else q39_quality_score(spark, sf_dir)
    ).select("doc_id", "quality", "n_tokens")
    joined = clusters.join(qual, "doc_id")
    qnum = (
        F.when(F.col("quality") == "high", 3)
        .when(F.col("quality") == "medium", 2)
        .otherwise(1)
    )
    w = Window.partitionBy("canonical_id")
    wr = w.orderBy(F.desc("qnum"), F.desc("n_tokens"), F.asc("doc_id"))
    return (
        joined.withColumn("qnum", qnum)
        .withColumn("cluster_size", F.count("*").over(w))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "canonical_id",
            F.col("doc_id").alias("best_doc_id"),
            "cluster_size",
            F.col("quality").alias("best_quality"),
            F.col("n_tokens").alias("best_n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end corpus prep pipeline (the composition the library form exists
# for: dedup clusters -> keep-best representative -> quality gate -> per-
# stratum yield accounting)

@register(
    "q91_corpus_pipeline",
    oracle=f"""
    WITH kept AS (
        SELECT best_doc_id
        FROM (
            {{q88}}
        ) best
        WHERE best_quality <> 'low'
    ),
    qual AS (
        {{q39}}
    )
    SELECT d.lang, d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN k.best_doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.best_doc_id IS NOT NULL THEN q.n_tokens
                     ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM documents d
    JOIN qual q ON d.doc_id = q.doc_id
    LEFT JOIN kept k ON d.doc_id = k.best_doc_id
    GROUP BY 1, 2
    """.format(
        q88=_peeked_oracle("q88_keep_best_per_cluster"),
        q39=_peeked_oracle("q39_quality_score"),
    ),
    tags=("llm", "corpus", "pipeline", "X1", "X2", "X4"),
)
def q91_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-prep pipeline as ONE registered, oracle-checked
    query: near-dup clustering (q46) -> best-representative selection
    (q88) -> quality gate (drop 'low') -> per-(lang, source) yield
    accounting (docs in, docs kept, tokens kept). This is the composed
    flow a training-data pipeline actually runs, and the reason the
    dedup chain exposes injectable/materialized intermediates: this
    query costs one window + two joins beyond the already-materialized
    cluster frame instead of re-running shingling three stages deep.

    Scale: the heavy lifting (pair generation, CC) happens once per
    dataset in the materialized layer; everything added here is a
    broadcast-size join of representatives against the corpus plus one
    corpus-partitioned aggregate — no new shuffle wider than the
    vocabulary of (lang, source) strata.
    """
    from trafficteach_spark.operators.llm.dedup import materialized_clusters
    from trafficteach_spark.operators.llm.text import q39_quality_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    # ONE q39 evaluation feeds both consumers (the keep-best rank and
    # the per-stratum token sums) — persisted because the two subtrees
    # share no exchange, so the per-row HOF feature scan would
    # otherwise run twice per action (round-11 review finding; O43
    # contract, released by the caller's clearCache like every
    # intra-query persist).
    qual = q39_quality_score(spark, sf_dir).select(
        "doc_id", "quality", "n_tokens"
    ).persist()
    kept = (
        keep_best_per_cluster(
            spark,
            sf_dir,
            clusters=materialized_clusters(spark, sf_dir),
            quality=qual,
        )
        .where(F.col("best_quality") != "low")
        .select(F.col("best_doc_id").alias("doc_id"), F.lit(1).alias("is_kept"))
    )
    return (
        docs.join(qual.select("doc_id", "n_tokens"), "doc_id")
        .join(kept, "doc_id", "left")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("is_kept", F.lit(0))).cast("long").alias("n_kept"),
            F.sum(
                F.when(F.col("is_kept").isNotNull(), F.col("n_tokens")).otherwise(0)
            )
            .cast("long")
            .alias("kept_tokens"),
        )
    )


def _source_overlap_oracle() -> str:
    from trafficteach_spark.operators.llm.dedup import _DUCK_SHINGLE_WORDS, SHINGLE_K

    return f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct([{_DUCK_SHINGLE_WORDS}
                                     for i in range(1, len(w) - {SHINGLE_K - 2})])) AS shingle
        FROM tok WHERE len(w) >= {SHINGLE_K}
    ),
    ss AS (
        SELECT DISTINCT d.source, sh.shingle
        FROM sh JOIN documents d USING (doc_id)
    ),
    sz AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b,
           COUNT(*) AS n_common,
           MAX(za.n) AS n_a, MAX(zb.n) AS n_b,
           ROUND(COUNT(*) / CAST(MAX(za.n) + MAX(zb.n) - COUNT(*) AS DOUBLE), 6)
               AS jaccard
    FROM ss a
    JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
    JOIN sz za ON za.source = a.source
    JOIN sz zb ON zb.source = b.source
    GROUP BY a.source, b.source
    """


@register("q98_source_overlap", oracle=_source_overlap_oracle(), tags=("llm", "corpus", "X2"))
def q98_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level shingle-Jaccard overlap matrix (corpus curation): for
    every pair of sources, the Jaccard similarity of their distinct
    3-shingle vocabularies — the cross-source contamination report a
    pipeline consults before declaring two crawls independent (and the
    corpus-level twin of q31's per-document Jaccard).

    Plan (round-12 optimization, guide §2.4 "remove shuffles outright"):
    ONE exchange carries the corpus. The exploded (source, shingle)
    rows hash-aggregate straight to per-shingle sorted distinct-source
    ARRAYS (collect_set partially aggregates map-side, subsuming the
    old DISTINCT pass), each array expands to its C(n_src, 2) ordered
    pairs row-locally via a HOF (<= C(20,2) = 190 pair rows per
    shingle — bounded by source count, independent of corpus size),
    and both the pair counts and the per-source set sizes reduce from
    that one persisted frame (source-count-sized shuffles). The old
    self-join form computed the distinct frame THREE times (two join
    sides + the size aggregate) across 9 exchanges / 16 Spark jobs;
    this form is 3 exchanges (one corpus-sized) / 6 jobs, measured
    1.57 s -> ~0.7 s at sf0.1. Reuses the dedup family's shared
    persisted shingle frame, so after any q31-family query the
    shingling pass is already paid.
    """
    from trafficteach_spark.operators.llm.dedup import shared_shingle_sets

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    by_shingle = (
        shared_shingle_sets(spark, sf_dir)
        .join(docs, "doc_id")
        .select("source", F.explode("s").alias("shingle"))
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .persist()  # O43: feeds the pair expansion AND the size aggregate
    )
    # Round-13 tail fold (the q141/q161 treatment): the per-source set
    # sizes attach as ONE 1-row source->count map instead of two
    # broadcast joins — the size aggregation over the persisted
    # per-shingle frame runs once per action instead of twice, and one
    # broadcast-build job disappears. <= n_sources entries at any scale.
    smap = (
        by_shingle.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("source", "n"))
            ).alias("smap")
        )
    )
    n_a = F.try_element_at("smap", F.col("src_a"))
    n_b = F.try_element_at("smap", F.col("src_b"))
    return (
        by_shingle.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(srcs, (x, i) ->
                        transform(slice(srcs, i + 2, size(srcs)), y ->
                            struct(x AS src_a, y AS src_b))))
                    """
                )
            ).alias("p")
        )
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count("*").alias("n_common"))
        .crossJoin(F.broadcast(smap))
        .select(
            "src_a", "src_b", "n_common",
            n_a.alias("n_a"), n_b.alias("n_b"),
            F.round(
                F.col("n_common")
                / (n_a + n_b - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def _dup_rate_oracle() -> str:
    q46 = _peeked_oracle("q46_dedup_clusters")
    return f"""
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(1 - c.is_canonical) AS BIGINT) AS n_dupes,
           COUNT(DISTINCT c.canonical_id) AS n_clusters,
           ROUND(SUM(1 - c.is_canonical) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
    FROM ({q46}) c
    JOIN documents d USING (doc_id)
    GROUP BY d.source
    """


@register("q99_dup_rate_by_source", oracle=_dup_rate_oracle(), tags=("llm", "corpus", "X1", "X2"))
def q99_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report (corpus curation): how much of each
    source survives dedup — the table that decides which crawls are
    worth re-ingesting and feeds per-source sampling weights (q58's
    domain mix) after dedup.

    Plan: pure composition over the dedup chain's MATERIALIZED cluster
    frame (dedup.materialized_clusters — computed once per (session,
    dataset), localCheckpoint'ed): one broadcast-sized join to attach
    source, one hash-aggregate on source. Running it after q46/q88 costs
    only that aggregate; the oracle re-derives the full recursive-CTE
    clustering so the composition stays end-to-end checked.
    """
    from trafficteach_spark.operators.llm.dedup import materialized_clusters

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = materialized_clusters(spark, sf_dir)
    return (
        clusters.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(1 - F.col("is_canonical")).cast("long").alias("n_dupes"),
            F.countDistinct("canonical_id").alias("n_clusters"),
            F.round(
                F.sum(1 - F.col("is_canonical")) / F.count("*").cast("double"), 6
            ).alias("dup_rate"),
        )
    )


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 20,
    min_pair_count: int = 2,
    checkpoint_every: int = 5,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Distributed BPE tokenizer training (the iterative completion of
    q82's single merge-candidate scan): run ``n_merges`` rounds of
    most-frequent-adjacent-pair merging and return ``(merges, vocab)``
    where ``merges`` is the learned ``[(left, right, count), ...]`` merge
    table (the tokenizer artifact) and ``vocab`` the final symbol-array
    frame ``(w, wn, syms)``.

    Scale design — the classic BPE factorization: the CORPUS is touched
    exactly once (tokenize -> word-frequency table); every merge round
    runs on the VOCABULARY frame (distinct words x their counts — a few
    hundred thousand rows at any corpus size), so 100 TB of text costs
    one corpus scan plus n_merges vocabulary-sized jobs. Per round: one
    pair-count aggregate + TakeOrdered(1) picks the winner (count desc,
    pair asc — deterministic ties), and the merge is applied with a
    per-row HOF fold (left-to-right, non-overlapping, the reference BPE
    rule). Like ``kmeans_train``/``q46``'s loops, this is a
    driver-coordinated iteration with ONE action per round; the symbol
    frame is ``localCheckpoint``ed every ``checkpoint_every`` rounds so
    plan depth stays bounded.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        # same engine-identical whitespace class as q82
        docs.select(F.explode(F.split(_lower_text_col(), "[ \\t\\n\\f\\r]+")).alias("w"))
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("wn"))
        .select(
            "w",
            "wn",
            F.expr("concat(filter(split(w, ''), x -> x != ''), array('</w>'))").alias(
                "syms"
            ),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    for i in range(n_merges):
        best = (
            vocab.select(
                "wn",
                F.explode(
                    F.expr(
                        "zip_with(slice(syms, 1, size(syms) - 1),"
                        "         slice(syms, 2, size(syms) - 1),"
                        "         (a, b) -> struct(a, b))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("wn").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < min_pair_count:
            break
        a, b, n = best[0]["p"]["a"], best[0]["p"]["b"], int(best[0]["n"])
        merges.append((a, b, n))
        # Left-to-right non-overlapping merge: fold symbols, joining an
        # occurrence of (a, b) only if the accumulated tail is an UNMERGED
        # a (tracked by peeking at the fold's last element).
        merged = (
            "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> "
            f"IF(size(acc) > 0 AND element_at(acc, -1) = {_sql_str(a)} AND x = {_sql_str(b)}, "
            f"   concat(slice(acc, 1, size(acc) - 1), array({_sql_str(a + b)})), "
            "   concat(acc, array(x))))"
        )
        vocab = vocab.select("w", "wn", F.expr(merged).alias("syms"))
        if (i + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges, vocab


def _sql_str(s: str) -> str:
    """A SQL string literal (the merge symbols come from corpus text)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str, int]],
    out_col: str = "tokens",
) -> DataFrame:
    """Apply a learned BPE merge table (:func:`bpe_train`'s output) to
    tokenize ``df[text_col]`` — the inference half of the tokenizer
    lifecycle. Standard rank-based encoding: each word starts as
    characters + ``</w>``; repeatedly merge the adjacent pair with the
    best (lowest-index) rank until none applies. This reproduces the
    training segmentation exactly on training words (a merged pair can
    never re-form from later merges), pinned by the self-consistency
    test.

    Scale design: pure map — an Arrow-batched pandas UDF with the merge
    table shipped once per task in the closure (vocabulary-sized, the
    tokenizer artifact) and a per-batch word cache (Zipf reuse makes
    the cache hit rate high); no shuffle, no driver involvement.
    """
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w) + ["</w>"]
            while len(syms) > 1:
                best, bi = None, None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best, bi = r, i
                if best is None:
                    break
                a, b, _ = merges[best]
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[w] = syms
            return syms

        # SAME whitespace class as bpe_train/q82's pinned engine split
        # ([ \t\n\f\r]+), NOT Python str.split(): str.split() breaks on
        # \x0B and Unicode spaces too, so a training word containing one
        # would be segmented differently at encode time and emit symbol
        # sequences outside the trained vocab — the \x0B divergence
        # class q82's round-10 note documents (round-11 review finding).
        import re as _re

        _ws = _re.compile("[ \t\n\f\r]+")

        return texts.map(
            lambda t: [
                s
                for w in _ws.split(str(t).translate(_ASCII_LOWER_TABLE))
                if w
                for s in enc_word(w)
            ]
            if t is not None
            else None
        )

    return df.withColumn(out_col, _encode(F.col(text_col)))


N_HASH_BUCKETS = 64

# 60-bit md5 token hash, identical in both engines — the ONE shared
# construction (functions/exprs.py; round-6 review consolidated the
# four historical copies).
_SPARK_MD5_60 = md5_prefix_int_spark("t")
_DUCK_MD5_60 = md5_prefix_int_duck("t")


@register(
    "q117_feature_hashing",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split({_LOWER_TEXT}, ' ')) AS t
        FROM documents
        WHERE text IS NOT NULL
    ),
    h AS (
        SELECT doc_id, ({_DUCK_MD5_60}) % {N_HASH_BUCKETS} AS bucket
        FROM tok WHERE length(t) > 0
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket, COUNT(*) AS n
    FROM h GROUP BY doc_id, bucket
    """,
    tags=("llm", "features", "X4"),
)
def q117_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): tokens hash into a fixed
    64-bucket (N_HASH_BUCKETS) space and each doc becomes sparse
    (bucket, count) features — the vocabulary-free vectorization that
    sidesteps a fitted dictionary entirely (no vocab build pass, no
    OOV), which is what makes it THE featurizer that needs zero global
    state at 100 TB: pure map + one (doc, bucket) hash aggregate,
    embarrassingly parallel, no broadcast, no second scan. The bucket
    hash is the cross-engine 60-bit md5 (same construction the simhash
    oracle and the q80 digest already prove), so the oracle checks the
    actual hash values, not just shapes. Long-form sparse output; a
    trainer-side dense assembly is ``map_from_entries`` /
    ``array(bucket counts)`` over this frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(_lower_text_col(), " ")).alias("t"))
        .where(F.length("t") > 0)
    )
    return (
        toks.select(
            "doc_id",
            F.pmod(F.expr(_SPARK_MD5_60), F.lit(N_HASH_BUCKETS))
            .cast("int")
            .alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q130_ngram_novelty",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT doc_id, unnest(list_distinct([{_DUCK_GRAM}
                    for i in range(1, len(w) - {DECON_K - 2})])) AS gram
        FROM tok
        WHERE len(w) >= {DECON_K}
    ),
    first_seen AS (
        SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM grams g JOIN first_seen f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
    tags=("llm", "dedup", "novelty"),
)
def q130_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring: per document, the fraction of its
    distinct word {DECON_K}-grams whose FIRST corpus occurrence (min
    doc_id — the deterministic stand-in for ingestion order) is the
    document itself. Deduplicated-sampling pipelines use exactly this
    to down-weight documents that mostly restate earlier content
    (near-dups score ~0, fresh text ~1) — a softer, rankable
    complement to q31's hard pair threshold.

    Plan (round-12 optimization, guide §2.3/§2.4): ONE gram-volume
    shuffle. A gram is novel for exactly ONE document (its min-doc_id
    owner), so per-doc novel counts fall straight out of the first-seen
    aggregate by re-grouping its min column — the previous form instead
    joined first_seen BACK onto the gram frame (a second gram-volume
    exchange of the join's probe side) before counting. Per-doc totals
    hash-aggregate exchange-FREE off the shared frame (it is persisted
    already partitioned by doc_id), and the two doc-cardinality frames
    meet in a doc_id join (AQE broadcasts it at test SFs). Cost scales
    with total gram volume, independent of how many documents collide.
    At 100 TB first_seen is the natural incremental state (a
    gram->min_doc table maintained per ingest batch, exactly q112's
    corpus-side role).
    """
    grams = shared_word_kgrams(spark, sf_dir, DECON_K)
    novel = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_novel_raw"))
    )
    totals = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    n_novel = F.coalesce(F.col("n_novel_raw"), F.lit(0)).cast("long")
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            n_novel.alias("n_novel"),
            F.round(n_novel / F.col("n_grams").cast("double"), 6).alias("novelty"),
        )
    )


# Heaps'-law curve granularity: the corpus is cut into this many
# doc-id-range prefixes (a fixed grid — no doc-cardinality sort).
_HEAPS_BUCKETS = 20


@register(
    "q163_heaps_law",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ),
    d AS (
        SELECT doc_id,
               CAST(FLOOR({_HEAPS_BUCKETS} * (doc_id - lo)
                          / (hi - lo + 1)) AS INT) AS bucket,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents, bounds
    ),
    t AS (
        SELECT unnest(string_split(text, ' ')) AS term, doc_id
        FROM documents
    ),
    first_seen AS (
        SELECT term, MIN(doc_id) AS first_doc FROM t GROUP BY term
    ),
    fb AS (
        SELECT CAST(FLOOR({_HEAPS_BUCKETS} * (first_doc - lo)
                          / (hi - lo + 1)) AS INT) AS bucket,
               COUNT(*) AS new_terms
        FROM first_seen, bounds GROUP BY 1
    ),
    db AS (
        SELECT bucket, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens
        FROM d GROUP BY bucket
    )
    SELECT db.bucket, n_docs,
           CAST(SUM(bucket_tokens) OVER (ORDER BY db.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(new_terms, 0)) OVER (ORDER BY db.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab,
           ROUND(CAST(SUM(COALESCE(new_terms, 0)) OVER (ORDER BY db.bucket
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / SUM(bucket_tokens) OVER (ORDER BY db.bucket
                      ROWS UNBOUNDED PRECEDING), 6) AS vocab_token_ratio
    FROM db LEFT JOIN fb ON db.bucket = fb.bucket
    """,
    tags=("llm", "corpus", "vocabulary"),
)
def q163_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct
    vocabulary vs cumulative token count over {_HEAPS_BUCKETS} corpus
    prefixes — the sizing curve that tells a tokenizer-training or
    vocab-pruning pipeline how fast new types keep arriving (a
    flattening curve says the vocab is saturating; synthetic remapped
    corpora stay linear).

    Plan: NO doc-cardinality sort — prefixes are doc-id RANGE buckets
    from a broadcast 1-row bounds frame. Vocabulary increments come
    from the term-cardinality first-occurrence aggregate (min doc_id
    per term, one shuffle on the term key — the q56/q98 vocabulary
    shape); token counts are map-side per-doc lengths. Cumulative
    windows run over the fixed {_HEAPS_BUCKETS}-row frame.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    bucket = lambda c: F.floor(
        _HEAPS_BUCKETS * (F.col(c) - F.col("lo")) / (F.col("hi") - F.col("lo") + 1)
    ).cast("int")
    d = docs.crossJoin(F.broadcast(bounds)).select(
        bucket("doc_id").alias("bucket"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    db = d.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bucket_tokens"),
    )
    t = docs.select(
        F.explode(F.split("text", " ")).alias("term"), "doc_id"
    )
    first_seen = t.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    fb = (
        first_seen.crossJoin(F.broadcast(bounds))
        .groupBy(bucket("first_doc").alias("bucket"))
        .agg(F.count("*").alias("new_terms"))
    )
    j = db.join(fb, "bucket", "left")
    # NULLS LAST (a NULL doc_id yields a NULL bucket): Spark's default
    # NULLS-FIRST cumulative counted the NULL bucket's tokens into
    # EVERY bucket while the oracle's NULLS-LAST counted them into none
    # (round-12 review finding).
    wcum = Window.orderBy(F.col("bucket").asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_tok = F.sum("bucket_tokens").over(wcum)
    cum_voc = F.sum(F.coalesce("new_terms", F.lit(0))).over(wcum)
    return j.select(
        "bucket",
        "n_docs",
        cum_tok.cast("long").alias("cum_tokens"),
        cum_voc.cast("long").alias("cum_vocab"),
        F.round(cum_voc.cast("double") / cum_tok, 6).alias("vocab_token_ratio"),
    )


# Retention-sweep grid: min-length thresholds in chars. The fixture's
# n_chars spans ~48-553, so 50..500 step 50 keeps every grid row
# non-vacuous (the 500 row retains a thin tail, the 50 row nearly all).
_SWEEP_LO = 50
_SWEEP_HI = 500
_SWEEP_STEP = 50


@register(
    "q173_length_retention_sweep",
    oracle=f"""
    WITH b AS (
        SELECT LEAST(n_chars // {_SWEEP_STEP} * {_SWEEP_STEP}, {_SWEEP_HI})
                   AS t_max,
               COUNT(*) AS c, CAST(SUM(n_chars) AS BIGINT) AS ch
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS tc, CAST(SUM(ch) AS DOUBLE) AS tch
        FROM b
    ),
    hits AS (
        SELECT unnest(range({_SWEEP_LO}, t_max + 1, {_SWEEP_STEP}))
                   AS threshold,
               c, ch
        FROM b WHERE t_max >= {_SWEEP_LO}
    )
    SELECT CAST(threshold AS INT) AS threshold,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(SUM(ch) AS BIGINT) AS n_chars_kept,
           ROUND(SUM(c) / tc, 6) AS doc_frac,
           ROUND(SUM(ch) / tch, 6) AS char_frac
    FROM hits CROSS JOIN tot
    GROUP BY threshold, tc, tch
    """,
    tags=("llm", "corpus", "planning"),
)
def q173_length_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-threshold sweep for corpus planning: for every min-length
    cutoff T in {_SWEEP_LO}..{_SWEEP_HI} (step {_SWEEP_STEP}), how many
    documents and characters survive ``n_chars >= T`` and what corpus
    fraction that is. THE standard what-if curve run before committing
    a quality filter — pick T off this frame instead of re-scanning the
    corpus per candidate threshold.

    Plan: ONE corpus aggregate onto a grid-bounded frame (each doc maps
    to the highest threshold it passes, floored to the grid — at most
    {(_SWEEP_HI - _SWEEP_LO) // _SWEEP_STEP + 2} groups), then the
    sweep explodes each tiny group row into the thresholds it satisfies
    (a sequence explode on a ~dozen-row frame, not on the corpus) and
    re-aggregates. The 10-point sweep therefore costs exactly one
    corpus scan + one bounded shuffle regardless of grid resolution —
    the 100 TB version changes the grid literals, nothing else.
    """
    # n_chars IS NOT NULL on both sides: LEAST skips NULL in both
    # engines, so a NULL-length doc would otherwise land at t_max =
    # _SWEEP_HI and count as surviving EVERY threshold while its chars
    # vanish from the kept sums — a doc of unknown length survives no
    # 'n_chars >= T' cut (round-10 review finding).
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull()
    )
    b = (
        docs.groupBy(
            F.least(
                (F.col("n_chars") / _SWEEP_STEP).cast("long") * _SWEEP_STEP,
                F.lit(_SWEEP_HI).cast("long"),
            ).alias("t_max")
        )
        .agg(F.count("*").alias("c"), F.sum("n_chars").cast("long").alias("ch"))
    )
    tot = b.agg(
        F.sum("c").cast("double").alias("tc"),
        F.sum("ch").cast("double").alias("tch"),
    )
    hits = (
        b.where(F.col("t_max") >= _SWEEP_LO)
        .select(
            F.explode(
                F.sequence(
                    F.lit(_SWEEP_LO).cast("long"),
                    F.col("t_max"),
                    F.lit(_SWEEP_STEP).cast("long"),
                )
            ).alias("threshold"),
            "c",
            "ch",
        )
    )
    return (
        hits.crossJoin(F.broadcast(tot))
        .groupBy(F.col("threshold").cast("int").alias("threshold"))
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.sum("ch").cast("long").alias("n_chars_kept"),
            F.round(F.sum("c") / F.first("tc"), 6).alias("doc_frac"),
            F.round(F.sum("ch") / F.first("tch"), 6).alias("char_frac"),
        )
    )


# DSIR (Xie et al., NeurIPS 2023, "Data Selection for Language Models
# via Importance Resampling" — public paper): hashed n-gram importance
# weights. Feature space = hashed bigrams; the smoothing constant is
# add-one over the bucket space.
_DSIR_BUCKETS = 256
_DSIR_TARGET = ("src1", "src2", "src3", "src4")
_DSIR_TARGET_SQL = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
_DSIR_BG_SPARK = md5_prefix_int_spark("bg")
_DSIR_BG_DUCK = md5_prefix_int_duck("bg")


@register(
    "q169_dsir_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               COALESCE(source IN ({_DSIR_TARGET_SQL}), FALSE) AS is_target,
               string_split({_LOWER_TEXT}, ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    feats AS (
        SELECT doc_id, is_target,
               ({_DSIR_BG_DUCK}) % {_DSIR_BUCKETS} AS bucket
        FROM (
            SELECT doc_id, is_target,
                   unnest({adjacent_bigrams_duck('w')}) AS bg
            FROM tok WHERE len(w) >= 2
        )
    ),
    bc AS (
        SELECT bucket,
               SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
        FROM feats GROUP BY bucket
    ),
    tots AS (
        SELECT CAST(SUM(ct) AS DOUBLE) AS nt, CAST(SUM(cr) AS DOUBLE) AS nr
        FROM bc
    ),
    ratio AS (
        SELECT bucket,
               ln(((ct + 1) / (nt + {_DSIR_BUCKETS}))
                  / ((cr + 1) / (nr + {_DSIR_BUCKETS}))) AS llr
        FROM bc CROSS JOIN tots
    )
    SELECT f.doc_id,
           COUNT(*) AS n_feats,
           ROUND(AVG(r.llr), 6) AS weight
    FROM feats f JOIN ratio r ON f.bucket = r.bucket
    WHERE NOT f.is_target
    GROUP BY f.doc_id
    """,
    tags=("llm", "corpus", "selection", "dsir"),
)
def q169_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, public paper): score
    every out-of-domain document by how target-domain-like its hashed
    bigram features are. Target distribution = sources {_DSIR_TARGET};
    raw = the rest. Each bucket b of the {_DSIR_BUCKETS}-bucket hashed
    feature space gets an add-one-smoothed log-likelihood ratio
    ln(p_target(b) / p_raw(b)); a raw document's weight is the MEAN llr
    over its bigram occurrences (length-normalized, so long documents
    don't dominate the resampling pool). Downstream selection samples
    proportionally to exp(weight) — this frame IS the published
    algorithm's scoring pass.

    Plan: one tokenized scan explodes bigrams and hashes them into a
    FIXED {_DSIR_BUCKETS}-bucket space (the hashing trick — no vocab
    build, q117's scale argument); the per-bucket target/raw counts are
    a bounded {_DSIR_BUCKETS}-row aggregate whose totals ride along as
    a broadcast single row; the llr table broadcast-joins back onto the
    feature stream and ONE per-doc hash aggregate finishes. Full-data
    shuffles: the bucket count and the per-doc mean — both map-side
    combined. The bucket hash is the cross-engine 60-bit md5, so the
    oracle checks actual feature assignment, not just shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs = spread_scan(spark, docs, sf_dir, "documents", "doc_id")  # guide §2.5
    tok = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        # NULL source must count as RAW, not vanish: bare isin() yields
        # NULL for a NULL source, and summing its negation would drop
        # those tokens from cr while the oracle's CASE WHEN counts them
        # — coalesce pins both engines to "NULL source = raw corpus".
        F.coalesce(
            F.col("source").isin(*_DSIR_TARGET), F.lit(False)
        ).alias("is_target"),
        F.split(_lower_text_col(), " ").alias("w"),
    )
    feats = (
        tok.where(F.size("w") >= 2)
        .select(
            "doc_id",
            "is_target",
            F.explode(F.expr(adjacent_bigrams_spark("w"))).alias("bg"),
        )
        .select(
            "doc_id",
            "is_target",
            F.pmod(F.expr(_DSIR_BG_SPARK), F.lit(_DSIR_BUCKETS)).alias("bucket"),
        )
        # persist (O43, the registry caching contract): the feature
        # stream feeds BOTH the bucket-count aggregate and the final
        # per-doc mean, and the two subplans share no exchange — without
        # the cache the dominant cost (tokenize + bigram explode + md5
        # per occurrence over the whole corpus) executes twice,
        # contradicting the one-tokenized-scan plan below (round-10
        # review finding). Three machine-word columns, so the cached
        # footprint is occurrence-count-sized, spilling to disk past
        # memory like any O43 persist.
        .persist()
    )
    bc = feats.groupBy("bucket").agg(
        F.sum(F.col("is_target").cast("int")).alias("ct"),
        F.sum((~F.col("is_target")).cast("int")).alias("cr"),
    )
    tots = bc.agg(
        F.sum("ct").cast("double").alias("nt"),
        F.sum("cr").cast("double").alias("nr"),
    )
    ratio = bc.crossJoin(F.broadcast(tots)).select(
        "bucket",
        F.log(
            ((F.col("ct") + 1) / (F.col("nt") + _DSIR_BUCKETS))
            / ((F.col("cr") + 1) / (F.col("nr") + _DSIR_BUCKETS))
        ).alias("llr"),
    )
    return (
        feats.where(~F.col("is_target"))
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.avg("llr"), 6).alias("weight"),
        )
    )


@register(
    "q179_jsd_source_divergence",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split({_LOWER_TEXT}, ' ')) AS w
        FROM documents WHERE text IS NOT NULL
    ),
    sc AS (
        SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ),
    stot AS (
        SELECT source, CAST(SUM(c) AS DOUBLE) AS st FROM sc GROUP BY 1
    ),
    cc AS (
        SELECT w, CAST(SUM(c) AS DOUBLE) AS cw FROM sc GROUP BY 1
    ),
    ctot AS (SELECT SUM(cw) AS ct FROM cc),
    terms AS (
        SELECT sc.source,
               sc.c / st.st AS p,
               cc.cw / ctot.ct AS q
        FROM sc
        JOIN stot st ON sc.source = st.source
        JOIN cc ON sc.w = cc.w
        CROSS JOIN ctot
    ),
    kl AS (
        -- JSD(P, Q) with M = (P+Q)/2; vocabulary terms absent from a
        -- source contribute only through the Q-side KL, handled by the
        -- closed form over the source's support plus the Q-only mass.
        SELECT source,
               SUM(p * ln(p / ((p + q) / 2))) AS kl_pm,
               SUM(q * ln(q / ((p + q) / 2))) AS kl_qm_support,
               1 - SUM(q) AS q_missing
        FROM terms GROUP BY source
    )
    SELECT source,
           -- GREATEST(_, 0): on an identical-distribution source the
           -- exact JSD is 0 and the FP sum can land an ulp BELOW it;
           -- DuckDB's sqrt then raises Out of Range where Spark reads
           -- NaN (round-11 review finding) — clamp in BOTH engines.
           ROUND(GREATEST((kl_pm
                  + kl_qm_support + q_missing * ln(2.0)) / 2, 0), 6) AS jsd,
           ROUND(sqrt(GREATEST((kl_pm
                  + kl_qm_support + q_missing * ln(2.0)) / 2, 0) / ln(2.0)), 6)
               AS jsd_distance
    FROM kl
    """,
    tags=("llm", "corpus", "mixing"),
)
def q179_jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the overall corpus distribution — the mixture-weighting signal
    data-mixing work optimizes (DoReMi et al. use exactly this family
    of distributional distances). jsd is in nats against the M=(P+Q)/2
    mixture; jsd_distance is the [0,1] metric form sqrt(JSD/ln 2).
    Tokens the source NEVER emits still carry corpus mass q: their KL
    contribution q·ln(q/(q/2)) = q·ln2 enters via the closed-form
    missing-mass term, so the estimate is exact, not support-truncated.

    Plan: ONE tokenized scan -> (source, word) counts (vocab x sources
    bounded); per-source totals and corpus word mass are vocab-bounded
    aggregates joined back on the word key; the KL reduction is one
    bounded hash aggregate. No corpus-sized join anywhere; at 100 TB
    everything after the first count is vocabulary-scaled.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(F.split(_lower_text_col(), " ")).alias("w")
    )
    sc = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").cast("double").alias("st"))
    cc = sc.groupBy("w").agg(F.sum("c").cast("double").alias("cw"))
    ctot = cc.agg(F.sum("cw").alias("ct"))
    terms = (
        sc.join(F.broadcast(stot), "source")
        # no broadcast hint on the vocab-sized corpus-mass frame: AQE
        # broadcasts it while it is small and shuffle-joins on the
        # uniform word key once a web-scale vocabulary outgrows the
        # 8 GB broadcast ceiling (see q87; round-10 review finding)
        .join(cc, "w")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            (F.col("c") / F.col("st")).alias("p"),
            (F.col("cw") / F.col("ct")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    kl = terms.groupBy("source").agg(
        F.sum(F.col("p") * F.log(F.col("p") / m)).alias("kl_pm"),
        F.sum(F.col("q") * F.log(F.col("q") / m)).alias("kl_qm_support"),
        (1 - F.sum("q")).alias("q_missing"),
    )
    # greatest(_, 0): exact-0 JSD can drift an ulp negative in FP —
    # NaN through Spark's sqrt, an Out of Range ERROR through the
    # DuckDB oracle's (round-11 review finding); clamped identically
    # in both dialects.
    jsd = F.greatest(
        (
            F.col("kl_pm")
            + F.col("kl_qm_support")
            + F.col("q_missing") * F.log(F.lit(2.0))
        )
        / 2,
        F.lit(0.0),
    )
    return kl.select(
        "source",
        F.round(jsd, 6).alias("jsd"),
        F.round(F.sqrt(jsd / F.log(F.lit(2.0))), 6).alias("jsd_distance"),
    )


_IPF_ITERS = 3  # row/column sweep pairs; enough to near-converge a
# well-conditioned grid, few enough that cross-engine FP drift stays
# far below the 6-decimal hash precision


def _raking_oracle() -> str:
    """Unrolled IPF CTE chain: target marginals are UNIFORM over
    sources and UNIFORM over langs (the balanced-mixing target)."""
    ctes = [
        """cells AS (
        SELECT source, lang, CAST(COUNT(*) AS DOUBLE) AS n
        FROM documents
        WHERE source IS NOT NULL AND lang IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT SUM(n) AS t,
               CAST(COUNT(DISTINCT source) AS DOUBLE) AS ns,
               CAST(COUNT(DISTINCT lang) AS DOUBLE) AS nl
        FROM cells
    ),
    w0 AS (SELECT source, lang, n, 1.0 AS w FROM cells)"""
    ]
    for i in range(1, _IPF_ITERS + 1):
        p = f"w{i - 1}" if i == 1 else f"wc{i - 1}"
        ctes.append(f"""rs{i} AS (
        SELECT source, SUM(n * w) AS s FROM {p} GROUP BY source
    ),
    wr{i} AS (
        SELECT {p}.source, {p}.lang, {p}.n,
               {p}.w * (tot.t / tot.ns) / NULLIF(rs{i}.s, 0) AS w
        FROM {p} JOIN rs{i} USING (source) CROSS JOIN tot
    ),
    cs{i} AS (
        SELECT lang, SUM(n * w) AS s FROM wr{i} GROUP BY lang
    ),
    wc{i} AS (
        SELECT wr{i}.source, wr{i}.lang, wr{i}.n,
               wr{i}.w * (tot.t / tot.nl) / NULLIF(cs{i}.s, 0) AS w
        FROM wr{i} JOIN cs{i} USING (lang) CROSS JOIN tot
    )""")
    return f"""
    WITH {", ".join(ctes)}
    SELECT source, lang, CAST(n AS BIGINT) AS n_docs,
           ROUND(w, 6) AS weight
    FROM wc{_IPF_ITERS}
    """


@register(
    "q187_raking_weights",
    oracle=_raking_oracle(),
    tags=("llm", "corpus", "mixing", "iterative"),
)
def q187_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of per-(source, lang)
    sampling weights so the WEIGHTED corpus hits uniform source
    marginals AND uniform lang marginals simultaneously — the survey-
    statistics workhorse applied to training-data mixing: q58 enforces
    a single-axis mix, this calibrates two axes at once. {_IPF_ITERS}
    row/column sweep pairs, unrolled identically in both engines
    (Deming & Stephan 1940; converges geometrically on a strictly
    positive grid).

    Plan: ONE corpus-sized aggregate collapses documents to the
    (source x lang) cell grid (vocabulary-bounded, hundreds of rows),
    which then collapses to ONE ROW (sorted cell array + totals) and
    all {_IPF_ITERS} row/column sweep pairs run as a single JVM-side
    ``aggregate()`` fold over it (the q190/q186/q212 device — odd fold
    steps sweep sources, even steps sweep langs), replacing the earlier
    join-per-sweep loop whose per-pair localCheckpoints each paid a
    scheduler round-trip on the grid frame. At 100 TB: one scan, one
    shuffle, then a constant-size single-task fold. NULLIF guards empty
    marginals (weight NULL = unreachable marginal), and marginal sums
    coalesce a NULL weight to 0 exactly as SQL SUM skips it.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.where(F.col("source").isNotNull() & F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count("*").cast("double").alias("n"))
    )
    # STRUCT map keys, not a separator-joined string: source/lang are
    # corpus-derived values, so no byte is guaranteed absent from them,
    # and a collision would throw DUPLICATED_MAP_KEY at runtime. Struct
    # equality needs identical field names on build and lookup.
    key = "struct(c.source AS ks, c.lang AS kl)"
    key2 = "struct(c2.source AS ks, c2.lang AS kl)"
    g = (
        cells.groupBy()
        .agg(
            F.sort_array(
                F.collect_list(F.struct("source", "lang", "n"))
            ).alias("cl")
        )
        .withColumn("t", F.expr("aggregate(cl, 0.0D, (a, c) -> a + c.n)"))
        .withColumn(
            "ns",
            F.expr(
                "cast(size(array_distinct(transform(cl, c -> c.source))) as double)"
            ),
        )
        .withColumn(
            "nl",
            F.expr(
                "cast(size(array_distinct(transform(cl, c -> c.lang))) as double)"
            ),
        )
    )
    w_map = F.expr(
        f"""
        aggregate(
          sequence(1, {2 * _IPF_ITERS}),
          map_from_entries(transform(cl, c -> struct({key}, 1.0D))),
          (acc, k) -> map_from_entries(transform(cl, c -> struct(
              {key},
              try_element_at(acc, {key})
              * (t / IF(k % 2 = 1, ns, nl))
              / nullif(
                  aggregate(
                    filter(cl, c2 -> IF(k % 2 = 1,
                                        c2.source = c.source,
                                        c2.lang = c.lang)),
                    0.0D,
                    (a, c2) -> a + c2.n * coalesce(try_element_at(acc, {key2}), 0.0D)),
                  0.0D))))
        )
        """
    )
    return (
        g.select(F.col("cl"), w_map.alias("fw"))
        .select(F.explode("cl").alias("c"), "fw")
        .select(
            F.col("c.source").alias("source"),
            F.col("c.lang").alias("lang"),
            F.col("c.n").cast("long").alias("n_docs"),
            F.round(
                F.expr(f"try_element_at(fw, {key})"), 6
            ).alias("weight"),
        )
    )


_COLLISION_WIDTHS = (64, 256, 1024, 4096)


@register(
    "q188_hash_collision_audit",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split({_LOWER_TEXT}, ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    vocab AS (
        SELECT t, COUNT(*) AS c FROM tok WHERE length(t) > 0 GROUP BY t
    ),
    h AS (
        SELECT t, c, ({_DUCK_MD5_60}) AS hv FROM vocab
    ),
    grid AS (SELECT unnest([{", ".join(map(str, _COLLISION_WIDTHS))}]) AS width),
    bucketed AS (
        SELECT grid.width, hv % grid.width AS bucket,
               COUNT(*) AS n_terms, SUM(c) AS mass
        FROM h CROSS JOIN grid
        GROUP BY 1, 2
    )
    SELECT CAST(width AS INT) AS width,
           CAST(SUM(n_terms) AS BIGINT) AS n_terms,
           COUNT(*) AS n_buckets_used,
           CAST(SUM(CASE WHEN n_terms >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS collided_buckets,
           ROUND(SUM(CASE WHEN n_terms >= 2 THEN mass ELSE 0 END)
                 / CAST(SUM(mass) AS DOUBLE), 6) AS collision_mass_share
    FROM bucketed GROUP BY width
    """,
    tags=("llm", "features", "audit"),
)
def q188_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision audit for the feature-hashing trick (q117): at each
    candidate bucket width, how many vocabulary terms share a bucket
    and what share of the TOKEN MASS sits in collided buckets — the
    sizing study that says which width keeps hashing-trick features
    honest. Uses the exact md5-60 hash q117 ships, so the audit
    measures the production hash, not a proxy.

    Plan: one tokenized scan -> vocabulary count frame (the md5 is
    computed ONCE per term, not per width); the {len(_COLLISION_WIDTHS)}-row
    width grid cross-attaches onto the vocab frame (vocab x 4, still
    vocabulary-bounded); two hash aggregates end at a 4-row result.
    At 100 TB everything after the first count is vocabulary-scaled.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.where(F.col("text").isNotNull()).select(
        F.explode(F.split(_lower_text_col(), " ")).alias("t")
    )
    vocab = (
        tok.where(F.length("t") > 0)
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .withColumn("hv", F.expr(_SPARK_MD5_60))
    )
    grid = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(w,) for w in _COLLISION_WIDTHS], "width int"
        )
    )
    bucketed = (
        vocab.crossJoin(grid)
        .groupBy("width", F.pmod(F.col("hv"), F.col("width")).alias("bucket"))
        .agg(F.count("*").alias("n_terms"), F.sum("c").alias("mass"))
    )
    return bucketed.groupBy("width").agg(
        F.sum("n_terms").alias("n_terms"),
        F.count("*").alias("n_buckets_used"),
        F.sum(F.when(F.col("n_terms") >= 2, 1).otherwise(0)).alias(
            "collided_buckets"
        ),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("n_terms") >= 2, F.col("mass")).otherwise(0)),
                F.sum("mass").cast("double"),
            ),
            6,
        ).alias("collision_mass_share"),
    )


def _q202_oracle() -> str:
    """Wrap the two registered dedup oracles verbatim so the agreement
    audit can never drift from the methods it audits."""
    lex = _peeked_oracle("q46_dedup_clusters")
    sem = _peeked_oracle("q170_semdedup")
    return f"""
    WITH lex AS ({lex}),
    sem AS ({sem}),
    j AS (
        SELECT lex.doc_id,
               CASE WHEN lex.is_canonical = 0 THEN 1 ELSE 0 END AS lex_drop,
               CASE WHEN sem.removed THEN 1 ELSE 0 END AS sem_drop
        FROM lex JOIN sem ON lex.doc_id = sem.vec_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(lex_drop) AS BIGINT) AS n_lexical_dropped,
           CAST(SUM(sem_drop) AS BIGINT) AS n_semantic_dropped,
           CAST(SUM(lex_drop * sem_drop) AS BIGINT) AS n_both,
           ROUND(CAST(SUM(lex_drop * sem_drop) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN lex_drop = 1 OR sem_drop = 1
                                   THEN 1 ELSE 0 END), 0), 6) AS jaccard,
           ROUND(AVG(CASE WHEN lex_drop = sem_drop THEN 1.0 ELSE 0.0 END),
                 6) AS pct_agree
    FROM j
    """


@register(
    "q202_dedup_method_agreement",
    oracle=_q202_oracle(),
    tags=("llm", "dedup", "governance"),
)
def q202_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-agreement audit between the LEXICAL dedup decision
    (q46's connected-component clusters over shingle-Jaccard pairs:
    dropped = non-canonical) and the SEMANTIC one (q170 SemDeDup:
    dropped = removed): drop-set Jaccard and per-doc agreement rate —
    the governance number that says whether the two families are
    finding the SAME duplicates (run one) or complementary ones (run
    both), before anyone deletes data. Composes the two REGISTERED
    pipelines and wraps their registered oracles verbatim, so the
    audit can never drift from the methods it audits.

    Plan: both constituent pipelines' own plans (each audited
    separately), then one id equi-join of two per-doc frames and a
    1-row aggregate. try_divide/NULLIF guard the nothing-dropped case.
    """
    from trafficteach_spark.registry import all_specs

    specs = all_specs()
    lex = specs["q46_dedup_clusters"].fn(spark, sf_dir).select(
        "doc_id",
        (F.col("is_canonical") == 0).cast("int").alias("lex_drop"),
    )
    sem = specs["q170_semdedup"].fn(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.col("removed").cast("int").alias("sem_drop"),
    )
    j = lex.join(sem, "doc_id")
    return j.agg(
        F.count("*").alias("n_docs"),
        F.sum("lex_drop").alias("n_lexical_dropped"),
        F.sum("sem_drop").alias("n_semantic_dropped"),
        F.sum(F.col("lex_drop") * F.col("sem_drop")).alias("n_both"),
        F.round(
            F.try_divide(
                F.sum(F.col("lex_drop") * F.col("sem_drop")).cast("double"),
                F.sum(
                    F.when(
                        (F.col("lex_drop") == 1) | (F.col("sem_drop") == 1), 1
                    ).otherwise(0)
                ),
            ),
            6,
        ).alias("jaccard"),
        F.round(
            F.avg(
                F.when(F.col("lex_drop") == F.col("sem_drop"), 1.0).otherwise(
                    0.0
                )
            ),
            6,
        ).alias("pct_agree"),
    )


# Vocabulary size for the coverage audit: the top-K corpus tokens by
# frequency (deterministic token-string tie-break) stand in for a
# trained tokenizer's vocab; coverage = share of token OCCURRENCES the
# vocab explains, the go/no-go stat before committing a tokenizer to a
# source mix.
_COVERAGE_VOCAB_K = 500


@register(
    "q211_tokenizer_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    st AS (
        SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t
    ),
    cnt AS (
        SELECT t, SUM(c) AS c FROM st GROUP BY t
    ),
    vocab AS (
        SELECT t, 1 AS in_vocab FROM cnt ORDER BY c DESC, t LIMIT {_COVERAGE_VOCAB_K}
    )
    SELECT st.source,
           CAST(SUM(st.c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.in_vocab = 1 THEN st.c ELSE 0 END) AS BIGINT)
               AS n_covered,
           ROUND(SUM(CASE WHEN vocab.in_vocab = 1 THEN st.c ELSE 0 END)
                 / CAST(SUM(st.c) AS DOUBLE), 6) AS coverage,
           CAST(SUM(CASE WHEN vocab.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov_types
    FROM st LEFT JOIN vocab USING (t)
    GROUP BY st.source
    """,
    tags=("llm", "corpus", "tokenizer"),
)
def q211_tokenizer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit per source: with the top
    {_COVERAGE_VOCAB_K} corpus tokens as the vocab, what share of each
    source's token occurrences the vocab covers and how many distinct
    out-of-vocab types remain — the audit that catches a source whose
    text a shared tokenizer would shatter into bytes (low coverage =
    high fertility = wasted context window) before training commits to
    the mix. Completes the vocabulary family (q56 top-k, q82 BPE merge
    pairs, q163 Heaps growth, q188 hashing collisions).

    Plan: one (source, token) hash aggregate is the ONLY corpus-sized
    shuffle; the global vocabulary reduces that frame again (token key)
    and its top-K is a TakeOrdered ({_COVERAGE_VOCAB_K} rows) that
    BROADCASTS back onto the per-source frame; the readout is a
    source-count-sized aggregate. At 100 TB: one fact shuffle on
    (source, token) — the vocab side is constant-sized by construction.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("t"))
    st = tok.groupBy("source", "t").agg(F.count("*").alias("c"))
    cnt = st.groupBy("t").agg(F.sum("c").alias("c"))
    vocab = (
        cnt.orderBy(F.desc("c"), F.asc("t"))
        .limit(_COVERAGE_VOCAB_K)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    j = st.join(F.broadcast(vocab), "t", "left")
    return j.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_covered"),
        F.round(
            F.sum(F.when(F.col("in_vocab") == 1, F.col("c")).otherwise(0))
            / F.sum("c").cast("double"),
            6,
        ).alias("coverage"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov_types"),
    )
