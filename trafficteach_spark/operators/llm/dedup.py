"""Deduplication operators over the documents table (SURVEY.md §3 X1/X2).

North-star LLM-pipeline block (BASELINE.json): exact dedup, near-dup via
shingle-Jaccard, and the MinHash-LSH banded variant that is the 100 TB
scale path. Not in the reference repo — these extend its capability
surface per the build brief.

Design for scale:
- exact dedup is a single hash-groupBy (one shuffle on the content hash);
- near-dup NEVER does an all-pairs join: candidates come from an inverted
  shingle index (equi-join on shingle) or from LSH band buckets, then the
  exact Jaccard filter runs only on candidates. Any pair with J > 0 shares
  a shingle, so the shingle-index variant is *exact* for any threshold;
  the MinHash variant trades a (quantified) false-negative probability for
  a candidate set whose size no longer depends on shingle frequency.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trafficteach_spark.functions.exprs import (
    md5_prefix_int_duck,
    md5_prefix_int_spark,
)
from trafficteach_spark.registry import register
from trafficteach_spark.sources.tables import (
    load_table,
    persisted_frame,
    pop_session_frame,
    session_frame,
    spread_scan,
)

# Word 3-gram shingles: with the fixture's 31-word vocabulary, token *sets*
# are degenerate (random-pair median Jaccard 0.64) while shingle sets
# separate cleanly (planted near-dups >= 0.98, random pairs ~0.01).
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5

# MinHash geometry: 64 hashes = 16 bands x 4 rows. P(candidate | J) =
# 1-(1-J^4)^16: 0.99 at J=0.75, ~1-4e-8 at J=0.9. The fixture's planted
# near-dups sit at J>=0.98 so the banded pass recovers the exact result.
_N_HASHES = 64
_BANDS = 16
_ROWS_PER_BAND = 4
_MERSENNE = 4294967291  # largest 32-bit prime
# a < 2^31 keeps max(a*h + b) = (2^31-1)*(P-1) + (P-1) < 2^63-1: no int64
# overflow under ANSI arithmetic.
_rng = random.Random(20240813)
_HASH_AB = [(_rng.randrange(1, 2**31), _rng.randrange(0, _MERSENNE)) for _ in range(_N_HASHES)]


# Shingle expressions are DERIVED from SHINGLE_K so the knob and the
# computation cannot diverge (a hardcoded 3-gram body under a K=4 filter
# would silently drop 3-token docs from both engines).
_SPARK_SHINGLE_WORDS = ", ".join(f"w[i+{j}]" for j in range(SHINGLE_K))
_DUCK_SHINGLE_WORDS = " || ' ' || ".join(f"w[i+{j}]" for j in range(SHINGLE_K))


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s: array<string> distinct shingles, sz) for docs with >= K tokens.

    spread_scan (round-12, guide §2.5): the shingling HOF is the most
    expensive per-row expression in the whole engine and feeds the
    entire dedup/overlap family through the shared persisted frame; on
    a single-file corpus the scan plans ONE split, so without the
    spread the pass (and every downstream explode off the cached
    frame's partitioning) runs on one core. Keyed on doc_id:
    deterministic under retry, and the persisted frame comes out
    32-way partitioned for every consumer.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs = spread_scan(spark, docs, sf_dir, "documents", "doc_id")
    w = F.split(F.col("text"), " ")
    return (
        docs.select("doc_id", w.alias("w"))
        .where(F.size("w") >= SHINGLE_K)
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(transform(sequence(0, size(w) - {SHINGLE_K}),"
                f" i -> concat_ws(' ', {_SPARK_SHINGLE_WORDS})))"
            ).alias("s"),
        )
        .withColumn("sz", F.size("s"))
    )


# -- Shared materialized intermediates (round-4 verdict item 4) ------------
#
# The dedup family forms a chain (shingles -> pairs -> clusters -> best-
# per-cluster) whose stages used to recompute their upstream on every
# invocation — the three slowest bench entries shared that one root cause.
# A production pipeline materializes each intermediate once per dataset;
# these session frames (``sources.tables.session_frame``) are that
# materialized-view layer: one entry per (stage, sf_dir) on the session,
# served while the documents part files the build listed are unchanged,
# so a fresh session, a different dataset, or a REWRITE of the same path
# (in place or with renamed parts) never sees stale frames. A stale entry
# frees its dataset's whole layer (``_evict_layer_entry``) before the
# rebuild.
#
# Two materialization grades, deliberately different:
# - the SHINGLE frame is kept as a single persisted DataFrame
#   *instance* (``persisted_frame``: re-invocations reuse one cache slot
#   instead of stacking a new persisted plan per call — the round-4
#   advisory's cache-pressure leak; `spark.catalog.clearCache()` still
#   evicts its data, after which it recomputes into the same slot);
# - the PAIRS / CLUSTERS frames are `localCheckpoint`ed (actually
#   materialized, lineage truncated): downstream consumers (q46, q88)
#   reuse rows instead of re-running the shingle join. Checkpoint blocks
#   live outside the SQL cache, so clearCache() does not double-charge
#   consumers for their upstream — exactly the composition-reuse contract
#   `funnel()` set for chains.

_PERSISTED_STAGES = ("dedup_shingles", "dedup_eval_hashed")
_CHECKPOINTED_STAGES = ("dedup_pairs", "dedup_clusters")


def _layer_persisted(spark: SparkSession, stage: str, sf_dir: str, build) -> DataFrame:
    return persisted_frame(
        spark, (stage, sf_dir), build, lambda _: _evict_layer_entry(spark, sf_dir)
    )


def _layer_checkpointed(spark: SparkSession, stage: str, sf_dir: str, build) -> DataFrame:
    return session_frame(
        spark,
        (stage, sf_dir),
        lambda: _materialize_accounted(spark, sf_dir, build),
        lambda _: _evict_layer_entry(spark, sf_dir),
    )


# -- Byte accounting for the checkpoint layer (round-9 verdict item 3) ------
#
# The registry's caching contract promises the pair/cluster checkpoint
# blocks are pair-count-sized, not corpus-sized, and live as long as
# their session frames. At 100 TB that promise needs a guard rail, not a
# comment: every materialization is MEASURED (RDD storage-info delta
# across the eager build — which also charges the CC iteration's
# internal checkpoints to the entry that created them), recorded in a
# per-sf_dir ledger held on the session beside its frames, and checked
# against a configurable cap on that session's layer. Past the cap,
# entries for OTHER sf_dirs are evicted first (checkpoint blocks freed
# via the context's persistent-RDD registry, session frames dropped so
# they rebuild for any FUTURE accessor; a caller still holding a
# previously returned frame loses it — localCheckpoint truncated its
# lineage, so the next action on the held reference fails with a
# missing-block error and the holder must re-fetch through the memo);
# if the new entry ALONE still exceeds the cap, the materialization
# refuses loudly instead of silently pinning corpus-shaped state in
# executor memory for the life of the session.
#
# Attribution is conservative: blocks the lazily-persisted shingle SQL
# cache happens to fill during the build are charged to the ledger too
# (over-counting, never under); `materialized_layer_bytes` re-reads
# live block sizes, so anything `clearCache()` later frees drops out.

_LEDGER_ATTR = "_trafficteach_dedup_ledger"
_LAYER_CAP_ENV = "SPARK_GRAFT_DEDUP_LAYER_CAP_BYTES"
# ~1000x the measured sf0.1 layer, far under a single executor's memory.
_LAYER_CAP_DEFAULT = 8 << 30


def _ledger(spark: SparkSession) -> dict[str, dict[int, int]]:
    """sf_dir -> {RDD id: bytes} of this session's materialized layer,
    oldest materialization first."""
    return spark.__dict__.setdefault(_LEDGER_ATTR, {})


def _storage_sizes(spark: SparkSession) -> dict[int, int]:
    """Live (mem + disk) bytes per block-manager-resident RDD id."""
    return {
        info.id(): info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def materialized_layer_bytes(spark: SparkSession) -> int:
    """Bytes currently pinned by this session's materialized dedup
    layer. Ledger ids are re-read from the block manager, so blocks that
    were dropped count zero."""
    live = _storage_sizes(spark)
    return sum(live.get(rid, 0) for per in _ledger(spark).values() for rid in per)


def _evict_layer_entry(spark: SparkSession, sf_dir: str) -> None:
    """Free one dataset's layer on this session: unpersist its checkpoint
    RDDs via the persistent-RDD registry (a DataFrame.unpersist() would
    only touch the SQL cache, not checkpoint blocks) and drop its session
    frames so they rebuild for future accessors (held references to the
    evicted frames are lost — see the ledger comment).

    The SQL-CACHED companions the conservative attribution may have
    charged to this entry (the shingle frame, the hashed eval frame) are
    released FIRST, through DataFrame.unpersist(): a raw
    ``jrdd.unpersist()`` on a SQL-cache RDD drops its blocks BEHIND the
    CacheManager, and because a direct RDD unpersist also resets the
    RDD's storage level to NONE the cached relation never re-caches —
    while ``persisted_frame``'s self-heal guard reads the CONFIGURED
    level (still MEMORY_*), so it would never re-persist either: the
    shared shingle cache would be silently dead for the rest of the
    session (round-10 review finding). Going through the DataFrame API
    removes the CacheManager entry too, so the rebuild re-persists
    cleanly."""
    # blocking=True throughout: the caller re-reads the block manager
    # immediately after eviction (cap re-check, test assertions), and a
    # fire-and-forget unpersist can leave the just-evicted blocks still
    # counted — spuriously refusing a materialization that fits
    # (round-10 review finding).
    for stage in _PERSISTED_STAGES:
        df = pop_session_frame(spark, (stage, sf_dir))
        if df is not None:
            df.unpersist(blocking=True)
    live = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in _ledger(spark).pop(sf_dir, {}):
        jrdd = live.get(rid)
        if jrdd is not None:
            jrdd.unpersist(True)
    for stage in _CHECKPOINTED_STAGES:
        pop_session_frame(spark, (stage, sf_dir))


def _materialize_accounted(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Build + eagerly checkpoint one layer frame with byte accounting
    (see the ledger comment above). ``build`` is a zero-arg callable so
    the storage snapshot brackets EVERY action the build runs (the CC
    loop checkpoints per round), not just the final frame."""
    import os

    before = _storage_sizes(spark)
    built = build()
    out = built.localCheckpoint(eager=True)
    # Free build-internal checkpoints the producer declared dead once a
    # derivative is materialized (alternating_components tags its final
    # edge frame): without this the converged CC round's edge-list-sized
    # blocks stay pinned until nondeterministic GC AND get charged to
    # the ledger below, inflating the cap readout against other
    # datasets (round-11 review finding). Freed BEFORE the snapshot so
    # they are never ledgered at all.
    for fr in getattr(built, "_dead_after_checkpoint", ()):
        _free_checkpoint_blocks(fr)
    ledgers = _ledger(spark)
    ledger = ledgers.setdefault(sf_dir, {})
    for rid, nbytes in _storage_sizes(spark).items():
        if rid not in before:
            ledger[rid] = nbytes
    cap = int(os.environ.get(_LAYER_CAP_ENV, _LAYER_CAP_DEFAULT))
    # Evict other datasets' layers OLDEST-FIRST and only until the
    # readout is back under the cap — the documented "evicted first"
    # pressure contract, not evict-all: surviving datasets keep their
    # expensive pair/cluster frames (round-10 review finding). Dict
    # insertion order = materialization order, so iteration is LRU-ish.
    for other in [k for k in ledgers if k != sf_dir]:
        if materialized_layer_bytes(spark) <= cap:
            break
        _evict_layer_entry(spark, other)
    if materialized_layer_bytes(spark) > cap:
        this_bytes = sum(ledgers.get(sf_dir, {}).values())
        _evict_layer_entry(spark, sf_dir)
        raise RuntimeError(
            f"materialized dedup layer for {sf_dir} needs ~{this_bytes} bytes, "
            f"over the {cap}-byte cap (${_LAYER_CAP_ENV}) even after "
            "evicting every other dataset's layer — the pair frame is "
            "corpus-shaped, not pair-shaped; fix the candidate generator "
            "or raise the cap deliberately"
        )
    return out


def shared_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted shingle frame, one instance per (session, sf_dir)
    while the documents part files are unchanged. ``persisted_frame``
    re-persists it after ``spark.catalog.clearCache()`` — otherwise every
    downstream self-join silently recomputes the HOF shingling once per
    use (measured 4x on q31/q90 at sf0.1)."""
    return _layer_persisted(spark, "dedup_shingles", sf_dir, lambda: _shingle_sets(spark, sf_dir))


def materialized_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair frame (doc_a, doc_b, jaccard), computed once per
    (session, sf_dir) while the documents are unchanged and
    localCheckpoint-materialized for downstream reuse."""
    return _layer_checkpointed(spark, "dedup_pairs", sf_dir, lambda: near_dup_pairs(spark, sf_dir))


def materialized_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster assignment (doc_id, canonical_id, is_canonical),
    computed once per (session, sf_dir) while the documents are
    unchanged and localCheckpoint-materialized."""
    return _layer_checkpointed(
        spark,
        "dedup_clusters",
        sf_dir,
        lambda: dedup_clusters(spark, sf_dir, pairs=materialized_pairs(spark, sf_dir)),
    )


def prebuild_dedup_layer(spark: SparkSession, sf_dir: str) -> dict:
    """Explicitly build the whole materialized dedup layer for a dataset
    and report its cost — the SCHEDULED form of the lazy memoization
    above (round-10 verdict item 4).

    The layer (persisted shingle frame + localCheckpoint'ed pair and
    cluster frames) is otherwise built lazily by whichever downstream
    query touches it first, which hands that query an unamortized
    cold-start (measured at sf0.1: cold q202 12.9 s vs 3.1 s warm). A
    100 TB deployment should schedule THIS call once per dataset
    ingest — e.g. as the last step of the land→compact pipeline — so
    every consumer (q31 family, q46/q88/q99/q134, q202...) runs against
    the warm layer and pays only its own marginal plan.

    Returns a small report dict: per-stage wall seconds, pair/cluster
    row counts (the counts double as the forcing action for each
    stage), and the byte-accounted layer residue against its cap (see
    ``materialized_layer_bytes`` / $SPARK_GRAFT_DEDUP_LAYER_CAP_BYTES).
    Idempotent: a second call finds every memo warm and returns in
    milliseconds with the same counts.
    """
    import time as _time

    t0 = _time.perf_counter()
    # Stage 1: the shingle frame. count() on the PERSISTED frame builds
    # the full InMemoryRelation (cache builds materialize every column;
    # pruning applies only at read time), so this forces the arrays too.
    shingles = shared_shingle_sets(spark, sf_dir)
    n_docs = shingles.count()
    t1 = _time.perf_counter()
    n_pairs = materialized_pairs(spark, sf_dir).count()
    t2 = _time.perf_counter()
    n_clusters = materialized_clusters(spark, sf_dir).count()
    t3 = _time.perf_counter()
    return {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "n_pairs": n_pairs,
        "n_cluster_rows": n_clusters,
        "shingle_sec": round(t1 - t0, 3),
        "pairs_sec": round(t2 - t1, 3),
        "clusters_sec": round(t3 - t2, 3),
        "total_sec": round(t3 - t0, 3),
        "layer_bytes": materialized_layer_bytes(spark),
    }


# Shared oracle: exact shingle-Jaccard over all pairs (DuckDB is fine with
# the O(n^2) form at sf0.01; the Spark side must never be).
_NEAR_DUP_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([{_DUCK_SHINGLE_WORDS}
                              for i in range(1, len(w) - {SHINGLE_K - 2})]) AS s
        FROM tok
        WHERE len(w) >= {SHINGLE_K}
    )
    SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    WHERE jaccard >= {JACCARD_THRESHOLD}
"""


@register(
    "q30_exact_dedup",
    oracle="""
    SELECT md5(lower(trim(text))) AS content_hash,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("llm", "X1"),
)
def q30_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (X1): normalize -> hash -> keep-first per hash.

    One hash-aggregate, one shuffle on the 128-bit content hash — uniform
    by construction, so no skew at 100 TB; the kept doc_id is the group
    minimum (deterministic keep-first policy).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("content_hash", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted-index candidate frame (doc_a, doc_b, sz_a, sz_b,
    n_common): dual explode of the shared shingle sets, self equi-join
    on shingle (only docs SHARING a shingle ever meet), common-shingle
    count in the same groupBy. ONE definition scored by both
    near_dup_pairs (Jaccard) and q90 (containment), so a candidate-plan
    change — a skew hint, a pruning fix — can never silently diverge
    the two operators (round-10 review finding)."""
    sets = shared_shingle_sets(spark, sf_dir)
    tok_a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), F.explode("s").alias("shingle")
    )
    tok_b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), F.explode("s").alias("shingle")
    )
    return (
        tok_a.join(tok_b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("n_common"))
    )


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library form of q31_near_dedup — the pair-generation stage the
    cluster/keep-best chain consumes (via :func:`materialized_pairs`)."""
    pairs = (
        shingle_candidates(spark, sf_dir)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


@register("q31_near_dedup", oracle=_NEAR_DUP_ORACLE, tags=("llm", "X2"))
def q31_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection (X2), exact variant: inverted shingle index.

    Plan: explode distinct shingles -> self equi-join on shingle (the
    inverted index: only docs *sharing* a shingle ever meet) -> count
    common shingles per pair in the SAME groupBy -> Jaccard filter. Exact
    for any threshold since J > 0 implies a shared shingle; never an
    all-pairs product. The shingle frame is persisted (O43) and shared
    across the dedup family (:func:`shared_shingle_sets`): the HOF
    shingling pass is the most expensive per-row expression here and
    feeds both join sides.

    Measured design note (BASELINE.md): an AllPairs/PPJoin df-ordered
    prefix filter was implemented and benchmarked at sf0.1 — it LOST
    (24.6s vs ~4s): this fixture's shingle document-frequency is uniform
    (median 9, max 25), so the prefix barely shrinks candidates (409k vs
    1.27M) while its verify stage drags full shingle arrays through two
    extra joins. On a Zipfian real corpus with hot shingles the trade-off
    inverts; at 100 TB prefer q31_minhash_lsh, whose candidate volume is
    df-independent by construction.
    """
    return near_dup_pairs(spark, sf_dir)


def _make_minhash_signatures(hash_ab=None):
    """Vectorized numpy signature worker (closure — pickled by value),
    parameterized by the (a, b) universal-hash coefficient table so the
    production path (``_HASH_AB``, the default) and the recall-eval
    harness (``_EVAL_HASH_AB``) share ONE implementation of the modmul
    matrix and its overflow-safety argument.

    64 universal hashes per doc as one (64, n_shingles) modmul matrix +
    row-min — measured ~6x faster than the equivalent 64 interpreted HOF
    ``transform`` columns (2.4s -> 0.4s at sf0.1; HOF lambdas are not
    codegen'd). int64 arithmetic is overflow-free by construction
    (a < 2^31 keeps max(a*h + b) < 2^63) so numpy and the JVM would
    produce bit-identical signatures.
    """
    import numpy as np

    ab = _HASH_AB if hash_ab is None else hash_ab
    a = np.array([p[0] for p in ab], dtype=np.int64)[:, None]
    b = np.array([p[1] for p in ab], dtype=np.int64)[:, None]

    def signatures(batches):
        import pandas as pd

        for pdf in batches:
            sigs = [
                ((a * np.asarray(hs, dtype=np.int64)[None, :] + b) % _MERSENNE).min(axis=1)
                for hs in pdf["hs"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return signatures


#: shingle-hash width for the LSH path: 15 hex chars (60 bits) of md5,
#: then mod _MERSENNE — the DuckDB-reproducible hash (md5_prefix_int_*),
#: NOT xxhash64, so the oracle below can recompute the EXACT signatures.
_LSH_HEX_CHARS = 15


def _minhash_lsh_oracle() -> str:
    """DuckDB oracle replaying q31_minhash_lsh's EXACT pipeline —
    md5-derived shingle hashes, the same 64 (a*h + b) % p minhashes from
    the literal _HASH_AB table, the same 16x4 banding, candidate
    generation by shared band, exact-Jaccard verify — so the registered
    contract is the operator's true semantics. The previous oracle was
    the exact all-pairs form (_NEAR_DUP_ORACLE), which banding only
    approximates: a planted J=0.5 pair is captured with probability
    ~0.64, and this seed demonstrably missed one — a latent parity
    failure on any corpus with mid-J pairs (round-12 review finding).
    The band key is the md5-prefix hash of the band's comma-joined
    values — computed IDENTICALLY here and in the Spark plan, so even
    a hash collision yields the same candidates on both engines."""
    md5h = md5_prefix_int_duck("x", _LSH_HEX_CHARS)
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MERSENNE}))"
        for a, b in _HASH_AB
    )
    band_keys = ", ".join(
        md5_prefix_int_duck(
            "concat_ws(',', "
            + ", ".join(
                f"sig[{b * _ROWS_PER_BAND + r + 1}]"
                for r in range(_ROWS_PER_BAND)
            )
            + ")",
            _LSH_HEX_CHARS,
        )
        for b in range(_BANDS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([{_DUCK_SHINGLE_WORDS}
                              for i in range(1, len(w) - {SHINGLE_K - 2})]) AS s
        FROM tok
        WHERE len(w) >= {SHINGLE_K}
    ),
    sig AS (
        SELECT doc_id, s,
               [{sig_exprs}] AS sig
        FROM (SELECT doc_id, s,
                     list_transform(s, x -> {md5h} % {_MERSENNE}) AS hs
              FROM sh)
    ),
    bands AS (
        SELECT doc_id, s,
               unnest([{band_keys}]) AS band_key,
               generate_subscripts([{band_keys}], 1) AS band_id
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.s AS s_a, b.s AS s_b
        FROM bands a
        JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard
    FROM (
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(s_a, s_b)) AS DOUBLE)
               / (len(s_a) + len(s_b) - len(list_intersect(s_a, s_b)))
                   AS jaccard
        FROM cand
    )
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """


@register("q31_minhash_lsh", oracle=_minhash_lsh_oracle, tags=("llm", "X2", "scale"))
def q31_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection (X2), MinHash-LSH banded variant — the 100 TB
    scale path (SURVEY §5 "no operator is ever O(n^2) across partitions").

    Pipeline: shingle -> md5-prefix hash per shingle (JVM codegen,
    DuckDB-reproducible — see ``_minhash_lsh_oracle``) -> 64 minhashes
    as a vectorized numpy matrix op (Arrow-batched mapInPandas; see
    ``_make_minhash_signatures``) -> 16 bands of 4 rows -> band-tuple
    equi-join for candidates -> exact Jaccard verify on candidates only.
    Candidate volume is independent of shingle document-frequency (unlike
    the inverted index), at the cost of P(miss | J) = (1-J^4)^16 —
    < 5e-8 for J >= 0.9; the oracle replays the same banding, so the
    parity contract is exact regardless of a corpus's J distribution
    (q31_near_dedup remains the recall ground truth). The band join
    keys on an md5-prefix hash of the band's comma-joined values — a
    single long (measured ~0.5 s cheaper at sf0.1 than shuffling the
    4-long value tuple) that BOTH engines compute identically, so a
    band-hash collision, however unlikely, produces the same extra
    candidate on both sides instead of an engine divergence (the
    verify step's exact-Jaccard filter then judges it identically).
    """
    sets = shared_shingle_sets(spark, sf_dir)  # feeds signatures + verify (O43)
    hashed = sets.select(
        "doc_id",
        F.expr(
            "transform(s, x -> pmod("
            f"{md5_prefix_int_spark('x', _LSH_HEX_CHARS)}, {_MERSENNE}L))"
        ).alias("hs"),
    )
    # persist (O43, round-12): the band self-join reads the signature
    # frame on both sides and the two Python-eval subtrees are not
    # recognized as a reusable exchange, so without the persist the
    # md5-hash + numpy-minhash pipeline ran twice per action (the
    # simhash lesson). 64 longs/doc cached at any scale.
    signed = hashed.mapInPandas(
        _make_minhash_signatures(), schema="doc_id long, sig array<long>"
    ).persist()
    band_keys = F.array(
        *[
            F.expr(
                md5_prefix_int_spark(
                    "concat_ws(',', "
                    + ", ".join(
                        f"element_at(sig, {b * _ROWS_PER_BAND + r + 1})"
                        for r in range(_ROWS_PER_BAND)
                    )
                    + ")",
                    _LSH_HEX_CHARS,
                )
            )
            for b in range(_BANDS)
        ]
    )
    banded = signed.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_key")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_id", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"), F.col("sz").alias("sz_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"), F.col("sz").alias("sz_b")
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("s_a", "s_b")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


_SIMHASH_BLOCKS = 4
_MAX_HAMMING = 3


def _make_simhash(n_bits: int):
    """numpy fingerprint worker factory (closure — pickled by value).

    Unpacks all ``n_bits`` bits of every token hash as one
    (n_tokens, n_bits) matrix, sign-sums down the columns, repacks the
    positive columns into the fingerprint. Replaces the earlier 64x
    posexplode + two aggregations (3.2s -> ~1s at sf0.1) with a pure map
    stage; a nested-HOF one-pass form was also tried and measured 4x
    slower than even the explode (HOF lambdas are interpreted;
    BASELINE.md).
    """

    def fingerprints(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(n_bits, dtype=np.uint64)

        def fp(hs):
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> shifts[None, :]) & np.uint64(1)
            positive = (2 * bits.astype(np.int64) - 1).sum(axis=0) > 0
            return int((positive.astype(np.uint64) << shifts).sum(dtype=np.uint64).astype(np.int64))

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": [fp(hs) for hs in pdf["hs"]]}
            )

    return fingerprints


def simhash_pairs(docs: DataFrame, token_hash_sql: str, n_bits: int) -> DataFrame:
    """Shared simhash pipeline: ``n_bits``-bit per-doc fingerprint =
    sign-aggregated token hashes (``token_hash_sql`` maps token ``t`` to a
    64-bit-or-less integer); near-dups = fingerprints within Hamming
    distance {_MAX_HAMMING}, found by the {_SIMHASH_BLOCKS}-block
    pigeonhole trick (any pair at distance <= {_MAX_HAMMING} agrees on at
    least one block, so candidates come from {_SIMHASH_BLOCKS} equi-joins
    on block value — never an all-pairs scan).

    Token hashes run JVM-side (one cheap HOF pass), fingerprints in numpy
    (:func:`_make_simhash`). NULL text would reach the numpy worker as
    hs=None and crash the job; the earlier SQL pipeline silently dropped
    such docs — keep that.
    """
    block_bits = n_bits // _SIMHASH_BLOCKS
    mask = (1 << block_bits) - 1
    hashed = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr(
            f"transform(array_distinct(split(text, ' ')), t -> {token_hash_sql})"
        ).alias("hs"),
    )
    # persist (O43, round-12): the pigeonhole self-join reads this frame
    # on BOTH sides, and the two mapInPandas subtrees are not recognized
    # as a reusable exchange — without the persist the whole
    # scan+HOF+numpy pipeline ran twice per action (measured md5 twin
    # 1.73 -> 1.10 s, xxhash 1.17 -> 0.88 s at sf0.1). The cached frame
    # is 16 bytes/doc at any scale; cache_scope reclaims it. A scan
    # spread was A/B-measured instead and regressed both keys ~0.2-0.4 s
    # (the exchange ships full text bytes; guide §8's anti-lesson).
    fp = hashed.mapInPandas(
        _make_simhash(n_bits), schema="doc_id long, simhash long"
    ).persist()
    blocks = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_SIMHASH_BLOCKS - 1}),"
                f" k -> (simhash >> (k * {block_bits})) & {mask})"
            )
        ).alias("block_id", "block_val"),
    )
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), ["block_id", "block_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")))
        .where(F.col("hamming") <= _MAX_HAMMING)
    )
    return cand.select("doc_a", "doc_b", "hamming")


@register(
    "q31_simhash",
    oracle=None,  # xxhash64 token hashes are engine-internal, not
    # reproducible in DuckDB — rows-only check. This stays the fast
    # production path; q31_simhash_md5 below is the same pipeline on an
    # md5-derived token hash and carries the full oracle.
    tags=("llm", "X2", "scale"),
)
def q31_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (X2, third variant), xxhash64 token hashes — the
    fast path (xxhash64 is one JVM intrinsic per token). Pipeline and
    pigeonhole candidate generation: :func:`simhash_pairs`.
    """
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "xxhash64(t)", 64)


# DuckDB reproduction of the md5-derived 60-bit token hash. Spark takes
# the first 15 hex chars of md5(t) as a base-16 number; DuckDB's
# md5_number_upper() returns the first 8 digest bytes LITTLE-endian, so
# byte-swap back to the hex-string order, then drop the low nibble
# (HUGEINT multiply/divide — DuckDB's << overflows int64 here).
# the shared cross-engine construction (functions/exprs.py)
_DUCK_MD5_TOKEN_HASH = md5_prefix_int_duck("t")

_SIMHASH_MD5_BITS = 60  # 15 hex chars -> 4 blocks of 15 bits

_SIMHASH_MD5_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    h AS (
        SELECT doc_id, {_DUCK_MD5_TOKEN_HASH} AS th FROM tok
    ),
    bits AS (
        SELECT doc_id, g.i,
               CASE WHEN SUM(2 * ((th >> g.i) & 1) - 1) > 0 THEN 1 ELSE 0 END AS bit
        FROM h CROSS JOIN (SELECT unnest(range({_SIMHASH_MD5_BITS})) AS i) g
        GROUP BY doc_id, g.i
    ),
    fp AS (
        SELECT doc_id, CAST(SUM(CAST(bit AS BIGINT) << i) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
"""


@register(
    "q31_simhash_md5",
    oracle=_SIMHASH_MD5_ORACLE,
    tags=("llm", "X2", "scale"),
)
def q31_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup on an md5-derived token hash — the ORACLE-CHECKED
    twin of :func:`q31_simhash` (round-2 verdict item 3): md5 exists in
    both engines, so the full fingerprint + pigeonhole pipeline gets a
    hash check instead of rows-only. Token hash = first 15 hex chars of
    md5(token) as a 60-bit integer (fits BIGINT in both engines; the
    DuckDB side reconstructs it from md5_number_upper's little-endian
    uint64 — see _DUCK_MD5_TOKEN_HASH). The oracle verifies candidates by
    brute force over all fingerprint pairs, independently re-deriving the
    pigeonhole result, so it also re-proves the blocking is lossless at
    Hamming <= {_MAX_HAMMING}.

    Keep q31_simhash (xxhash64) as the production path: one intrinsic per
    token vs md5's string round-trip, ~same plan otherwise.
    """
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(
        docs,
        md5_prefix_int_spark("t"),
        _SIMHASH_MD5_BITS,
    )


# Round budget for the alternating contraction below. O(log n) rounds
# suffice on any graph, so 20 covers components far beyond 100 TB scale;
# exhausting it means something is broken and the loop fails loudly.
_MAX_CC_ROUNDS = 20


def _free_checkpoint_blocks(df: DataFrame) -> None:
    """Unpersist EXACTLY one localCheckpoint'ed frame's blocks: the
    checkpointed RDD is the LogicalRDD plan's own rdd, so this touches
    nothing else (no storage-delta guessing, no CacheManager
    side-effects). blocking=True because callers (the CC loop, the
    layer cap check) re-read the block manager right after."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getName().endswith(".LogicalRDD"):
        plan.rdd().unpersist(True)


def alternating_components(
    edges: DataFrame, max_rounds: int = _MAX_CC_ROUNDS
) -> tuple[DataFrame, int]:
    """Connected components over an undirected edge list (columns doc_a,
    doc_b) via alternating LARGE-STAR / SMALL-STAR contraction — the
    two-phase MapReduce CC algorithm, O(log n) rounds on any graph vs
    O(diameter) for plain min-label propagation (round-2 verdict item 4;
    the upgrade the old code's note promised).

    Returns ``(star, rounds)``: ``star`` = (doc_id, canonical_id) mapping
    every NON-root member to its component's minimum id (roots and
    isolated nodes are absent — callers fill them with a left join);
    ``rounds`` counts executed rounds including the final fixed-point
    confirmation.

    Per round, with edges kept canonically (larger, smaller):
      large-star: every node u connects each neighbor y > u to
        min(N(u) + [u]) — long chains fold toward small ids in halving
        steps;
      small-star: every node u connects each smaller neighbor (and
        itself) to min(N(u) + [u]) — partial stars re-center on the
        minimum.
    Both steps preserve connectivity; the edge set monotonically
    approaches the component star, which is the unique common fixed
    point, detected EXACTLY: a symmetric-difference probe (union both
    distinct edge sets, any (u, v) appearing once is in exactly one) —
    collision-free, unlike a hash signature, which could terminate
    early on a hash coincidence precisely at the no-oracle scales this
    contract exists for. Still ONE Spark action per round: the probe
    also materializes the lazy ``localCheckpoint`` truncating the
    lineage (the old loop paid a separate convergence ``count()`` on
    top).

    Raises RuntimeError when ``max_rounds`` is exhausted: unconverged
    labels can split a component and are silently WRONG at scales where
    no oracle runs — fail loudly instead (round-2 advisory).
    """
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if e.isEmpty():
        return (
            e.select(F.col("u").alias("doc_id"), F.col("v").alias("canonical_id")),
            0,
        )
    for rnd in range(1, max_rounds + 1):
        both = e.select(F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
            e.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        lmins = (
            both.groupBy("x")
            .agg(F.min("y").alias("my"))
            .select("x", F.least("x", "my").alias("m"))
        )
        e1 = (
            both.join(lmins, "x")
            .where(F.col("y") > F.col("x"))
            .select(F.col("y").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        smins = e1.groupBy("u").agg(F.min("v").alias("m"))
        e2 = (
            e1.join(smins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Exact fixed-point probe: both edge sets are distinct, so a
        # (u, v) appearing exactly once in their union lies in the
        # symmetric difference. isEmpty() is the round's single action
        # and also materializes e2's lazy checkpoint. (A (count,
        # bit_xor(xxhash64)) signature was used first — one fewer scan
        # of e — but a hash collision would silently return wrong
        # labels, the exact failure mode this function promises not to
        # have.)
        converged = (
            e.unionByName(e2)
            .groupBy("u", "v")
            .count()
            .where(F.col("count") == 1)
            .isEmpty()
        )
        # e2 is materialized by the probe above, so the superseded
        # round's checkpoint blocks are dead — free them NOW instead of
        # waiting for nondeterministic JVM GC: a 10-round convergence
        # would otherwise pin ~10 copies of the edge list
        # simultaneously, all counted live by the layer cap check
        # (round-10 review finding).
        _free_checkpoint_blocks(e)
        e = e2
        if converged:
            star = e.groupBy(F.col("u").alias("doc_id")).agg(
                F.min("v").alias("canonical_id")
            )
            # The returned star still READS e, so its blocks cannot be
            # freed here — but once a consumer materializes a
            # derivative (the layer's localCheckpoint), they are dead.
            # Declare that so _materialize_accounted frees them instead
            # of leaving an edge-list-sized copy to nondeterministic GC
            # (round-11 review finding).
            star._dead_after_checkpoint = (e,)
            return star, rnd
    # The loop owns the last round's checkpoint — free it on the way
    # out, or a failed build pins blocks no ledger entry ever sees
    # (round-11 review finding).
    _free_checkpoint_blocks(e)
    raise RuntimeError(
        f"alternating_components did not reach a fixed point in {max_rounds} "
        "rounds — labels would be wrong; raise max_rounds only after "
        "confirming the edge list is sane (O(log n) rounds should suffice)"
    )


@register(
    "q46_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_NEAR_DUP_ORACLE}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(doc_id, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT edges.b, reach.lab
        FROM reach JOIN edges ON edges.a = reach.doc_id
    )
    SELECT doc_id,
           MIN(lab) AS canonical_id,
           CASE WHEN MIN(lab) = doc_id THEN 1 ELSE 0 END AS is_canonical
    FROM reach
    GROUP BY doc_id
    """,
    tags=("llm", "X1", "X2", "iterative"),
)
def q46_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster assignment (X1/X2 completion): connected components
    over the near-dup pair graph — every document mapped to the minimum
    doc_id reachable through near-dup edges (its canonical
    representative; singletons map to themselves). This is the
    keep-one-per-cluster step a production dedup pipeline runs after
    pair generation. Library form with an injectable pair frame:
    :func:`dedup_clusters`; the registered query consumes the
    once-materialized CLUSTER frame (:func:`materialized_clusters`) —
    the same layer entry every other assignment consumer (q88, q99,
    q134, q202) reads, so the chain computes the shingle join AND the
    iterative contraction once per (session, dataset), not once per caller
    (round-10 verdict item 3: the old body re-ran the contraction's
    ~20 driver-coordinated jobs on every call — 25 jobs/2.1 s warm,
    now 1 job reading the checkpoint; the honest build cost is
    published by :func:`prebuild_dedup_layer` and the cold path).

    The engine's one driver-coordinated iterative algorithm, the
    large-star/small-star alternating contraction
    (:func:`alternating_components`): O(log n) rounds on ANY component
    shape — the old min-label propagation needed diameter(graph) rounds,
    the one super-linear-rounds risk the round-2 verdict flagged — and
    one action per round instead of two. The DuckDB oracle is the
    equivalent recursive CTE, so the iterative operator stays
    oracle-checked end to end.
    """
    return materialized_clusters(spark, sf_dir)


def dedup_clusters(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Cluster assignment over an arbitrary near-dup ``pairs`` frame
    (columns doc_a, doc_b; defaults to computing :func:`near_dup_pairs`
    fresh). Compositions that already hold a pair frame — a different
    similarity variant, a pre-materialized run — pass it here instead of
    paying the shingle join again (the `funnel()` chain-parameter
    pattern)."""
    if pairs is None:
        pairs = near_dup_pairs(spark, sf_dir)
    star, _rounds = alternating_components(pairs.select("doc_a", "doc_b"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = (
        docs.join(star, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical_id", "doc_id").alias("canonical_id"),
        )
        .withColumn(
            "is_canonical",
            F.when(F.col("canonical_id") == F.col("doc_id"), 1).otherwise(0),
        )
    )
    # RE-TAG the derived frame: ``_dead_after_checkpoint`` is a plain
    # Python attribute on the star DataFrame OBJECT, and join/select/
    # withColumn build NEW objects — without this line the declaration
    # never reached _materialize_accounted's getattr and the converged
    # round's edge-list checkpoint stayed pinned (and ledger-charged)
    # for the app's life, the exact leak the round-11 fix claimed to
    # close (round-12 review finding; regression-tested in
    # test_dedup_layer_accounting).
    out._dead_after_checkpoint = getattr(star, "_dead_after_checkpoint", ())
    return out


CONTAINMENT_THRESHOLD = 0.8


@register(
    "q90_containment_dedup",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([{_DUCK_SHINGLE_WORDS}
                              for i in range(1, len(w) - {SHINGLE_K - 2})]) AS s
        FROM tok
        WHERE len(w) >= {SHINGLE_K}
    )
    SELECT doc_a, doc_b, ROUND(containment, 6) AS containment
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / LEAST(len(a.s), len(b.s)) AS containment
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    WHERE containment >= {CONTAINMENT_THRESHOLD}
    """,
    tags=("llm", "X2", "dedup"),
)
def q90_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup (X2, fourth semantic): score =
    |A∩B| / min(|A|, |B|) over the same {SHINGLE_K}-gram shingle sets.
    Jaccard misses the quote-inclusion case — a short document copied
    verbatim inside a much longer one scores J = |A|/|B| ≈ 0 but
    containment 1.0 — and containment is the standard remedy (the same
    asymmetric score MinHash-over-min estimates at scale).

    Identical inverted-index plan to q31_near_dedup — candidates only
    where a shingle is shared, exact for any threshold > 0, never
    all-pairs — reusing the shared persisted shingle frame. At 100 TB the
    same LSH banding applies (band the smaller set's signature).
    """
    return (
        shingle_candidates(spark, sf_dir)
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.least("sz_a", "sz_b"),
        )
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))
    )


# Incremental-dedup batch split: every INCREMENT_MOD-th doc plays the
# "incoming crawl batch", the rest the existing corpus.
INCREMENT_MOD = 20


@register(
    "q112_incremental_dedup",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([{_DUCK_SHINGLE_WORDS}
                              for i in range(1, len(w) - {SHINGLE_K - 2})]) AS s
        FROM tok
        WHERE len(w) >= {SHINGLE_K}
    ),
    pairs AS (
        SELECT a.doc_id AS new_id,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                   AS jaccard
        FROM sh a JOIN sh b
          ON a.doc_id % {INCREMENT_MOD} = 0 AND b.doc_id % {INCREMENT_MOD} != 0
    ),
    stats AS (
        SELECT new_id, COUNT(*) AS n_dups, MAX(jaccard) AS best
        FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
        GROUP BY new_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_dups, 0) AS BIGINT) AS n_dups,
           ROUND(s.best, 6) AS best_jaccard,
           CASE WHEN s.new_id IS NULL THEN 1 ELSE 0 END AS is_new
    FROM documents d LEFT JOIN stats s ON d.doc_id = s.new_id
    WHERE d.doc_id % {INCREMENT_MOD} = 0
    """,
    tags=("llm", "X2", "dedup", "incremental"),
)
def q112_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — admit an incoming batch against the EXISTING
    corpus (X2's production steady-state: a crawler never re-dedups the
    whole corpus; it checks each new batch against what it already has).
    One verdict row per incoming doc (every 20th doc_id
    plays the batch — INCREMENT_MOD): how many corpus near-dups it has
    (Jaccard >= 0.5 = JACCARD_THRESHOLD over 3-gram = SHINGLE_K
    shingles), the best score,
    and the admit flag is_new. Docs too short to shingle have no
    candidates and admit trivially, matching the oracle's left join.

    Plan — the asymmetric inverted index: ONLY the batch side and the
    corpus postings for shingles the batch actually contains ever meet
    in the join (the equi-join on shingle prunes the rest at the
    exchange); cost scales with the BATCH size times posting-list depth,
    not the corpus. Both sides slice the shared persisted shingle frame
    (one shingling pass). At 100 TB the corpus side is the standing
    shingle->doc index, bucketed by shingle so each batch admission is a
    bucket-local join against corpus partitions it touches; within-batch
    duplicates are q31 over the batch alone.
    """
    sets = shared_shingle_sets(spark, sf_dir)
    inc = sets.where(F.col("doc_id") % INCREMENT_MOD == 0)
    corp = sets.where(F.col("doc_id") % INCREMENT_MOD != 0)
    tok_n = inc.select(
        F.col("doc_id").alias("new_id"), F.col("sz").alias("sz_n"), F.explode("s").alias("shingle")
    )
    tok_c = corp.select(
        F.col("doc_id").alias("dup_id"), F.col("sz").alias("sz_c"), F.explode("s").alias("shingle")
    )
    stats = (
        tok_n.join(tok_c, "shingle")
        .groupBy("new_id", "dup_id", "sz_n", "sz_c")
        .agg(F.count("*").alias("n_common"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sz_n") + F.col("sz_c") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_dups_raw"),
            F.max("jaccard").alias("best_raw"),
        )
    )
    incoming = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % INCREMENT_MOD == 0)
        .select("doc_id")
    )
    return (
        incoming.join(stats, incoming.doc_id == stats.new_id, "left")
        .select(
            "doc_id",
            F.coalesce("n_dups_raw", F.lit(0)).cast("long").alias("n_dups"),
            F.round("best_raw", 6).alias("best_jaccard"),
            F.when(F.col("new_id").isNull(), 1).otherwise(0).cast("int").alias("is_new"),
        )
    )


# --- q125: LSH recall/precision evaluation harness ------------------------
#
# Cross-engine-reproducible MinHash geometry: token hashes are md5-prefix
# integers (28 bits, < P) and band keys are md5 strings, so DuckDB can
# replay the exact pipeline (unlike q31_minhash_lsh's xxhash64 path).
# a < 2^30 keeps a*h + b < 2^58 + 2^32 — no int64 overflow in either
# engine's ANSI arithmetic.
_EVAL_SAMPLE_MOD = 10
_EVAL_JACCARD_T = 0.5
_EVAL_N_HASHES = 64
_EVAL_BANDS = 16
_EVAL_ROWS_PER_BAND = 4
_eval_rng = random.Random(20260814)
_EVAL_HASH_AB = [
    (_eval_rng.randrange(1, 2**30), _eval_rng.randrange(0, _MERSENNE))
    for _ in range(_EVAL_N_HASHES)
]


def _eval_oracle() -> str:
    tok_hash = md5_prefix_int_duck("t", 7)
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MERSENNE}))"
        for a, b in _EVAL_HASH_AB
    )
    band_structs = ", ".join(
        "{'band_id': %d, 'bh': md5(concat_ws(','%s))}"
        % (
            b,
            "".join(
                f", sig[{b * _EVAL_ROWS_PER_BAND + r + 1}]"
                for r in range(_EVAL_ROWS_PER_BAND)
            ),
        )
        for b in range(_EVAL_BANDS)
    )
    return f"""
    WITH sample AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
        WHERE doc_id % {_EVAL_SAMPLE_MOD} = 0 AND text IS NOT NULL
          AND len(string_split(text, ' ')) >= 1
    ),
    hashed AS (
        SELECT doc_id, toks, len(toks) AS sz,
               list_transform(toks, t -> {tok_hash}) AS hs
        FROM sample
    ),
    sigs AS (
        SELECT doc_id, [{mins}] AS sig FROM hashed
    ),
    band_raw AS (
        SELECT doc_id, unnest([{band_structs}]) AS bb FROM sigs
    ),
    bands AS (
        SELECT doc_id, bb.band_id AS band_id, bb.bh AS bh FROM band_raw
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bh = b.bh
         AND a.doc_id < b.doc_id
    ),
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
              >= {_EVAL_JACCARD_T}
    ),
    counts AS (
        SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM cand) AS n_cand,
               (SELECT COUNT(*) FROM truth t JOIN cand c
                 ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hits
    )
    SELECT n_truth, n_cand, n_hits,
           ROUND(CASE WHEN n_truth > 0
                      THEN n_hits / CAST(n_truth AS DOUBLE) ELSE 1.0 END, 6)
               AS recall,
           ROUND(CASE WHEN n_cand > 0
                      THEN n_hits / CAST(n_cand AS DOUBLE) ELSE 1.0 END, 6)
               AS precision
    FROM counts
    """


@register("q125_lsh_recall_eval", oracle=_eval_oracle(), tags=("llm", "X2", "eval"))
def q125_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH quality evaluation: on a deterministic 1-in-{mod}
    document sample, compare the banded candidate set against exact
    token-set-Jaccard ground truth and report recall/precision — the
    harness that justifies (or rejects) an LSH geometry before pointing
    it at the full corpus. Production tuning loops run exactly this on
    a sample, then apply the chosen (bands, rows) at scale where exact
    truth is unaffordable.

    Everything is engine-reproducible: md5-prefix token hashes (28-bit,
    < P) and md5 band keys replace the JVM-internal xxhash64 of the
    production path (q31_minhash_lsh), so the DuckDB oracle replays the
    IDENTICAL pipeline — the reported recall is checked, not trusted.
    Ground truth on the sample uses the inverted token index (equi-join
    on token, never all-pairs Spark-side); candidates come from the
    band-bucket equi-join. The sample is doc_id-modulo so both engines
    and repeated runs agree on membership. Token-set (not shingle)
    Jaccard is deliberate: the fixture vocabulary makes token-set
    similarity dense, giving the eval a populated mid-range where
    banding probabilistically misses — a realistic recall < 1.
    """
    tok_hash = md5_prefix_int_spark("t", 7)
    # Kept per (session, sf_dir) like the shared shingle layer: a bare
    # per-invocation persist() stacks a fresh cache entry every bench
    # repeat (the exact leak the round-6 review fixed in
    # shared_word_kgrams), evicting the dedup family's shared frames.
    hashed = _layer_persisted(
        spark,
        "dedup_eval_hashed",
        sf_dir,
        lambda: load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") % _EVAL_SAMPLE_MOD == 0) & F.col("text").isNotNull())
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
        .where(F.size("toks") >= 1)
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("sz"),
            F.expr(f"transform(toks, t -> {tok_hash})").alias("hs"),
        ),
    )
    # Signatures via the SAME numpy matrix worker as q31_minhash_lsh,
    # parameterized with the eval coefficient table (a < 2^30, h < 2^28
    # keeps a*h + b far inside int64 — one implementation, one
    # overflow-safety argument).
    # persist (O43, round-12): the band self-join reads the signature
    # frame on both sides and the two Python-eval subtrees are not
    # recognized as a reusable exchange — the simhash lesson; the
    # cached frame is doc_id + a 12-long array.
    sig = hashed.select("doc_id", "hs").mapInPandas(
        _make_minhash_signatures(_EVAL_HASH_AB),
        schema="doc_id long, sig array<long>",
    ).persist()
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("sig", b * _EVAL_ROWS_PER_BAND + r + 1).cast(
                            "string"
                        )
                        for r in range(_EVAL_ROWS_PER_BAND)
                    ],
                )
            )
            for b in range(_EVAL_BANDS)
        ]
    )
    banded = sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band_id", "bh")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_id", "bh"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    tok_a = hashed.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"),
        F.explode("toks").alias("t"),
    )
    tok_b = hashed.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"),
        F.explode("toks").alias("t"),
    )
    truth = (
        tok_a.join(tok_b, "t")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("n_common"))
        .where(
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            >= _EVAL_JACCARD_T
        )
        .select("doc_a", "doc_b")
    )
    # Round-12: ONE full-outer join + ONE global aggregate replaces the
    # three separate count frames (n_truth spine + two broadcast
    # subqueries) — that form evaluated the truth subtree twice and the
    # candidate subtree twice per action (23 jobs; guide §1.2 step 1).
    # Flags are nullable markers, so count() over them IS the per-set
    # cardinality and their conjunction the intersection.
    flagged = (
        truth.withColumn("in_t", F.lit(1))
        .join(cand.withColumn("in_c", F.lit(1)), ["doc_a", "doc_b"], "full_outer")
        .agg(
            F.count("in_t").alias("n_truth"),
            F.count("in_c").alias("n_cand"),
            F.count(F.when(F.col("in_t").isNotNull() & F.col("in_c").isNotNull(), 1)).alias(
                "n_hits"
            ),
        )
    )
    safe_div = (
        lambda num, den: F.when(
            F.col(den) > 0, F.col(num) / F.col(den).cast("double")
        ).otherwise(F.lit(1.0))
    )
    return flagged.select(
        "n_truth",
        "n_cand",
        "n_hits",
        F.round(safe_div("n_hits", "n_truth"), 6).alias("recall"),
        F.round(safe_div("n_hits", "n_cand"), 6).alias("precision"),
    )


@register(
    "q134_dedup_impact",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_NEAR_DUP_ORACLE}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(doc_id, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT edges.b, reach.lab
        FROM reach JOIN edges ON edges.a = reach.doc_id
    ),
    clusters AS (
        SELECT doc_id, MIN(lab) AS canonical_id,
               CASE WHEN MIN(lab) = doc_id THEN 1 ELSE 0 END AS is_canonical
        FROM reach GROUP BY doc_id
    ),
    sized AS (
        SELECT d.source, c.is_canonical,
               len(string_split(d.text, ' ')) AS n_tok
        FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(is_canonical) AS BIGINT) AS n_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN is_canonical = 1 THEN n_tok ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           ROUND(1.0 - SUM(CASE WHEN is_canonical = 1 THEN n_tok ELSE 0 END)
                       / CAST(SUM(n_tok) AS DOUBLE), 6) AS pct_tokens_dropped
    FROM sized
    GROUP BY source
    """,
    tags=("llm", "X2", "reporting"),
)
def q134_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: what canonicalization costs/saves per
    source — documents and tokens before vs after keeping one doc per
    near-dup cluster. This is the accounting table a pipeline publishes
    alongside a dedup run (the judge of whether a source is
    boilerplate-ridden enough to renegotiate its ingestion), and the
    per-source twin of q99's duplicate-rate view.

    Plan: the once-materialized cluster frame (:func:`materialized_
    clusters` — localCheckpoint'ed, shared with q46/q88/q91) joins the
    documents table on doc_id (AQE broadcasts the smaller side), token
    counts are a row-local expression, and ONE hash aggregate on the
    low-cardinality source key finishes. Zero new heavy stages — the
    report rides the chain's existing materialization, which is the
    point: impact accounting must be free or nobody runs it.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    clusters = materialized_clusters(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    sized = docs.join(clusters, "doc_id")
    kept_tok = F.sum(F.when(F.col("is_canonical") == 1, F.col("n_tok")).otherwise(0))
    return sized.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_canonical").cast("long").alias("n_kept"),
        F.sum("n_tok").cast("long").alias("tokens_total"),
        kept_tok.cast("long").alias("tokens_kept"),
        F.round(
            F.lit(1.0) - kept_tok / F.sum("n_tok").cast("double"), 6
        ).alias("pct_tokens_dropped"),
    )


# Duplicated-span accounting (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better", ACL — public paper): the paper
# removes exact substrings of >= 50 BPE tokens seen twice; this is the
# word-k-gram accounting pass at k = SPAN_K. Small k keeps the fixture
# (31-word vocab, ~300-char docs) non-vacuous while the construction is
# k-agnostic.
SPAN_K = 6


@register(
    "q171_dup_span_fraction",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE text IS NOT NULL
    ),
    pg AS (
        SELECT doc_id,
               unnest(range(1, len(w) - {SPAN_K - 2})) AS pos,
               unnest([{" || ' ' || ".join(f"w[i+{j}]" for j in range(SPAN_K))}
                       for i in range(1, len(w) - {SPAN_K - 2})]) AS gram
        FROM tok WHERE len(w) >= {SPAN_K}
    ),
    owners AS (
        SELECT gram FROM pg GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cov AS (
        SELECT DISTINCT doc_id,
               unnest(range(pos, pos + {SPAN_K})) AS cp
        FROM pg JOIN owners USING (gram)
    ),
    cnt AS (
        SELECT doc_id, COUNT(*) AS covered FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered,
           ROUND(COALESCE(c.covered, 0) / CAST(len(t.w) AS DOUBLE), 6)
               AS dup_frac
    FROM tok t LEFT JOIN cnt c ON t.doc_id = c.doc_id
    """,
    tags=("llm", "dedup", "spans"),
)
def q171_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span coverage (Lee et al. 2022's exact-substring
    accounting, at word {SPAN_K}-gram granularity): per document, the
    fraction of token POSITIONS covered by at least one {SPAN_K}-gram
    that also appears in some OTHER document. Position coverage — the
    union of overlapping duplicated windows — is what the span-removal
    pass actually deletes, which distinguishes this from q130's
    distinct-gram novelty: a doc whose every window is shared scores
    dup_frac 1.0 even when each gram is individually rare.

    Plan: one tokenized scan explodes POSITIONAL k-grams; duplicated
    grams come from one hash aggregate on the gram key (HAVING >= 2
    distinct docs — vocabulary-of-grams sized); the join back is an
    equi-join on the gram, the x{SPAN_K} covered-position explode is
    output-bound, and the DISTINCT + count collapse on doc_id. Never a
    doc-pair join: cost scales with gram volume + duplicated-span
    volume, independent of how many documents share a span. At 100 TB
    the owners frame is the incremental state (gram -> doc count),
    exactly q112's corpus-side pattern; the deletion pass itself is
    this frame's covered-position set anti-joined onto token positions.
    """
    docs = load_table(spark, sf_dir, "documents")
    # spread_scan (round-12, guide §2.5): the positional-gram
    # transform+explode below is the most expensive per-row stage here
    # and feeds the persisted pg frame — on a single-split corpus scan
    # it (and the persisted partitioning every consumer inherits) would
    # run on one core. Integer/count logic only downstream, so partial
    # order cannot change results.
    docs = spread_scan(spark, docs, sf_dir, "documents", "doc_id")
    tok = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    gram_expr = (
        "transform(sequence(1, size(w) - "
        f"{SPAN_K - 1}), i -> struct(i as pos, "
        + "concat_ws(' ', "
        + ", ".join(f"element_at(w, i + {j})" for j in range(SPAN_K))
        + ") as gram))"
    )
    pg = (
        tok.where(F.size("w") >= SPAN_K)
        .select("doc_id", F.explode(F.expr(gram_expr)).alias("pg"))
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
        # persist (O43): pg feeds the owners aggregate AND the cov
        # join's probe side, two subtrees sharing no exchange — without
        # the cache the positional gram transform+explode (the most
        # expensive per-row stage here) runs twice per invocation
        # (round-10 review finding).
        .persist()
    )
    owners = (
        pg.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    cov = (
        pg.join(owners, "gram")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + SPAN_K - 1)).alias("cp"),
        )
        .distinct()
    )
    cnt = cov.groupBy("doc_id").agg(F.count("*").alias("covered"))
    return (
        tok.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
        .join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("covered"), F.lit(0)).cast("long").alias("covered"),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


# Banding configurations sweeping the 64-hash budget: (bands, rows).
_LSH_CONFIGS = ((64, 1), (32, 2), (16, 4), (8, 8), (4, 16))


@register(
    "q175_lsh_curve_planner",
    oracle=f"""
    WITH truth AS ({_NEAR_DUP_ORACLE}),
    grid AS (
        SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)})
            AS g(bands, rws)
    )
    SELECT bands, rws AS rows_per_band,
           COUNT(*) AS n_true_pairs,
           ROUND(AVG(1 - pow(1 - pow(jaccard, rws), bands)), 6)
               AS exp_recall,
           ROUND(MIN(1 - pow(1 - pow(jaccard, rws), bands)), 6)
               AS worst_pair_prob,
           ROUND(1 - pow(1 - pow({JACCARD_THRESHOLD}, rws), bands), 6)
               AS prob_at_threshold
    FROM truth CROSS JOIN grid
    GROUP BY bands, rws
    """,
    tags=("llm", "X2", "dedup", "planning"),
)
def q175_lsh_curve_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding planner: for every (bands, rows) split of the
    {_N_HASHES}-hash budget, the EXPECTED recall over the corpus's true
    near-dup pairs — E[1 - (1 - J^r)^b] evaluated at each true pair's
    exact Jaccard (Broder's S-curve, Mining of Massive Datasets ch.3) —
    plus the worst single-pair capture probability and the curve value
    at the {JACCARD_THRESHOLD} threshold. This is how the q31_minhash_lsh
    geometry ({_BANDS}x{_ROWS_PER_BAND}) was chosen; registered, the
    decision is reproducible per-corpus instead of folklore.

    Plan: the exact pair frame (shared persisted shingle index — an
    equi-join, never all-pairs) is TRUE-PAIR sized; the config grid is a
    {len(_LSH_CONFIGS)}-row literal frame, so the cross join is a
    broadcast constant-size fan-out ({len(_LSH_CONFIGS)}x pair rows)
    followed by one bounded aggregate. At 100 TB the pair frame is the
    materialized dedup layer already computed for clustering — the
    planner costs one extra pass over it.
    """
    # Consume the once-materialized pair layer (the docstring's contract):
    # recomputing near_dup_pairs here re-ran the shingle self-join — the
    # dedup family's most expensive stage — on every planner invocation
    # (measured 17 s cold vs 2.5 s riding the layer at sf0.1).
    pairs = materialized_pairs(spark, sf_dir).select(
        F.round("jaccard", 6).alias("jaccard")
    )
    grid = F.broadcast(
        pairs.sparkSession.createDataFrame(
            list(_LSH_CONFIGS), "bands int, rows_per_band int"
        )
    )
    p = 1 - F.pow(
        1 - F.pow(F.col("jaccard"), F.col("rows_per_band")), F.col("bands")
    )
    p_thr = 1 - F.pow(
        1 - F.pow(F.lit(float(JACCARD_THRESHOLD)), F.col("rows_per_band")),
        F.col("bands"),
    )
    return (
        pairs.crossJoin(grid)
        .groupBy("bands", "rows_per_band")
        .agg(
            F.count("*").alias("n_true_pairs"),
            F.round(F.avg(p), 6).alias("exp_recall"),
            F.round(F.min(p), 6).alias("worst_pair_prob"),
            F.round(F.first(p_thr), 6).alias("prob_at_threshold"),
        )
    )


